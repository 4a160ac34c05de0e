"""Self-test of the benchmark at the tiny (sf0.001) input scale.

    python3 perfbench/selftest.py

Run from the repository root. For every workload of BENCHMARK.json it
runs the benchmark untraced and traced and checks that the result line names exactly the end-to-end (resp.
per-layer) metrics of BENCHMARK.json, each with its unit, and that every
output check passed.
It then runs the dashboard with one answer deliberately corrupted and
checks that the corruption is caught as a failed operation. Exits 0
when all of that holds.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                f"missing or extra, or units differ")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} trace={trace}: output checks failed")
            print(f"ok? {not problems}: {w['name']} trace={trace}", flush=True)
    res = run("dashboard", 0, "--corrupt-answer")
    if res["correct"] or res["failed"] < 1:
        problems.append("a corrupted dashboard answer was not caught")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
