"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness
from source (once per source state), generates the workload's inputs
from the seed, runs the harness JVM (perfbench/harness), checks every
output outside the timed window, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics of the traced run.
See perfbench/README.md for the workloads and the metric definitions.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "harness")]

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["dashboard", "index_serve_append"]
# the operation each workload's latency median is taken over
PRIMARY = {"dashboard": "refresh", "index_serve_append": "serve"}
ETL_STAGES = ["dim_user", "dim_product", "dim_location", "dim_date", "fact_sales"]
TEXT_STAGES = ["annotate", "quality", "exact", "neardup", "decontam", "balance", "corpus"]
SOURCE_TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, workload):
    measured = [o for o in res["ops"] if not o["warm"]]
    lat = [o["ms"] for o in measured if o["kind"] == PRIMARY[workload]]
    m = {
        "setup_s": (res["setup"]["total_s"], "s"),
        "op_p50_ms": (median(lat), "ms"),
        "ops_per_s": (len(measured) / res["measured_s"], "1/s"),
    }
    counts = {"setup_s": 1, "op_p50_ms": len(lat), "ops_per_s": len(measured)}
    return m, counts


def _union_ms(intervals, lo, hi):
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def per_layer(res, workload, data_dir):
    measured = [o for o in res["ops"] if not o["warm"]]
    primary = [o for o in measured if o["kind"] == PRIMARY[workload]]
    traced = [o for o in primary if o["traced"]]
    untraced = [o for o in primary if not o["traced"]]
    spans = res["spans"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def span_ms(name, ops):
        return median([sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in by_op.get(o["op"], [])
                           if s["name"] == name) for o in ops])

    m = {}
    stages = {}
    # the ETL layer runs in the dashboard's setup, the text layer in the
    # index workload's setup; a traced run builds a second time on the
    # warm JVM, and the stage figures come from that build
    etl = workload == "dashboard"
    text = workload == "index_serve_append"
    for st in res["setup_stages"]:
        stages.setdefault(st["stage"], []).append(st)
    for st in ETL_STAGES:
        m[f"etl.{st}_s"] = (median([x["seconds"] for x in stages.get(st, [])]) if etl else 0.0, "s")
    src_rows = 0
    fact_rows = 0
    if etl:
        import pyarrow.parquet as pq
        src_rows = sum(pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
                       for t in SOURCE_TABLES)
        fact_rows = median([x["rows"] for x in stages.get("fact_sales", [])])
    m["etl.source_rows"] = (src_rows, "rows")
    m["etl.fact_rows"] = (fact_rows, "rows")
    for st in TEXT_STAGES:
        m[f"text.{st}_s"] = (median([x["seconds"] for x in stages.get(st, [])]) if text else 0.0, "s")
    m["text.kept_rows"] = (median([x["rows"] for x in stages.get("corpus", [])]) if text else 0, "rows")
    m["olap.analyze_ms"] = (span_ms("olap.analyze", traced) if workload == "dashboard" else 0.0, "ms")
    m["olap.plan_ms"] = (span_ms("olap.plan", traced) if workload == "dashboard" else 0.0, "ms")
    m["olap.exec_ms"] = (span_ms("olap.exec", traced) if workload == "dashboard" else 0.0, "ms")
    m["olap.files_read"] = (median([o.get("files_read", 0) for o in traced])
                            if workload == "dashboard" else 0, "count")
    m["olap.partitions_read"] = (median([o.get("partitions_read", 0) for o in traced])
                                 if workload == "dashboard" else 0, "count")
    is_index = workload == "index_serve_append"
    appends = [o for o in measured if o["kind"] == "append" and o["traced"]]
    m["vector.serve_lookup_ms"] = (span_ms("vector.serve_lookup", traced) if is_index else 0.0, "ms")
    m["vector.serve_exec_ms"] = (span_ms("vector.serve_exec", traced) if is_index else 0.0, "ms")
    m["vector.append_ms"] = (span_ms("vector.append", appends) if is_index else 0.0, "ms")
    m["vector.index_files"] = (res["index_files"], "count")

    sp = [res["spark"].get(str(o["op"])) for o in traced]
    sp = [(o, s) for o, s in zip(traced, sp) if s]

    def sp_med(f):
        return median([f(o, s) for o, s in sp])

    job_ms = [(_union_ms(s["job_intervals"], o["epoch0"], o["epoch1"])) for o, s in sp]
    m["spark.jobs_per_op"] = (sp_med(lambda o, s: s["jobs"]), "count")
    m["spark.stages_per_op"] = (sp_med(lambda o, s: s["stages"]), "count")
    m["spark.tasks_per_op"] = (sp_med(lambda o, s: s["tasks"]), "count")
    m["spark.job_ms_per_op"] = (median(job_ms), "ms")
    m["spark.driver_gap_ms"] = (median([max(o["epoch1"] - o["epoch0"] - j, 0)
                                        for (o, _), j in zip(sp, job_ms)]), "ms")
    m["spark.executor_cpu_ms"] = (sp_med(lambda o, s: s["cpu_ms"]), "ms")
    m["spark.gc_ms"] = (sp_med(lambda o, s: s["gc_ms"]), "ms")
    m["spark.shuffle_write_mb"] = (sp_med(lambda o, s: s["shuffle_write_bytes"] / 2**20), "MB")
    m["spark.shuffle_read_mb"] = (sp_med(lambda o, s: s["shuffle_read_bytes"] / 2**20), "MB")
    m["spark.spill_mb"] = (sp_med(lambda o, s: s["spill_bytes"] / 2**20), "MB")

    setup = res["setup"]
    m["setup.session_s"] = (setup["session_s"], "s")
    m["setup.curate_s"] = (setup["curate_s"], "s")
    m["setup.snapshot_s"] = (setup["build_s"] if workload == "dashboard" else 0.0, "s")
    m["setup.index_build_s"] = (setup["build_s"] if is_index else 0.0, "s")
    m["setup.warmup_s"] = (setup["warmup_s"], "s")

    # Reconcile the spans with the listener, two independent clocks: job
    # time inside the op's window but outside every layer span is Spark
    # work no layer span accounts for. An op's wall time is its job time
    # inside layer spans, plus this, plus spark.driver_gap_ms.
    off = res["epoch_offset_ns"]
    unspanned = []
    harness_self = []
    for o, s in sp + [(o, res["spark"].get(str(o["op"]))) for o in appends]:
        tree = by_op.get(o["op"], [])
        roots = [x for x in tree if x["parent"] == -1]
        layers = [((x["start_ns"] + off) / 1e6, (x["end_ns"] + off) / 1e6)
                  for x in tree if x["parent"] != -1]
        jobs = s["job_intervals"] if s else []
        inside = sum(_union_ms(jobs, lo, hi) for lo, hi in _merge(layers))
        unspanned.append(max(_union_ms(jobs, o["epoch0"], o["epoch1"]) - inside, 0.0))
        kids = sum(x["end_ns"] - x["start_ns"] for x in tree if x["parent"] in {r["id"] for r in roots})
        harness_self += [(sum(r["end_ns"] - r["start_ns"] for r in roots) - kids) / 1e6]
    m["trace.unspanned_job_ms"] = (statistics.fmean(unspanned) if unspanned else 0.0, "ms")
    m["trace.harness_self_ms"] = (median(harness_self), "ms")
    p_t, p_u = median([o["ms"] for o in traced]), median([o["ms"] for o in untraced])
    m["trace.overhead_p50_ms"] = (p_t - p_u, "ms")
    m["trace.overhead_pct"] = (100.0 * (p_t - p_u) / p_u if p_u else 0.0, "%")
    m["trace.setup_s"] = (setup["total_s"], "s")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    print(f"traced {len(traced)} of {len(primary)} measured {PRIMARY[workload]} ops, "
          f"{len(spans)} spans")
    return m


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(gen.SIZES), default="full",
                    help="input scale; 'tiny' is the self-test scale")
    ap.add_argument("--corrupt-answer", action="store_true",
                    help="self-test aid: alter one dashboard answer before it is checked")
    args = ap.parse_args()
    build.exit_on_sigterm()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program sources (src/main/scala) are missing")
    try:
        classes, jars = build.build(root, 840, log)
    except build.BuildError as e:
        fail(str(e))
    started = time.time()

    work = os.path.join(root, ".bench_work", args.workload)
    data = os.path.join(work, "input")
    # the source tables are generated once per checkout and scale, the
    # operation plan once per seed
    plan = gen.generate(args.workload, args.seed, args.scale, data)
    for d in ["snapshot", "index", "curate", "spark-local", "spark-warehouse", "tmp"]:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cpus = os.cpu_count() or 1
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ([build.java(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Harness", "--workload", args.workload, "--data", data, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--out", out])
    rc = build.run_logged(cmd, work, os.path.join(work, "harness.log"),
                          RUN_LIMIT_S - (time.time() - started))
    if rc != 0 or not os.path.exists(out):
        log_path = os.path.join(work, "harness.log")
        with open(log_path, errors="replace") as f:
            tail = [line for line in f.read().splitlines() if " INFO " not in line][-20:]
        print("\n".join(tail), file=sys.stderr)
        fail("harness run timed out" if rc is None else f"harness failed (exit {rc}); see {log_path}")
    with open(out) as f:
        res = json.load(f)

    failures = [(x["op"], x["reason"]) for x in res["failures"]]
    if args.workload == "dashboard":
        if args.corrupt_answer:
            rows = next(a for a in res["answers"] if a["rows"])["rows"]
            rows[0][-1] = str(float(rows[0][-1]) + 1.0)
        failures += check.dashboard(res, plan, os.path.join(work, "snapshot"))
    if args.workload == "index_serve_append":
        size = gen.SIZES[args.scale]
        failures += check.index(res, os.path.join(work, "index"), size["base_vecs"] * gen.UPSCALE)
        failures += check.curate(os.path.join(work, "curate"), size["docs"])
    for op, reason in failures:
        log(f"check failed (op {op}): {reason}")
    attempted = len(res["ops"])
    failed_ops = {op for op, _ in failures if op >= 0} | {o["op"] for o in res["ops"] if not o["ok"]}
    failed = len(failed_ops) + (1 if any(op < 0 for op, _ in failures) else 0)

    if args.trace:
        metrics = per_layer(res, args.workload, data)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics, counts = end_to_end(res, args.workload)
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.4f} {unit} (n={counts[name]})")
    print(f"workload={args.workload} seed={args.seed} cpus={res['cpus']} "
          f"ops={attempted} measured_s={res['measured_s']:.2f} "
          f"error_rate={failed / max(attempted, 1):.4f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
