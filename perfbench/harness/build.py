"""Build file of the benchmark harness.

    python3 perfbench/harness/build.py

Run from the repository root. It compiles the program's sources
(src/main/scala) together with the harness (perfbench/harness/src) into
perfbench/harness/target/classes, with the Scala compiler that ships
in Spark's jars and those jars as the classpath, the same jars the
repository's own build compiles against. Nothing is fetched and nothing
is written outside perfbench/harness/target. A build is skipped when
the sources are unchanged since the last one.
"""

import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")


class BuildError(Exception):
    pass


def run_logged(cmd, cwd, log_path, timeout):
    """Run `cmd` (one JVM, no children of its own) with its output in
    `log_path`. On a timeout, or when the caller is interrupted or
    terminated, kill it and wait for it to end. Returns the exit code,
    None on timeout."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def exit_on_sigterm():
    """Turn SIGTERM into SystemExit, so that run_logged's cleanup runs."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def java():
    """$JAVA_HOME/bin/java, else the `java` on PATH."""
    home = os.environ.get("JAVA_HOME")
    path = os.path.join(home, "bin", "java") if home else ""
    return path if os.path.isfile(path) else "java"


def spark_jars(root):
    """Spark's jars directory: $SPARK_HOME/jars, else the installation
    of the `spark-submit` on PATH, else the directory the repository's
    build.sbt names as its unmanagedBase."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    dirs = [os.path.join(h, "jars") for h in homes if h]
    build_sbt = os.path.join(root, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if os.path.isdir(d) and any(n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    raise BuildError("no Spark installation with a Scala compiler: set SPARK_HOME")


def sources(root):
    out = []
    for d in [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(root, files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, timeout_s, log=print):
    """Compile program + harness unless this source state is already
    built; returns (classes directory, Spark jars directory)."""
    jars = spark_jars(root)
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "main", "scala")) for f in files):
        raise BuildError("the program sources (src/main/scala) are missing")
    want = digest(root, files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES, jars
    log("compiling program and harness")
    shutil.rmtree(CLASSES, ignore_errors=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    build_log = os.path.join(TARGET, "build.log")
    # the java launcher expands the jars wildcard; -usejavacp hands that
    # classpath to the compiler as well
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, f"@{argfile}"]
    rc = run_logged(cmd, root, build_log, timeout_s)
    if rc is None:
        raise BuildError("build timed out")
    if rc != 0:
        with open(build_log, errors="replace") as f:
            tail = "\n".join(f.read().splitlines()[-20:])
        raise BuildError(f"{tail}\nbuild failed (exit {rc}); see {build_log}")
    with open(STAMP, "w") as f:
        f.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    exit_on_sigterm()
    started = time.time()
    try:
        classes, _ = build(os.getcwd(), 900)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
    print(f"built {classes} in {time.time() - started:.1f} s")
