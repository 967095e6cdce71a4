#!/usr/bin/env python3
"""Search-serving benchmark launcher.

    python3 perfbench/run.py --workload fts_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the library and the benchmark from
source with sbt on first use (or when a source changed), then runs one
workload in a fresh JVM. Everything the run writes stays under
perfbench/work/ and is deleted when the run ends; the last line of standard
output is the result JSON that the JVM printed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORKLOADS = ("fts_serve", "vector_serve", "ingest_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change must trigger a rebuild."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.join(d, f) for f in files]
    return out


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the library sources (build.sbt, src/main/scala) are not beside perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    if os.path.isfile(LAUNCH):
        stamp = os.path.getmtime(LAUNCH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "writeLaunch"]
    res = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0 or not os.path.isfile(LAUNCH):
        die("build failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not 1 <= args.seconds <= 60:
        die("--seconds must be within 1..60")
    build()
    with open(LAUNCH) as f:
        launch = [line for line in f.read().split("\n") if line]
    work = os.path.join(HERE, "work", "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp]
           + launch
           + ["perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work])
    # own process group, so a timeout or a signal to this launcher takes
    # down the JVM and every thread Spark started
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True,
                            text=True)

    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(reason)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _: stop("stopped by signal %d" % signum))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop("run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        die("benchmark JVM exited with code %d" % proc.returncode)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
