"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_keyword --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark program from source (perfbench/build.py),
runs one workload in a fresh JVM against a fresh scratch directory under
.bench_build/, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics. Host and process counters of every run (steal, CPU utilisation,
GC, nproc) and the spans of a traced run are kept in .bench_build/records/.
Progress and Spark logs go to stderr. Exits non-zero, without a result line,
when the build, the run or the check of the result fails.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170   # the benchmark JVM's limit; compiling (first run) comes on top
KEEP_INPUTS = 64    # cached generated corpora (4 per seed) kept under .bench_build/inputs


def trim_inputs(cache):
    entries = sorted(glob.glob(os.path.join(cache, "v*")), key=os.path.getmtime)
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    proc = None

    def stop(*_):
        # the compiler, if running, is killed by subprocess.run on the way out
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    classes = build.build(root)
    bb = os.path.join(root, ".bench_build")
    work = os.path.join(bb, f"run-{os.getpid()}")
    cache = os.path.join(bb, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(cache, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Xss4m", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + ":" + os.path.join(build.spark_jars(root), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--cache", cache, "--out", out, "--records", os.path.join(bb, "records")])

    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
            stop()
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"[perfbench] benchmark JVM failed (exit {rc})")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        trim_inputs(cache)

    got = result["metrics"]
    missing = sorted(set(wanted) - set(got))
    if missing:
        raise SystemExit(f"[perfbench] result lacks metrics {missing}")
    bad = sorted(k for k in wanted if not math.isfinite(got[k]))
    if bad:
        raise SystemExit(f"[perfbench] non-finite metrics {bad}")
    result["metrics"] = {k: {"value": got[k], "unit": wanted[k]} for k in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
