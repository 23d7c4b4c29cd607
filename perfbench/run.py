#!/usr/bin/env python3
"""Benchmark entry point. Run from the repo root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest      # the generator's self-test

Builds the program and the harness from source (see build.py), starts one
JVM with the harness, and prints one JSON result as the last line of
stdout. With --trace 0 the result holds the end-to-end metrics of the
workload; with --trace 1 a traced sweep reports every per-layer metric and
writes its spans under <build dir>/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_batch", "query_session")
HEAP = "4g"
# a run must end within 180 s; this leaves the launcher time to clean up
JVM_TIMEOUT_S = 175
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def jvm(root, classes, work, harness_args, timeout_s):
    """Runs the harness; returns (exit code, stdout). Stderr passes through."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + harness_args)
    # Spark's scratch space stays in the work dir, whatever the caller's env
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: harness exceeded {timeout_s} s", file=sys.stderr)
        return 1, ""
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def expected_metrics(root, trace):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    out = build.build_dir(root)
    classes = build.ensure_built(root, out)
    cores = len(os.sched_getaffinity(0))
    tag = "selftest" if args.selftest else f"{args.workload}-{args.seed}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    t0_ms = int(time.time() * 1000)
    if args.selftest:
        code, text = jvm(root, classes, work, ["--mode", "selftest"], JVM_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        print(text, end="")
        return code
    spans = os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.spans.json")
    try:
        code, text = jvm(root, classes, work, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--root", root, "--work", work,
            "--t0-ms", str(t0_ms), "--spans", spans], JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in text.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        print(f"perfbench: harness failed (exit {code})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    want = expected_metrics(root, args.trace == 1)
    missing = sorted(want - set(result["metrics"])) if want else []
    if missing:
        print(f"perfbench: result lacks metrics {missing}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
