#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_paged|faces> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source with sbt on first use (or when a source file changed), then runs one
JVM per measurement. With --trace 0 the last stdout line is the result JSON
with the end-to-end metrics; with --trace 1 it carries the per-layer metrics
plus the tracing overhead: time per item of this traced run against the
median of the latest five untraced runs of the same build in this checkout
(one untraced run is made first when there is none and time allows).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# A run must end within 180 s; a run that first builds may take longer.
DEADLINE = time.monotonic() + 175
# A fixed 3 GB heap in place of the program's -Xmx8g: the live heap peaks near
# 400 MB (faces); with -Xmx8g a faces JVM grows to 4-6 GB resident and keeps
# more softly reachable data, so live_heap_peak_mb would follow heap sizing.
# -Xms = -Xmx, as spark-submit gives a driver, so the heap does not resize.
HEAP = ["-Xms3g", "-Xmx3g"]

_child = None


def _stop_child(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.terminate()
        try:
            _child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
    sys.exit(128 + signum)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    fp = source_fingerprint()
    have = os.path.exists(os.path.join(BUILD, "classpath.txt")) and os.path.exists(stamp)
    if have and open(stamp).read().strip() == fp:
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    # untraced results of another build are no baseline for tracing overhead
    shutil.rmtree(os.path.join(BUILD, "untraced"), ignore_errors=True)
    print("perfbench: building program and benchmark with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0:
        die("sbt build failed")
    with open(stamp, "w") as fh:
        fh.write(fp + "\n")
    return True


def run_jvm(args, echo):
    """Runs one measurement JVM; returns its stdout lines (the last is the result)."""
    global _child
    cp = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(BUILD, "jvm_opts.txt")).read().split("\n") if o]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + HEAP + opts +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark's scratch stays in the checkout (java.io.tmpdir)
    _child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    lines = []
    for line in _child.stdout:
        if echo and lines:
            print(lines[-1], flush=True)  # the last line is the result, printed by the caller
        lines.append(line.rstrip("\n"))
    try:
        code = _child.wait(timeout=max(1, DEADLINE - time.monotonic()))
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        die("measurement JVM timed out")
    _child = None
    if code != 0 or not lines:
        die(f"measurement JVM exited with code {code}")
    return lines


def remember(workload, result):
    """Keeps untraced results, so a traced run can report its overhead."""
    d = os.path.join(BUILD, "untraced", workload)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(time.time_ns())), "w") as fh:
        json.dump(result, fh)


def untraced_rates(workload, last=5):
    """items_per_s of the latest correct untraced runs of the workload."""
    d = os.path.join(BUILD, "untraced", workload)
    if not os.path.isdir(d):
        return []
    out = []
    for f in sorted(os.listdir(d), key=int)[-last:]:
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        if r["correct"]:
            out.append(r["metrics"]["items_per_s"]["value"])
    return out


def main():
    global DEADLINE
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-faces", action="store_true", help="rewrite the faces reference")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"program sources not found under {ROOT} (build.sbt, src/main/scala)")
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    if build():
        DEADLINE = time.monotonic() + 175

    if a.record_faces:
        print(run_jvm(["--record-faces"], echo=True)[-1])
        return
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    if a.trace == 0:
        last = run_jvm(base + ["--trace", "0"], echo=True)[-1]
        result = json.loads(last)
        remember(a.workload, result)
        print(f"[perfbench] fail_frac {result['failed']}/{result['attempted']} = "
              f"{result['failed'] / result['attempted']:.4f}")
        print(last, flush=True)
        return

    t0 = time.monotonic()
    *lines, last = run_jvm(base + ["--trace", "1"], echo=True)
    traced = json.loads(last)
    rate = float(next(l.split()[3] for l in lines if l.startswith("[perfbench] e2e items_per_s")))
    plain = untraced_rates(a.workload)
    if not plain and DEADLINE - time.monotonic() > 1.2 * (time.monotonic() - t0):
        result = json.loads(run_jvm(base + ["--trace", "0"], echo=False)[-1])
        remember(a.workload, result)
        plain = untraced_rates(a.workload)
    if plain and rate > 0:
        overhead = statistics.median(plain) / rate - 1
        print(f"[perfbench] tracing overhead ({a.workload}): {overhead:+.2%} time per item "
              f"(traced {rate:.4f}/s vs median of {len(plain)} untraced runs "
              f"{statistics.median(plain):.4f}/s)")
    else:
        overhead = 0.0
        print("[perfbench] tracing overhead: no untraced run to compare with "
              "(run the workload once with --trace 0 first)")
    traced["metrics"]["trace.overhead_frac"] = {"value": overhead, "unit": "ratio"}
    print(json.dumps(traced), flush=True)


if __name__ == "__main__":
    main()
