"""graft benchmark: one seeded workload, fixed work, checked outputs.

    python3 perfbench/run.py --workload <cdc_medallion|retrieval_serve|corpus_ingest>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds graft and the benchmark from source (perfbench/build.py), then runs
one JVM with fixed noise controls. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is a
{"detail": ...} object recording op counts, the tail percentile and its
sample count, final table versions and the noise controls.

A traced run reports its overhead against the untraced op_p50_s of the same
workload kept in perfbench/.out/ (same seed if kept, else the median over
kept seeds); when none is kept it makes the untraced run first. Every run works in a fresh directory under
perfbench/.runs/ and deletes it at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import build

BENCH = Path(__file__).resolve().parent
HEAP = "2g"
JVM_TIMEOUT_S = 170
# The JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classes, main, args, run_dir):
    """Run `main` in a fresh JVM; return its stdout lines. The JVM is killed
    and waited for if it outlives the timeout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + str(tmp),
            "-Dlog4j2.configurationFile=" + str(BENCH / "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=run_dir)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run: %s did not finish within %d s" % (main, JVM_TIMEOUT_S))
    if proc.returncode != 0:
        raise SystemExit("run: %s exited with %d" % (main, proc.returncode))
    return out.splitlines()


def run_once(classes, a, trace, untraced_p50=None):
    """One benchmark JVM in a fresh run directory; returns (detail, result)."""
    run_dir = BENCH / ".runs" / ("%s-%d-%d-%d" % (a.workload, a.seed, trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(trace), "--dir", str(run_dir)]
        if untraced_p50 is not None:
            args += ["--untraced-op-p50", repr(untraced_p50)]
        lines = [l for l in java(classes, "graft.perfbench.Main", args, run_dir) if l.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if len(lines) < 2:
        raise SystemExit("run: the benchmark printed no result")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or "detail" not in detail:
        raise SystemExit("run: malformed result line")
    return detail, result


def kept_path(a):
    return BENCH / ".out" / ("%s-%d-%d.json" % (a.workload, a.seed, a.seconds))


def untraced_op_p50(classes, a):
    """op_p50_s of the untraced runs kept for this workload and length: the
    same seed's if kept, else the median over the kept seeds; with none kept,
    the untraced run is made first."""
    same = kept_path(a)
    kept = [same] if same.is_file() else sorted(
        (BENCH / ".out").glob("%s-*-%d.json" % (a.workload, a.seconds)))
    if not kept:
        keep(a, run_once(classes, a, 0)[1])
        kept = [same]
    return statistics.median(json.loads(p.read_text())["metrics"]["op_p50_s"]["value"] for p in kept)


def keep(a, result):
    path = kept_path(a)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(result) + "\n")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    classes = build.ensure()
    if a.self_test:
        run_dir = BENCH / ".runs" / ("selftest-%d" % os.getpid())
        run_dir.mkdir(parents=True, exist_ok=True)
        try:
            print("\n".join(java(classes, "graft.perfbench.SelfTest", ["--dir", str(run_dir)], run_dir)))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        return
    if not a.workload:
        p.error("--workload is required")
    if a.trace:
        detail, result = run_once(classes, a, 1, untraced_op_p50(classes, a))
    else:
        detail, result = run_once(classes, a, 0)
        keep(a, result)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
