"""Metric-store benchmark: PromQL dashboard refreshes and ingest-to-queryable.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Run from the repository root. Prints a report of every metric with its
unit and sample count, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). Exits non-zero, without
a result, when the set-up fails or the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest_with_reads")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep temporary files of this process and its children in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "metric_store_release_spark")):
        print("perfbench: metric_store_release_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    from workloads import END_TO_END, PER_LAYER, Run, calibrate

    run = Run(work, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.setup()
        t = time.perf_counter()
        calib_start = calibrate(run.spark)
        run.phases["calib"] = time.perf_counter() - t
        run.loop()
        t = time.perf_counter()
        run.finish()
        calib_end = calibrate(run.spark)
        run.phases["finish"] = time.perf_counter() - t
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        matched = run.check_digests(
            os.path.join(out, f"digests-{args.workload}-seed{args.seed}.json"))
        if args.trace:
            run.layer_metrics(calib_start, calib_end)
            run.tracer.write(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        if getattr(run, "stream", None) is not None:
            run.stream.stop()
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)
    names = [n for n, _ in (PER_LAYER if args.trace else END_TO_END)]
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("# phases " + " ".join(f"{k}={v:.1f}s" for k, v in run.phases.items()))
    print(f"# calib cpu={calib_start[0]:.3f}/{calib_end[0]:.3f}s "
          f"spark={calib_start[1]:.3f}/{calib_end[1]:.3f}s (start/end)")
    for line in run.metrics.report(names) + run.extra:
        print("#", line)
    print(f"# answers digested {len(run.digests)}, "
          f"{matched} matched a previous run of this seed")
    for w in run.wrong:
        print("# WRONG", w)
    print(json.dumps({
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics.as_json(names),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
