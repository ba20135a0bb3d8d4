"""Plan-build cost of the PromQL dashboard, panel by panel, or of ingest.

    python scripts/build_profile.py [--seed 5] [--repeat 5]
    python scripts/build_profile.py --ingest [--seed 5] [--repeat 5]

Writes a perfbench dashboard store (its generator, nozzle and rollups, on a
file-backed parquet store as the benchmark reads it), then builds, without
executing, each dashboard panel's plan through `PromQLEngine.query_range`:
once to warm the JVM and the engine's metadata caches, once counted, then
`--repeat` times timed. Prints, per panel and for the whole 7-panel
refresh, the py4j commands the build costs the JVM, the DataFrames it
analysed (each `DataFrame` constructed on the driver) and the median build
time. The commands are those the building thread sends
(`ClientServerConnection.send_command`) plus the object releases it queues
for py4j's finalizer thread, which sends them later; a garbage collection
on each side of the counted build keeps the count deterministic.

With `--ingest`, writes one perfbench ingest cycle (60 s of envelopes, as
one parquet file) and prints the same three figures for building
`nozzle.envelopes_to_samples` over it: the plan each micro-batch of the
ingest stream builds before its write.
"""

from __future__ import annotations

import argparse
import gc
import os
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildCounter:
    """Counts the calling thread's py4j commands (sent, plus releases queued)
    and DataFrame constructions while active."""

    def __init__(self) -> None:
        self.commands = 0
        self.frames = 0

    @contextmanager
    def counting(self):
        from py4j.clientserver import ClientServerConnection, JavaClient
        from pyspark.sql.classic.dataframe import DataFrame

        gc.collect()
        me = threading.get_ident()
        send = ClientServerConnection.send_command
        release = JavaClient.garbage_collect_object
        init = DataFrame.__init__

        def counted_send(conn, command):
            if threading.get_ident() == me:
                self.commands += 1
            return send(conn, command)

        def counted_release(client, target_id, enqueue=True):
            if enqueue and threading.get_ident() == me:
                self.commands += 1
            return release(client, target_id, enqueue)

        def counted_init(df, *a, **k):
            # DataFrame.__new__ runs __init__ once more: count a frame once
            if "_jdf" not in df.__dict__:
                self.frames += 1
            return init(df, *a, **k)

        ClientServerConnection.send_command = counted_send
        JavaClient.garbage_collect_object = counted_release
        DataFrame.__init__ = counted_init
        try:
            yield self
            gc.collect()
        finally:
            ClientServerConnection.send_command = send
            JavaClient.garbage_collect_object = release
            DataFrame.__init__ = init


def build(engine, samples, panel, now_ms: int):
    if panel.range_ms:
        return engine.query_range(
            samples, panel.promql, now_ms - panel.range_ms, now_ms, panel.step_ms
        )
    return engine.query_instant(samples, panel.promql, now_ms)


def profile(build_once, repeat: int) -> tuple[int, int, float]:
    """(py4j commands, DataFrames, median build ms) of `build_once()`, after
    one warm-up build."""
    build_once()
    counter = BuildCounter()
    with counter.counting():
        build_once()
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        build_once()
        times.append((time.perf_counter() - t0) * 1000)
    return counter.commands, counter.frames, statistics.median(times)


def dashboard(spark, work: str, seed: int, repeat: int) -> None:
    import gen
    from workloads import DASHBOARD_TICKS, FLEET, PANELS, to_points

    from metric_store_release_spark.engine.engine import PromQLEngine
    from metric_store_release_spark.sources.storage import read_samples, write_samples
    from metric_store_release_spark.streaming.nozzle import ENVELOPE_SCHEMA

    timeline = gen.generate(seed, FLEET, DASHBOARD_TICKS)
    env_path = os.path.join(work, "envelopes.parquet")
    gen.write_parquet(timeline, env_path)
    env = spark.read.schema(ENVELOPE_SCHEMA.add("tick", "long")).parquet(env_path)
    store = os.path.join(work, "store")
    write_samples(to_points(env.drop("tick")), store)
    samples = read_samples(spark, store)
    engine = PromQLEngine(spark)
    now = timeline.tick_ms(DASHBOARD_TICKS - 1)

    print("| panel | py4j commands | DataFrame ops | build ms |")
    print("|---|---|---|---|")
    totals = [0, 0, 0.0]
    for panel in PANELS:
        cmds, frames, ms = profile(lambda: build(engine, samples, panel, now), repeat)
        totals = [totals[0] + cmds, totals[1] + frames, totals[2] + ms]
        print(f"| {panel.name} | {cmds} | {frames} | {ms:.0f} |")
    print(f"| **refresh** | **{totals[0]}** | **{totals[1]}** "
          f"| **{totals[2]:.0f}** |")


def ingest(spark, work: str, seed: int, repeat: int) -> None:
    import gen
    from workloads import CYCLE_TICKS, FLEET, INGEST_HISTORY_TICKS

    from metric_store_release_spark.streaming.nozzle import (
        ENVELOPE_SCHEMA,
        envelopes_to_samples,
    )

    # the first cycle the ingest workload lands after its history
    n_ticks = INGEST_HISTORY_TICKS + CYCLE_TICKS
    env_path = os.path.join(work, "envelopes.parquet")
    gen.write_parquet(gen.generate(seed, FLEET, n_ticks), env_path)
    cycle_path = os.path.join(work, "cycle.parquet")
    (
        spark.read.parquet(env_path)
        .filter(f"tick >= {INGEST_HISTORY_TICKS}")
        .drop("tick")
        .coalesce(1)
        .write.parquet(cycle_path)
    )
    env = spark.read.schema(ENVELOPE_SCHEMA).parquet(cycle_path)
    cmds, frames, ms = profile(lambda: envelopes_to_samples(env), repeat)
    print("| plan | py4j commands | DataFrame ops | build ms |")
    print("|---|---|---|---|")
    print(f"| envelopes_to_samples | {cmds} | {frames} | {ms:.0f} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--ingest", action="store_true",
                    help="profile the ingest plan instead of the dashboard")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from metric_store_release_spark.session import get_spark

    spark = get_spark("build-profile", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        (ingest if args.ingest else dashboard)(spark, work, args.seed, args.repeat)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
