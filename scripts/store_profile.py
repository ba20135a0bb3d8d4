"""Bytes on disk of a perfbench store, file by file and column by column.

    python scripts/store_profile.py --workload dashboard [--seed 5]
    python scripts/store_profile.py --workload ingest_with_reads [--seed 5] [--cycles 3]

Builds the store the way perfbench's set-up builds it, with its generator
and `workloads.to_points` over `sources.storage.write_samples`:

- `dashboard`: the 80-minute history in one write;
- `ingest_with_reads`: the 30-minute history in one write, then one write
  per 60-second cycle, as the ingest stream's micro-batches write them
  (one warm-up cycle, then `--cycles` measured ones).

Prints, for each parquet file, its footer bytes and, per column chunk
(summed over row groups), the codec, the compressed bytes and whether it
carries min/max statistics; then the bytes per column over the store and
the store's bytes per point. For `ingest_with_reads` bytes per point counts
the measured cycles only, after the warm-up, as perfbench's
`store_bytes_per_point` does.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(spark, work: str, workload: str, seed: int, cycles: int):
    """Writes the store; returns its path and its (points, bytes) before the
    measured writes (none for the dashboard, whose store is one write)."""
    import gen
    from pyspark.sql.types import LongType, StructField, StructType
    from workloads import (
        CYCLE_TICKS,
        DASHBOARD_TICKS,
        FLEET,
        INGEST_HISTORY_TICKS,
        INGEST_WARM_CYCLES,
        store_bytes,
        to_points,
    )

    from metric_store_release_spark.sources.storage import read_samples, write_samples
    from metric_store_release_spark.streaming.nozzle import ENVELOPE_SCHEMA

    if workload == "dashboard":
        history, n_cycles = DASHBOARD_TICKS, 0
    else:
        history, n_cycles = INGEST_HISTORY_TICKS, INGEST_WARM_CYCLES + cycles
    env_path = os.path.join(work, "envelopes.parquet")
    timeline = gen.generate(seed, FLEET, history + n_cycles * CYCLE_TICKS)
    gen.write_parquet(timeline, env_path)
    schema = StructType([*ENVELOPE_SCHEMA.fields, StructField("tick", LongType())])
    env = spark.read.schema(schema).parquet(env_path)
    store = os.path.join(work, "store")

    def land(lo: int, hi: int) -> None:
        # one file per write, as the stream reads each landed cycle file
        part = os.path.join(work, f"ticks_{lo}")
        ticks = env.filter(f"tick >= {lo} AND tick < {hi}").drop("tick")
        ticks.coalesce(1).write.parquet(part)
        batch = spark.read.schema(ENVELOPE_SCHEMA).parquet(part)
        write_samples(to_points(batch), store)

    land(0, history)
    warm = (0, 0)
    for n in range(n_cycles):
        if n == INGEST_WARM_CYCLES:
            warm = (read_samples(spark, store).count(), store_bytes(store))
        lo = history + n * CYCLE_TICKS
        land(lo, lo + CYCLE_TICKS)
    return store, warm


def profile(store: str) -> dict[str, int]:
    """Prints the per-file table; returns bytes per column over the store,
    with the footers under `(footer)`."""
    import pyarrow.parquet as pq
    from workloads import parquet_files

    totals: dict[str, int] = defaultdict(int)
    print("| file | column | codec | compressed B | min/max |")
    print("|---|---|---|---|---|")
    for f in sorted(parquet_files(store)):
        md = pq.ParquetFile(f).metadata
        name = os.path.relpath(f, store)
        chunks: dict[str, list] = {}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                stats = col.statistics is not None and col.statistics.has_min_max
                entry = chunks.setdefault(
                    col.path_in_schema, [col.compression, 0, stats]
                )
                entry[1] += col.total_compressed_size
        for path, (codec, nbytes, stats) in chunks.items():
            totals[path] += nbytes
            has = "yes" if stats else "no"
            print(f"| {name} | {path} | {codec} | {nbytes} | {has} |")
        footer = os.path.getsize(f) - sum(n for _, n, _ in chunks.values())
        totals["(footer)"] += footer
        print(f"| {name} | (footer) | | {footer} | |")
    return totals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("dashboard", "ingest_with_reads"),
                    default="dashboard")
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--cycles", type=int, default=3,
                    help="measured ingest cycles after the warm-up one")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from workloads import parquet_files, store_bytes

    from metric_store_release_spark.session import get_spark
    from metric_store_release_spark.sources.storage import read_samples

    spark = get_spark("store-profile", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        store, (warm_points, warm_bytes) = build(
            spark, work, args.workload, args.seed, args.cycles
        )
        totals = profile(store)
        points = read_samples(spark, store).count()
        nbytes = store_bytes(store)
        files = len(parquet_files(store))
    spark.stop()
    print()
    print("| column | bytes | share |")
    print("|---|---|---|")
    all_bytes = sum(totals.values())
    for path, n in sorted(totals.items(), key=lambda kv: -kv[1]):
        print(f"| {path} | {n} | {100 * n / all_bytes:.1f} % |")
    print()
    print(f"files {files}, bytes {nbytes}, points {points}")
    per_point = (nbytes - warm_bytes) / (points - warm_points)
    print(f"store_bytes_per_point {per_point:.4f} B/point")
    return 0


if __name__ == "__main__":
    sys.exit(main())
