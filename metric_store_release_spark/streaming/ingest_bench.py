"""Streaming ingest throughput probe: `ingest_stream` points/s.

BASELINE.md derives the reference's ingest envelope from its client-side
batching: >=64 points per 500 ms micro-batch (ingressclient.go:15-17, the
BATCH_SIZE/BATCH_INTERVAL pair) = 128 points/s sustained per nozzle. This
module times `nozzle.ingest_stream`, the stream a deployment runs —
file-source envelope stream with maxFilesPerTrigger backpressure, gauge and
counter conversion, the `http_total` counter rollup and the
`http_duration_seconds_{bucket,count,sum}` histogram rollup, parquet shard
sink — over a deterministic synthetic envelope corpus and measures
end-to-end points/s, so the bench records whether the Spark pipeline
clears the reference's envelope (it should by orders of magnitude; the
number is the evidence). Histogram points count: each timer series
yields 14 per 10 s window, so figures are not comparable with runs that
timed gauges, counters and `http_total` alone.

Everything here is measurement harness, not engine: the operators under
test live in streaming/nozzle.py, streaming/rollup.py, sources/storage.py.
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: reference ingest envelope: 64-point batches every 500 ms
ENVELOPE_POINTS_PER_SEC = 128.0


def generate_envelopes(
    spark: SparkSession, out_dir: str, n_envelopes: int = 64_000, n_files: int = 32
) -> None:
    """Deterministic synthetic envelope corpus: one third each gauges
    (2 metrics per envelope), counters, and http timers, spread over
    ``n_files`` parquet files so maxFilesPerTrigger yields real
    multi-batch streaming."""
    base = spark.range(n_envelopes).withColumn(
        "ts", (F.lit(1_600_000_000_000_000_000) + F.col("id") * 1_000_000)
    )
    kind = F.col("id") % 3
    env = base.select(
        F.col("ts").cast("long").alias("ts"),
        F.concat(F.lit("app-"), (F.col("id") % 8).cast("string")).alias("source_id"),
        F.when(kind == 0, "gauge").when(kind == 1, "counter").otherwise("timer").alias("type"),
        F.when(kind == 1, F.lit("requests")).when(kind == 2, F.lit("http")).alias("name"),
        F.when(kind == 1, (F.col("id") % 1000).cast("double")).alias("total"),
        F.when(
            kind == 0,
            F.create_map(
                F.lit("cpu"), F.struct(F.lit("pct").alias("unit"), (F.col("id") % 100).cast("double").alias("value")),
                F.lit("mem"), F.struct(F.lit("mb").alias("unit"), (F.col("id") % 4096).cast("double").alias("value")),
            ),
        ).alias("gauges"),
        F.when(kind == 2, F.col("ts") - 5_000_000).cast("long").alias("start"),
        F.when(kind == 2, F.col("ts")).cast("long").alias("stop"),
        F.create_map(
            F.lit("status_code"), ((F.col("id") % 2) * 300 + 200).cast("string")
        ).alias("tags"),
    )
    env.repartition(n_files).write.mode("overwrite").parquet(out_dir)


def measure_ingest_throughput(
    spark: SparkSession,
    n_envelopes: int = 64_000,
    n_files: int = 32,
    max_files_per_trigger: int = 4,
) -> dict:
    """Run `nozzle.ingest_stream` over the synthetic corpus and return
    {"points_per_sec", "batches", "points", "wall_sec"}.

    Timed region: stream start → `awaitTermination()` (availableNow drains
    every file through `max_files_per_trigger`-sized micro-batches). Corpus
    generation is untimed input setup; the points are counted in the sink
    afterwards.
    """
    from metric_store_release_spark.streaming.nozzle import ingest_stream

    tmp = tempfile.mkdtemp(prefix="msr_ingest_bench_")
    env_dir = f"{tmp}/envelopes"
    sink = f"{tmp}/sink"
    try:
        generate_envelopes(spark, env_dir, n_envelopes, n_files)
        t0 = time.perf_counter()
        q = ingest_stream(
            spark, env_dir, sink, f"{tmp}/ckpt",
            max_files_per_trigger=max_files_per_trigger,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        points = spark.read.parquet(sink).count()
        return {
            "points_per_sec": round(points / wall, 1),
            "batches": batches,
            "points": points,
            "wall_sec": round(wall, 3),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
