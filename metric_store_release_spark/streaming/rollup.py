"""Timer rollups: 10 s tumbling pre-aggregation of HTTP timer envelopes.

Reference semantics (src/internal/nozzle/rollup/):
  counter.go:31-70   — per interval, count of timers per (source_id, tags)
                       → `http_total` counter points
  histogram.go:36-130 — same interval, durations observed into fixed
                       Prometheus buckets, grouped WITHOUT status_code →
                       `http_duration_seconds_bucket` (cumulative, le label)
                       + `_count` + `_sum` points
  nozzle.go:240-251  — only gorouter HTTP timers, client peer rows ignored
  app/nozzle.go:113-126 — interval 10 s; rollup tag allowlist

Expressed as windowed groupBy aggregations — identical code path for batch
DataFrames and Structured Streaming micro-batches (late envelopes land in
the right window; the reference accepts any timestamp into the right 24 h
shard and has no watermark — influx_adapter.go:63-86 — so none is imposed
here either; callers may add `withWatermark` to bound streaming state).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import memo_column, sql_string

#: app/nozzle.go:115-126
DEFAULT_ROLLUP_TAGS = (
    "status_code",
    "app_name",
    "app_id",
    "space_name",
    "space_id",
    "organization_name",
    "organization_id",
    "process_id",
    "process_instance_id",
    "process_type",
    "instance_id",
)

#: Prometheus default buckets (histogram.go uses prometheus.DefBuckets)
DEFAULT_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

ROLLUP_INTERVAL = "10 seconds"


def _http_timers(envelopes: DataFrame) -> DataFrame:
    """nozzle.go:240-251: name == 'http', server peer only."""
    return envelopes.filter(
        (F.col("type") == "timer")
        & (F.col("name") == "http")
        & (
            F.coalesce(F.col("tags").getItem("peer_type"), F.lit("server"))
            != F.lit("client")
        )
    )


def _window(df: DataFrame, interval: str) -> DataFrame:
    return df.withColumn("ts_t", F.timestamp_millis((F.col("ts") / 1_000_000).cast("long")))


def _tag_cols(tags: tuple[str, ...]) -> list[Column]:
    return [F.col("tags").getItem(t).alias(t) for t in tags]


@memo_column
def _labels_from_tags(tags: tuple[str, ...], node_index: str | None) -> Column:
    """The point's label map: source_id, node_index, then every tag column
    that is not null — one SQL expression, memoized, so a micro-batch
    builds it with no JVM round trip once the first batch has."""
    base = ["'source_id', source_id"]
    if node_index is not None:
        base.append(f"'node_index', {sql_string(node_index)}")
    base_map = f"map({', '.join(base)})"
    if not tags:
        return F.expr(base_map)
    entries = ", ".join(f"{sql_string(t)}, {_column_ref(t)}" for t in tags)
    return F.expr(
        f"map_concat({base_map}, map_filter(map({entries}), (k, v) -> v IS NOT NULL))"
    )


def _column_ref(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"not a tag column name: {name!r}")
    return f"`{name}`"


def rollup_counters(
    envelopes: DataFrame,
    interval: str = ROLLUP_INTERVAL,
    tags: tuple[str, ...] = DEFAULT_ROLLUP_TAGS,
    node_index: str | None = "0",
) -> DataFrame:
    """`http_total` CUMULATIVE counter points, one per active window.

    counter.go:31-70: the counters map persists across intervals (only the
    active-key set resets), so each emission carries the running total — a
    true Prometheus counter, rate()-able downstream. Point ts = window END
    (emitted at interval close, nozzle.go:253-286). In Structured Streaming
    the running sum restarts per micro-batch — a counter reset, which
    PromQL rate()/increase() absorb by design.
    """
    from pyspark.sql.window import Window

    t = _window(_http_timers(envelopes), interval)
    grouped = t.groupBy(
        F.window("ts_t", interval).alias("w"), F.col("source_id"), *_tag_cols(tags)
    ).agg(F.count(F.lit(1)).cast("double").alias("win_count"))
    cum = Window.partitionBy("source_id", *[F.col(t_) for t_ in tags]).orderBy(
        F.col("w.start")
    )
    return grouped.select(
        F.unix_millis(F.col("w.end")).alias("ts"),
        F.lit("http_total").alias("name"),
        F.sum("win_count").over(cum).alias("value"),
        _labels_from_tags(tuple(tags), node_index).alias("labels"),
    )


def rollup_histograms(
    envelopes: DataFrame,
    interval: str = ROLLUP_INTERVAL,
    tags: tuple[str, ...] = DEFAULT_ROLLUP_TAGS,
    buckets: tuple[float, ...] = DEFAULT_BUCKETS,
    node_index: str | None = "0",
) -> DataFrame:
    """`http_duration_seconds` histogram points per window
    (histogram.go:36-130): cumulative `_bucket` series per le, plus `_count`
    and `_sum`. status_code is excluded from the grouping — HTTP status is
    not a histogram dimension (histogram.go:84-90)."""
    htags = tuple(t for t in tags if t != "status_code")
    t = _window(_http_timers(envelopes), interval).withColumn(
        "duration_s", (F.col("stop") - F.col("start")) / 1_000_000_000.0
    )
    aggs = [
        F.sum(F.when(F.col("duration_s") <= b, 1).otherwise(0))
        .cast("double")
        .alias(f"w_le{i}")
        for i, b in enumerate(buckets)
    ]
    grouped = t.groupBy(
        F.window("ts_t", interval).alias("w"), F.col("source_id"), *_tag_cols(htags)
    ).agg(
        *aggs,
        F.count(F.lit(1)).cast("double").alias("w_cnt"),
        F.sum("duration_s").alias("w_total_s"),
    )
    # histogram.go:36-130: prometheus.Histogram instances persist across
    # intervals — emissions are running totals (cumulative over time AND
    # over le, like any Prometheus histogram)
    from pyspark.sql.window import Window

    cum = Window.partitionBy("source_id", *[F.col(t_) for t_ in htags]).orderBy(
        F.col("w.start")
    )
    grouped = grouped.select(
        "*",
        *[F.sum(f"w_le{i}").over(cum).alias(f"le{i}") for i in range(len(buckets))],
        F.sum("w_cnt").over(cum).alias("cnt"),
        F.sum("w_total_s").over(cum).alias("total_s"),
    )
    labels = _labels_from_tags(htags, node_index)
    bucket_entries = [
        F.struct(F.lit(str(b)).alias("le"), F.col(f"le{i}").alias("v"))
        for i, b in enumerate(buckets)
    ] + [F.struct(F.lit("+Inf").alias("le"), F.col("cnt").alias("v"))]
    buckets_df = grouped.select(
        F.unix_millis(F.col("w.end")).alias("ts"),
        labels.alias("base_labels"),
        F.explode(F.array(*bucket_entries)).alias("b"),
    ).select(
        "ts",
        F.lit("http_duration_seconds_bucket").alias("name"),
        F.col("b.v").alias("value"),
        F.map_concat(
            F.col("base_labels"), F.create_map(F.lit("le"), F.col("b.le"))
        ).alias("labels"),
    )
    count_df = grouped.select(
        F.unix_millis(F.col("w.end")).alias("ts"),
        F.lit("http_duration_seconds_count").alias("name"),
        F.col("cnt").alias("value"),
        labels.alias("labels"),
    )
    sum_df = grouped.select(
        F.unix_millis(F.col("w.end")).alias("ts"),
        F.lit("http_duration_seconds_sum").alias("name"),
        F.col("total_s").alias("value"),
        labels.alias("labels"),
    )
    return buckets_df.unionByName(count_df).unionByName(sum_df)


def stateful_rollup_counters(
    envelopes: DataFrame,
    interval_ms: int = 10_000,
    tags: tuple[str, ...] = DEFAULT_ROLLUP_TAGS,
    node_index: str | None = "0",
) -> DataFrame:
    """`http_total` with running totals that survive micro-batch boundaries.

    The plain `rollup_counters` window-sum restarts per micro-batch (a
    counter reset, which rate() absorbs). This is the exact analog of
    counter.go:31-70's persistent counters map: per-key state holds the
    running total across ALL batches via applyInPandasWithState, so
    emissions are monotone cumulative no matter how ingestion is chunked.
    State is (total, max emitted window) per (source_id, tags) series —
    bounded by series cardinality, the same bound the reference's map has.
    Late envelopes (older than the max emitted window) still increment the
    running total — the reference's counter counts on ARRIVAL, never by
    event time — but their emission is clamped to the max emitted window,
    so the stored cumulative series stays monotone (re-emitting an old
    window with a total that includes newer windows would read as a counter
    reset to rate()/increase()). Last write wins in the shard store, like
    the reference's overwrite-on-same-ts.

    Works on a streaming DataFrame; on a batch DataFrame use
    `rollup_counters` (identical output when all data is one batch).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    t = _http_timers(envelopes).select(
        (F.col("ts") / 1_000_000).cast("long").alias("ts_ms"),
        F.col("source_id"),
        *_tag_cols(tags),
    )
    out_schema = StructType(
        [
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
            StructField("source_id", StringType()),
        ]
        + [StructField(tag, StringType()) for tag in tags]
    )
    state_schema = StructType(
        [StructField("total", LongType()), StructField("max_w", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        total, max_w = state.get if state.exists else (0, None)
        counts: dict[int, int] = {}
        for pdf in pdfs:
            ends = (pdf["ts_ms"] // interval_ms + 1) * interval_ms
            for w, c in ends.value_counts().items():
                # clamp late windows to the max already-emitted window:
                # the count still reaches the total, but an old window is
                # never rewritten with a tail-inflated value
                w = int(w) if max_w is None else max(int(w), max_w)
                counts[w] = counts.get(w, 0) + int(c)
        rows = []
        for w in sorted(counts):
            total += counts[w]
            rows.append((w, float(total)) + tuple(key))
        if counts:
            max_w = max(counts) if max_w is None else max(max_w, max(counts))
        state.update((total, max_w if max_w is not None else 0))
        yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    rolled = t.groupBy("source_id", *[F.col(tag) for tag in tags]).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return rolled.select(
        "ts",
        F.lit("http_total").alias("name"),
        "value",
        _labels_from_tags(tuple(tags), node_index).alias("labels"),
    )


def stateful_rollup_stream(
    envelopes: DataFrame,
    out_path: str,
    checkpoint: str,
    interval_ms: int = 10_000,
):
    """Streaming wiring for the stateful counter rollup: points append to
    the shard store; state lives in the checkpoint (HDFSBackedStateStore),
    so a restart resumes running totals — the durability the reference
    gets from persisting... nothing (it loses totals on restart; the
    checkpointed version is strictly stronger)."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        from metric_store_release_spark.sources.storage import write_samples

        write_samples(batch, out_path)

    return (
        stateful_rollup_counters(envelopes, interval_ms)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def rollup_stream(
    envelopes: DataFrame,
    out_path: str,
    checkpoint: str,
    interval: str = ROLLUP_INTERVAL,
):
    """Structured Streaming wiring: envelope stream → rollups → parquet
    append (the Delta-append analog of the TSM WriteToShard sink,
    influx_adapter.go:63-86). Returns the started query.

    Uses foreachBatch so both rollups share one pass per micro-batch."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        from metric_store_release_spark.sources.storage import write_samples

        pts = rollup_counters(batch).unionByName(rollup_histograms(batch))
        write_samples(pts, out_path)

    return (
        envelopes.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
