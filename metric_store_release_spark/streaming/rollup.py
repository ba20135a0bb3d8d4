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

Expressed as windowed groupBy aggregations over a batch DataFrame;
`nozzle.envelopes_to_samples` unions them onto the gauge and counter
points, and `nozzle.ingest_stream` applies that to each micro-batch. The
interval, tag allowlist and buckets are constants, as in the reference.
Late envelopes land in the right window (the reference accepts any
timestamp into the right 24 h shard and has no watermark —
influx_adapter.go:63-86 — so none is imposed here either).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import memo_column, sql_string

#: app/nozzle.go:115-126
ROLLUP_TAGS = (
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
BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

#: `rollup_histograms`' grouping: the allowlist without status_code
HISTOGRAM_TAGS = tuple(t for t in ROLLUP_TAGS if t != "status_code")

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


def _window(df: DataFrame) -> DataFrame:
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
    entries = ", ".join(f"{sql_string(t)}, {_column_ref(t)}" for t in tags)
    return F.expr(
        f"map_concat({base_map}, map_filter(map({entries}), (k, v) -> v IS NOT NULL))"
    )


def _column_ref(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"not a tag column name: {name!r}")
    return f"`{name}`"


def rollup_counters(envelopes: DataFrame, node_index: str | None = "0") -> DataFrame:
    """`http_total` CUMULATIVE counter points, one per active window.

    counter.go:31-70: the counters map persists across intervals (only the
    active-key set resets), so each emission carries the running total — a
    true Prometheus counter, rate()-able downstream. Point ts = window END
    (emitted at interval close, nozzle.go:253-286). The running sum covers
    the DataFrame it is given: `ingest_stream` rolls up each micro-batch on
    its own, so the sum restarts per batch — a counter reset, which PromQL
    rate()/increase() absorb by design.
    """
    from pyspark.sql.window import Window

    t = _window(_http_timers(envelopes))
    grouped = t.groupBy(
        F.window("ts_t", ROLLUP_INTERVAL).alias("w"),
        F.col("source_id"),
        *_tag_cols(ROLLUP_TAGS),
    ).agg(F.count(F.lit(1)).cast("double").alias("win_count"))
    cum = Window.partitionBy("source_id", *ROLLUP_TAGS).orderBy(F.col("w.start"))
    return grouped.select(
        F.unix_millis(F.col("w.end")).alias("ts"),
        F.lit("http_total").alias("name"),
        F.sum("win_count").over(cum).alias("value"),
        _labels_from_tags(ROLLUP_TAGS, node_index).alias("labels"),
    )


def rollup_histograms(envelopes: DataFrame, node_index: str | None = "0") -> DataFrame:
    """`http_duration_seconds` histogram points per window
    (histogram.go:36-130): cumulative `_bucket` series per le, plus `_count`
    and `_sum`. status_code is excluded from the grouping — HTTP status is
    not a histogram dimension (histogram.go:84-90)."""
    t = _window(_http_timers(envelopes)).withColumn(
        "duration_s", (F.col("stop") - F.col("start")) / 1_000_000_000.0
    )
    aggs = [
        F.sum(F.when(F.col("duration_s") <= b, 1).otherwise(0))
        .cast("double")
        .alias(f"w_le{i}")
        for i, b in enumerate(BUCKETS)
    ]
    grouped = t.groupBy(
        F.window("ts_t", ROLLUP_INTERVAL).alias("w"),
        F.col("source_id"),
        *_tag_cols(HISTOGRAM_TAGS),
    ).agg(
        *aggs,
        F.count(F.lit(1)).cast("double").alias("w_cnt"),
        F.sum("duration_s").alias("w_total_s"),
    )
    # histogram.go:36-130: prometheus.Histogram instances persist across
    # intervals — emissions are running totals (cumulative over time AND
    # over le, like any Prometheus histogram)
    from pyspark.sql.window import Window

    cum = Window.partitionBy("source_id", *HISTOGRAM_TAGS).orderBy(F.col("w.start"))
    grouped = grouped.select(
        "*",
        *[F.sum(f"w_le{i}").over(cum).alias(f"le{i}") for i in range(len(BUCKETS))],
        F.sum("w_cnt").over(cum).alias("cnt"),
        F.sum("w_total_s").over(cum).alias("total_s"),
    )
    labels = _labels_from_tags(HISTOGRAM_TAGS, node_index)
    bucket_entries = [
        F.struct(F.lit(str(b)).alias("le"), F.col(f"le{i}").alias("v"))
        for i, b in enumerate(BUCKETS)
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

