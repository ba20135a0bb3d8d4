"""Nozzle: envelope streams → points (reference: src/internal/nozzle/).

The reference consumes Loggregator envelopes (gauges, counters, timers) and
converts them to storage points (nozzle.go:230-400). Here envelopes are rows
of a DataFrame — batch or Structured Streaming, the same transformations
apply (micro-batches stand in for the reference's 500 ms / 32 KiB batching,
batcher.go:10-60). `envelopes_to_samples` is the one ingest rule: gauges and
counters converted, HTTP timers rolled up (streaming/rollup.py). It is
three plan branches over one batch, each written as SQL text: the points
(one projection that explodes each envelope's gauge entries or counter
total), the `http_total` rollup and the histogram rollup. Each branch
reads the batch once, so a small batch is written as one file per branch
and date.
`ingest_stream` is the ingest entry point; its backpressure is both the
source's `maxFilesPerTrigger` (the maxOffsetsPerTrigger analog) and the
drop-oldest diode `load_shed` (nozzle.go:93-101).

Envelope schema (one row per envelope):

    ts        long   envelope timestamp, epoch ns (Loggregator convention)
    source_id string
    type      string 'gauge' | 'counter' | 'timer'
    name      string counter/timer name
    total     double counter running total
    gauges    map<string, struct<unit string, value double>>
    start     long   timer start ns
    stop      long   timer stop ns
    tags      map<string,string>
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from metric_store_release_spark.datamodel import (
    sanitize_metric_name_sql,
    truncate_label_values_sql,
)
from metric_store_release_spark.streaming.rollup import (
    ENVELOPE_TS_MS,
    rollup_counters,
    rollup_histograms,
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("ts", LongType(), False),
        StructField("source_id", StringType(), False),
        StructField("type", StringType(), False),
        StructField("name", StringType(), True),
        StructField("total", DoubleType(), True),
        StructField(
            "gauges",
            MapType(
                StringType(),
                StructType(
                    [
                        StructField("unit", StringType(), True),
                        StructField("value", DoubleType(), True),
                    ]
                ),
            ),
            True,
        ),
        StructField("start", LongType(), True),
        StructField("stop", LongType(), True),
        StructField("tags", MapType(StringType(), StringType()), True),
    ]
)


def _point(name: str, value: str, labels: str) -> str:
    """SQL text: the (ts, name, value, labels) struct of one point of an
    envelope row."""
    return (
        f"struct({ENVELOPE_TS_MS} AS ts, {sanitize_metric_name_sql(name)} AS name, "
        f"{value} AS value, {truncate_label_values_sql(labels)} AS labels)"
    )


#: SQL text: the points of one envelope row. A gauge yields one point per
#: finite entry, NaN and ±Inf rejected (nozzle.go:346-376, transform.
#: IsValidFloat in point_translator.go:99-101); its unit replaces any `unit`
#: tag. A counter yields its cumulative total, NaN included
#: (nozzle.go:378-400), and keeps its tags. A timer yields none. The
#: envelope's source_id replaces any `source_id` tag.
_POINTS = (
    "CASE WHEN type = 'gauge' THEN transform(filter(map_entries(gauges), "
    "g -> NOT isnan(g.value.value) AND abs(g.value.value) != double('Infinity')), "
    "g -> "
    + _point(
        "g.key",
        "g.value.value",
        "map_concat(map_filter(coalesce(tags, map()), (k, v) -> k NOT IN ('source_id', 'unit')), "
        "map('source_id', source_id), "
        "map_filter(map('unit', g.value.unit), (k, v) -> v IS NOT NULL))",
    )
    + ") WHEN type = 'counter' AND total IS NOT NULL THEN array("
    + _point(
        "name",
        "total",
        "map_concat(map_filter(coalesce(tags, map()), (k, v) -> k != 'source_id'), "
        "map('source_id', source_id))",
    )
    + ") END"
)


def envelopes_to_points(envelopes: DataFrame) -> DataFrame:
    """Gauge and counter points, as (ts, name, value, labels): one
    projection that explodes each envelope's points, so a batch is read
    once. `envelopes_to_samples` adds the timer rollups."""
    return envelopes.selectExpr(f"inline({_POINTS})")


def envelopes_to_samples(envelopes: DataFrame) -> DataFrame:
    """Every stored sample an envelope batch yields, as (ts, name, value,
    labels): gauges and counters, plus the HTTP timer rollups `http_total`
    and `http_duration_seconds_{bucket,count,sum}` (nozzle.go:230-400)."""
    return (
        envelopes_to_points(envelopes)
        .unionByName(rollup_counters(envelopes))
        .unionByName(rollup_histograms(envelopes))
    )


class NozzleMetrics:
    """Driver-side drop accounting (NozzleDroppedEnvelopesTotal analog)."""

    def __init__(self) -> None:
        self.dropped_envelopes_total = 0
        self.ingressed_envelopes_total = 0


def load_shed(
    batch: DataFrame, max_rows: int, metrics: NozzleMetrics | None = None
) -> DataFrame:
    """Per-micro-batch load shed: keep the NEWEST `max_rows` envelopes,
    drop (and count) the rest — the OneToOne diode's overwrite-oldest
    behavior (nozzle.go:93-101). The cap is a per-batch memory bound; the
    newest-first ordering matches a ring buffer overwritten by arrivals."""
    total = batch.count()
    if total <= max_rows:
        if metrics is not None:
            metrics.ingressed_envelopes_total += total
        return batch
    kept = batch.orderBy(F.col("ts").desc()).limit(max_rows)
    if metrics is not None:
        metrics.dropped_envelopes_total += total - max_rows
        metrics.ingressed_envelopes_total += max_rows
    return kept


def ingest_stream(
    spark,
    envelope_dir: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 8,
    shed_above_rows: int | None = None,
    metrics: NozzleMetrics | None = None,
):
    """File-source envelope stream → `envelopes_to_samples` → shard store,
    with enforced backpressure: `maxFilesPerTrigger` bounds how much each
    micro-batch admits (the maxOffsetsPerTrigger analog for the file
    source), and `shed_above_rows` drops the oldest envelopes beyond the
    cap inside each batch, counting drops (the nozzle's diode alert).
    Returns the started StreamingQuery."""
    envelopes = (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(envelope_dir)
    )

    def emit(batch: DataFrame, batch_id: int) -> None:
        from metric_store_release_spark.sources.storage import write_samples

        if shed_above_rows is not None:
            batch = load_shed(batch, shed_above_rows, metrics)
        elif metrics is not None:
            metrics.ingressed_envelopes_total += batch.count()
        write_samples(envelopes_to_samples(batch), out_path)

    return (
        envelopes.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
