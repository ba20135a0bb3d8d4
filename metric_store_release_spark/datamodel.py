"""Canonical data model: the `samples` DataFrame.

Reference point model (src/pkg/rpc/rpc.go:3-8): name, epoch-ns timestamp,
float64 value, string labels. The query layer works in milliseconds
(src/pkg/persistence/querier.go:60-61), so the canonical Spark schema is
ms-based:

    ts      long                 epoch milliseconds
    name    string               sanitized metric name
    value   double               finite (NaN/Inf rejected at ingest)
    labels  map<string,string>   never contains __name__
    stale   boolean (optional)   staleness marker (the reference uses a NaN
                                 bit pattern — promql/value IsStaleNaN; Spark
                                 cannot carry NaN payloads, so an explicit
                                 column models it)

Storage layout for scale: Parquet/Delta partitioned by `date(ts)` — the Spark
equivalent of the reference's 24 h TSM shards (influx_adapter.go:364-366) —
with `name` and optionally `source_id` as top-level columns so equality
matchers push down to the scan.

Series identity is the full label set; we group/join on a canonical
*signature*: sorted array of (key, value) entries. Spark cannot group by
MapType, but array<struct> is both groupable and joinable, and building it is
a map-side expression (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SAMPLES_SCHEMA = StructType(
    [
        StructField("ts", LongType(), False),
        StructField("name", StringType(), False),
        StructField("value", DoubleType(), False),
        StructField("labels", MapType(StringType(), StringType()), False),
        StructField("stale", BooleanType(), True),
    ]
)

#: the reserved label that carries the metric name inside the query layer
NAME_LABEL = "__name__"

#: default staleness horizon, ms (src/internal/metric-store/metric_store.go:301)
DEFAULT_LOOKBACK_MS = 5 * 60 * 1000

#: labels demoted to unindexed storage in the reference
#: (point_translator.go:12-19) — kept as ordinary map entries here; listed for
#: parity documentation.
UNINDEXED_LABELS = (
    "uri",
    "content_length",
    "user_agent",
    "request_id",
    "forwarded",
    "remote_address",
)

#: write-path label value truncation (src/pkg/persistence/appender.go:44)
LABEL_TRUNCATION_LENGTH = 256


def sig(labels: Column) -> Column:
    """Canonical series signature: sorted entries of a label map.

    Equivalent of the reference's label-set hash
    (transform/series_set_builder.go:52), except collision-free.
    """
    return F.array_sort(F.map_entries(labels))


def sig_of(labels: Column, keys: list[str], mode: str) -> Column:
    """Signature restricted to a label subset.

    mode='on'/'by'     : keep only `keys`  (absent keys simply missing)
    mode='ignoring'/'without': drop `keys` (and __name__)
    """
    if mode in ("on", "by"):
        keyset = F.array(*[F.lit(k) for k in keys])
        kept = F.map_filter(labels, lambda k, _: F.array_contains(keyset, k))
    elif mode in ("ignoring", "without"):
        dropped = F.array(*[F.lit(k) for k in keys], F.lit(NAME_LABEL))
        kept = F.map_filter(labels, lambda k, _: ~F.array_contains(dropped, k))
    else:  # pragma: no cover
        raise ValueError(f"bad sig mode {mode!r}")
    return F.array_sort(F.map_entries(kept))


def labels_without(labels: Column, keys: list[str]) -> Column:
    """Label map minus `keys` and __name__ (PromQL `without` projection)."""
    dropped = F.array(*[F.lit(k) for k in keys], F.lit(NAME_LABEL))
    return F.map_filter(labels, lambda k, _: ~F.array_contains(dropped, k))


def labels_keep(labels: Column, keys: list[str]) -> Column:
    """Label map restricted to `keys` (PromQL `by` / `on` projection)."""
    keyset = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(labels, lambda k, _: F.array_contains(keyset, k))


def sanitize_metric_name(col: Column) -> Column:
    """PromQL charset sanitization ([a-zA-Z_:][a-zA-Z0-9_:]*).

    Mirrors transform.SanitizeMetricName
    (src/pkg/persistence/transform/point_translator.go:48-72): every invalid
    char becomes '_', and a leading digit is prefixed with '_'.
    """
    cleaned = F.regexp_replace(col, r"[^a-zA-Z0-9_:]", "_")
    return F.when(cleaned.rlike(r"^[0-9]"), F.concat(F.lit("_"), cleaned)).otherwise(
        cleaned
    )


def sanitize_label_name(col: Column) -> Column:
    """Label-name charset sanitization ([a-zA-Z_][a-zA-Z0-9_]*).

    Mirrors transform.SanitizeLabelName (point_translator.go:74-97): colons
    are NOT allowed in label names, unlike metric names.
    """
    cleaned = F.regexp_replace(col, r"[^a-zA-Z0-9_]", "_")
    return F.when(cleaned.rlike(r"^[0-9]"), F.concat(F.lit("_"), cleaned)).otherwise(
        cleaned
    )


def truncate_label_values(labels: Column, limit: int = LABEL_TRUNCATION_LENGTH) -> Column:
    """Truncate label values (appender.go:44,126-138)."""
    return F.transform_values(labels, lambda _, v: F.substring(v, 1, limit))
