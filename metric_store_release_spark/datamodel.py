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
a map-side expression (no shuffle). Inside the query engine `sig` is a
series' only identity: the `labels` map exists in storage, where the scan
reads it, and at the engine's output, built there once from `sig`.

The engine builds its plans from SQL text (`num`, `sig_sql`, `project`,
`aggregate` below) and keeps strings from queries as literal Columns
(`sig_subset`, memoized by `memo_column`); see engine/evaluator.py.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Sequence

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
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
    (transform/series_set_builder.go:52), except collision-free. Sorted by
    key, then value, with `sort_array`: `array_sort` plans a default
    comparator lambda, which falls out of whole-stage codegen.
    """
    return F.sort_array(F.map_entries(labels))


def sig_sql(labels: str) -> str:
    """`sig` as SQL text over the SQL text of a label map."""
    return f"sort_array(map_entries({labels}))"


def num(x: int | float) -> str:
    """A Python number as Spark SQL text.

    The engine writes its structural expressions (step grid, windows,
    range-function math) as SQL text, and numbers are the only values it
    formats into that text: label names and values, regexes and every
    other string from a query stay literal Columns. Ints become BIGINT
    (`…L`); doubles get the `D` suffix, since `1000.0` alone is a DECIMAL.
    """
    if isinstance(x, bool) or not isinstance(x, (int, float)):
        raise TypeError(f"not a number: {x!r}")
    if isinstance(x, int):
        text = f"{x}L"
    elif math.isnan(x):
        return "double('NaN')"
    elif math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    else:
        text = f"{x!r}D"
    return f"({text})" if text.startswith("-") else text


def sql_string(const: str) -> str:
    """A constant of the program (a message, a configured tag name) as a
    SQL string literal; query strings never go through here."""
    if "'" in const or "\\" in const:
        raise ValueError(f"not a plain constant: {const!r}")
    return f"'{const}'"


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """One select over `df`: SQL-text items for structural expressions,
    Column items for anything built from a query string."""
    if all(isinstance(c, str) for c in cols):
        return df.selectExpr(*cols)
    return df.select(*(F.expr(c) if isinstance(c, str) else c for c in cols))


def aggregate(df: DataFrame, keys: list[str | Column], aggs: list[str]) -> DataFrame:
    """One grouped aggregation of `df`: `keys` are its column names or
    key Columns, `aggs` SQL text."""
    cols = [df[k] if isinstance(k, str) else k for k in keys]
    return df.groupBy(*cols).agg(*[F.expr(a) for a in aggs])


def memo_column(build):
    """Memoize a builder of Columns from query strings by its (hashable)
    arguments.

    A dashboard re-issues the same queries. A Column built from their
    strings (a matcher, a label-name filter) costs a py4j round trip or
    more per node, while the tree itself is an immutable, unresolved
    expression that any number of plans can share. Entries are kept per
    SparkContext.
    """

    @functools.lru_cache(maxsize=1024)
    def cached(sc, *args):
        return build(*args)

    @functools.wraps(build)
    def memoized(*args):
        return cached(SparkContext._active_spark_context, *args)

    return memoized


#: SQL text: `sig` without __name__ (sorted entries stay sorted)
NAMELESS_SIG = f"filter(sig, e -> e.key != '{NAME_LABEL}')"


def sig_subset(
    keys: Sequence[str], keep: bool, drop_name: bool | None = None, col: str = "sig"
) -> str | Column:
    """The signature column `col` restricted to a label subset: `keep`
    (by / on) keeps only `keys`, otherwise (without / ignoring) drops them.
    `drop_name` also drops __name__; it defaults to `not keep`, the rule of
    grouping and matching signatures (engine.go signatureFunc), while a
    binop's result labels drop it by operator (engine.go resultMetric).
    Filtering the sorted entries keeps them sorted. Label names come from
    the query, so non-empty `keys` give a Column holding them as literals;
    otherwise the result is SQL text."""
    if drop_name is None:
        drop_name = not keep
    if keep and drop_name:
        keys = [k for k in keys if k != NAME_LABEL]
    if not keys:
        if keep:
            return f"filter({col}, e -> false)"
        return f"filter({col}, e -> e.key != '{NAME_LABEL}')" if drop_name else col
    return _sig_subset(tuple(keys), keep, drop_name, col)


@memo_column
def _sig_subset(keys: tuple[str, ...], keep: bool, drop_name: bool, col: str) -> Column:
    if keep:
        names = F.array(*[F.lit(k) for k in keys])
        return F.filter(F.col(col), lambda e: F.array_contains(names, e["key"]))
    names = F.array(*[F.lit(k) for k in keys], *([F.lit(NAME_LABEL)] if drop_name else []))
    return F.filter(F.col(col), lambda e: ~F.array_contains(names, e["key"]))


#: characters a metric name may not hold (point_translator.go:48-72), and
#: the leading digit that gets a '_' prefix; both forms of the rule use these
_METRIC_NAME_INVALID = "[^a-zA-Z0-9_:]"
_LEADING_DIGIT = "^([0-9])"


def sanitize_metric_name(col: Column) -> Column:
    """PromQL charset sanitization ([a-zA-Z_:][a-zA-Z0-9_:]*).

    Mirrors transform.SanitizeMetricName
    (src/pkg/persistence/transform/point_translator.go:48-72): every invalid
    char becomes '_', and a leading digit is prefixed with '_'.
    """
    cleaned = F.regexp_replace(col, _METRIC_NAME_INVALID, "_")
    return F.regexp_replace(cleaned, _LEADING_DIGIT, "_$1")


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


def sanitize_metric_name_sql(name: str) -> str:
    """`sanitize_metric_name` as SQL text over the SQL text of a name."""
    return (
        f"regexp_replace(regexp_replace({name}, '{_METRIC_NAME_INVALID}', '_'), "
        f"'{_LEADING_DIGIT}', '_$1')"
    )


def truncate_label_values_sql(labels: str) -> str:
    """`truncate_label_values` as SQL text over the SQL text of a label map."""
    return f"transform_values({labels}, (k, v) -> substring(v, 1, {LABEL_TRUNCATION_LENGTH}))"
