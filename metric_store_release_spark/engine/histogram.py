"""histogram_quantile over classic le-bucketed series.

Semantics: vendor/.../promql/quantile.go:74-124 (bucketQuantile) +
ensureMonotonic (quantile.go:369-379) + the grouping rule in
functions.go:1085-1160 (group by labels minus `le`, metric name dropped).

Implementation is pure higher-order SQL expressions over a per-group sorted
bucket array — one shuffle, no Python. At scale this is a single hash
aggregation keyed by (t, series-without-le): the natural layout, since each
histogram's buckets co-locate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from metric_store_release_spark.datamodel import NAMELESS_SIG, aggregate, num


#: SQL text: the `le` label as a bucket bound
_LE = (
    "CASE WHEN map_from_entries(sig)['le'] IN ('+Inf', 'Inf', 'inf') "
    "THEN double('Infinity') "
    "WHEN map_from_entries(sig)['le'] IN ('-Inf', '-inf') THEN double('-Infinity') "
    "ELSE TRY_CAST(map_from_entries(sig)['le'] AS DOUBLE) END"
)

#: coalesce buckets sharing a numeric upper bound — le="0.2" / "2e-1" /
#: "2.0e-1" are ONE bucket whose counts add (quantile.go:316-333)
_COALESCED = """
    aggregate(
        bk,
        cast(array() as array<struct<le:double,value:double>>),
        (acc, x) -> if(
            size(acc) > 0 and try_element_at(acc, -1).le = x.le,
            concat(
                slice(acc, 1, size(acc) - 1),
                array(named_struct(
                    'le', x.le,
                    'value', try_element_at(acc, -1).value + x.value
                ))
            ),
            concat(acc, array(x))
        )
    )
"""

#: monotonicity repair: running max of counts (quantile.go:369-379)
_MONOTONIC = f"""
    aggregate(
        {_COALESCED},
        cast(array() as array<struct<le:double,value:double>>),
        (acc, x) -> concat(
            acc,
            array(named_struct(
                'le', x.le,
                'value', greatest(x.value,
                                  coalesce(try_element_at(acc, -1).value, x.value))
            ))
        )
    )
"""


def _bucket_index(q: float) -> str:
    """SQL text: the 1-based index in the sorted bucket array `bk` of the
    bucket quantile q falls in — the first among buckets[0..n-2] whose
    count reaches q·observations; Go sort.Search returns n-1 when none
    does (quantile.go:103)."""
    rank = f"{num(q)} * try_element_at(bk, -1).value"
    idxs = (
        "filter(transform(bk, (x, i) -> struct(i + 1 as i, x.value as v)), "
        f"s -> s.v >= {rank} AND s.i < size(bk))"
    )
    return f"coalesce(try_element_at({idxs}, 1).i, size(bk))"


def _bucket_quantile(q: float) -> str:
    """SQL text: quantile q of the sorted bucket array `bk`, whose bucket
    `b` it falls in (quantile.go:74-124 bucketQuantile)."""
    if math.isnan(q):
        return num(math.nan)
    if q < 0:
        return num(-math.inf)
    if q > 1:
        return num(math.inf)
    n = "size(bk)"
    last = "try_element_at(bk, -1)"
    observations = f"{last}.value"
    rank = f"({num(q)} * {observations})"
    bucket = "try_element_at(bk, CAST(b AS INT))"
    prev_bucket = "try_element_at(bk, CAST(greatest(b - 1, 1) AS INT))"
    bucket_start = f"CASE WHEN b > 1 THEN {prev_bucket}.le ELSE 0.0D END"
    prev_count = f"CASE WHEN b > 1 THEN {prev_bucket}.value ELSE 0.0D END"
    count = f"({bucket}.value - {prev_count})"
    adj_rank = f"({rank} - {prev_count})"
    interpolated = (
        f"({bucket_start}) + ({bucket}.le - {bucket_start}) * ({adj_rank} / {count})"
    )
    second_highest = f"try_element_at(bk, CAST(({n} - 1) AS INT)).le"
    nan = num(math.nan)
    return (
        f"CASE WHEN {last}.le != {num(math.inf)} THEN {nan} "
        f"WHEN {n} < 2 THEN {nan} "
        f"WHEN {observations} = 0 THEN {nan} "
        f"WHEN b = {n} THEN {second_highest} "
        f"WHEN b = 1 AND {bucket}.le <= 0 THEN {bucket}.le "
        f"ELSE {interpolated} END"
    )


def histogram_quantile(vector_df: DataFrame, q: float) -> DataFrame:
    """vector_df: (t, sig, value) of `*_bucket` series with `le`.

    Series lacking an `le` label, or whose `le` does not parse, are
    skipped, like the reference (functions.go:1098-1102).
    """
    # group by labels minus `le` ONLY — the metric name stays in the
    # grouping signature (functions.go:1098 BytesWithoutLabels(le)), and is
    # dropped from the OUTPUT signature below; two same-labeled histograms
    # under different names then collide post-drop and trip the engine's
    # same-labelset check (histograms.test eval_fail, prometheus#9910)
    bounded = vector_df.selectExpr(
        "t", "filter(sig, e -> e.key != 'le') AS sig", "value", f"{_LE} AS le"
    ).filter("le IS NOT NULL AND NOT isnan(le)")
    grouped = aggregate(
        bounded, ["t", "sig"], ["array_sort(collect_list(struct(le, value))) AS bk"]
    )
    # the bucket index gets its own projection: the quantile refers to it
    # a dozen times, and each copy inline would be analysed, and evaluated,
    # anew
    return (
        grouped.selectExpr("t", "sig", f"{_MONOTONIC} AS bk")
        .selectExpr("*", f"{_bucket_index(q)} AS b")
        .selectExpr("t", f"{NAMELESS_SIG} AS sig", f"{_bucket_quantile(q)} AS value")
    )
