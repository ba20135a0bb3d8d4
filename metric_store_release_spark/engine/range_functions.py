"""Range-vector functions f(m[d]) as single-shuffle grouped aggregations.

Semantics source: vendor/.../promql/functions.go (cited per function).
Each evaluates as groupBy(t, sig) over the range frame — every step of the
query in ONE hash aggregation, versus the reference's per-step re-slicing
(matrixIterSlice). Order-dependent math (counter resets, changes) is hoisted
to per-sample lag columns computed once per series BEFORE the window fan-out,
so no per-window sorting is needed — see selectors._with_order_cols.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import NAME_LABEL, sig
from metric_store_release_spark.engine.results import RangeFrame

__all__ = ["RANGE_FUNCS", "NEEDS_ORDER_COLS", "apply_range_func"]


def _strip_name(df: DataFrame) -> DataFrame:
    labels = F.map_filter(F.col("labels"), lambda k, _: k != F.lit(NAME_LABEL))
    return df.withColumn("labels", labels).withColumn("sig", sig(F.col("labels")))


def _grouped(frame: RangeFrame, *aggs: Column, keep_name: bool = False) -> DataFrame:
    # labels == map_from_entries(sig) on every frame (base_scan invariant):
    # rebuilding post-agg instead of carrying a map-typed any_value keeps the
    # aggregation buffers primitive, so pure-expression functions get
    # HashAggregate instead of SortAggregate (collect_list-based ones use
    # ObjectHashAggregate either way)
    out = (
        frame.df.groupBy("t", "sig")
        .agg(*aggs)
        .withColumn("labels", F.map_from_entries("sig"))
    )
    return out if keep_name else _strip_name(out)


def _simple(agg_fn):
    """agg_fn: () -> Column — lazily built (Columns need an active session)."""

    def handler(frame: RangeFrame, params: list[float]) -> DataFrame:
        return _grouped(frame, agg_fn().alias("value")).select(
            "t", "labels", "sig", "value"
        )

    return handler


#: power-of-two rescaling for overflow-safe mean: scaling a double by 2^±600
#: only shifts the exponent (mantissa untouched), so the scaled sum rounds
#: identically to the naive sum — just 600 binary orders of magnitude lower
_AVG_DOWN, _AVG_UP = 2.0 ** -600, 2.0 ** 600


def _avg_over_time() -> Column:
    """funcAvgOverTime (functions.go:453-510) computes an incremental mean
    precisely so that values near ±MaxFloat64 don't overflow the sum into
    ±Inf. Same outcome, one aggregation pass: use the naive sum/count unless
    the sum overflowed, then fall back to the exponent-shifted sum (exact
    power-of-two rescale). A genuine ±Inf sample makes BOTH sums infinite —
    result ±Inf/NaN exactly like the reference's fold."""
    total = F.sum("value")
    cnt = F.count(F.lit(1)).cast("double")
    scaled = F.sum(F.col("value") * F.lit(_AVG_DOWN))
    return F.when(
        F.abs(total) == F.lit(float("inf")), scaled / cnt * F.lit(_AVG_UP)
    ).otherwise(total / cnt)


def _nan_aware_min() -> Column:
    # functions.go:584-595 — NaN only if every sample is NaN. Spark orders
    # NaN above all doubles, so plain min already skips NaN; all-NaN groups
    # yield NaN naturally.
    non_nan = F.min(F.when(~F.isnan("value"), F.col("value")))
    return F.coalesce(non_nan, F.lit(float("nan")))


def _nan_aware_max() -> Column:
    non_nan = F.max(F.when(~F.isnan("value"), F.col("value")))
    return F.coalesce(non_nan, F.lit(float("nan")))


def _extrapolated_rate(
    frame: RangeFrame, is_counter: bool, is_rate: bool
) -> DataFrame:
    """rate/increase/delta — functions.go:67-170 extrapolatedRate.

    resultValue = last − first (+ Σ pre-reset levels for counters), then
    extrapolated toward the window edges unless the first/last samples sit
    further than 1.1× the average sample spacing from them (then extrapolate
    half an average interval), with counters additionally clamped at their
    extrapolated zero crossing.
    """
    rng_s = frame.range_ms / 1000.0
    # scalar min_by/max_by per field, NOT one min_by over a struct: struct
    # aggregation buffers demote the whole group-by to SortAggregate, while
    # primitive buffers keep HashAggregate (ts is unique per series, so the
    # independent extremum picks all land on the same sample)
    drop_col = F.col("drop") if is_counter else F.lit(0.0)
    grouped = _grouped(
        frame,
        F.min("ts").alias("first_ts"),
        F.min_by("value", "ts").alias("first_v"),
        F.min_by(drop_col, "ts").alias("first_drop"),
        F.max("ts").alias("last_ts"),
        F.max_by("value", "ts").alias("last_v"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(drop_col).alias("dropsum"),
    ).filter(F.col("cnt") >= 2)

    first_t = F.col("first_ts") + F.lit(frame.offset_ms)
    last_t = F.col("last_ts") + F.lit(frame.offset_ms)
    # window geometry relative to the evaluation reference: the output step
    # t normally, or the pinned @ time (engine.go rangeStart/rangeEnd use
    # enh.Ts, which @ fixes; offset shifts sample service times instead)
    eval_ref = F.lit(frame.at_ms) if frame.at_ms is not None else F.col("t")
    range_start = eval_ref - F.lit(frame.range_ms)
    range_end = eval_ref

    result = F.col("last_v") - F.col("first_v")
    if is_counter:
        # dropsum includes the first sample's adjustment whose prev sample
        # lies before the window — subtract it back out
        result = result + (F.col("dropsum") - F.col("first_drop"))

    dur_to_start = (first_t - range_start).cast("double") / 1000.0
    dur_to_end = (range_end - last_t).cast("double") / 1000.0
    sampled = (last_t - first_t).cast("double") / 1000.0
    avg_gap = sampled / (F.col("cnt") - 1).cast("double")

    if is_counter:
        dur_to_zero = F.when(
            (result > 0) & (F.col("first_v") >= 0),
            sampled * (F.col("first_v") / result),
        ).otherwise(F.lit(float("inf")))
        dur_to_start = F.least(dur_to_start, dur_to_zero)

    threshold = avg_gap * 1.1
    extrap = (
        sampled
        + F.when(dur_to_start < threshold, dur_to_start).otherwise(avg_gap / 2)
        + F.when(dur_to_end < threshold, dur_to_end).otherwise(avg_gap / 2)
    )
    factor = extrap / sampled
    if is_rate:
        factor = factor / F.lit(rng_s)
    return grouped.select("t", "labels", "sig", (result * factor).alias("value"))


def _instant_value(frame: RangeFrame, is_rate: bool) -> DataFrame:
    """irate/idelta — functions.go:247-278 instantValue: last two samples.

    The per-series lag columns give each sample its predecessor; the window's
    last sample plus its predecessor are the two points, valid only when the
    predecessor itself falls inside the window.
    """
    # scalar max_bys (see _extrapolated_rate): primitive buffers keep the
    # HashAggregate; all picks resolve to the window's last sample
    grouped = _grouped(
        frame,
        F.max("ts").alias("last_ts"),
        F.max_by("value", "ts").alias("last_v"),
        F.max_by("prev_ts", "ts").alias("last_prev_ts"),
        F.max_by("prev_value", "ts").alias("last_prev_v"),
    )
    eval_ref = F.lit(frame.at_ms) if frame.at_ms is not None else F.col("t")
    window_start = eval_ref - F.lit(frame.offset_ms) - F.lit(frame.range_ms)
    ok = (
        F.col("last_prev_ts").isNotNull()
        & (F.col("last_prev_ts") >= window_start)
        & (F.col("last_ts") != F.col("last_prev_ts"))
    )
    diff = F.col("last_v") - F.col("last_prev_v")
    if is_rate:
        raw = F.when(
            F.col("last_v") < F.col("last_prev_v"), F.col("last_v")
        ).otherwise(diff)
        value = raw / ((F.col("last_ts") - F.col("last_prev_ts")).cast("double") / 1000.0)
    else:
        value = diff
    return grouped.filter(ok).select("t", "labels", "sig", value.alias("value"))


def _deriv_cols() -> tuple[Column, Column]:
    """Least-squares slope/intercept vs ts seconds — functions.go:891-950.

    The reference centers x at the first sample's ts for numeric stability;
    regr_slope is mathematically identical (covariance/variance form).
    """
    x = F.col("ts").cast("double") / 1000.0
    y = F.col("value")
    slope = F.expr("regr_slope(value, ts / 1000.0)")
    avg_x = F.avg(x)
    avg_y = F.avg(y)
    return slope, avg_y - slope * avg_x  # intercept at x=0


def _deriv(frame: RangeFrame, params: list[float]) -> DataFrame:
    slope, _ = _deriv_cols()
    return (
        _grouped(frame, slope.alias("value"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("t", "labels", "sig", "value")
    )


def _predict_linear(frame: RangeFrame, params: list[float]) -> DataFrame:
    horizon = params[0]
    slope, intercept = _deriv_cols()
    out = _grouped(
        frame,
        slope.alias("slope"),
        intercept.alias("intercept"),
        F.count(F.lit(1)).alias("cnt"),
    ).filter(F.col("cnt") >= 2)
    # funcPredictLinear: linearRegression(samples, enh.Ts) — the intercept
    # sits at the raw eval time t, regardless of offset/@ on the selector
    pred_x = F.col("t").cast("double") / 1000.0 + F.lit(horizon)
    return out.select(
        "t",
        "labels",
        "sig",
        (F.col("intercept") + F.col("slope") * pred_x).alias("value"),
    )


def _changes(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:1193-1213 — value changes between consecutive samples in
    the window; the first in-window sample's lag pair straddles the window
    boundary and is excluded."""
    return _sum_minus_first("change", frame)


def _resets(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:1162-1191."""
    return _sum_minus_first("reset", frame)


def _sum_minus_first(col: str, frame: RangeFrame) -> DataFrame:
    grouped = _grouped(
        frame,
        F.sum(col).alias("total"),
        F.min_by(F.col(col), "ts").alias("first_contrib"),
    )
    return grouped.select(
        "t",
        "labels",
        "sig",
        (F.col("total") - F.col("first_contrib")).cast("double").alias("value"),
    )


def _quantile_over_time(frame: RangeFrame, params: list[float]) -> DataFrame:
    q = params[0]
    if math.isnan(q):
        value = F.lit(float("nan"))
    elif q < 0:
        value = F.lit(float("-inf"))
    elif q > 1:
        value = F.lit(float("inf"))
    else:
        # promql/quantile.go:387-402 — rank = q·(n−1), linear interpolation:
        # exactly SQL percentile()'s continuous interpolation
        value = F.expr(f"percentile(value, {q!r})")
    return _grouped(frame, value.alias("value")).select("t", "labels", "sig", "value")


def _holt_winters(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:302-348 double exponential smoothing.

    Genuinely sequential, but the recurrence folds cleanly with
    ``F.aggregate`` over the sorted per-window value array — an interpreted
    JVM higher-order function, no Python serialization. Windows are bounded
    (samples-per-window), so the interpreted fold is cheap.

    State ``(s0, s1, b, i)``; folding vals[2..n] (1-indexed):
        b' = i==1 ? v - s1 : tf·(s1−s0) + (1−tf)·b
        s1' = sf·v + (1−sf)·(s1 + b'),  s0' = s1,  i' = i+1
    which is exactly the Go loop with its i==1 no-trend-update special case
    (b is seeded from the first difference).
    """
    sf_, tf_ = params
    grouped = _grouped(
        frame,
        F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("pts"),
    ).filter(F.size("pts") >= 2)

    sf_c, tf_c = F.lit(float(sf_)), F.lit(float(tf_))
    vals = F.transform(F.col("pts"), lambda p: p.getField("value"))
    init = F.struct(
        F.lit(0.0).alias("s0"),
        F.element_at(vals, 1).alias("s1"),
        F.lit(0.0).alias("b"),
        F.lit(1).alias("i"),
    )

    def step(acc: Column, v: Column) -> Column:
        nb = F.when(acc.getField("i") == 1, v - acc.getField("s1")).otherwise(
            tf_c * (acc.getField("s1") - acc.getField("s0"))
            + (F.lit(1.0) - tf_c) * acc.getField("b")
        )
        s1 = sf_c * v + (F.lit(1.0) - sf_c) * (acc.getField("s1") + nb)
        return F.struct(
            acc.getField("s1").alias("s0"),
            s1.alias("s1"),
            nb.alias("b"),
            (acc.getField("i") + F.lit(1)).alias("i"),
        )

    value = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        init,
        step,
        lambda acc: acc.getField("s1"),
    )
    return grouped.select("t", "labels", "sig", value.alias("value"))


def _ts_seconds(frame: RangeFrame, params: list[float]) -> DataFrame:
    # last_over_time keeps the metric name (it returns the sample itself);
    # scalar max_by keeps the aggregation hash-based
    grouped = _grouped(frame, F.max_by("value", "ts").alias("value"), keep_name=True)
    return grouped.select("t", "labels", "sig", "value")


RANGE_FUNCS = {
    "rate": lambda f, p: _extrapolated_rate(f, True, True),
    "increase": lambda f, p: _extrapolated_rate(f, True, False),
    "delta": lambda f, p: _extrapolated_rate(f, False, False),
    "irate": lambda f, p: _instant_value(f, True),
    "idelta": lambda f, p: _instant_value(f, False),
    "sum_over_time": _simple(lambda: F.sum("value")),
    "avg_over_time": _simple(_avg_over_time),
    "min_over_time": _simple(_nan_aware_min),
    "max_over_time": _simple(_nan_aware_max),
    "count_over_time": _simple(lambda: F.count(F.lit(1)).cast("double")),
    "last_over_time": _ts_seconds,
    "present_over_time": _simple(lambda: F.lit(1.0)),
    "stddev_over_time": _simple(lambda: F.coalesce(F.stddev_pop("value"), F.lit(0.0))),
    "stdvar_over_time": _simple(lambda: F.coalesce(F.var_pop("value"), F.lit(0.0))),
    "quantile_over_time": _quantile_over_time,
    "deriv": _deriv,
    "predict_linear": _predict_linear,
    "changes": _changes,
    "resets": _resets,
    "holt_winters": _holt_winters,
}

#: functions whose math needs the per-series lag columns
NEEDS_ORDER_COLS = {"rate", "increase", "irate", "idelta", "changes", "resets"}

def apply_range_func(name: str, frame: RangeFrame, params: list[float]) -> DataFrame:
    return RANGE_FUNCS[name](frame, params)
