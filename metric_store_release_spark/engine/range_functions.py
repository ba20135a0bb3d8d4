"""Range-vector functions f(m[d]) as single-shuffle grouped aggregations.

Semantics source: vendor/.../promql/functions.go (cited per function).
Each evaluates as groupBy(t, sig) over the range frame — every step of the
query in ONE hash aggregation, versus the reference's per-step re-slicing
(matrixIterSlice). Order-dependent math (counter resets, changes) is hoisted
to per-sample lag columns computed once per series BEFORE the window fan-out,
so no per-window sorting is needed — see selectors.ORDER_COLS.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from metric_store_release_spark.datamodel import NAMELESS_SIG, aggregate, num
from metric_store_release_spark.engine.results import RangeFrame

__all__ = ["RANGE_FUNCS", "NEEDS_ORDER_COLS", "apply_range_func"]


def _grouped(
    frame: RangeFrame,
    aggs: list[str],
    value: str,
    where: str | None = None,
    keep_name: bool = False,
) -> DataFrame:
    """groupBy(t, sig) over the window rows with `aggs`, kept where
    `where` holds, as (t, sig, value): all SQL text."""
    out = aggregate(frame.df, ["t", "sig"], aggs)
    if where is not None:
        out = out.filter(where)
    sig = "sig" if keep_name else f"{NAMELESS_SIG} AS sig"
    return out.selectExpr("t", sig, f"{value} AS value")


def _simple(agg: str):
    """One aggregate expression (SQL text) is the whole function."""

    def handler(frame: RangeFrame, params: list[float]) -> DataFrame:
        return _grouped(frame, [f"{agg} AS value"], "value")

    return handler


#: power-of-two rescaling for overflow-safe mean: scaling a double by 2^±600
#: only shifts the exponent (mantissa untouched), so the scaled sum rounds
#: identically to the naive sum — just 600 binary orders of magnitude lower
_AVG_DOWN, _AVG_UP = 2.0 ** -600, 2.0 ** 600

#: funcAvgOverTime (functions.go:453-510) computes an incremental mean
#: precisely so that values near ±MaxFloat64 don't overflow the sum into
#: ±Inf. Same outcome, one aggregation pass: use the naive sum/count unless
#: the sum overflowed, then fall back to the exponent-shifted sum (exact
#: power-of-two rescale). A genuine ±Inf sample makes BOTH sums infinite —
#: result ±Inf/NaN exactly like the reference's fold.
_AVG_OVER_TIME = (
    f"CASE WHEN abs(sum(value)) = {num(math.inf)} "
    f"THEN sum(value * {num(_AVG_DOWN)}) / CAST(count(1) AS DOUBLE) * {num(_AVG_UP)} "
    "ELSE sum(value) / CAST(count(1) AS DOUBLE) END"
)


def nan_aware_agg(fn: str) -> str:
    # functions.go:584-595 — NaN only if every sample is NaN. Spark orders
    # NaN above all doubles, so plain min already skips NaN; all-NaN groups
    # yield NaN naturally.
    return (
        f"coalesce({fn}(CASE WHEN NOT isnan(value) THEN value END), "
        f"{num(math.nan)})"
    )


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
    # scalar min_by/max_by per field, NOT one min_by over a struct: struct
    # aggregation buffers demote the whole group-by to SortAggregate, while
    # primitive buffers keep HashAggregate (ts is unique per series, so the
    # independent extremum picks all land on the same sample)
    drop = "drop" if is_counter else "0.0D"
    aggs = [
        "min(ts) AS first_ts",
        "min_by(value, ts) AS first_v",
        f"min_by({drop}, ts) AS first_drop",
        "max(ts) AS last_ts",
        "max_by(value, ts) AS last_v",
        "count(1) AS cnt",
        f"sum({drop}) AS dropsum",
    ]
    first_t = f"(first_ts + {num(frame.offset_ms)})"
    last_t = f"(last_ts + {num(frame.offset_ms)})"
    # window geometry relative to the evaluation reference: the output step
    # t normally, or the pinned @ time (engine.go rangeStart/rangeEnd use
    # enh.Ts, which @ fixes; offset shifts sample service times instead)
    range_end = "t" if frame.at_ms is None else num(frame.at_ms)
    range_start = f"({range_end} - {num(frame.range_ms)})"

    result = "(last_v - first_v)"
    if is_counter:
        # dropsum includes the first sample's adjustment whose prev sample
        # lies before the window — subtract it back out
        result = f"({result} + (dropsum - first_drop))"

    to_start = f"(CAST(({first_t} - {range_start}) AS DOUBLE) / 1000.0D)"
    to_end = f"(CAST(({range_end} - {last_t}) AS DOUBLE) / 1000.0D)"
    sampled = f"(CAST(({last_t} - {first_t}) AS DOUBLE) / 1000.0D)"
    avg_gap = f"({sampled} / CAST((cnt - 1) AS DOUBLE))"

    if is_counter:
        to_zero = (
            f"CASE WHEN {result} > 0 AND first_v >= 0 "
            f"THEN {sampled} * (first_v / {result}) ELSE {num(math.inf)} END"
        )
        to_start = f"least({to_start}, {to_zero})"

    threshold = f"({avg_gap} * 1.1D)"
    extrap = (
        f"({sampled} "
        f"+ CASE WHEN {to_start} < {threshold} THEN {to_start} ELSE {avg_gap} / 2 END "
        f"+ CASE WHEN {to_end} < {threshold} THEN {to_end} ELSE {avg_gap} / 2 END)"
    )
    factor = f"({extrap} / {sampled})"
    if is_rate:
        factor = f"({factor} / {num(frame.range_ms / 1000.0)})"
    return _grouped(frame, aggs, f"{result} * {factor}", where="cnt >= 2")


def _instant_value(frame: RangeFrame, is_rate: bool) -> DataFrame:
    """irate/idelta — functions.go:247-278 instantValue: last two samples.

    The per-series lag columns give each sample its predecessor; the window's
    last sample plus its predecessor are the two points, valid only when the
    predecessor itself falls inside the window.
    """
    # scalar max_bys (see _extrapolated_rate): primitive buffers keep the
    # HashAggregate; all picks resolve to the window's last sample
    aggs = [
        "max(ts) AS last_ts",
        "max_by(value, ts) AS last_v",
        "max_by(prev_ts, ts) AS last_prev_ts",
        "max_by(prev_value, ts) AS last_prev_v",
    ]
    eval_ref = "t" if frame.at_ms is None else num(frame.at_ms)
    window_start = f"{eval_ref} - {num(frame.offset_ms)} - {num(frame.range_ms)}"
    ok = (
        f"last_prev_ts IS NOT NULL AND last_prev_ts >= ({window_start}) "
        "AND last_ts != last_prev_ts"
    )
    value = "(last_v - last_prev_v)"
    if is_rate:
        value = (
            f"CASE WHEN last_v < last_prev_v THEN last_v ELSE {value} END "
            "/ (CAST((last_ts - last_prev_ts) AS DOUBLE) / 1000.0D)"
        )
    return _grouped(frame, aggs, value, where=ok)


#: least-squares slope vs ts seconds — functions.go:891-950. The reference
#: centers x at the first sample's ts for numeric stability; regr_slope is
#: mathematically identical (covariance/variance form).
_SLOPE = "regr_slope(value, ts / 1000.0)"


def _deriv(frame: RangeFrame, params: list[float]) -> DataFrame:
    return _grouped(
        frame, [f"{_SLOPE} AS value", "count(1) AS cnt"], "value", where="cnt >= 2"
    )


def _predict_linear(frame: RangeFrame, params: list[float]) -> DataFrame:
    intercept = f"avg(value) - {_SLOPE} * avg(CAST(ts AS DOUBLE) / 1000.0D)"
    aggs = [f"{_SLOPE} AS slope", f"{intercept} AS intercept", "count(1) AS cnt"]
    # funcPredictLinear: linearRegression(samples, enh.Ts) — the intercept
    # sits at the raw eval time t, regardless of offset/@ on the selector
    pred_x = f"(CAST(t AS DOUBLE) / 1000.0D + {num(params[0])})"
    return _grouped(frame, aggs, f"intercept + slope * {pred_x}", where="cnt >= 2")


def _changes(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:1193-1213 — value changes between consecutive samples in
    the window; the first in-window sample's lag pair straddles the window
    boundary and is excluded."""
    return _sum_minus_first("change", frame)


def _resets(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:1162-1191."""
    return _sum_minus_first("reset", frame)


def _sum_minus_first(col: str, frame: RangeFrame) -> DataFrame:
    aggs = [f"sum({col}) AS total", f"min_by({col}, ts) AS first_contrib"]
    return _grouped(frame, aggs, "CAST((total - first_contrib) AS DOUBLE)")


def _quantile_over_time(frame: RangeFrame, params: list[float]) -> DataFrame:
    q = params[0]
    if math.isnan(q):
        value = num(math.nan)
    elif q < 0:
        value = num(-math.inf)
    elif q > 1:
        value = num(math.inf)
    else:
        # promql/quantile.go:387-402 — rank = q·(n−1), linear interpolation:
        # exactly SQL percentile()'s continuous interpolation
        value = f"percentile(value, {num(q)})"
    return _grouped(frame, [f"{value} AS value"], "value")


def _holt_winters(frame: RangeFrame, params: list[float]) -> DataFrame:
    """functions.go:302-348 double exponential smoothing.

    Genuinely sequential, but the recurrence folds cleanly with
    ``aggregate`` over the sorted per-window value array — an interpreted
    JVM higher-order function, no Python serialization. Windows are bounded
    (samples-per-window), so the interpreted fold is cheap.

    State ``(s0, s1, b, i)``; folding vals[2..n] (1-indexed):
        b' = i==1 ? v - s1 : tf·(s1−s0) + (1−tf)·b
        s1' = sf·v + (1−sf)·(s1 + b'),  s0' = s1,  i' = i+1
    which is exactly the Go loop with its i==1 no-trend-update special case
    (b is seeded from the first difference).
    """
    sf, tf = (num(float(p)) for p in params)
    vals = "transform(pts, p -> p.value)"
    init = f"named_struct('s0', 0.0D, 's1', element_at({vals}, 1), 'b', 0.0D, 'i', 1)"
    nb = (
        "CASE WHEN acc.i = 1 THEN v - acc.s1 "
        f"ELSE {tf} * (acc.s1 - acc.s0) + (1.0D - {tf}) * acc.b END"
    )
    step = (
        f"(acc, v) -> named_struct('s0', acc.s1, "
        f"'s1', {sf} * v + (1.0D - {sf}) * (acc.s1 + {nb}), 'b', {nb}, 'i', acc.i + 1)"
    )
    value = f"aggregate(slice({vals}, 2, size({vals}) - 1), {init}, {step}, acc -> acc.s1)"
    return _grouped(
        frame,
        ["array_sort(collect_list(struct(ts, value))) AS pts"],
        value,
        where="size(pts) >= 2",
    )


def _last_over_time(frame: RangeFrame, params: list[float]) -> DataFrame:
    # last_over_time keeps the metric name (it returns the sample itself);
    # scalar max_by keeps the aggregation hash-based
    return _grouped(frame, ["max_by(value, ts) AS value"], "value", keep_name=True)


RANGE_FUNCS = {
    "rate": lambda f, p: _extrapolated_rate(f, True, True),
    "increase": lambda f, p: _extrapolated_rate(f, True, False),
    "delta": lambda f, p: _extrapolated_rate(f, False, False),
    "irate": lambda f, p: _instant_value(f, True),
    "idelta": lambda f, p: _instant_value(f, False),
    "sum_over_time": _simple("sum(value)"),
    "avg_over_time": _simple(_AVG_OVER_TIME),
    "min_over_time": _simple(nan_aware_agg("min")),
    "max_over_time": _simple(nan_aware_agg("max")),
    "count_over_time": _simple("CAST(count(1) AS DOUBLE)"),
    "last_over_time": _last_over_time,
    "present_over_time": _simple("1.0D"),
    "stddev_over_time": _simple("coalesce(stddev_pop(value), 0.0D)"),
    "stdvar_over_time": _simple("coalesce(var_pop(value), 0.0D)"),
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
