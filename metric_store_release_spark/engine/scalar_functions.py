"""Instant-vector (element-wise) functions → Spark SQL expressions.

Semantics source: vendor/.../promql/functions.go:349-878,1215-1355 and the
function registry at functions.go:1414-1498. All of these stay inside
whole-stage codegen — no Python in the hot path.

Functions here drop the metric name from result labels (Prometheus rule),
except sort/sort_desc (presentation only) — handled by the caller.
"""

from __future__ import annotations

import math

from metric_store_release_spark.datamodel import num

_NAN, _INF, _NEG_INF = num(math.nan), num(math.inf), num(-math.inf)


def _go_log(fn: str):
    """Go math.Log/Log2/Log10: log(0) = -Inf, log(x<0) = NaN. Spark's SQL
    log family returns NULL for non-positive input — map the NULLs back to
    the IEEE values PromQL expects (functions.go funcLn/funcLog2/funcLog10
    delegate to Go's math package)."""

    def wrapped(value: str) -> str:
        return (
            f"CASE WHEN isnan({value}) OR {value} < 0 THEN {_NAN} "
            f"WHEN {value} = 0.0D THEN {_NEG_INF} ELSE {fn}({value}) END"
        )

    return wrapped


def _sql_fn(fn: str):
    return lambda value: f"{fn}({value})"


# value-in, value-out SQL text; NaN/Inf propagate exactly as in Go's math
# package
SIMPLE_MATH = {
    "abs": _sql_fn("abs"),
    # ceil/floor return BIGINT for a double: back to double
    "ceil": lambda value: f"CAST(ceil({value}) AS DOUBLE)",
    "floor": lambda value: f"CAST(floor({value}) AS DOUBLE)",
    "exp": _sql_fn("exp"),
    "sqrt": _sql_fn("sqrt"),
    "ln": _go_log("ln"),
    "log2": _go_log("log2"),
    "log10": _go_log("log10"),
    "sgn": _sql_fn("signum"),
    "sin": _sql_fn("sin"),
    "cos": _sql_fn("cos"),
    "tan": _sql_fn("tan"),
    "asin": _sql_fn("asin"),
    "acos": _sql_fn("acos"),
    "atan": _sql_fn("atan"),
    "sinh": _sql_fn("sinh"),
    "cosh": _sql_fn("cosh"),
    "tanh": _sql_fn("tanh"),
    "asinh": _sql_fn("asinh"),
    "acosh": _sql_fn("acosh"),
    "atanh": _sql_fn("atanh"),
    "deg": _sql_fn("degrees"),
    "rad": _sql_fn("radians"),
}


def apply_simple_math(name: str, value: str) -> str:
    return SIMPLE_MATH[name](value)


def promql_round(value: str, to_nearest: float) -> str:
    """functions.go:410-430 — round half away from zero? No: Prometheus
    rounds *up* on ties (floor(v/n + 0.5) · n)."""
    inv = num(1.0 / to_nearest)
    return f"CAST(floor({value} * {inv} + 0.5D) AS DOUBLE) / {inv}"


def promql_clamp(value: str, mn: float, mx: float) -> str:
    """functions.go:367-382 — math.Max(min, math.Min(max, v)): Go's
    Max/Min propagate NaN from EITHER argument, so a NaN value OR a NaN
    bound yields NaN (clamp(v, 0, NaN) is all-NaN, functions.test). The
    max < min → empty-vector case is the caller's (it drops rows).
    least/greatest must not swallow NaN inputs, so use explicit whens."""
    lo, hi = num(mn), num(mx)
    return (
        f"CASE WHEN isnan({value}) OR isnan({lo}) OR isnan({hi}) THEN {_NAN} "
        f"ELSE CASE WHEN {value} > {hi} THEN {hi} WHEN {value} < {lo} THEN {lo} "
        f"ELSE {value} END END"
    )


def date_part(name: str, value: str) -> str:
    """functions.go:1358-1413 — value is epoch seconds; parts computed in
    UTC (session timezone is pinned to UTC by session.get_spark)."""
    ts = f"timestamp_seconds({value})"
    part = {
        "minute": f"minute({ts})",
        "hour": f"hour({ts})",
        "day_of_week": f"(dayofweek({ts}) - 1)",  # Prometheus: Sunday = 0
        "day_of_month": f"dayofmonth({ts})",
        "day_of_year": f"dayofyear({ts})",
        "days_in_month": f"dayofmonth(last_day({ts}))",
        "month": f"month({ts})",
        "year": f"year({ts})",
    }[name]
    return f"CAST({part} AS DOUBLE)"


DATE_FUNCS = {
    "minute",
    "hour",
    "day_of_week",
    "day_of_month",
    "day_of_year",
    "days_in_month",
    "month",
    "year",
}


def ieee_compare(lhs: str, rhs: str, op: str) -> str:
    """IEEE-754 comparison semantics (Go float64 ==, <, …), as SQL text.

    Spark SQL deviates from IEEE: NaN = NaN is TRUE and NaN sorts above all
    doubles. PromQL needs Go semantics: every comparison with NaN is false
    except '!=' which is true (vendor promql/engine.go:2456-2521 uses plain
    Go operators).
    """
    sql_op = "=" if op == "==" else op
    on_nan = "true" if op == "!=" else "false"
    return (
        f"CASE WHEN isnan({lhs}) OR isnan({rhs}) THEN {on_nan} "
        f"ELSE {lhs} {sql_op} {rhs} END"
    )


def arith_op(lhs: str, rhs: str, op: str) -> str:
    """PromQL arithmetic — Go float64 ops (engine.go:2456-2482), as SQL
    text."""
    if op in ("+", "-", "*"):
        return f"{lhs} {op} {rhs}"
    if op == "/":
        # Go: x/0 = ±Inf, 0/0 = NaN. Spark double division by zero → NULL,
        # so emulate IEEE explicitly. The divisor's zero may be NEGATIVE
        # (-0.0): Spark's `rhs == 0.0` is true for both zeros, so recover the
        # sign via the string cast ("-0.0" vs "0.0") — x / -0 must be -Inf
        # for positive x per IEEE-754 / Go.
        neg_zero = f"startswith(CAST({rhs} AS STRING), '-')"
        inf = f"CASE WHEN ({lhs} > 0) != {neg_zero} THEN {_INF} ELSE {_NEG_INF} END"
        return (
            f"CASE WHEN {rhs} = 0.0D THEN CASE WHEN isnan({lhs}) OR {lhs} = 0.0D "
            f"THEN {_NAN} ELSE {inf} END ELSE {lhs} / {rhs} END"
        )
    if op == "%":
        # Go math.Mod — result keeps the dividend's sign; x%0 = NaN
        return f"CASE WHEN {rhs} = 0.0D THEN {_NAN} ELSE {lhs} % {rhs} END"
    if op == "^":
        return f"power({lhs}, {rhs})"
    if op == "atan2":
        return f"atan2({lhs}, {rhs})"
    raise KeyError(op)
