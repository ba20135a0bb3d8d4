"""Selector evaluation: instant (lookback as-of) and range (window) frames.

The reference resolves selectors by storage pushdown + per-step lookback scan
(vendor promql/engine.go:1678-1723 instant, 1947-1996 range;
src/pkg/persistence/querier.go matcher pushdown). The Spark-native design:

  1. Push matchers + the query's widest time bound into the Parquet scan
     (Catalyst predicate pushdown — equality on `name` prunes row groups).
  2. *Map-side* explode each sample onto the grid steps it can serve
     (`sequence()` between the first/last eligible step indexes — no join
     against a step-grid table, no driver loop, no skewed broadcast).
  3. One hash aggregation per selector: groupBy(t, sig) → max_by(ts) picks
     the as-of sample (instant), or no aggregation at all for range frames.

Scale notes: the explode factor is bounded by lookback/step (instant) or
range/step (range) — the same sample count the reference's per-step scans
re-read from the TSM cache, but produced in one pass. The single shuffle per
selector is keyed by (t, sig): naturally well-distributed since t spreads
every series over the grid.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import (
    NAME_LABEL,
    aggregate,
    memo_column,
    num,
    sig_sql,
)
from metric_store_release_spark.promql.ast import LabelMatcher, MatchOp, VectorSelector

# Engine-wide CONTRACT: the samples frame holds at most one row per
# (series signature, ts). The scalar max_by/min_by picks in instant
# selection and range functions rely on it — with duplicate-ts rows their
# independently-picked fields (value / stale / prev) could mix rows.
# FederatedStore._dedup_replicas restores the invariant on the replicated
# path.


#: the places of an RE2 regex where `(?P<` starts no group (a \Q…\E quote,
#: an escape, a character class), and RE2's named-group opener itself
_RE2_PIECE = re.compile(
    r"\\Q.*?(?:\\E|$)|\\.|\[\^?\]?(?:\[:\^?\w+:\]|\\.|[^\]])*\]|(\(\?P<\w+>)", re.S
)


def anchored_regex(regex: str) -> str:
    """A PromQL (RE2) regex as a fully anchored java.util.regex pattern.

    RE2's named group `(?P<name>` is a syntax error in Java, so it becomes
    a plain `(`: group numbers stay the same, and label_replace resolves
    names to numbers itself (evaluator._java_replacement)."""
    plain = _RE2_PIECE.sub(lambda m: "(" if m.group(1) else m.group(0), regex)
    return f"^(?:{plain})$"


@memo_column
def matcher_condition(m: LabelMatcher, promoted: frozenset[str] = frozenset()) -> Column:
    """One label matcher → boolean Column over the samples schema.

    Absent labels match as "" (PromQL semantics); regexes are fully anchored
    RE2 (vendor model/labels regexp semantics —
    src/pkg/persistence/transform/filter_translator.go:25-47 shows the same
    anchoring on the reference's pushdown path).

    `promoted`: labels that also exist as top-level columns (the analog of
    the reference's indexed tags / promoted source_id). Matching on the
    column instead of the map entry lets Catalyst push equality matchers
    into the parquet scan.
    """
    if m.name == NAME_LABEL:
        target = F.col("name")
    elif m.name in promoted:
        target = F.coalesce(F.col(m.name).cast("string"), F.lit(""))
    else:
        target = F.coalesce(F.col("labels").getItem(m.name), F.lit(""))
    if m.op == MatchOp.EQ:
        return target == F.lit(m.value)
    if m.op == MatchOp.NEQ:
        return target != F.lit(m.value)
    anchored = anchored_regex(m.value)
    if m.op == MatchOp.RE:
        return target.rlike(anchored)
    return ~target.rlike(anchored)


_DAY_MS = 86_400_000

#: SQL text: the stored label map with the metric name folded in as __name__
LABELED = (
    f"map_concat(map_filter(labels, (k, v) -> k != '{NAME_LABEL}'), "
    f"map('{NAME_LABEL}', name))"
)


@memo_column
def _name_is(name: str) -> Column:
    return F.col("name") == F.lit(name)


def scan_condition(
    samples: DataFrame, selector: VectorSelector, min_ts: int, max_ts: int
) -> Column:
    """Matcher + time-bound predicate over the samples columns."""
    cols = samples.columns
    promoted = frozenset(cols) - {"ts", "name", "value", "labels", "stale", "date"}
    bounds = f"ts >= {num(min_ts)} AND ts <= {num(max_ts)}"
    if "date" in cols:
        # date-partitioned store (24 h shard analog): derive the partition
        # predicate from the time bounds so Catalyst prunes whole shards
        # (influx_adapter.go:372-389 forTimestampRange equivalent); the
        # bounds are the UTC days of min_ts and max_ts
        lo, hi = (f"date_from_unix_date({num(ms // _DAY_MS)})" for ms in (min_ts, max_ts))
        bounds = f"{bounds} AND date BETWEEN {lo} AND {hi}"
    cond = F.expr(bounds)
    if selector.name is not None:
        cond = cond & _name_is(selector.name)
    for m in selector.matchers:
        cond = cond & matcher_condition(m, promoted)
    return cond


def base_scan(
    samples: DataFrame,
    selector: VectorSelector,
    min_ts: int,
    max_ts: int,
) -> DataFrame:
    """Matcher + time-bound filtered scan, in the samples' own columns."""
    return samples.filter(scan_condition(samples, selector, min_ts, max_ts))


def _stale(samples: DataFrame) -> str:
    """SQL text of the staleness marker (stores without one never mark)."""
    return "stale" if "stale" in samples.columns else "false AS stale"


def step_span(
    start_ms: int, end_ms: int, step_ms: int, lo: str, hi: str
) -> tuple[str, str]:
    """SQL text of the first and last grid-step indexes a sample serves:
    steps t in [lo, hi] ∩ grid. Double arithmetic is exact here
    (|ts| < 2^53)."""
    n_steps = (end_ms - start_ms) // step_ms
    k0 = (
        f"greatest(0L, CAST(ceil(({lo} - {num(start_ms)}) / {num(step_ms)}) "
        "AS BIGINT))"
    )
    k1 = (
        f"least({num(n_steps)}, CAST(floor(({hi} - {num(start_ms)}) / "
        f"{num(step_ms)}) AS BIGINT))"
    )
    return k0, k1


def _steps(start_ms: int, step_ms: int, k0: str, k1: str) -> str:
    """SQL text: one row per grid step t from step index k0 to k1 (callers
    keep k0 <= k1: a descending sequence would not be empty)."""
    first = f"{num(start_ms)} + {k0} * {num(step_ms)}"
    last = f"{num(start_ms)} + {k1} * {num(step_ms)}"
    return f"explode(sequence({first}, {last}, {num(step_ms)})) AS t"


def _whole_grid(start_ms: int, end_ms: int, step_ms: int) -> str:
    """SQL text: every row onto every grid step (@-pinned evaluation)."""
    return _steps(start_ms, step_ms, "0L", num((end_ms - start_ms) // step_ms))


def instant_vector(
    samples: DataFrame,
    selector: VectorSelector,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lookback_ms: int,
) -> DataFrame:
    """Instant selector: per (series, step) the most recent sample within
    [t - offset - lookback, t - offset]; staleness markers end the series
    (vendor promql/engine.go:1881-1914).

    Returns the VectorResult schema (t, sig, value, sample_ts).
    """
    off = selector.offset_ms
    if selector.at_ms is not None:
        # @ pins evaluation: evaluate once at at_ms, replicate across steps.
        ref_ms = selector.at_ms - off
        cond = scan_condition(samples, selector, ref_ms - lookback_ms, ref_ms)
        points = samples.filter(cond).selectExpr(
            f"{sig_sql(LABELED)} AS sig", "value", _stale(samples), "ts"
        )
        return _pick_latest(points, ["sig"], [_whole_grid(start_ms, end_ms, step_ms)])
    # valid iff ts >= t-off-lookback (NON-strict, engine.go:1906) — sample
    # serves eval times t in [ts+off, ts+off+lookback]
    k0, k1 = step_span(
        start_ms, end_ms, step_ms, f"ts + {num(off)}", f"ts + {num(off + lookback_ms)}"
    )
    cond = scan_condition(samples, selector, start_ms - off - lookback_ms, end_ms - off)
    points = samples.filter(cond & F.expr(f"{k0} <= {k1}")).selectExpr(
        _steps(start_ms, step_ms, k0, k1),
        f"{sig_sql(LABELED)} AS sig",
        "value",
        _stale(samples),
        "ts",
    )
    return _pick_latest(points, ["t", "sig"], [])


def _pick_latest(points: DataFrame, keys: list[str], grid: list[str]) -> DataFrame:
    """Per `keys` group the latest sample, unless it is a staleness marker,
    as (t, sig, value, sample_ts); `grid` fans a step-less pick out onto
    the steps.

    Aggregate PRIMITIVES only (max_by's buffer carries the value expr): a
    struct-of-map buffer forces SortAggregate — two sorts per exchange
    side — while primitive buffers keep HashAggregate. (ts is unique per
    series by the ingest contract, so the independent max_bys all pick the
    same sample.)
    """
    latest = aggregate(
        points,
        keys,
        ["max_by(value, ts) AS value", "max_by(stale, ts) AS stale", "max(ts) AS sample_ts"],
    )
    return latest.filter("NOT coalesce(stale, false)").selectExpr(
        *(grid or ["t"]), "sig", "value", "sample_ts"
    )


def range_frame(
    samples: DataFrame,
    selector: VectorSelector,
    range_ms: int,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    order_cols: bool = False,
) -> DataFrame:
    """Range selector m[d]: all samples with ts in [t-off-d, t-off], one row
    per (window t, sample). Stale markers are excluded outright
    (vendor promql/engine.go:2056-2059 matrixIterSlice skips stale NaN).
    """
    off = selector.offset_ms
    pinned = selector.at_ms is not None
    if pinned:
        min_ts, max_ts = selector.at_ms - off - range_ms, selector.at_ms - off
    else:
        min_ts, max_ts = start_ms - off - range_ms, end_ms - off
    cond = scan_condition(samples, selector, min_ts, max_ts)
    if "stale" in samples.columns:
        cond = cond & F.expr("NOT coalesce(stale, false)")
    return window_frame(
        samples, range_ms, off, start_ms, end_ms, step_ms,
        pinned=pinned, order_cols=order_cols, sig=sig_sql(LABELED), where=cond,
    )


def window_frame(
    points: DataFrame,
    range_ms: int,
    offset_ms: int,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    *,
    pinned: bool,
    order_cols: bool,
    sig: str = "sig",
    where: Column | None = None,
) -> DataFrame:
    """Fan the points of a range vector (ts, value and a series signature:
    a matrix selector's scan or a subquery's inner grid) out to one row
    per (window t, sample). `sig` is the SQL text of the points'
    signature, `where` their own filter.

    pinned (@): the points are exactly the pinned window, so every point
    serves every step. Otherwise v0.47 windows are CLOSED
    [t-off-range, t-off] (engine.go:2056 t >= mint; changed to left-open
    only in Prometheus 3.x) — a sample serves windows
      ts + off <= t <= ts + off + range

    order_cols=True precomputes order-dependent per-sample columns ONCE
    (before the fan-out) — see ORDER_COLS.
    """
    cols = ["ts", "value", sig if sig == "sig" else f"{sig} AS sig"]
    if order_cols:
        if where is not None:
            points = points.filter(where)
        if sig != "sig":
            points = points.selectExpr(*cols)
        points = points.selectExpr("*", *LAG_COLS)
        cols, where = ["ts", "value", "sig", *ORDER_COLS], None
    if pinned:
        grid = _whole_grid(start_ms, end_ms, step_ms)
    else:
        k0, k1 = step_span(
            start_ms, end_ms, step_ms,
            f"ts + {num(offset_ms)}", f"ts + {num(offset_ms + range_ms)}",
        )
        span = F.expr(f"{k0} <= {k1}")
        where = span if where is None else where & span
        grid = _steps(start_ms, step_ms, k0, k1)
    if where is not None:
        points = points.filter(where)
    return points.selectExpr(grid, *cols)


#: SQL text: each sample's predecessor in its series (global order)
LAG_COLS = [
    "lag(value) OVER (PARTITION BY sig ORDER BY ts) AS prev_value",
    "lag(ts) OVER (PARTITION BY sig ORDER BY ts) AS prev_ts",
]
#: SQL text of the per-sample columns the predecessor gives:
#:   drop  — reset adjustment: prev_value if value < prev_value else 0
#:           (rate/increase add the pre-reset level, functions.go:107-112)
#:   change — 1 if value differs from prev (changes()), reset — 1 on drop
#: Window sums then subtract the first-in-window sample's contribution,
#: whose prev lies outside the window.
ORDER_COLS = [
    "prev_value",
    "prev_ts",
    "CASE WHEN value < prev_value THEN prev_value ELSE 0.0D END AS drop",
    "CASE WHEN prev_value IS NULL THEN 0 WHEN value != prev_value AND "
    "NOT (isnan(value) AND isnan(prev_value)) THEN 1 ELSE 0 END AS change",
    "CASE WHEN value < prev_value THEN 1 ELSE 0 END AS reset",
]
