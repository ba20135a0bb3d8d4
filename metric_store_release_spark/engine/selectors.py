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

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import NAME_LABEL, sig
from metric_store_release_spark.promql.ast import LabelMatcher, MatchOp, VectorSelector

#: Engine-wide CONTRACT: the samples frame holds at most one row per
#: (series signature, ts). The scalar max_by/min_by picks in instant
#: selection and range functions rely on it — with duplicate-ts rows their
#: independently-picked fields (value / stale / prev) could mix rows.
#: FederatedStore._dedup_replicas restores the invariant on the replicated
#: path; set MSRS_ASSERT_UNIQUE_TS=1 (tests / staging) to assert it eagerly
#: at every selector scan (one extra aggregation job per selector — never
#: in production paths).
DEBUG_ASSERT_UNIQUE_TS = os.environ.get("MSRS_ASSERT_UNIQUE_TS", "") == "1"


def matcher_condition(m: LabelMatcher, promoted: set[str] = frozenset()) -> Column:
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
    anchored = f"^(?:{m.value})$"
    if m.op == MatchOp.RE:
        return target.rlike(anchored)
    return ~target.rlike(anchored)


def base_scan(
    samples: DataFrame,
    selector: VectorSelector,
    min_ts: int,
    max_ts: int,
) -> DataFrame:
    """Matcher + time-bound filtered scan with __name__ folded into labels."""
    df = samples
    if "stale" not in df.columns:
        df = df.withColumn("stale", F.lit(False))
    promoted = set(df.columns) - {"ts", "name", "value", "labels", "stale", "date"}
    cond = (F.col("ts") >= F.lit(min_ts)) & (F.col("ts") <= F.lit(max_ts))
    if "date" in df.columns:
        # date-partitioned store (24 h shard analog): derive the partition
        # predicate from the time bounds so Catalyst prunes whole shards
        # (influx_adapter.go:372-389 forTimestampRange equivalent)
        import datetime as _dt

        lo = _dt.datetime.utcfromtimestamp(min_ts / 1000).date()
        hi = _dt.datetime.utcfromtimestamp(max_ts / 1000).date()
        cond = cond & F.col("date").between(F.lit(str(lo)), F.lit(str(hi)))
    if selector.name is not None:
        cond = cond & (F.col("name") == F.lit(selector.name))
    for m in selector.matchers:
        cond = cond & matcher_condition(m, promoted)
    df = df.filter(cond)
    labeled = F.map_concat(
        F.map_filter(F.col("labels"), lambda k, _: k != F.lit(NAME_LABEL)),
        F.create_map(F.lit(NAME_LABEL), F.col("name")),
    )
    out = df.withColumn("labels", labeled).withColumn("sig", sig(F.col("labels")))
    if DEBUG_ASSERT_UNIQUE_TS:
        dup = out.groupBy("sig", "ts").count().filter(F.col("count") > 1)
        if not dup.isEmpty():
            raise AssertionError(
                "duplicate (series, ts) samples reached the engine — dedup "
                "replica unions (FederatedStore._dedup_replicas) before "
                "querying"
            )
    return out


def _explode_to_steps(
    df: DataFrame,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lo_expr: Column,
    hi_expr: Column,
) -> DataFrame:
    """Map-side fan-out: each sample row → one row per grid step it serves.

    Serves steps t in [lo, hi] ∩ grid. Double arithmetic is exact here
    (|ts| < 2^53). An empty range produces no rows (sequence guard).
    """
    k0 = F.greatest(
        F.lit(0), F.ceil((lo_expr - F.lit(start_ms)) / F.lit(step_ms)).cast("long")
    )
    n_steps = (end_ms - start_ms) // step_ms
    k1 = F.least(
        F.lit(n_steps),
        F.floor((hi_expr - F.lit(start_ms)) / F.lit(step_ms)).cast("long"),
    )
    return (
        df.withColumn("__k0", k0)
        .withColumn("__k1", k1)
        .filter(F.col("__k0") <= F.col("__k1"))
        .withColumn("__k", F.explode(F.sequence(F.col("__k0"), F.col("__k1"))))
        .withColumn("t", (F.lit(start_ms) + F.col("__k") * F.lit(step_ms)).cast("long"))
        .drop("__k0", "__k1", "__k")
    )


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

    Returns the VectorResult schema (t, labels, sig, value, sample_ts).
    """
    off = selector.offset_ms
    if selector.at_ms is not None:
        # @ pins evaluation: evaluate once at at_ms, replicate across steps.
        pinned = _instant_at(samples, selector, selector.at_ms - off, lookback_ms)
        return _replicate_over_grid(pinned, start_ms, end_ms, step_ms).select(
            "t", "labels", "sig", "value", "sample_ts"
        )
    min_ts = start_ms - off - lookback_ms
    max_ts = end_ms - off
    base = base_scan(samples, selector, min_ts, max_ts)
    # valid iff ts >= t-off-lookback (NON-strict, engine.go:1906) — sample
    # serves eval times t in [ts+off, ts+off+lookback]
    exploded = _explode_to_steps(
        base,
        start_ms,
        end_ms,
        step_ms,
        F.col("ts") + F.lit(off),
        F.col("ts") + F.lit(off + lookback_ms),
    )
    # Aggregate PRIMITIVES only (max_by's buffer carries the value expr): a
    # struct-of-map buffer forces SortAggregate — two sorts per exchange
    # side — while primitive buffers keep HashAggregate. `labels` is exactly
    # map_from_entries(sig), so it never needs to ride the aggregation.
    # (ts is unique per series by the ingest contract, so the independent
    # max_bys all pick the same sample.)
    picked = (
        exploded.groupBy("t", "sig")
        .agg(
            F.max_by("value", "ts").alias("value"),
            F.max_by("stale", "ts").alias("stale"),
            F.max("ts").alias("sample_ts"),
        )
        .filter(~F.coalesce(F.col("stale"), F.lit(False)))
        .select(
            "t",
            F.map_from_entries("sig").alias("labels"),
            "sig",
            "value",
            "sample_ts",
        )
    )
    return picked


def _instant_at(
    samples: DataFrame, selector: VectorSelector, ref_ms: int, lookback_ms: int
) -> DataFrame:
    base = base_scan(samples, selector, ref_ms - lookback_ms, ref_ms)
    # primitive-buffer aggregation (see instant_vector): HashAggregate, not
    # SortAggregate; labels rebuilt from the sig grouping key
    return (
        base.groupBy("sig")
        .agg(
            F.max_by("value", "ts").alias("value"),
            F.max_by("stale", "ts").alias("stale"),
            F.max("ts").alias("sample_ts"),
        )
        .filter(~F.coalesce(F.col("stale"), F.lit(False)))
        .select(
            F.map_from_entries("sig").alias("labels"),
            "sig",
            "value",
            "sample_ts",
        )
    )


def _replicate_over_grid(
    df: DataFrame, start_ms: int, end_ms: int, step_ms: int
) -> DataFrame:
    """@-pinned evaluation: copy every row of `df` onto every grid step
    (adds the step column t; callers pick the columns they keep)."""
    n_steps = (end_ms - start_ms) // step_ms
    grid = F.sequence(F.lit(0), F.lit(n_steps))
    return (
        df.withColumn("__k", F.explode(grid))
        .withColumn("t", (F.lit(start_ms) + F.col("__k") * F.lit(step_ms)).cast("long"))
        .drop("__k")
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
    base = base_scan(samples, selector, min_ts, max_ts)
    base = base.filter(~F.coalesce(F.col("stale"), F.lit(False)))
    if pinned:
        base = base.select("sig", "labels", "ts", "value")
    return window_frame(
        base, range_ms, off, start_ms, end_ms, step_ms,
        pinned=pinned, order_cols=order_cols,
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
) -> DataFrame:
    """Fan the points of a range vector (one row per sample: sig, labels,
    ts, value — from a matrix selector's scan or a subquery's inner grid)
    out to one row per (window t, sample).

    pinned (@): `points` already holds exactly the pinned window, so every
    point serves every step. Otherwise v0.47 windows are CLOSED
    [t-off-range, t-off] (engine.go:2056 t >= mint; changed to left-open
    only in Prometheus 3.x) — a sample serves windows
      ts + off <= t <= ts + off + range

    order_cols=True precomputes order-dependent per-sample columns ONCE
    (before the fan-out) — see _with_order_cols.
    """
    if order_cols:
        points = _with_order_cols(points)
    if pinned:
        return _replicate_over_grid(points, start_ms, end_ms, step_ms)
    return _explode_to_steps(
        points,
        start_ms,
        end_ms,
        step_ms,
        F.col("ts") + F.lit(offset_ms),
        F.col("ts") + F.lit(offset_ms + range_ms),
    )


def _with_order_cols(base: DataFrame) -> DataFrame:
    """Per-sample columns from a lag window over each series:
      prev_value, prev_ts — previous sample of the series (global order)
      drop  — reset adjustment: prev_value if value < prev_value else 0
              (rate/increase add the pre-reset level, functions.go:107-112)
      change — 1 if value differs from prev (changes()), reset — 1 on drop
    Window sums then subtract the first-in-window sample's contribution,
    whose prev lies outside the window.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("sig").orderBy("ts")
    prev_v = F.lag("value").over(w)
    prev_t = F.lag("ts").over(w)
    return (
        base.withColumn("prev_value", prev_v)
        .withColumn("prev_ts", prev_t)
        .withColumn(
            "drop",
            F.when(F.col("value") < F.col("prev_value"), F.col("prev_value")).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "change",
            F.when(
                F.col("prev_value").isNull(), F.lit(0)
            ).when(
                (F.col("value") != F.col("prev_value"))
                & ~(F.isnan("value") & F.isnan("prev_value")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "reset",
            F.when(F.col("value") < F.col("prev_value"), F.lit(1)).otherwise(F.lit(0)),
        )
    )

