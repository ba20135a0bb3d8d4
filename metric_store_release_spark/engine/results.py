"""Evaluation result types.

PromQL's four value types (vendor promql/value.go) map to:

  Scalar         → ScalarResult: a Python float when step-invariant, else a
                   DataFrame (t, value) over the step grid
  String         → StringResult (literal)
  Instant vector → VectorResult: DataFrame with columns
                      t         long   step timestamp (ms)
                      sig       array<struct<key,value>>  the series'
                                       identity: its sorted label entries,
                                       __name__ included when set
                      value     double
                      sample_ts long   original sample timestamp (selectors
                                       only; used by timestamp())
  Range vector   → RangeFrame (internal to function eval): DataFrame
                      t, ts, value, sig (one row per sample per window)

The step grid is a *column*, not a driver loop: all steps of a range query
evaluate in one Spark job (the reference iterates steps in
promql/engine.go:1112-1311 — rangeEval; making t a grouping column is the
Spark-native equivalent and removes the per-step interpretation overhead).

No plan inside the engine carries a `labels` map: PromQLEngine.query_range
builds it from `sig` once, in its output projection (t, labels, value).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class ScalarResult:
    const: float | None = None
    df: DataFrame | None = None  # (t: long, value: double)

    @property
    def is_const(self) -> bool:
        return self.const is not None


@dataclass
class StringResult:
    value: str


@dataclass(frozen=True)
class UniqueSeries:
    """Static proof that a vector holds at most one row per (t, sig) and
    that none of its series carries __name__. On such a vector the runtime
    same-labelset and matching-uniqueness assertions can never fire, so the
    evaluator leaves them out of the plan."""

    #: every series' label keys lie within this set; None when unknown
    keys: frozenset[str] | None = None


@dataclass
class VectorResult:
    df: DataFrame  # t, sig, value [, sample_ts]
    #: presentation ordering from a top-level sort()/sort_desc() — carried
    #: separately so the engine can re-assert it after plan additions (e.g.
    #: the admission guard join) that void SQL ordering guarantees
    order_by: list | None = None
    #: the uniqueness proof, or None when the plan does not guarantee it
    unique: UniqueSeries | None = None


@dataclass
class RangeFrame:
    """Samples grouped into per-step windows, plus window geometry."""

    df: DataFrame  # t, ts, value, sig [, prev_value, prev_ts, drop, change, reset]
    range_ms: int
    offset_ms: int
    at_ms: int | None = None  # @-pinned evaluation time (window geometry)
