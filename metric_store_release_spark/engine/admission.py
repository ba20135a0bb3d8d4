"""Query admission limits — the reference's production envelope.

The reference gates every query through a MaxSamples cap (20e6), a query
timeout and a concurrent-query tracker (src/internal/metric-store/
metric_store.go:295-303, vendor promql/engine.go:576-648 ActiveQueryTracker).
Spark analog:

  - **max samples**: before planning, compute a METADATA-ONLY upper bound on
    how many sample rows the query's selectors can fan out onto the step
    grid: optimizer row stats for local/cached relations, parquet footer
    `num_rows` (row groups pruned by their `ts` min/max statistics — zero
    data read, zero Spark jobs) for file-backed stores. When the bound
    proves the query under the cap, nothing else happens; when it can't,
    the exact per-sample guard rides the query plan itself
    (`attach_sample_guard`) and aborts mid-flight like the reference's
    ErrTooManySamples. Over the cap → typed QueryLimitError.
  - **timeout / concurrency**: plans are lazy, so wall-clock enforcement
    lives at execution: `PromQLEngine.execute` wraps the action in a Spark
    job group cancelled by a timer, behind a non-blocking semaphore.

The estimate deliberately ignores subquery re-evaluation multiplicity
(bounds are widened by the subquery range instead) — it is a guard, not an
accountant.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import num, sql_string
from metric_store_release_spark.engine.evaluator import PromQLEvalError, assert_rows
from metric_store_release_spark.engine.selectors import base_scan, step_span
from metric_store_release_spark.promql import ast
from metric_store_release_spark.promql.ast import (
    AggregateExpr,
    BinaryExpr,
    Call,
    MatrixSelector,
    ParenExpr,
    SubqueryExpr,
    UnaryExpr,
    VectorSelector,
)


class ActiveQueryLog:
    """On-disk log of in-flight queries for crash forensics — the
    ActiveQueryTracker file analog (src/internal/metric-store/
    metric_store.go:121-122, vendor promql ActiveQueryTracker): each
    running query appends one JSON line and removes it on completion, so
    after a crash the leftover lines are exactly the queries that were
    executing. Local driver file, tiny (≤ max_concurrent_queries lines),
    rewritten under a lock — never on the executor path."""

    def __init__(self, path: str) -> None:
        import pathlib
        import threading

        self.path = pathlib.Path(path)
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self._lock = threading.Lock()

    def add(self, query_id: str, query: str) -> None:
        import json
        import time

        line = json.dumps(
            {"id": query_id, "query": query, "started_ms": int(time.time() * 1000)}
        )
        with self._lock, self.path.open("a") as f:
            f.write(line + "\n")
            f.flush()

    def remove(self, query_id: str) -> None:
        with self._lock:
            if not self.path.exists():
                return
            kept = [
                ln
                for ln in self.path.read_text().splitlines()
                if f'"id": "{query_id}"' not in ln
            ]
            self.path.write_text("".join(ln + "\n" for ln in kept))

    def leftover(self) -> list[dict]:
        """Entries still in the log — after a clean shutdown, empty; after a
        crash, the in-flight queries."""
        import json

        if not self.path.exists():
            return []
        return [
            json.loads(ln)
            for ln in self.path.read_text().splitlines()
            if ln.strip()
        ]


class QueryLimitError(PromQLEvalError):
    """Query rejected by an admission limit (max samples / concurrency)."""


class QueryTimeoutError(PromQLEvalError):
    """Query cancelled after exceeding the configured timeout."""


def _selector_scans(
    node: ast.Node, lookback_ms: int, extra_before: int = 0
) -> Iterator[tuple[VectorSelector, int, int]]:
    """Yield (selector, window_ms, extra_scan_before_ms) for every selector.

    A matrix selector loads its range window; a bare vector selector loads
    the lookback window. Selectors under a subquery scan wider (the subquery
    range + offset is added to the bounds).
    """
    if isinstance(node, MatrixSelector):
        yield node.selector, node.range_ms, extra_before
        return
    if isinstance(node, VectorSelector):
        yield node, lookback_ms, extra_before
        return
    if isinstance(node, SubqueryExpr):
        yield from _selector_scans(
            node.expr, lookback_ms, extra_before + node.range_ms + abs(node.offset_ms)
        )
        return
    children: list[ast.Node] = []
    if isinstance(node, Call):
        children = node.args
    elif isinstance(node, AggregateExpr):
        children = [node.expr] + ([node.param] if node.param else [])
    elif isinstance(node, BinaryExpr):
        children = [node.lhs, node.rhs]
    elif isinstance(node, (UnaryExpr, ParenExpr)):
        children = [node.expr]
    for c in children:
        yield from _selector_scans(c, lookback_ms, extra_before)


def _selector_windows(
    node: ast.Node, start_ms: int, end_ms: int, lookback_ms: int
) -> Iterator[tuple[VectorSelector, int, int, int, int, bool]]:
    """Yield (selector, window_ms, extra_scan_before_ms, lo, hi, pinned) for
    every selector: `_selector_scans` plus the ts bounds [lo, hi] the scan
    loads. `@ start()`/`@ end()` resolve against [start_ms, end_ms]; a
    pinned selector loads only the window ending at its @ time."""
    for sel, window_ms, extra in _selector_scans(node, lookback_ms):
        at = sel.at_ms
        if sel.at_preprocessor == "start":
            at = start_ms
        elif sel.at_preprocessor == "end":
            at = end_ms
        if at is not None:
            lo = at - sel.offset_ms - window_ms - extra
            hi = at - sel.offset_ms
        else:
            lo = start_ms - window_ms - extra - max(sel.offset_ms, 0)
            hi = end_ms + max(-sel.offset_ms, 0)
        yield sel, window_ms, extra, lo, hi, at is not None


def _union_all(parts: list[DataFrame]) -> DataFrame:
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned


#: marker embedded in the lazy guard's failure message so execute() can
#: re-raise the Spark runtime error as a typed QueryLimitError
GUARD_MESSAGE = "MaxSamples admission limit exceeded"


#: (file-listing fingerprint, lo, hi) → ts-pruned footer row count. The
#: fingerprint hashes the full input-file listing, so appending files to the
#: table produces a new key (no stale undercounts); bounded LRU so a
#: long-lived server can't grow it without bound.
_footer_rows_cache: "OrderedDict[tuple, int]" = OrderedDict()
#: (plan semanticHash, name-matcher key, lo, hi) → scan count for NON-file
#: sources only (LogicalRDD/LocalRelation: immutable once created, so the
#: plan hash IS a valid data-version key — unlike a mutable parquet path).
_local_count_cache: "OrderedDict[tuple, int]" = OrderedDict()
_FOOTER_CACHE_CAP = 4096
#: above this many files, driver-side footer reads stop being "cheap" —
#: fall back to the in-plan guard (a real deployment at that scale would
#: read the bound from a table-format snapshot manifest instead)
_MAX_FOOTER_FILES = 4096


#: per samples frame: (optimizer row count, input files). Both are fixed
#: when the frame is created (a file source lists its files then), and a
#: dashboard asks for them once per panel of every refresh.
_source_meta: "WeakKeyDictionary[DataFrame, tuple]" = WeakKeyDictionary()


def _source(samples: DataFrame) -> tuple[int | None, list[str] | None]:
    meta = _source_meta.get(samples)
    if meta is None:
        meta = _source_meta[samples] = (
            _plan_row_count(samples), _source_files(samples)
        )
    return meta


def _plan_row_count(df: DataFrame) -> int | None:
    """Optimizer-known exact row count (LocalRelation / cached relation) —
    free, no job. None when the plan's stats don't carry one (parquet)."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        return None
    return None


def _source_files(samples: DataFrame) -> list[str] | None:
    try:
        return samples.inputFiles()
    except Exception:
        return None


def _local_scan_count(
    samples: DataFrame, sel: VectorSelector, lo: int, hi: int
) -> int | None:
    """Row bound for NON-file sources (in-memory test corpora): one cached
    count job keyed by the immutable plan's semanticHash. Counts with ONLY
    the name matchers so one count serves every label-filter variation.
    Never used for file-backed stores (their data changes under the same
    plan hash — that path uses `_footer_rows`)."""
    name_matchers = [m for m in sel.matchers if m.name == "__name__"]
    try:
        key = (
            samples.semanticHash(),
            sel.name,
            tuple((m.op.value, m.value) for m in name_matchers),
            lo,
            hi,
        )
    except Exception:
        return None
    if key in _local_count_cache:
        _local_count_cache.move_to_end(key)
        return _local_count_cache[key]
    stripped = VectorSelector(name=sel.name, matchers=name_matchers)
    n = base_scan(samples, stripped, lo, hi).count()
    _local_count_cache[key] = n
    if len(_local_count_cache) > _FOOTER_CACHE_CAP:
        _local_count_cache.popitem(last=False)
    return n


def _stat_to_ms(v) -> int | None:
    """Normalize a parquet ts statistic to epoch ms: our shard store writes
    plain ms longs, but timestamp-typed sources (events.parquet is
    TIMESTAMP(NANOS)) surface stats as pandas.Timestamp/datetime."""
    if isinstance(v, (int, float)):
        # unit heuristic for integer stats: epoch ns ≳ 1e17, µs ≳ 1e14 —
        # misreading a ns-long store as ms would silently UNDERcount
        v = int(v)
        if abs(v) > 10**17:
            return v // 1_000_000
        if abs(v) > 10**14:
            return v // 1_000
        return v
    value_ns = getattr(v, "value", None)  # pandas.Timestamp
    if value_ns is not None:
        return int(value_ns) // 1_000_000
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return int(v.timestamp() * 1000)
    return None


def _footer_rows(samples: DataFrame, lo: int, hi: int) -> int | None:
    """Upper-bound row count for ts ∈ [lo, hi] from parquet FOOTERS only.

    Sums `num_rows` over row groups whose `ts` column min/max statistics
    overlap the window (groups without stats count fully). Pure driver-side
    metadata reads — no Spark job, no data pages touched. The 100 TB story:
    footers are O(KB) each and row-group ts ranges are tight for
    time-ordered ingest, so this prunes like the reference's shard-by-time
    pruning (influx_adapter.go:372-389) without scanning anything.
    """
    _, files = _source(samples)
    if not files or len(files) > _MAX_FOOTER_FILES:
        return None
    key = (hash(tuple(files)), len(files), lo, hi)
    if key in _footer_rows_cache:
        _footer_rows_cache.move_to_end(key)
        return _footer_rows_cache[key]
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f.removeprefix("file:")
        if not path.endswith(".parquet"):
            return None
        try:
            md = pq.read_metadata(path)
        except Exception:
            return None
        names = md.schema.to_arrow_schema().names
        ts_idx = names.index("ts") if "ts" in names else None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if ts_idx is None:
                total += rg.num_rows
                continue
            st = rg.column(ts_idx).statistics
            if st is None or not st.has_min_max:
                total += rg.num_rows
                continue
            st_min, st_max = _stat_to_ms(st.min), _stat_to_ms(st.max)
            if st_min is None or st_max is None:
                total += rg.num_rows  # unknown unit → count conservatively
            elif st_max >= lo and st_min <= hi:
                total += rg.num_rows
    _footer_rows_cache[key] = total
    if len(_footer_rows_cache) > _FOOTER_CACHE_CAP:
        _footer_rows_cache.popitem(last=False)
    return total


def static_sample_bound(
    samples: DataFrame,
    node: ast.Node,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lookback_ms: int,
) -> int | None:
    """Metadata-only UPPER bound on the query's step-grid fan-out, or None.

    Admission at 100 TB cannot afford a scan per query just to decide
    admission: this bounds fan-out as (scan row upper bound) × (worst-case
    steps each sample can serve). The row bound comes free from optimizer
    stats when the plan carries one, else from parquet footer metadata with
    row groups pruned by their `ts` statistics (`_footer_rows` — zero Spark
    jobs, zero data read; this is the production path), else — for
    immutable in-memory sources only — one cached count job
    (`_local_scan_count`). @-pinned selectors
    bound over the window around the RESOLVED @ time, so a query pinned at
    a dense region far outside [start, end] cannot sneak under the cap.
    If the bound is ≤ the cap the in-plan guard is skipped entirely;
    otherwise the exact in-plan guard decides (and aborts like the
    reference's ErrTooManySamples). Returns None if no bound is computable.
    """
    n_steps = (end_ms - start_ms) // step_ms
    whole_rows, files = _source(samples)
    file_backed = bool(files)
    total = 0
    for sel, window_ms, extra, lo, hi, pinned in _selector_windows(
        node, start_ms, end_ms, lookback_ms
    ):
        if pinned:
            per_sample = n_steps + 1
        else:
            per_sample = min(n_steps, (window_ms + extra) // step_ms + 2) + 1
        rows = whole_rows
        if rows is None:
            rows = (
                _footer_rows(samples, lo, hi)
                if file_backed
                else _local_scan_count(samples, sel, lo, hi)
            )
        if rows is None:
            return None
        total += rows * per_sample
    return total


def attach_sample_guard(
    result: DataFrame,
    samples: DataFrame,
    node: ast.Node,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lookback_ms: int,
    max_samples: int,
) -> DataFrame:
    """Enforce the MaxSamples cap INSIDE the query plan (no extra job).

    The selectors' fan-out totals aggregate to one row that survives a
    filter iff the total is under the cap (assert_true aborts the query
    otherwise — the reference also aborts during evaluation,
    engine.go:1713-1717 ErrTooManySamples). That row is cross-joined
    (broadcast, 1 row) onto the result, so the guard executes with the
    query action itself; the guard's scan subtree is column-pruned to the
    selector filter columns and runs in parallel with the main plan.
    """
    n_steps = (end_ms - start_ms) // step_ms
    parts: list[DataFrame] = []
    for sel, window_ms, _, lo, hi, pinned in _selector_windows(
        node, start_ms, end_ms, lookback_ms
    ):
        if pinned:
            per_sample = num(n_steps + 1)
        else:
            k0, k1 = step_span(
                start_ms, end_ms, step_ms,
                f"ts + {num(sel.offset_ms)}", f"ts + {num(sel.offset_ms + window_ms)}",
            )
            per_sample = f"CASE WHEN {k1} >= {k0} THEN {k1} - {k0} + 1 ELSE 0 END"
        scan = base_scan(samples, sel, lo, hi)
        parts.append(scan.selectExpr(f"CAST({per_sample} AS BIGINT) AS n"))
    if not parts:
        return result
    total = _union_all(parts).selectExpr("coalesce(sum(n), 0) AS n")
    message = (
        f"concat({sql_string(GUARD_MESSAGE + ': query fans out ')}, "
        f"CAST(n AS STRING), {sql_string(' samples onto the step grid (cap ')}, "
        f"CAST({num(max_samples)} AS STRING), {sql_string(', metric_store.go:296)')})"
    )
    guard = assert_rows(
        total, f"n <= {num(max_samples)}", message
    ).selectExpr("true AS __adm")
    return result.crossJoin(F.broadcast(guard)).drop("__adm")
