"""PromQLEngine — the public query API.

Mirrors the reference's entry points (vendor promql/engine.go NewInstantQuery
:435 / NewRangeQuery :456, exposed over the Prometheus v1 HTTP API in
src/internal/api/prom_api.go): an instant query is a range query with a
single step. The reference's admission envelope (metric_store.go:295-303:
MaxSamples 20e6, 10 s query timeout, 20-query ActiveQueryTracker gate) is
enforced here too: max-samples as a pre-plan scan-fan-out estimate, timeout
and concurrency at execution time via `execute()` (plans are lazy, so the
wall clock starts when the caller runs the action).
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import DEFAULT_LOOKBACK_MS, NAME_LABEL, num
from metric_store_release_spark.engine.evaluator import (
    EMPTY_LABELS,
    EvalContext,
    Evaluator,
    PromQLEvalError,
)
from metric_store_release_spark.engine.results import (
    ScalarResult,
    StringResult,
    VectorResult,
)
from metric_store_release_spark.promql import parse


@dataclass
class EngineConfig:
    lookback_ms: int = DEFAULT_LOOKBACK_MS
    default_subquery_step_ms: int = 60_000
    #: reference admission envelope (metric_store.go:296,300,109):
    #: max step-grid sample fan-out per query, enforced INSIDE the plan as a
    #: lazy assertion (None disables; execute() maps the failure to
    #: QueryLimitError), wall-clock timeout applied by execute(), and the
    #: concurrent-query gate size
    max_samples: int | None = 20_000_000
    timeout_ms: int | None = 10_000
    max_concurrent_queries: int = 20
    #: crash-forensics log of in-flight queries (metric_store.go:121-122
    #: ActiveQueryTracker file): path to a local driver file, or None (off).
    #: Each execute() appends its query line and removes it on completion —
    #: leftovers after a crash are the queries that were running.
    active_query_log_path: str | None = None


class PromQLEngine:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self._query_gate = threading.BoundedSemaphore(
            self.config.max_concurrent_queries
        )
        self._active_log = None
        if self.config.active_query_log_path is not None:
            from metric_store_release_spark.engine.admission import (
                ActiveQueryLog,
            )

            self._active_log = ActiveQueryLog(self.config.active_query_log_path)

    def query_range(
        self,
        samples: DataFrame,
        promql: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        query_bounds: tuple[int, int] | None = None,
    ) -> DataFrame:
        """Evaluate a PromQL range query.

        Returns (t: long, labels: map<string,string>, value: double); the
        metric name, when retained by PromQL semantics, is labels['__name__'].

        CONTRACT: `samples` must hold at most one row per (series, ts) —
        union replica frames through FederatedStore (which dedups) rather
        than raw unionByName.

        `query_bounds` is for split evaluation (query_range_split): the
        ORIGINAL query's (start, end), against which `@ start()`/`@ end()`
        preprocessors resolve; defaults to this call's own bounds.
        """
        if end_ms < start_ms or step_ms <= 0:
            raise ValueError("bad query range")
        q_start, q_end = query_bounds or (start_ms, end_ms)
        node = parse(promql)
        ctx = EvalContext(
            spark=self.spark,
            samples=samples,
            start_ms=start_ms,
            end_ms=end_ms,
            step_ms=step_ms,
            lookback_ms=self.config.lookback_ms,
            default_subquery_step_ms=self.config.default_subquery_step_ms,
            query_start_ms=q_start,
            query_end_ms=q_end,
        )
        res = Evaluator(ctx).eval(node)

        def _admit(out: DataFrame, order_by: list | None = None) -> DataFrame:
            if self.config.max_samples is None:
                return out
            from metric_store_release_spark.engine.admission import (
                attach_sample_guard,
                static_sample_bound,
            )

            # metadata-cheap upper bound first: when it proves the query is
            # under the cap, the plan stays untouched (zero overhead); only
            # inconclusive queries carry the exact in-plan guard
            bound = static_sample_bound(
                samples, node, start_ms, end_ms, step_ms,
                self.config.lookback_ms,
            )
            if bound is not None and bound <= self.config.max_samples:
                return out
            out = attach_sample_guard(
                out, samples, node, start_ms, end_ms, step_ms,
                self.config.lookback_ms, self.config.max_samples,
            )
            # the guard join voids any sort()/sort_desc() ordering guarantee
            # — re-assert presentation order on top of it
            return out.orderBy(*order_by) if order_by else out

        if isinstance(res, VectorResult):
            # the one place a vector's labels are built from its sig
            out = res.df.selectExpr("t", "map_from_entries(sig) AS labels", "value")
            out = _admit(out, res.order_by)
        elif isinstance(res, ScalarResult):
            if res.is_const:
                out = Evaluator(ctx).steps_df().selectExpr(
                    "t", f"{EMPTY_LABELS} AS labels", f"{num(float(res.const))} AS value"
                )
            else:
                out = _admit(
                    res.df.selectExpr("t", f"{EMPTY_LABELS} AS labels", "value")
                )
        elif isinstance(res, StringResult):
            raise PromQLEvalError("string results are not materializable")
        else:
            raise PromQLEvalError("unexpected result type")
        # tag the plan with its source text so execute() can log it in the
        # active-query file without the caller re-passing the string
        out._msrs_promql = promql
        return out

    def query_instant(
        self, samples: DataFrame, promql: str, time_ms: int
    ) -> DataFrame:
        return self.query_range(samples, promql, time_ms, time_ms, 1)

    def query_range_split(
        self,
        samples: DataFrame,
        promql: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        split_ms: int,
        cache_dir: str | None = None,
    ) -> DataFrame:
        """Split-by-interval horizontal query sharding (the Cortex/Thanos
        query-frontend shape, applied inside one Spark plan).

        The step grid is cut into chunks of `split_ms`: a grid point t
        belongs to chunk (t - origin) // split_ms. Each chunk is evaluated
        as an independent subplan whose SOURCE SCAN is pre-filtered to
        exactly the time slice that chunk can observe (chunk bounds widened
        by the query's maximum selector scan-back, derived statically from
        the AST: range + subquery depth + offset, or the lookback window
        for instant selectors). The union of chunks is bit-identical to the
        unsplit evaluation — PromQL range results are per-step independent
        and the subquery grid is epoch-aligned (evaluator.py
        eval_subquery_frame), so chunking cannot move any evaluation point.

        Why this matters at 100 TB: a month-long range query over a raw
        store otherwise plans ONE scan spanning the whole month and every
        downstream exchange carries the full window. Split, each chunk's
        parquet scan carries its own pushed-down ts range (partition /
        row-group pruning per chunk), the per-chunk shuffles are bounded by
        split_ms of data, and Spark schedules the chunk subplans
        concurrently — the same reason query frontends shard by interval
        before fanning out to queriers (reference routing analog:
        src/internal/routing; time-sharding is the missing axis its
        node-sharding doesn't cover).

        Without `cache_dir` the chunks start at `start_ms` (origin =
        start_ms: fewest chunks). With it, `cache_dir` is a per-chunk
        RESULT CACHE (Cortex results cache): chunks are aligned to absolute
        multiples of `split_ms` (origin = 0), so a dashboard re-issuing the
        query over a sliding window reuses every previously computed full
        chunk and evaluates only the new tail. Only chunks the query covers
        completely are cached — partial head/tail chunks are evaluated
        fresh, as they would poison reuse. Cache key: (promql, step, grid
        phase, chunk bounds, lookback, subquery step — plus the query
        bounds when the promql uses @ start()/end(), whose results depend
        on them). Each cached chunk is one parquet directory under
        `cache_dir`, filled eagerly at plan-build time; the returned frame
        reads it. `cache_dir` is scoped to ONE logical samples source and
        callers own invalidation (drop the directory when the store
        mutates), the same contract as the reference's query windows being
        immutable once their shard closes (sources/storage.py).

        Selectors anchored to a fixed time (`@`, including `@ start()` /
        `@ end()`) read outside their chunk's slice, so source pruning is
        disabled for such queries (the split itself remains valid because
        `query_bounds` pins start()/end() to the parent query).
        """
        import hashlib
        import os

        if split_ms <= 0:
            raise ValueError("split_ms must be positive")
        if end_ms < start_ms or step_ms <= 0:
            raise ValueError("bad query range")
        back_ms, fwd_ms, prune, has_at_pre = self._scan_bounds(promql)
        origin = start_ms if cache_dir is None else 0
        phase = start_ms % step_ms
        # chunk ids from the grid points themselves — iterating every
        # chunk in [start, end] would walk millions of empty chunks when
        # split_ms << step_ms
        n_steps = (end_ms - start_ms) // step_ms + 1
        chunk_ids = sorted(
            {(start_ms + j * step_ms - origin) // split_ms for j in range(n_steps)}
        )

        def eval_chunk(cs: int, ce: int) -> DataFrame:
            src = samples
            if prune:
                src = samples.filter(
                    F.col("ts").between(cs - back_ms, ce + fwd_ms)
                )
            return self.query_range(
                src, promql, cs, ce, step_ms, query_bounds=(start_ms, end_ms)
            )

        def chunk_part(c: int) -> DataFrame:
            lo = origin + c * split_ms
            hi = lo + split_ms - 1
            # first/last step-grid points inside the chunk
            g0 = lo + (phase - lo) % step_ms
            g1 = hi - (hi - phase) % step_ms
            cs, ce = max(g0, start_ms), min(g1, end_ms)
            if cache_dir is None or (cs, ce) != (g0, g1):
                return eval_chunk(cs, ce)
            key_src = "|".join(
                str(x)
                for x in (
                    promql, step_ms, phase, cs, ce,
                    self.config.lookback_ms,
                    self.config.default_subquery_step_ms,
                )
                + ((start_ms, end_ms) if has_at_pre else ())
            )
            path = os.path.join(
                cache_dir, hashlib.md5(key_src.encode()).hexdigest()
            )
            if not os.path.isdir(path):
                # cache fill runs at build time from the chunk's own
                # builder thread (_build_parts); paths are per-chunk, so
                # concurrent fills never collide
                eval_chunk(cs, ce).write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)

        parts = self._build_parts(chunk_ids, chunk_part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out._msrs_promql = promql
        return out

    @staticmethod
    def _build_parts(items: list, build) -> list[DataFrame]:
        """Construct the per-chunk subplans CONCURRENTLY (order preserved).

        Chunk construction is driver-side work dominated by py4j
        round-trip latency, not CPU (measured on the split rate query:
        ~0.6 s/chunk of which ~80% is socket wait building the evaluator's
        expression tree) — the chunks' builds are independent, each py4j
        call releases the GIL at the socket, and py4j gives every thread
        its own gateway connection, so a small pool overlaps the waits the
        same way guide-style job overlap back-fills executors. pool.map
        preserves order, so the union plan — and the result — is
        byte-identical to the sequential build."""
        if len(items) <= 1:
            return [build(i) for i in items]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
            return list(pool.map(build, items))

    def _scan_bounds(self, promql: str) -> tuple[int, int, bool, bool]:
        """Static AST analysis for split evaluation: (max scan-back ms,
        max scan-forward ms, source pruning allowed, uses @ start()/end()).
        Pruning is disallowed when any selector is @-anchored (it reads a
        fixed time outside its chunk's slice)."""
        from metric_store_release_spark.engine.admission import _selector_scans
        from metric_store_release_spark.promql.ast import walk as _walk

        node = parse(promql)
        back_ms, fwd_ms = 0, 0
        for sel, window_ms, extra in _selector_scans(
            node, self.config.lookback_ms
        ):
            back_ms = max(back_ms, window_ms + extra + max(sel.offset_ms, 0))
            fwd_ms = max(fwd_ms, max(-sel.offset_ms, 0))
        has_at_pre = any(
            getattr(n, "at_preprocessor", None) for n in _walk(node)
        )
        prune = not has_at_pre and all(
            getattr(n, "at_ms", None) is None for n in _walk(node)
        )
        return back_ms, fwd_ms, prune, has_at_pre

    def execute(
        self,
        df: DataFrame,
        timeout_ms: int | None = None,
        query: str | None = None,
    ) -> list[Row]:
        """Run a query plan under the reference's execution envelope.

        Non-blocking concurrent-query gate (ActiveQueryTracker analog) +
        wall-clock timeout enforced by cancelling the query's Spark job
        group (metric_store.go:109 QueryTimeout, :295-303 tracker). With
        `active_query_log_path` configured, the in-flight query line is
        held in the on-disk log for crash forensics (`query` overrides the
        text; otherwise the tag query_range left on the plan is used)."""
        from metric_store_release_spark.engine.admission import (
            QueryLimitError,
            QueryTimeoutError,
        )

        timeout = self.config.timeout_ms if timeout_ms is None else timeout_ms
        if not self._query_gate.acquire(blocking=False):
            raise QueryLimitError(
                f"too many concurrent queries "
                f"(max {self.config.max_concurrent_queries})"
            )
        sc = self.spark.sparkContext
        group = f"promql-{uuid.uuid4().hex[:12]}"
        if self._active_log is not None:
            self._active_log.add(
                group, query or getattr(df, "_msrs_promql", "<unknown>")
            )
        timed_out = threading.Event()
        timer: threading.Timer | None = None
        try:
            sc.setJobGroup(group, "promql query", interruptOnCancel=True)
            if timeout is not None:
                def _cancel() -> None:
                    timed_out.set()
                    # cancel FUTURE jobs in the group too: with a slow
                    # plan (Python UDF setup, big codegen) the deadline
                    # can fire before the first job is even submitted,
                    # and a plain cancelJobGroup is a lost no-op then —
                    # the exact race the reference's context deadline
                    # (metric_store.go:109 QueryTimeout) cannot have.
                    # Group ids are per-call uuids, so poisoning the
                    # group for future jobs leaks nothing.
                    jsc = sc._jsc.sc()
                    if hasattr(jsc, "cancelJobGroupAndFutureJobs"):
                        jsc.cancelJobGroupAndFutureJobs(group)
                    else:  # pragma: no cover - older Spark
                        sc.cancelJobGroup(group)

                timer = threading.Timer(timeout / 1000.0, _cancel)
                timer.daemon = True
                timer.start()
            t0 = time.monotonic()
            try:
                rows = df.collect()
                # deadline semantics, not best-effort: if the timer fired,
                # the query exceeded its wall-clock budget even when the
                # cancel lost the race with the last task finishing — the
                # reference's context-deadline kills it either way.
                if timed_out.is_set():
                    raise QueryTimeoutError(
                        f"query cancelled after "
                        f"{(time.monotonic() - t0) * 1000:.0f} ms "
                        f"(timeout {timeout} ms)"
                    )
                return rows
            except QueryTimeoutError:
                raise
            except Exception as e:
                if timed_out.is_set():
                    raise QueryTimeoutError(
                        f"query cancelled after "
                        f"{(time.monotonic() - t0) * 1000:.0f} ms "
                        f"(timeout {timeout} ms)"
                    ) from e
                from metric_store_release_spark.engine.admission import (
                    GUARD_MESSAGE,
                )

                if GUARD_MESSAGE in str(e):
                    raise QueryLimitError(str(e)) from e
                raise
        finally:
            if timer is not None:
                timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self._active_log is not None:
                self._active_log.remove(group)
            self._query_gate.release()


def explode_labels(df: DataFrame, keys: list[str], keep_name: bool = False) -> DataFrame:
    """Project label-map entries to plain string columns (for tests/oracles)."""
    cols = [F.col("t"), F.col("value")]
    if keep_name:
        cols.insert(1, F.col("labels").getItem(NAME_LABEL).alias("name"))
    for k in keys:
        cols.append(F.col("labels").getItem(k).alias(k))
    return df.select(*cols)
