"""AST → DataFrame compiler (the query planner).

The reference's evaluator walks the AST once per timestep
(vendor promql/engine.go:1112-1311 rangeEval). Here the AST is walked ONCE,
emitting a declarative DataFrame program with the step grid as a column —
Catalyst then owns physical planning (pushdown, partial aggregation, join
strategy, AQE). Step-invariant subexpressions (the reference's
StepInvariantExpr rewrite, engine.go:2924+) come for free: a literal is a
literal column, evaluated once.

Construction rule: structural expressions as SQL text, user strings as
literals. Each operator adds its plan nodes with one DataFrame call apiece
(`selectExpr`/`select`, `filter`, `groupBy().agg`, `join`) and writes the
expressions in them — step grid, window fan-out, lag columns, range-function
math, signature filters, assertion predicates — as SQL text, because the
driver builds a Column tree with one py4j round trip per node, and parses a
whole SQL expression in one. Numbers enter that text only through
`datamodel.num`. Strings from the query — matcher values and regexes, label
names in by/without/on/ignoring, the arguments of label_replace, label_join
and count_values — never do: they stay `F.lit` Columns in the same select,
built once per distinct string (`datamodel.memo_column`).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import (
    NAME_LABEL,
    NAMELESS_SIG,
    aggregate,
    num,
    project,
    sig,
    sig_sql,
    sig_subset,
    sql_string,
)
from metric_store_release_spark.engine import selectors
from metric_store_release_spark.engine.histogram import histogram_quantile
from metric_store_release_spark.engine.range_functions import (
    NEEDS_ORDER_COLS,
    RANGE_FUNCS,
    apply_range_func,
    nan_aware_agg,
)
from metric_store_release_spark.engine.results import (
    RangeFrame,
    ScalarResult,
    StringResult,
    UniqueSeries,
    VectorResult,
)
from metric_store_release_spark.engine import scalar_functions as sf
from metric_store_release_spark.promql import ast
from metric_store_release_spark.promql.ast import (
    AggregateExpr,
    BinaryExpr,
    Call,
    MatchOp,
    MatrixSelector,
    NumberLiteral,
    ParenExpr,
    StringLiteral,
    SubqueryExpr,
    UnaryExpr,
    VectorMatchCard,
    VectorSelector,
)

#: SQL text: the empty label map, and NaN
EMPTY_LABELS = "cast(map() as map<string,string>)"
_NAN = num(math.nan)


class PromQLEvalError(Exception):
    pass


@dataclass
class EvalContext:
    spark: SparkSession
    samples: DataFrame
    start_ms: int
    end_ms: int
    step_ms: int
    lookback_ms: int
    default_subquery_step_ms: int = 60_000
    query_start_ms: int = 0  # for @ start()/end()
    query_end_ms: int = 0

    @property
    def n_steps(self) -> int:
        return (self.end_ms - self.start_ms) // self.step_ms + 1


class Evaluator:
    def __init__(self, ctx: EvalContext):
        self.ctx = ctx
        # memoize selector DataFrames: repeated subexpressions (e.g. the two
        # sides of a / sum(a) ratio) share one plan subtree, letting Spark's
        # ReuseExchange serve both from a single shuffle
        self._selector_cache: dict = {}

    # ------------------------------------------------------------------ util
    def steps_df(self) -> DataFrame:
        c = self.ctx
        return c.spark.range(c.n_steps).selectExpr(
            f"CAST({num(c.start_ms)} + id * {num(c.step_ms)} AS BIGINT) AS t"
        )

    def time_df(self) -> DataFrame:
        """time(): the step grid as a scalar, in seconds."""
        return self.steps_df().selectExpr("t", "t / 1000.0D AS value")

    def _resolve_at(self, node: VectorSelector | SubqueryExpr) -> None:
        if node.at_preprocessor == "start":
            node.at_ms = self.ctx.query_start_ms
        elif node.at_preprocessor == "end":
            node.at_ms = self.ctx.query_end_ms

    # ------------------------------------------------------------------ eval
    def eval(self, node: ast.Node):
        if isinstance(node, ParenExpr):
            return self.eval(node.expr)
        if isinstance(node, NumberLiteral):
            return ScalarResult(const=node.value)
        if isinstance(node, StringLiteral):
            return StringResult(node.value)
        if isinstance(node, VectorSelector):
            return self.eval_selector(node)
        if isinstance(node, (MatrixSelector, SubqueryExpr)):
            raise PromQLEvalError(
                "range vector expression must be wrapped in a range function"
            )
        if isinstance(node, Call):
            return self.eval_call(node)
        if isinstance(node, AggregateExpr):
            return self.eval_aggregation(node)
        if isinstance(node, BinaryExpr):
            return self.eval_binary(node)
        if isinstance(node, UnaryExpr):
            return self.eval_unary(node)
        raise PromQLEvalError(f"unsupported node {type(node).__name__}")

    # ------------------------------------------------------------- selectors
    def eval_selector(self, node: VectorSelector) -> VectorResult:
        self._resolve_at(node)
        c = self.ctx
        key = (node.name, tuple(node.matchers), node.offset_ms, node.at_ms)
        if key not in self._selector_cache:
            self._selector_cache[key] = selectors.instant_vector(
                c.samples, node, c.start_ms, c.end_ms, c.step_ms, c.lookback_ms
            )
        return VectorResult(self._selector_cache[key])

    def build_range_frame(self, node: ast.Node, order_cols: bool) -> RangeFrame:
        """Materialize a range vector (matrix selector or subquery)."""
        c = self.ctx
        if isinstance(node, ParenExpr):
            return self.build_range_frame(node.expr, order_cols)
        if isinstance(node, MatrixSelector):
            self._resolve_at(node.selector)
            df = selectors.range_frame(
                c.samples,
                node.selector,
                node.range_ms,
                c.start_ms,
                c.end_ms,
                c.step_ms,
                order_cols=order_cols,
            )
            return RangeFrame(
                df, node.range_ms, node.selector.offset_ms, at_ms=node.selector.at_ms
            )
        if isinstance(node, SubqueryExpr):
            return self.eval_subquery_frame(node, order_cols)
        raise PromQLEvalError("expected a range vector argument")

    def eval_subquery_frame(self, node: SubqueryExpr, order_cols: bool) -> RangeFrame:
        """engine.go:1730-1768 — inner grid aligned to absolute multiples of
        the inner interval, then windowed like a matrix selector."""
        self._resolve_at(node)
        c = self.ctx
        interval = node.step_ms or c.default_subquery_step_ms
        if node.at_ms is not None:
            outer_start = outer_end = node.at_ms
        else:
            outer_start, outer_end = c.start_ms, c.end_ms
        inner_start = interval * ((outer_start - node.offset_ms - node.range_ms) // interval)
        if inner_start < outer_start - node.offset_ms - node.range_ms:
            inner_start += interval
        inner_end_raw = outer_end - node.offset_ms
        inner_end = inner_start + ((inner_end_raw - inner_start) // interval) * interval
        inner_ctx = replace(c, start_ms=inner_start, end_ms=inner_end, step_ms=interval)
        inner = Evaluator(inner_ctx).eval(node.expr)
        if isinstance(inner, ScalarResult):
            inner = VectorResult(self._scalar_to_vector(inner, inner_ctx))
        if not isinstance(inner, VectorResult):
            raise PromQLEvalError("subquery inner expression must be a vector/scalar")
        df = selectors.window_frame(
            inner.df.selectExpr("t AS ts", "sig", "value"),
            node.range_ms,
            node.offset_ms,
            c.start_ms,
            c.end_ms,
            c.step_ms,
            pinned=node.at_ms is not None,
            order_cols=order_cols,
        )
        return RangeFrame(df, node.range_ms, node.offset_ms, at_ms=node.at_ms)

    # ----------------------------------------------------------------- calls
    def eval_call(self, node: Call):
        name = node.func
        if name in RANGE_FUNCS:
            return self._eval_range_call(node)
        if name == "histogram_quantile":
            q = self._const_scalar(node.args[0], "histogram_quantile quantile")
            vec = self._vector_arg(node.args[1])
            out = histogram_quantile(vec.df, q)
            if vec.unique is None:
                return VectorResult(_assert_one_row_per(out, "sig", _SAME_LABELSET))
            # grouped by labels minus le; with no __name__ to strip, no two
            # groups can end on one labelset
            keys = vec.unique.keys
            return VectorResult(
                out, unique=UniqueSeries(None if keys is None else keys - {"le"})
            )
        if name == "time":
            return ScalarResult(df=self.time_df())
        if name == "pi":
            return ScalarResult(const=math.pi)
        if name == "scalar":
            vec = self._vector_arg(node.args[0])
            per_t = aggregate(vec.df, ["t"], ["count(1) AS n", "first(value) AS v"])
            out = (
                self.steps_df()
                .join(per_t, "t", "left")
                .selectExpr("t", f"CASE WHEN n = 1 THEN v ELSE {_NAN} END AS value")
            )
            return ScalarResult(df=out)
        if name == "vector":
            s = self.eval(node.args[0])
            if not isinstance(s, ScalarResult):
                raise PromQLEvalError("vector() expects a scalar")
            return VectorResult(self._scalar_to_vector(s, self.ctx))
        if name == "timestamp":
            # engine.go rangeEvalTimestampFunctionOverVectorSelector: the
            # sample time only for a (parenthesised) vector selector; the
            # samples of any computed vector exist at the eval step
            # (timestamp(timestamp(v @ 10)) is the step, not 10 —
            # at_modifier.test)
            arg = node.args[0]
            while isinstance(arg, ParenExpr):
                arg = arg.expr
            vec = self._vector_arg(arg)
            src = "sample_ts" if isinstance(arg, VectorSelector) else "t"
            return self._drop_name(
                vec.df, vec.unique, f"CAST({src} AS DOUBLE) / 1000.0D"
            )
        if name in ("sort", "sort_desc"):
            vec = self._vector_arg(node.args[0])
            # functions.go:349-364: both sorts put NaN LAST. Spark orders
            # NaN above every double (asc → last ✓, desc → first ✗), so
            # desc needs an explicit NaN-last key.
            order = (
                [F.col("value").asc()]
                if name == "sort"
                else [F.isnan("value").asc(), F.col("value").desc()]
            )
            return VectorResult(vec.df.orderBy(*order), order_by=order)
        if name == "absent":
            return self._eval_absent(node.args[0])
        if name == "absent_over_time":
            return self._eval_absent_over_time(node.args[0])
        if name == "label_replace":
            return self._eval_label_replace(node)
        if name == "label_join":
            return self._eval_label_join(node)
        if name in ("clamp", "clamp_max", "clamp_min"):
            return self._eval_clamp(node)
        if name == "round":
            vec = self._vector_arg(node.args[0])
            nearest = (
                self._const_scalar(node.args[1], "round to_nearest")
                if len(node.args) > 1
                else 1.0
            )
            return self._drop_name(vec.df, vec.unique, sf.promql_round("value", nearest))
        if name in sf.DATE_FUNCS:
            if node.args:
                vec = self._vector_arg(node.args[0])
            else:
                vec = VectorResult(
                    self._scalar_to_vector(ScalarResult(df=self.time_df()), self.ctx)
                )
            return self._drop_name(vec.df, vec.unique, sf.date_part(name, "value"))
        if name in sf.SIMPLE_MATH:
            arg = self.eval(node.args[0])
            value = sf.apply_simple_math(name, "value")
            if isinstance(arg, ScalarResult):
                # functions like abs() are vector-only in PromQL, but keep
                # scalar math working for ln(2) style constants
                if arg.is_const:
                    return ScalarResult(const=_py_simple_math(name, arg.const))
                return ScalarResult(df=arg.df.selectExpr("t", f"{value} AS value"))
            return self._drop_name(arg.df, arg.unique, value)
        raise PromQLEvalError(f"unsupported function {name!r}")

    def _eval_range_call(self, node: Call):
        name = node.func
        # range-vector argument position: last for quantile/holt_winters-style
        if name == "quantile_over_time":
            params = [self._const_scalar(node.args[0], "quantile φ")]
            range_arg = node.args[1]
        elif name == "holt_winters":
            params = [
                self._const_scalar(node.args[1], "sf"),
                self._const_scalar(node.args[2], "tf"),
            ]
            range_arg = node.args[0]
        elif name == "predict_linear":
            params = [self._const_scalar(node.args[1], "t")]
            range_arg = node.args[0]
        else:
            params = []
            range_arg = node.args[0]
        frame = self.build_range_frame(range_arg, name in NEEDS_ORDER_COLS)
        out = apply_range_func(name, frame, params)
        if name == "last_over_time":  # keeps __name__ — cannot collide
            return VectorResult(out)
        if _name_pinned(range_arg):
            # one row per (t, series), and every series shares one
            # __name__: stripping it merges none
            return VectorResult(out, unique=UniqueSeries())
        return VectorResult(_assert_one_row_per(out, "sig", _SAME_LABELSET))

    def _absent_vector(self, present: DataFrame, labels: Column) -> VectorResult:
        """One `labels` sample of value 1 at every step `present` lacks."""
        missing = self.steps_df().join(present.selectExpr("t").distinct(), "t", "left_anti")
        return VectorResult(project(missing, "t", sig(labels).alias("sig"), "1.0D AS value"))

    def _eval_absent(self, arg: ast.Node) -> VectorResult:
        vec = self._vector_arg(arg)
        return self._absent_vector(vec.df, self._absent_labels(arg))

    def _eval_absent_over_time(self, arg: ast.Node) -> VectorResult:
        frame = self.build_range_frame(arg, False)
        inner = arg
        while isinstance(inner, ParenExpr):
            inner = inner.expr
        sel = inner.selector if isinstance(inner, MatrixSelector) else None
        labels = self._absent_labels(sel) if sel else F.expr(EMPTY_LABELS)
        return self._absent_vector(frame.df, labels)

    @staticmethod
    def _absent_labels(arg) -> Column:
        """functions.go createLabelsForAbsentFunction: a non-empty equality
        matcher sets its label (first occurrence wins); ANY other matcher —
        regex, !=, empty-value EQ, or a REPEATED EQ on the same name — marks
        the name for deletion at the end, so conflicting matchers like
        {job="a", job=~"b"} contribute nothing (functions.test)."""
        node = arg
        while isinstance(node, ParenExpr):
            node = node.expr
        b: dict[str, str] = {}
        dels: list[str] = []
        if isinstance(node, VectorSelector):
            for m in node.matchers:
                if m.name == NAME_LABEL:
                    continue
                if m.op == MatchOp.EQ and m.value != "" and not b.get(m.name):
                    b[m.name] = m.value
                else:
                    dels.append(m.name)
            for name in dels:
                b.pop(name, None)
        entries = [x for k, v in b.items() for x in (F.lit(k), F.lit(v))]
        return F.create_map(*entries) if entries else F.expr(EMPTY_LABELS)

    def _eval_label_replace(self, node: Call) -> VectorResult:
        vec = self._vector_arg(node.args[0])
        dst = self._const_string(node.args[1])
        repl = self._const_string(node.args[2])
        src = self._const_string(node.args[3])
        regex = self._const_string(node.args[4])
        # functions.go:1215-1245: invalid regex / destination name are errors
        try:
            pattern = re.compile(regex)
        except re.error as e:
            raise PromQLEvalError(f"invalid regular expression in label_replace(): {e}")
        if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
            raise PromQLEvalError(
                f"invalid destination label name in label_replace(): {dst!r}"
            )
        anchored = selectors.anchored_regex(regex)
        labels = F.map_from_entries(F.col("sig"))
        src_val = F.coalesce(labels.getItem(src), F.lit(""))
        matched = src_val.rlike(anchored)
        expansion = F.regexp_replace(
            src_val, anchored, F.lit(_java_replacement(repl, pattern))
        )
        without_dst = F.map_filter(labels, lambda k, _: k != F.lit(dst))
        new_labels = (
            F.when(
                matched & (expansion != ""),
                F.map_concat(without_dst, F.create_map(F.lit(dst), expansion)),
            )
            .when(matched, without_dst)
            .otherwise(labels)
        )
        return VectorResult(
            _assert_one_row_per(_relabel(vec.df, new_labels), "sig", _SAME_LABELSET)
        )

    def _eval_label_join(self, node: Call) -> VectorResult:
        vec = self._vector_arg(node.args[0])
        dst = self._const_string(node.args[1])
        sep = self._const_string(node.args[2])
        if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
            raise PromQLEvalError(
                f"invalid destination label name in label_join(): {dst!r}"
            )
        srcs = [self._const_string(a) for a in node.args[3:]]
        labels = F.map_from_entries(F.col("sig"))
        joined = F.concat_ws(
            sep, *[F.coalesce(labels.getItem(s), F.lit("")) for s in srcs]
        )
        without_dst = F.map_filter(labels, lambda k, _: k != F.lit(dst))
        new_labels = F.when(
            joined != "", F.map_concat(without_dst, F.create_map(F.lit(dst), joined))
        ).otherwise(without_dst)
        return VectorResult(
            _assert_one_row_per(_relabel(vec.df, new_labels), "sig", _SAME_LABELSET)
        )

    def _eval_clamp(self, node: Call) -> VectorResult:
        vec = self._vector_arg(node.args[0])
        if node.func == "clamp":
            mn = self._const_scalar(node.args[1], "min")
            mx = self._const_scalar(node.args[2], "max")
            # funcClamp: max < min → empty vector (NOT NaN; false when
            # either bound is NaN, which instead propagates per-value)
            if mx < mn:
                return VectorResult(vec.df.filter("false"))
        elif node.func == "clamp_max":
            mn, mx = -math.inf, self._const_scalar(node.args[1], "max")
        else:
            mn, mx = self._const_scalar(node.args[1], "min"), math.inf
        return self._drop_name(vec.df, vec.unique, sf.promql_clamp("value", mn, mx))

    # ----------------------------------------------------------- aggregation
    def eval_aggregation(self, node: AggregateExpr) -> VectorResult:
        vec = self._vector_arg(node.expr)
        df = vec.df
        gsig = sig_subset(node.grouping, keep=not node.without)
        # every output below but topk/bottomk is one row per (t, gsig),
        # labelled by gsig: unique, and nameless unless grouped by __name__
        if node.without:
            unique = UniqueSeries()
        elif NAME_LABEL not in node.grouping:
            unique = UniqueSeries(frozenset(node.grouping))
        else:
            unique = None

        op = node.op
        if op in ("topk", "bottomk"):
            # k may be any scalar expression, e.g. topk(scalar(foo), v)
            # (aggregators.test:321); constant k stays a literal
            kres = self.eval(node.param)
            if not isinstance(kres, ScalarResult):
                raise PromQLEvalError(f"{op} k must be a scalar")
            # per (step, group) ranked window — keeps ORIGINAL series labels
            # (engine.go:2740-2776); NaN ranks last like the reference heap
            direction = "DESC" if op == "topk" else "ASC"
            order = [F.isnan("value").asc()]
            order.append(
                F.col("value").desc() if op == "topk" else F.col("value").asc()
            )
            ranked = project(df, "t", "sig", "value", _alias(gsig, "gsig")).selectExpr(
                "*",
                "row_number() OVER (PARTITION BY t, gsig ORDER BY isnan(value) ASC, "
                f"value {direction}) AS __rn",
            )
            if kres.is_const:
                k = int(kres.const)
                if k < 1:
                    return VectorResult(df.filter("false").selectExpr("t", "sig", "value"))
                # a Column comparison with an int literal, as the optimizer's
                # WindowGroupLimit rule matches it: the per-group limit then
                # runs before the window's shuffle
                out = ranked.filter(F.col("__rn") <= k)
            else:
                kdf = kres.df.selectExpr("t", "CAST(value AS BIGINT) AS __k")
                out = ranked.join(kdf, "t").filter("__rn <= __k")
            out = out.selectExpr("t", "sig", "value")
            # the reference's heap pops in value order — the result vector
            # is SORTED (desc for topk, asc for bottomk, NaN last;
            # aggregators.test eval_ordered)
            return VectorResult(out.orderBy(*order), order_by=order)

        if op == "count_values":
            lbl = self._const_string(node.param)
            glabels = F.map_from_entries(_column(gsig))
            counted = F.map_concat(
                F.map_filter(glabels, lambda k_, _: k_ != F.lit(lbl)),
                F.create_map(F.lit(lbl), F.expr(_FORMAT_FLOAT)),
            )
            if lbl == NAME_LABEL or unique is None:
                unique = None
            elif unique.keys is not None:
                unique = UniqueSeries(unique.keys | {lbl})
            return VectorResult(
                _aggregate(df, sig(counted), ["CAST(count(1) AS DOUBLE) AS value"]),
                unique=unique,
            )

        if op == "avg":
            # reference avg is an incremental mean (no intermediate-sum
            # overflow: aggregators.test 'big'/'bigzero'). Spark analog: a
            # second sum pre-scaled by 2^-64 (exact — exponent shift only)
            # decides the answer when the plain sum overflows to ±Inf.
            inf = num(math.inf)
            value = (
                f"CASE WHEN isnan(__s) OR abs(__s) != {inf} THEN __s / __n "
                f"ELSE CASE WHEN abs(__ss) != {inf} THEN __ss / __n * {num(2.0**64)} "
                "ELSE __s / __n END END"
            )
            aggs = [
                "sum(value) AS __s",
                f"sum(value * {num(2.0**-64)}) AS __ss",
                "CAST(count(1) AS DOUBLE) AS __n",
            ]
            return VectorResult(_aggregate(df, gsig, aggs, value), unique=unique)

        agg = {
            "sum": "sum(value)",
            "count": "CAST(count(1) AS DOUBLE)",
            "group": "1.0D",
            "stddev": "stddev_pop(value)",
            "stdvar": "var_pop(value)",
            "min": nan_aware_agg("min"),
            "max": nan_aware_agg("max"),
        }.get(op)
        if op == "quantile":
            qres = self.eval(node.param)
            if not isinstance(qres, ScalarResult):
                raise PromQLEvalError("quantile φ must be a scalar")
            if qres.is_const:
                q = float(qres.const)
                if math.isnan(q):
                    agg = _NAN
                elif q < 0:
                    agg = num(-math.inf)
                elif q > 1:
                    agg = num(math.inf)
                else:
                    agg = f"percentile(value, {num(q)})"
            else:
                # per-step φ (e.g. quantile(scalar(foo), v)): join the
                # scalar by step and interpolate over the sorted group —
                # Spark's percentile() needs a foldable fraction, so the
                # rank interpolation (quantile.go:50-75) is spelled out
                df = df.join(qres.df.selectExpr("t", "value AS __q"), "t")
                vals = "array_sort(collect_list(CAST(value AS DOUBLE)))"
                q = "first(__q)"
                n = f"size({vals})"
                rank = f"({q} * (CAST({n} AS DOUBLE) - 1))"
                lo = f"CAST(floor({rank}) AS INT)"
                hi = f"least({lo} + 1, {n} - 1)"
                frac = f"({rank} - CAST({lo} AS DOUBLE))"
                agg = (
                    f"CASE WHEN isnan({q}) THEN {_NAN} "
                    f"WHEN {q} < 0 THEN {num(-math.inf)} "
                    f"WHEN {q} > 1 THEN {num(math.inf)} "
                    f"ELSE element_at({vals}, {lo} + 1) * (1.0D - {frac}) "
                    f"+ element_at({vals}, {hi} + 1) * {frac} END"
                )
        if agg is None:
            raise PromQLEvalError(f"unsupported aggregation {op!r}")
        return VectorResult(_aggregate(df, gsig, [f"{agg} AS value"]), unique=unique)

    # ------------------------------------------------------------ binary ops
    def eval_binary(self, node: BinaryExpr):
        lhs = self.eval(node.lhs)
        rhs = self.eval(node.rhs)
        if isinstance(lhs, ScalarResult) and isinstance(rhs, ScalarResult):
            return self._scalar_scalar(node, lhs, rhs)
        if isinstance(lhs, VectorResult) and isinstance(rhs, ScalarResult):
            return self._vector_scalar(node, lhs, rhs, scalar_on_left=False)
        if isinstance(lhs, ScalarResult) and isinstance(rhs, VectorResult):
            return self._vector_scalar(node, rhs, lhs, scalar_on_left=True)
        if isinstance(lhs, VectorResult) and isinstance(rhs, VectorResult):
            if node.op in ast.SET_OPS:
                return self._set_op(node, lhs, rhs)
            return self._vector_vector(node, lhs, rhs)
        raise PromQLEvalError(f"bad operand types for {node.op}")

    @staticmethod
    def _binop_value(node: BinaryExpr, lhs: str, rhs: str) -> str:
        """SQL text of an arithmetic or `bool` comparison result."""
        if node.op in ast.COMPARE_OPS:
            return f"CASE WHEN {sf.ieee_compare(lhs, rhs, node.op)} THEN 1.0D ELSE 0.0D END"
        return sf.arith_op(lhs, rhs, node.op)

    def _scalar_scalar(self, node, lhs: ScalarResult, rhs: ScalarResult):
        op = node.op
        if op in ast.COMPARE_OPS and not node.return_bool:
            raise PromQLEvalError("comparisons between scalars must use bool")
        if lhs.is_const and rhs.is_const:
            return ScalarResult(const=_py_binop(op, lhs.const, rhs.const, node.return_bool))
        l = num(float(lhs.const)) if lhs.is_const else "lv"
        r = num(float(rhs.const)) if rhs.is_const else "rv"
        if lhs.is_const:
            base = rhs.df.selectExpr("t", "value AS rv")
        else:
            base = lhs.df.selectExpr("t", "value AS lv")
            if not rhs.is_const:
                base = base.join(rhs.df.selectExpr("t", "value AS rv"), "t")
        return ScalarResult(
            df=base.selectExpr("t", f"{self._binop_value(node, l, r)} AS value")
        )

    def _vector_scalar(
        self, node, vec: VectorResult, scalar: ScalarResult, scalar_on_left: bool
    ):
        df = vec.df
        if scalar.is_const:
            s = num(float(scalar.const))
        else:
            df = df.join(scalar.df.selectExpr("t", "value AS __sv"), "t")
            s = "__sv"
        l, r = (s, "value") if scalar_on_left else ("value", s)
        if node.op in ast.COMPARE_OPS and not node.return_bool:
            out = df.filter(sf.ieee_compare(l, r, node.op))
            if not scalar.is_const:
                out = out.drop("__sv")
            return VectorResult(out, unique=vec.unique)
        return self._drop_name(df, vec.unique, self._binop_value(node, l, r))

    def _match_sig(self, node: BinaryExpr) -> tuple[str, list[str]]:
        m = node.matching
        if m is not None and m.on:
            return "on", m.matching_labels
        return "ignoring", (m.matching_labels if m else [])

    def _set_op(self, node: BinaryExpr, lhs: VectorResult, rhs: VectorResult):
        mode, keys = self._match_sig(node)
        msig = _alias(sig_subset(keys, keep=mode == "on"), "msig")
        l = project(lhs.df, "*", msig)
        r = project(rhs.df, "*", msig)
        if node.op == "and":
            out = l.join(r.selectExpr("t", "msig").distinct(), ["t", "msig"], "left_semi")
        elif node.op == "unless":
            out = l.join(r.selectExpr("t", "msig").distinct(), ["t", "msig"], "left_anti")
        else:  # or — engine.go:2150-2175
            extra = r.join(
                l.selectExpr("t", "msig").distinct(), ["t", "msig"], "left_anti"
            )
            cols = ["t", "sig", "value", "msig"]
            out = l.selectExpr(*cols).unionByName(extra.selectExpr(*cols))
        return VectorResult(out.drop("msig"))

    def _vector_vector(self, node: BinaryExpr, lhs: VectorResult, rhs: VectorResult):
        """engine.go:2201-2378 VectorBinop as an equi-join on (t, match-sig)."""
        op = node.op
        m = node.matching
        card = m.card if m else VectorMatchCard.ONE_TO_ONE
        mode, keys = self._match_sig(node)
        msig = _alias(sig_subset(keys, keep=mode == "on"), "msig")

        l = project(lhs.df, "t", msig, "sig AS lsig", "value AS lv")
        r = project(rhs.df, "t", msig, "sig AS rsig", "value AS rv")
        # engine.go:2228-2246: the 'one' side must be unique per match group
        # (both sides for one-to-one). The aggregation on the join key is
        # the one the join's own exchange needs at shuffle-join scale.
        if card in (
            VectorMatchCard.ONE_TO_ONE, VectorMatchCard.MANY_TO_ONE
        ) and not _unique_per_match(rhs, mode, keys):
            r = _assert_one_row_per(r, "msig", _MANY_TO_MANY)
        if card in (
            VectorMatchCard.ONE_TO_ONE, VectorMatchCard.ONE_TO_MANY
        ) and not _unique_per_match(lhs, mode, keys):
            l = _assert_one_row_per(l, "msig", _MANY_TO_MANY)
        joined = l.join(r, ["t", "msig"], "inner")

        should_drop = op in ast.ARITH_OPS or (
            op in ast.COMPARE_OPS and node.return_bool
        )
        # result labels — engine.go resultMetric (2324-2360): the many
        # side's, minus __name__ when the operation drops it, restricted
        # to the matching labels for one-to-one, plus group_x's includes
        if card == VectorMatchCard.ONE_TO_MANY:
            base_sig, one_sig = "rsig", "lsig"
        else:
            base_sig, one_sig = "lsig", "rsig"
        if card == VectorMatchCard.ONE_TO_ONE:
            out_sig = sig_subset(keys, mode == "on", should_drop, base_sig)
        else:
            out_sig = sig_subset([], False, should_drop, base_sig)
        if m and m.include:
            out_labels = F.map_from_entries(_column(out_sig))
            one_labels = F.map_from_entries(F.col(one_sig))
            for ln in m.include:
                inc = one_labels.getItem(ln)
                without = F.map_filter(out_labels, lambda k, _: k != F.lit(ln))
                out_labels = F.when(
                    inc.isNotNull() & (inc != ""),
                    F.map_concat(without, F.create_map(F.lit(ln), inc)),
                ).otherwise(without)
            out_sig = sig(out_labels)

        if op in ast.COMPARE_OPS and not node.return_bool:
            # vectorElemBinop returns the ORIGINAL lhs value even under
            # group_right (engine.go:2270-2276 double swap)
            joined = joined.filter(sf.ieee_compare("lv", "rv", op))
            value = "lv"
        else:
            value = self._binop_value(node, "lv", "rv")
        return VectorResult(project(joined, "t", _alias(out_sig, "sig"), f"{value} AS value"))

    # ----------------------------------------------------------------- unary
    def eval_unary(self, node: UnaryExpr):
        inner = self.eval(node.expr)
        if node.op == "+":
            return inner
        if isinstance(inner, ScalarResult):
            if inner.is_const:
                return ScalarResult(const=-inner.const)
            return ScalarResult(df=inner.df.selectExpr("t", "-value AS value"))
        if isinstance(inner, VectorResult):
            return self._drop_name(inner.df, inner.unique, "-value")
        raise PromQLEvalError("cannot negate a string")

    # ------------------------------------------------------------------ misc
    def _vector_arg(self, node: ast.Node) -> VectorResult:
        res = self.eval(node)
        if isinstance(res, ScalarResult):
            raise PromQLEvalError("expected an instant vector, got scalar")
        if not isinstance(res, VectorResult):
            raise PromQLEvalError("expected an instant vector")
        return res

    def _const_scalar(self, node: ast.Node, what: str) -> float:
        res = self.eval(node)
        if isinstance(res, ScalarResult) and res.is_const:
            return float(res.const)
        raise PromQLEvalError(f"{what} must be a constant scalar expression")

    def _const_string(self, node: ast.Node) -> str:
        res = self.eval(node)
        if isinstance(res, StringResult):
            return res.value
        raise PromQLEvalError("expected a string literal")

    def _scalar_to_vector(self, s: ScalarResult, ctx: EvalContext) -> DataFrame:
        if s.is_const:
            base, value = Evaluator(ctx).steps_df(), num(float(s.const))
        else:
            base, value = s.df, "value"
        return base.selectExpr("t", f"{sig_sql(EMPTY_LABELS)} AS sig", f"{value} AS value")

    def _drop_name(
        self,
        df: DataFrame,
        unique: UniqueSeries | None = None,
        value: str = "value",
    ) -> VectorResult:
        """`df` with `value` (SQL text) as its value, __name__ dropped from
        series identity (function/operator output), asserting that no two
        series collapse onto the same labelset (e.g.
        ceil({__name__=~'a|b'}), collision.test). A `unique` proof of the
        input makes both steps no-ops: its series carry no __name__, and
        the proof carries over to the output."""
        if unique is not None:
            out = df.selectExpr("t", "sig", f"{value} AS value")
            return VectorResult(out, unique=unique)
        out = df.selectExpr("t", f"{NAMELESS_SIG} AS sig", f"{value} AS value")
        return VectorResult(_assert_one_row_per(out, "sig", _SAME_LABELSET))


#: engine.go:1601-1602 ContainsSameLabelset(), checked on every function
#: output that no UniqueSeries proof shows collision-free
_SAME_LABELSET = "vector cannot contain metrics with the same labelset"
_MANY_TO_MANY = (
    "many-to-many matching not allowed: matching labels must be unique on "
    "one side"
)


def _column(expr: str | Column) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


def _alias(expr: str | Column, name: str) -> str | Column:
    return f"{expr} AS {name}" if isinstance(expr, str) else expr.alias(name)


def _aggregate(
    df: DataFrame, gsig: str | Column, aggs: list[str], value: str = "value"
) -> DataFrame:
    """groupBy(t, gsig) with `aggs`, as (t, sig, value), the group
    signature as the series'."""
    grouped = aggregate(df, ["t", _column(gsig).alias("gsig")], aggs)
    return grouped.selectExpr("t", "gsig AS sig", f"{value} AS value")


def _relabel(df: DataFrame, labels: Column) -> DataFrame:
    """`df` with the `sig` of new `labels`, other columns in place."""
    return df.select(*(sig(labels).alias(c) if c == "sig" else c for c in df.columns))


def assert_rows(df: DataFrame, ok: str, message: str) -> DataFrame:
    """Keep `df`'s rows, failing the query with `message` on the first row
    where `ok` is false (both SQL text). The filter's output depends on the
    assertion, so Catalyst can prune it from no action, whatever columns
    the action reads."""
    return df.filter(f"assert_true({ok}, {message}) IS NULL")


def _assert_one_row_per(df: DataFrame, key: str, message: str) -> DataFrame:
    """`df` as one row per (t, key), failing the query with `message` where
    a group holds more than one.

    An aggregation rather than a window: map-side partial counts, and
    (t, key)-keyed stages downstream reuse its partitioning. With one row
    per group, first() is the identity, so passing results are
    bit-identical."""
    cols = df.columns
    others = [c for c in cols if c not in ("t", key)]
    grouped = aggregate(
        df, ["t", key], ["count(1) AS __n", *[f"first({c}) AS {c}" for c in others]]
    )
    return assert_rows(grouped, "__n <= 1", sql_string(message)).selectExpr(*cols)


#: one piece of a Go Regexp.Expand template: `$$`, `${name}`, `$name`, or
#: a character a Java replacement string would read as syntax
_GO_TEMPLATE = re.compile(r"\$(?:(\$)|\{(\w+)\}|(\w+))|([\\$0-9])")


def _java_replacement(template: str, pattern: re.Pattern) -> str:
    """Go Regexp.Expand template → java.util.regex replacement string.

    Go reads `$$` as "$", and `$name` / `${name}` as a group reference,
    where name is the longest run of letters, digits and `_` (so `$1x`
    names group "1x"; Python's `\\w` also takes a few numerals Go does
    not, such as "²"); an all-digit name is a group number. A group the
    regex lacks expands to "", and a `$` that starts no reference stays
    literal. Java would fail on an unknown group instead, so each
    reference is resolved against the compiled `pattern` and written as
    `$n`; literal `\\`, `$` and digits are escaped, so that a digit after
    a reference cannot extend its group number."""

    def piece(m: re.Match) -> str:
        literal = m.group(1) or m.group(4)
        if literal:
            return "\\" + literal
        name = m.group(2) or m.group(3)
        if name.isascii() and name.isdigit():
            # Go rejects leading zeros: "01" is a (missing) group name
            idx = int(name) if name == "0" or name[0] != "0" else None
        else:
            idx = pattern.groupindex.get(name)
        return f"${idx}" if idx is not None and idx <= pattern.groups else ""

    return _GO_TEMPLATE.sub(piece, template)


def _name_pinned(node: ast.Node) -> bool:
    """True for a matrix selector whose metric name is fixed by equality,
    so that all of its series share one __name__."""
    while isinstance(node, ParenExpr):
        node = node.expr
    if not isinstance(node, MatrixSelector):
        return False
    sel = node.selector
    return sel.name is not None or any(
        m.name == NAME_LABEL and m.op == MatchOp.EQ for m in sel.matchers
    )


def _unique_per_match(side: VectorResult, mode: str, keys: list[str]) -> bool:
    """True when `side` provably holds one row per (t, matching signature):
    it is unique and nameless, and the signature keeps every label key its
    series can carry, so it equals the series' own sig."""
    u = side.unique
    if u is None:
        return False
    if mode == "on":
        return u.keys is not None and u.keys <= set(keys)
    return not keys or (u.keys is not None and u.keys.isdisjoint(keys))


def _format_float_sql() -> str:
    """Go strconv.FormatFloat(v, 'f', -1, 64)-style rendering of `value`
    for count_values label values, as SQL text: integral floats print
    without a decimal, and NOTHING prints in scientific notation.

    Java's double→string (what a plain cast gives) switches to "d.fffE±x"
    outside [1e-3, 1e7); Go's 'f' format never does. Expand the scientific
    form to positional decimal with pure string ops — the digits are
    unchanged, so the shortest-round-trip property is preserved.
    """
    s = "CAST(value AS STRING)"
    as_long = "TRY_CAST(value AS BIGINT)"  # overflows (|v| > 2^63) → null
    sign = f"CASE WHEN startswith({s}, '-') THEN '-' ELSE '' END"
    body = f"regexp_replace({s}, '^-', '')"
    mant = f"split_part({body}, 'E', 1)"
    exp = f"CAST(split_part({body}, 'E', 2) AS INT)"
    ipart = f"split_part({mant}, '.', 1)"  # single digit (Java norm)
    frac0 = f"split_part({mant}, '.', 2)"
    frac = f"CASE WHEN {frac0} = '0' THEN '' ELSE {frac0} END"
    digits = f"concat({ipart}, {frac})"
    flen = f"length({frac})"
    expanded = (
        f"CASE WHEN {exp} < 0 THEN concat('0.', repeat('0', -{exp} - 1), {digits}) "
        f"WHEN {exp} >= {flen} THEN concat({digits}, repeat('0', {exp} - {flen})) "
        f"ELSE concat(substr({digits}, 1, {exp} + 1), '.', substr({digits}, {exp} + 2)) END"
    )
    return (
        "CASE WHEN isnan(value) THEN 'NaN' "
        f"WHEN value = {num(math.inf)} THEN '+Inf' "
        f"WHEN value = {num(-math.inf)} THEN '-Inf' "
        f"WHEN {s} = '-0.0' THEN '-0' "
        f"WHEN CAST(value AS DOUBLE) = CAST({as_long} AS DOUBLE) THEN CAST({as_long} AS STRING) "
        f"WHEN contains({s}, 'E') THEN concat({sign}, {expanded}) "
        f"ELSE {s} END"
    )


_FORMAT_FLOAT = _format_float_sql()


def _py_simple_math(name: str, v: float) -> float:
    import math as _m

    def _go_log(fn):
        # Go math: log(0) = -Inf, log(x<0) = NaN (Python raises instead)
        def wrapped(x):
            if _m.isnan(x) or x < 0:
                return float("nan")
            if x == 0:
                return float("-inf")
            return fn(x)

        return wrapped

    fns = {
        "abs": abs,
        "ceil": _m.ceil,
        "floor": _m.floor,
        "exp": _m.exp,
        "sqrt": _m.sqrt,
        "ln": _go_log(_m.log),
        "log2": _go_log(_m.log2),
        "log10": _go_log(_m.log10),
        "sgn": lambda x: float((x > 0) - (x < 0)),
        "sin": _m.sin,
        "cos": _m.cos,
        "tan": _m.tan,
        "asin": _m.asin,
        "acos": _m.acos,
        "atan": _m.atan,
        "sinh": _m.sinh,
        "cosh": _m.cosh,
        "tanh": _m.tanh,
        "asinh": _m.asinh,
        "acosh": _m.acosh,
        "atanh": _m.atanh,
        "deg": _m.degrees,
        "rad": _m.radians,
    }
    try:
        return float(fns[name](v))
    except ValueError:
        return float("nan")


def _py_binop(op: str, l: float, r: float, return_bool: bool) -> float:
    import math as _m

    if op in ast.COMPARE_OPS:
        res = {
            "==": l == r,
            "!=": l != r,
            ">": l > r,
            "<": l < r,
            ">=": l >= r,
            "<=": l <= r,
        }[op]
        return 1.0 if res else 0.0
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        if r == 0:
            if l == 0 or _m.isnan(l):
                return float("nan")
            # IEEE: the zero divisor's SIGN matters — x / -0 = -Inf for x > 0
            sign = _m.copysign(1.0, r) * (1.0 if l > 0 else -1.0)
            return _m.copysign(float("inf"), sign)
        return l / r
    if op == "%":
        return _m.fmod(l, r) if r != 0 else float("nan")
    if op == "^":
        # Go math.Pow never raises: (-1)^0.5 = NaN, 0^-1 = +Inf, (-0)^-1 = -Inf
        def _odd_int(x: float) -> bool:
            return x == int(x) and int(x) % 2 != 0

        try:
            return _m.pow(l, r)
        except ValueError:
            if l == 0:  # zero base, negative exponent → ±Inf
                neg = _m.copysign(1.0, l) < 0 and _odd_int(r)
                return float("-inf") if neg else float("inf")
            return float("nan")  # negative base, non-integral exponent
        except OverflowError:  # finite inputs, |result| > max double
            neg = l < 0 and _odd_int(r)
            return float("-inf") if neg else float("inf")
    if op == "atan2":
        return _m.atan2(l, r)
    raise PromQLEvalError(f"bad scalar op {op}")
