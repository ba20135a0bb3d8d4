"""Structural invariants the physical-plan optimizations rely on.

Inside the engine a series is identified by `sig` alone, the sorted array
of its label entries: arrays of structs can be grouped and joined on, and
they ride aggregation buffers and shuffles where a map cannot. The `labels`
map is built from `sig` once, in `PromQLEngine.query_range`'s output
projection. These tests pin that shape (no operator output carries
`labels`, and every shape's output label sets are the PromQL answer) and
the plans it gives (hash aggregations only, few exchanges, a small build),
so an operator that strays from it fails here.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

from metric_store_release_spark import EngineConfig, PromQLEngine
from metric_store_release_spark.engine.evaluator import (
    EvalContext,
    Evaluator,
    VectorResult,
)
from metric_store_release_spark.promql.parser import parse
from metric_store_release_spark.sources import corpus

MIN = 60_000

SERIES = [
    'http_requests{job="api-server", instance="0", group="production"} 0+10x10',
    'http_requests{job="api-server", instance="1", group="canary"} 0+20x10',
    'http_requests{job="app-server", instance="0", group="canary"} 0+30x10',
    'foo{job="api-server"} 0+40x10',
    'latency_bucket{job="api-server", le="0.5"} 0+1x10',
    'latency_bucket{job="api-server", le="+Inf"} 0+2x10',
]

_API0 = {"job": "api-server", "instance": "0", "group": "production"}
_API1 = {"job": "api-server", "instance": "1", "group": "canary"}
_APP0 = {"job": "app-server", "instance": "0", "group": "canary"}
_NAMED = {"__name__": "http_requests"}

#: query → its output label sets over SERIES at 10m..40m
SHAPES = {
    'http_requests{job="api-server"}': [  # instant selector
        {**_NAMED, **_API0}, {**_NAMED, **_API1},
    ],
    "rate(http_requests[10m])": [_API0, _API1, _APP0],  # range function
    "sum by (job) (http_requests)": [  # aggregation (by)
        {"job": "api-server"}, {"job": "app-server"},
    ],
    "sum without (instance) (http_requests)": [  # aggregation (without)
        {"job": "api-server", "group": "production"},
        {"job": "api-server", "group": "canary"},
        {"job": "app-server", "group": "canary"},
    ],
    "count_values('v', http_requests)": [  # label-injecting aggregation
        {"v": v} for v in ("20", "40", "60", "80", "120", "160", "180", "240")
    ],
    'label_replace(http_requests, "dst", "$1", "job", "(.*)-server")': [
        {**_NAMED, **_API0, "dst": "api"},
        {**_NAMED, **_API1, "dst": "api"},
        {**_NAMED, **_APP0, "dst": "app"},
    ],
    "abs(http_requests)": [_API0, _API1, _APP0],  # scalar function (name drop)
    "last_over_time(http_requests[10m])": [  # keeps __name__
        {**_NAMED, **_API0}, {**_NAMED, **_API1}, {**_NAMED, **_APP0},
    ],
    "histogram_quantile(0.5, latency_bucket)": [{"job": "api-server"}],
    'http_requests * on (job) group_left (le) latency_bucket{le="+Inf"}': [
        {**_API0, "le": "+Inf"}, {**_API1, "le": "+Inf"},
    ],
}


@pytest.fixture(scope="module")
def samples(spark):
    df = corpus.load(spark, 5 * MIN, SERIES)
    df.cache().count()
    return df


@pytest.mark.parametrize("query", SHAPES)
def test_vectors_carry_sig_only(spark, samples, query):
    ctx = EvalContext(
        spark=spark,
        samples=samples,
        start_ms=10 * MIN,
        end_ms=40 * MIN,
        step_ms=10 * MIN,
        lookback_ms=6 * MIN,
        query_start_ms=10 * MIN,
        query_end_ms=40 * MIN,
    )
    res = Evaluator(ctx).eval(parse(query))
    assert isinstance(res, VectorResult)
    assert "sig" in res.df.columns
    assert "labels" not in res.df.columns, res.df.columns


@pytest.mark.parametrize("query", SHAPES)
def test_output_label_sets(spark, samples, query):
    eng = PromQLEngine(spark, EngineConfig(lookback_ms=6 * MIN))
    out = eng.query_range(samples, query, 10 * MIN, 40 * MIN, 10 * MIN)
    assert out.columns == ["t", "labels", "value"]
    got = {frozenset(r["labels"].items()) for r in out.collect()}
    assert got == {frozenset(ls.items()) for ls in SHAPES[query]}


def test_explode_labels_projection(spark, samples):
    from metric_store_release_spark.engine.engine import explode_labels

    eng = PromQLEngine(spark, EngineConfig(lookback_ms=6 * MIN))
    out = eng.query_range(
        samples, 'http_requests{group="canary"}', 10 * MIN, 10 * MIN, 10 * MIN
    )
    flat = explode_labels(out, ["job", "instance"], keep_name=True)
    assert flat.columns == ["t", "name", "value", "job", "instance"]
    rows = {(r["job"], r["instance"]) for r in flat.collect()}
    assert rows == {("api-server", "1"), ("app-server", "0")}
    assert {r["name"] for r in flat.collect()} == {"http_requests"}


@pytest.mark.parametrize(
    "query",
    ['http_requests{job="api-server"}', "rate(http_requests[10m])",
     "sum by (job) (http_requests)"],
)
def test_no_sort_aggregate_in_plan(spark, samples, query):
    eng = PromQLEngine(spark, EngineConfig(lookback_ms=6 * MIN))
    out = eng.query_range(samples, query, 10 * MIN, 40 * MIN, 10 * MIN)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, f"SortAggregate regressed for {query!r}"


def _dashboard_series() -> list[str]:
    """The perfbench dashboard's series shapes, two sources x two
    instances: HTTP counters split by status, a latency histogram, and
    cpu/memory gauges that differ only in name and unit."""
    out = []
    for src in ("a", "b"):
        for inst in ("0", "1"):
            sel = f'source_id="{src}", instance_id="{inst}"'
            out += [
                f'http_total{{{sel}, status_code="200"}} 0+9x90',
                f'http_total{{{sel}, status_code="500"}} 0+1x90',
                f'cpu{{{sel}, unit="percentage"}} 1+1x90',
                f'memory{{{sel}, unit="bytes"}} 10+5x90',
            ]
        for le, rate in (("0.1", 1), ("1", 2), ("+Inf", 3)):
            out.append(
                f'http_duration_seconds_bucket{{source_id="{src}", le="{le}"}}'
                f" 0+{rate}x90"
            )
    return out


@pytest.fixture(scope="module")
def dashboard(spark):
    df = corpus.load(spark, MIN, _dashboard_series())
    df.cache().count()
    return df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "query, range_min, exchanges, skipped, kept",
    [
        ("sum by (source_id) (rate(http_total[5m]))", 60, 2, 1, 0),
        ('sum by (source_id) (rate(http_total{status_code="500"}[5m]))'
         " / sum by (source_id) (rate(http_total[5m]))", 60, 5, 4, 0),
        ("histogram_quantile(0.99, sum by (le) "
         "(rate(http_duration_seconds_bucket[5m])))", 60, 3, 2, 0),
        ('avg_over_time(cpu{source_id="a"}[10m])', 60, 1, 1, 0),
        ("sum(count_over_time(cpu[2h]))", 0, 2, 1, 0),
        # controls the proof cannot reach: topk keeps its input's labels,
        # and both sides of the ratio are raw, named selectors
        ("topk(5, memory)", 0, 3, 0, 0),
        ("cpu / ignoring(unit) memory", 30, 5, 0, 2),
    ],
)
def test_dashboard_plans_skip_only_vacuous_assertions(
    spark, dashboard, query, range_min, exchanges, skipped, kept
):
    """Each runtime uniqueness assertion is one hash aggregation, so one
    Exchange, under one `raise_error` filter. Where the static proof shows
    an assertion can never fire it leaves the plan: `skipped` of them per
    shape, so the plan had `exchanges + skipped` Exchanges before the proof
    existed. The `kept` ones are the plan's `raise_error` filters."""
    end = 90 * MIN
    eng = PromQLEngine(spark)
    if range_min:
        out = eng.query_range(dashboard, query, end - range_min * MIN, end, MIN)
    else:
        out = eng.query_instant(dashboard, query, end)
    plan = _plan(out)
    assert plan.count("Exchange") == exchanges, (query, skipped)
    assert plan.count("raise_error(") == kept, plan


def test_histogram_le_check_stays_above_the_scan(spark, dashboard):
    """histogram_quantile skips buckets without a numeric `le` inside its
    bucket aggregation. As a Filter, Catalyst would push the check through
    the aggregations and the window to the scan, rebuilding the label map
    to look `le` up for every sample row."""
    end = 90 * MIN
    query = (
        "histogram_quantile(0.99, sum by (le) "
        "(rate(http_duration_seconds_bucket[5m])))"
    )
    out = PromQLEngine(spark).query_range(dashboard, query, end - 60 * MIN, end, MIN)
    plan = _plan(out)
    below = plan[plan.index("Exchange"):].splitlines()
    pushed = [ln for ln in below if "Filter" in ln and "[le]" in ln]
    assert not pushed, pushed


def _build_counter():
    """scripts/build_profile.py's counter of py4j commands and analysed
    DataFrames."""
    path = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "build_profile.py"
    spec = importlib.util.spec_from_file_location("build_profile", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.BuildCounter()


@pytest.mark.parametrize(
    "query, range_min, commands, frames",
    [
        ("sum by (source_id) (rate(http_total[5m]))", 60, 223, 14),
        ('sum by (source_id) (rate(http_total{status_code="500"}[5m]))'
         " / sum by (source_id) (rate(http_total[5m]))", 60, 492, 32),
        ("histogram_quantile(0.99, sum by (le) "
         "(rate(http_duration_seconds_bucket[5m])))", 60, 310, 20),
        ('avg_over_time(cpu{source_id="a"}[10m])', 60, 104, 7),
        ("sum(count_over_time(cpu[2h]))", 0, 154, 9),
        ("topk(5, memory)", 0, 198, 14),
        ("cpu / ignoring(unit) memory", 30, 457, 27),
    ],
)
def test_dashboard_build_budget(spark, dashboard, query, range_min, commands, frames):
    """Plan construction is a few JVM calls per operator: each operator
    adds its plan nodes with one DataFrame call apiece, structural
    expressions as SQL text. The budgets are the counts of that design plus
    a quarter, so construction cost cannot creep back unnoticed. Counted
    on a second build of each shape, the one a refreshing dashboard pays."""
    end = 90 * MIN
    eng = PromQLEngine(spark)

    def build():
        if range_min:
            return eng.query_range(dashboard, query, end - range_min * MIN, end, MIN)
        return eng.query_instant(dashboard, query, end)

    build()
    counter = _build_counter()
    with counter.counting():
        build()
    print(f"{query!r}: {counter.commands} py4j commands, {counter.frames} DataFrames")
    assert counter.commands <= commands, counter.commands
    assert counter.frames <= frames, counter.frames


# ---------------------------------------------------------------------------
# pipeline operators: shuffle/scan-shape invariants at 100 TB
# ---------------------------------------------------------------------------


def test_repetition_features_is_map_side_only(spark):
    """The Gopher repetition features must stay a pure projection — an
    Exchange here would mean a per-document shuffle of the token stream."""
    from metric_store_release_spark.pipeline.text import repetition_features

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_features(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_and_langid_map_side_only(spark):
    from metric_store_release_spark.pipeline.text import (
        language_id,
        quality_features,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "Exchange" not in _plan(quality_features(df))
    assert "Exchange" not in _plan(language_id(df))


def test_kmeans_assignment_no_join_no_shuffle(spark):
    """Centroids are plan literals: the final assignment must contain no
    Join and no Exchange — it fuses into the scan at any corpus size."""
    from metric_store_release_spark.pipeline.similarity import kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(kmeans(emb, k=2, iters=1))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_shared_ngram_pairs_no_cartesian(spark):
    """The substring-dedup join must be a hash equi-join on the window
    hash — a nested-loop/cartesian here is the n^2 trap."""
    from metric_store_release_spark.pipeline.dedup import shared_ngram_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(shared_ngram_pairs(df))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_jaccard_no_forced_corpus_broadcast(spark):
    """Round-3 scale-killer regression guard: the per-doc set-size tables
    must NOT carry broadcast HINTS (a corpus-cardinality broadcast OOMs at
    100 TB). At test scale AQE legitimately auto-broadcasts everything, so
    disable auto-broadcast: any BroadcastExchange that remains comes from
    an explicit hint — only the (bounded) hot-shingle guard may have one."""
    from metric_store_release_spark.pipeline.dedup import ngram_jaccard_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(ngram_jaccard_pairs(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastExchange") <= 2, plan


def test_substring_and_minhash_no_forced_broadcast(spark):
    """Same guard for the other inverted-index dedup paths: with
    auto-broadcast off, only the bounded guards (hot-window anti-join /
    big-bucket star table) may appear as BroadcastExchange."""
    from metric_store_release_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        shared_ngram_pairs,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _plan(shared_ngram_pairs(df)).count("BroadcastExchange") <= 2
        # the big-bucket table feeds three branches (both self-join sides
        # + the star branch); all three are the same bounded subtree
        assert _plan(minhash_lsh_candidates(df)).count("BroadcastExchange") <= 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pii_redact_map_side_only(spark):
    """The scrub pass is chained codegen regex work — an Exchange or a
    Python eval node here would mean the redaction stopped fusing into
    the scan."""
    from metric_store_release_spark.pipeline.text import pii_redact

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pii_redact(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sequence_pack_one_shuffle(spark):
    """Packing is one hash shuffle on shard + a per-shard sort for the
    running-sum window — any second Exchange means the layout stopped
    being shard-parallel."""
    from metric_store_release_spark.pipeline.packing import sequence_pack

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(sequence_pack(df, budget=64, n_shards=4))
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_unigram_logprob_no_forced_corpus_broadcast(spark):
    """Only the 1-row grand total may carry a broadcast hint; the vocab
    table join must stay a plain equi-join (vocabulary can be huge)."""
    from metric_store_release_spark.pipeline.text import unigram_logprob

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(unigram_logprob(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastExchange") <= 1, plan


def test_prepare_corpus_two_wide_ops_only(spark):
    """The composed preparation pipeline must shuffle only for the digest
    agg + keep-one join (one exchange pair, reused by AQE) — every
    filter/score stage stays fused into the scan; no forced broadcasts."""
    from metric_store_release_spark.pipeline.prepare import prepare_corpus

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(prepare_corpus(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 3, plan  # digest agg + join sides


def test_ngram_contamination_no_forced_benchmark_broadcast(spark):
    """Neither the benchmark-gram join nor its hot guard carries a
    broadcast hint (both tables grow with the benchmark; a forced hint
    OOMs when a caller passes a corpus-scale benchmark): with
    auto-broadcast off NO BroadcastExchange remains and the joins degrade
    to uniform equi-joins — never a cartesian. With defaults on, AQE
    still broadcasts the (small) benchmark side so the corpus never
    shuffles."""
    from metric_store_release_spark.pipeline.dedup import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.limit(20)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(ngram_contamination(docs, bench))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastExchange") == 0, plan
    assert "CartesianProduct" not in plan, plan
    # default path: AQE broadcasts the genuinely-small benchmark side
    default_plan = _plan(ngram_contamination(docs, bench))
    assert default_plan.count("BroadcastExchange") >= 2, default_plan


def test_simhash_pairs_no_corpus_broadcast_no_cartesian(spark):
    """The simhash band self-join must stay an equi-join on
    (band, band_bits) with no forced corpus-cardinality broadcast — with
    auto-broadcast off, no BroadcastExchange may remain at all."""
    from metric_store_release_spark.pipeline.dedup import simhash_hamming_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # another test may have pinned the band table under DEFAULT confs;
        # plan canonicalization would reuse that cache, whose stored plan
        # legitimately contains a broadcast — clear it so the no-broadcast
        # contract is checked on a fresh build
        spark.catalog.clearCache()
        plan = _plan(simhash_hamming_pairs(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_bm25_term_filter_before_explode(spark):
    """BM25 must filter the token array to query terms BEFORE the explode
    (shuffling only matching occurrences), and the only broadcasts are the
    |q|-row df table and the 1-row stats table."""
    from metric_store_release_spark.pipeline.text import bm25_scores

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_scores(df, ["spark", "join"]))
    gen = [l for l in plan.splitlines() if "Generate explode" in l]
    assert gen and all("filter" in l for l in gen), plan


def test_quota_sample_window_input_is_pruned(spark):
    """The exact rank must run on the hash-threshold survivor set, not the
    full stratum: the plan's Window/Sort sits above a Filter carrying the
    threshold comparison (a bare Window over the scan would sort whole
    strata at 100 TB)."""
    from metric_store_release_spark.pipeline.text import quota_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(quota_sample(df, 10))
    assert "Window" in plan, plan
    # the threshold filter compares the md5-derived bucket against the
    # per-stratum cutoff; it must appear below the window sort
    win_at = plan.index("Window")
    assert "4294967296" in plan or "__n" in plan, plan
    filt_at = plan.rindex("Filter")
    assert filt_at > win_at, "no filter below the window\n" + plan


def test_top_ngrams_is_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition partial
    top-k), never a global Sort + Limit."""
    from metric_store_release_spark.pipeline.text import top_ngrams

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(top_ngrams(df, n=3, k=20))
    assert "TakeOrderedAndProject" in plan, plan


def test_classifier_broadcast_pinned_to_weight_table(spark):
    """The classifier join must build on the MODEL side (fixed 2^18-slot
    weight table), never the corpus-scaling feature table: left to AQE,
    post-shuffle feature stats can win the build side at bench scale —
    a choice that inverts catastrophically at corpus scale."""
    from pyspark.sql import functions as F

    from metric_store_release_spark.pipeline.classifier import (
        classify_documents,
        md5_demo_weights,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(50)],
        "doc_id long, text string",
    )
    out = classify_documents(docs, md5_demo_weights(spark))
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"BroadcastHashJoin .*?Build(Left|Right)", plan)
    assert m is not None, "classifier scoring must be a broadcast hash join"
    # weights are the RIGHT side of features.join(broadcast(weights), ...)
    assert m.group(1) == "Right", plan[:1500]
