"""Split-by-interval query sharding (PromQLEngine.query_range_split).

The Cortex/Thanos query-frontend shape: a long range query is cut into
contiguous step-grid chunks, each chunk evaluated as an independent subplan
over a time-sliced source, and the union must be bit-identical to the
unsplit evaluation — including across chunk boundaries where range windows,
offsets, epoch-aligned subquery grids, and @-anchored selectors reach
outside their own chunk.
"""

from __future__ import annotations

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

S = 1000


@pytest.fixture(scope="module")
def metric(spark):
    df = corpus.load(
        spark,
        10 * S,
        [
            'http_requests{job="api", instance="0"} 0+10x200',
            'http_requests{job="api", instance="1"} 0+20x200',
            "metric 1+1x200",
        ],
    )
    df.cache().count()
    return df


def _compare(engine, samples, expr, start, end, step, split, keys=()):
    want = rows_to_dict(
        engine.query_range(samples, expr, start, end, step), list(keys)
    )
    got = rows_to_dict(
        engine.query_range_split(samples, expr, start, end, step, split),
        list(keys),
    )
    assert got.keys() == want.keys(), expr
    for k in want:
        assert got[k] == pytest.approx(want[k], nan_ok=True), (expr, k)


@pytest.mark.parametrize(
    "expr,keys",
    [
        # range window crosses every chunk boundary
        ("rate(http_requests[50s])", ("instance",)),
        # instant selector: lookback crosses boundaries
        ("sum by(job)(http_requests)", ("job",)),
        # offset shifts the scan window outside the chunk
        ("sum_over_time(metric[30s] offset 25s)", ()),
        # binop: both sides chunked identically
        ("http_requests / ignoring(instance) group_left sum(http_requests)",
         ("instance",)),
        # subquery: inner grid is epoch-aligned, not chunk-aligned
        ("sum_over_time(metric[50s:15s])", ()),
        ("avg_over_time(rate(http_requests[30s])[40s:10s])", ("instance",)),
    ],
)
def test_split_matches_unsplit(engine, metric, expr, keys):
    # 0..600 s step 10 s, split into 140 s chunks: boundaries fall mid-window
    _compare(engine, metric, expr, 0, 600 * S, 10 * S, 140 * S, keys)


def test_split_single_step_chunks(engine, metric):
    # split_ms < step_ms degenerates to one chunk per step — still exact
    _compare(engine, metric, "rate(metric[30s])", 0, 100 * S, 10 * S, S)


def test_split_at_anchors_resolve_against_parent_query(engine, metric):
    # @ start()/end() must pin to the ORIGINAL query bounds in every chunk
    for expr in (
        "sum(http_requests @ end())",
        "sum(http_requests @ start())",
        "sum_over_time((metric @ 100)[30s:10s])",
    ):
        _compare(engine, metric, expr, 0, 600 * S, 10 * S, 200 * S)


def test_split_chunk_count_and_bounds(engine, metric):
    # 61 steps split 200s/10s → 20-step chunks → 4 parts (20+20+20+1)
    df = engine.query_range_split(
        metric, "sum(metric)", 0, 600 * S, 10 * S, 200 * S
    )
    n_unions = df._jdf.queryExecution().logical().toString().count("Union")
    assert n_unions >= 1  # actually unioned, not a single evaluation
    got = rows_to_dict(df, [])
    assert len(got) == 61


def test_split_prunes_source_scan(engine, spark, tmp_path):
    # over parquet, each chunk's scan must carry its own pushed ts bounds
    path = str(tmp_path / "samples.parquet")
    corpus.load(spark, 10 * S, ["metric 1+1x200"]).write.parquet(path)
    pq = spark.read.parquet(path)
    split = engine.query_range_split(
        pq, "rate(metric[50s])", 0, 600 * S, 10 * S, 200 * S
    )
    import re

    plan = split._jdf.queryExecution().executedPlan().toString()
    # each chunk scan pushes its OWN ts lower bound: 4 chunks, 4 distinct
    lows = re.findall(r"\(ts#\d+L >= (-?\d+)\)", plan)
    assert len(set(lows)) >= 4
    # @-anchored query: split-level chunk pruning is disabled — any ts
    # bounds left are the selector's own, anchored to the fixed @ time and
    # therefore IDENTICAL across chunks (never chunk-varying)
    anchored = engine.query_range_split(
        pq, "sum(metric @ end())", 0, 600 * S, 10 * S, 200 * S
    )
    aplan = anchored._jdf.queryExecution().executedPlan().toString()
    alows = re.findall(r"\(ts#\d+L >= (-?\d+)\)", aplan)
    assert len(set(alows)) <= 1


def test_split_rejects_bad_args(engine, metric):
    with pytest.raises(ValueError):
        engine.query_range_split(metric, "metric", 0, 10 * S, 10 * S, 0)
    with pytest.raises(ValueError):
        engine.query_range_split(metric, "metric", 10 * S, 0, 10 * S, S)


# ---------------------------------------------------------------- chunk cache
def _cache_dirs(root):
    import os

    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def test_cached_matches_unsplit(engine, metric, tmp_path):
    expr = "rate(http_requests[50s])"
    want = rows_to_dict(
        engine.query_range(metric, expr, 0, 600 * S, 10 * S), ["instance"]
    )
    got = rows_to_dict(
        engine.query_range_split(
            metric, expr, 0, 600 * S, 10 * S, 200 * S,
            cache_dir=str(tmp_path),
        ),
        ["instance"],
    )
    assert got == pytest.approx(want)


def test_sliding_window_reuses_full_chunks(engine, metric, tmp_path):
    import os

    expr = "sum(metric)"
    root = str(tmp_path)
    # q1 covers absolute chunks 0..2 fully ([0, 600) at 200 s splits) plus
    # the single grid point t=600 in chunk 3 (partial -> uncached)
    engine.query_range_split(
        metric, expr, 0, 600 * S, 10 * S, 200 * S, cache_dir=root
    ).collect()
    first = {
        d: os.path.getmtime(os.path.join(root, d)) for d in _cache_dirs(root)
    }
    assert len(first) == 3
    # q2 slides forward: chunks 1..3 full, chunk 4 partial. Chunks 1-2 must
    # be REUSED (same mtime), chunk 3 newly cached.
    got = rows_to_dict(
        engine.query_range_split(
            metric, expr, 200 * S, 810 * S, 10 * S, 200 * S, cache_dir=root
        ),
        [],
    )
    second = {
        d: os.path.getmtime(os.path.join(root, d)) for d in _cache_dirs(root)
    }
    assert len(second) == 4
    for d, mt in first.items():
        assert second[d] == mt, "cached chunk was rewritten"
    want = rows_to_dict(
        engine.query_range(metric, expr, 200 * S, 810 * S, 10 * S), []
    )
    assert got == pytest.approx(want)


def test_cached_at_end_keyed_by_query_bounds(engine, metric, tmp_path):
    # @ end() results depend on the query's end: the two queries must NOT
    # share cache entries, and each must match its own direct evaluation
    expr = "sum(http_requests @ end())"
    root = str(tmp_path)
    for start, end in ((0, 600 * S), (0, 400 * S)):
        got = rows_to_dict(
            engine.query_range_split(
                metric, expr, start, end, 10 * S, 200 * S, cache_dir=root
            ),
            [],
        )
        want = rows_to_dict(
            engine.query_range(metric, expr, start, end, 10 * S), []
        )
        assert got == pytest.approx(want), (start, end)


def test_misaligned_grid_not_poisoned(engine, metric, tmp_path):
    # same chunk, different step-grid phase -> distinct cache keys
    expr = "sum(metric)"
    root = str(tmp_path)
    a = rows_to_dict(
        engine.query_range_split(
            metric, expr, 0, 400 * S, 10 * S, 200 * S, cache_dir=root
        ),
        [],
    )
    b = rows_to_dict(
        engine.query_range_split(
            metric, expr, 5 * S, 405 * S, 10 * S, 200 * S, cache_dir=root
        ),
        [],
    )
    assert set(a) != set(b)
    want_b = rows_to_dict(
        engine.query_range(metric, expr, 5 * S, 405 * S, 10 * S), []
    )
    assert b == pytest.approx(want_b)


# ----------------------------------------------------------- fresh answers
def test_split_follows_filtered_source(engine, metric):
    # answers come from the source passed in, even right after the same
    # query over a different source
    expr = "sum by(job)(http_requests)"
    engine.query_range_split(metric, expr, 0, 600 * S, 10 * S, 140 * S)
    filtered_src = metric.filter("labels['instance'] = '0'")
    filt = engine.query_range_split(
        filtered_src, expr, 0, 600 * S, 10 * S, 140 * S
    )
    want = rows_to_dict(
        engine.query_range(filtered_src, expr, 0, 600 * S, 10 * S), ["job"]
    )
    assert rows_to_dict(filt, ["job"]) == pytest.approx(want)


def test_split_refills_wiped_cache_dir(engine, metric, tmp_path):
    # wiping the cache dir (the caller-owned invalidation contract) must
    # refill it, not read dead paths
    import shutil

    expr = "sum(metric)"
    root = str(tmp_path)
    want = rows_to_dict(
        engine.query_range_split(
            metric, expr, 0, 600 * S, 10 * S, 200 * S, cache_dir=root
        ),
        [],
    )
    shutil.rmtree(root)
    rebuilt = engine.query_range_split(
        metric, expr, 0, 600 * S, 10 * S, 200 * S, cache_dir=root
    )
    assert rows_to_dict(rebuilt, []) == pytest.approx(want)
    assert len(_cache_dirs(root)) == 3


@pytest.mark.parametrize("cached", [False, True])
def test_split_sees_rows_appended_to_file_store(engine, spark, tmp_path, cached):
    # write_samples appends to a parquet store in place; a split query over
    # a fresh read of it must see the new rows. The appended series has
    # one sample at t=600 s, which only the partial tail chunk observes, so
    # the cached full chunks stay valid without wiping cache_dir.
    from metric_store_release_spark.sources.storage import (
        read_samples,
        write_samples,
    )

    path = str(tmp_path / "store")
    cache_dir = str(tmp_path / "chunks") if cached else None
    write_samples(corpus.load(spark, 10 * S, ['m{a="1"} 1+0x60']), path)

    def split():
        return rows_to_dict(
            engine.query_range_split(
                read_samples(spark, path), "sum(m)", 0, 600 * S, 10 * S,
                200 * S, cache_dir=cache_dir,
            ),
            [],
        )

    assert split()[(600 * S,)] == 1.0
    write_samples(
        corpus.load(spark, 10 * S, ['m{a="2"} 1+0x60']).filter(
            f"ts = {600 * S}"
        ),
        path,
    )
    got = split()
    assert got[(600 * S,)] == 2.0
    want = rows_to_dict(
        engine.query_range(
            read_samples(spark, path), "sum(m)", 0, 600 * S, 10 * S
        ),
        [],
    )
    assert got == pytest.approx(want)
