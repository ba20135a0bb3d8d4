"""Subquery semantics — vendor promql/testdata/subquery.test goldens."""

from __future__ import annotations

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

S = 1000


@pytest.fixture(scope="module")
def metric(spark):
    # ctr resets between 20s and 30s: order-dependent functions over a
    # subquery must see the reset through the inner grid's lag columns
    df = corpus.load(spark, 10 * S, ["metric 1 2", "ctr 0 5 10 2 6"])
    df.cache().count()
    return df


@pytest.mark.parametrize(
    "expr,at,want",
    [
        ("sum_over_time(metric[50s:10s])", 10, 3.0),
        ("sum_over_time(metric[50s:5s])", 10, 4.0),
        ("sum_over_time(metric[50s:10s])", 300, 12.0),  # lookback fills grid
        ("sum_over_time(metric[50s:10s])", 360, 2.0),  # staleness at 5m10s
        ("rate(metric[20s:10s])", 10, 0.1),
        ("rate(metric[20s:5s])", 20, 0.05),
        ("changes(ctr[50s:10s])", 40, 4.0),
        ("resets(ctr[50s:10s])", 40, 1.0),
        ("irate(ctr[50s:10s])", 30, 0.2),  # last pair straddles the reset
        ("increase(ctr[50s:10s])", 40, 16.0),  # 6 - 0 + 10 before the reset
        ("rate(ctr[50s:10s] @ 40)", 100, 0.32),  # pinned: 16 over 50 s
    ],
)
def test_basic_subqueries(engine, metric, expr, at, want):
    got = rows_to_dict(engine.query_instant(metric, expr, at * S), [])
    assert got[(at * S,)] == pytest.approx(want), expr


def test_subquery_rate_of_rate(engine, spark):
    df = corpus.load(
        spark,
        10 * S,
        [
            'http_requests{job="api-server", instance="1", group="production"} 0+20x1000 200+30x1000',
            'http_requests{job="api-server", instance="0", group="production"} 0+10x1000 100+30x1000',
            'http_requests{job="api-server", instance="0", group="canary"} 0+30x1000 300+80x1000',
            'http_requests{job="api-server", instance="1", group="canary"} 0+40x2000',
        ],
    )
    got = rows_to_dict(
        engine.query_instant(df, 'rate(http_requests{group=~"pro.*"}[1m:10s])', 8000 * S),
        ["instance"],
    )
    assert got[(8000 * S, "0")] == pytest.approx(1.0)
    assert got[(8000 * S, "1")] == pytest.approx(2.0)
    got = rows_to_dict(
        engine.query_instant(
            df, "avg_over_time(rate(http_requests[1m])[1m:1s])", 20000 * S
        ),
        ["instance", "group"],
    )
    assert got[(20000 * S, "0", "canary")] == pytest.approx(8.0)
    assert got[(20000 * S, "1", "canary")] == pytest.approx(4.0)
    assert got[(20000 * S, "1", "production")] == pytest.approx(3.0)
    assert got[(20000 * S, "0", "production")] == pytest.approx(3.0)


def test_subquery_offset_step_alignment(engine, spark):
    df = corpus.load(spark, 10 * S, ["metric1 0+1x1000"])
    cases = [
        ("sum_over_time(metric1[30s:10s])", 1000, 394.0),
        ("sum_over_time(metric1[30s:5s])", 1000, 688.0),
        ("sum_over_time(metric1[30s:10s] offset 10s)", 1010, 394.0),
        ("sum_over_time(metric1[30s:10s] offset 9s)", 1010, 297.0),
        ("sum_over_time(metric1[30s:10s] offset 7s)", 1010, 297.0),
    ]
    for expr, at, want in cases:
        got = rows_to_dict(engine.query_instant(df, expr, at * S), [])
        assert got[(at * S,)] == pytest.approx(want), expr
