"""@ modifier and staleness — vendor promql/testdata/{at_modifier,staleness}.test."""

from __future__ import annotations

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

S = 1000


@pytest.fixture(scope="module")
def metric(spark):
    df = corpus.load(
        spark, 10 * S, ['metric{job="1"} 0+1x1000', 'metric{job="2"} 0+2x1000']
    )
    df.cache().count()
    return df


def test_at_pins_selector(engine, metric):
    got = rows_to_dict(engine.query_instant(metric, "metric @ 100", 10 * S), ["job"])
    assert got == {(10 * S, "1"): 10.0, (10 * S, "2"): 20.0}


def test_at_with_offset_both_orders(engine, metric):
    for q in ["metric @ 100 offset 50s", "metric offset 50s @ 100"]:
        got = rows_to_dict(engine.query_instant(metric, q, 10 * S), ["job"])
        assert got == {(10 * S, "1"): 5.0, (10 * S, "2"): 10.0}, q


def test_at_negative_offset(engine, metric):
    for q in ["metric @ 0 offset -50s", "metric offset -50s @ 0"]:
        got = rows_to_dict(engine.query_instant(metric, q, 10 * S), ["job"])
        assert got == {(10 * S, "1"): 5.0, (10 * S, "2"): 10.0}, q


def test_at_over_a_month_of_hourly_steps(engine, metric):
    """A pinned selector copies its sample onto every step; step times past
    2^31 ms from the start (24.8 days) must not overflow."""
    hour = 3600 * S
    out = engine.query_range(metric, 'metric{job="1"} @ 100', 0, 720 * hour, hour)
    got = rows_to_dict(out, ["job"])
    assert got == {(k * hour, "1"): 10.0 for k in range(721)}


def test_at_unary(engine, metric):
    got = rows_to_dict(engine.query_instant(metric, "-metric @ 100", 10 * S), ["job"])
    assert got == {(10 * S, "1"): -10.0, (10 * S, "2"): -20.0}


def test_at_range_selector(engine, metric):
    got = rows_to_dict(
        engine.query_instant(metric, 'sum_over_time(metric{job="1"}[100s] @ 100)', 25 * S),
        ["job"],
    )
    assert got == {(25 * S, "1"): 55.0}
    for q in [
        'sum_over_time(metric{job="1"}[100s] @ 100 offset 50s)',
        'sum_over_time(metric{job="1"}[100s] offset 50s @ 100)',
    ]:
        got = rows_to_dict(engine.query_instant(metric, q, 25 * S), ["job"])
        assert got == {(25 * S, "1"): 15.0}, q


def test_at_different_timestamps_binop(engine, metric):
    got = rows_to_dict(
        engine.query_instant(
            metric, 'metric{job="1"} @ 50 + metric{job="1"} @ 100', 25 * S
        ),
        ["job"],
    )
    assert got == {(25 * S, "1"): 15.0}


def test_at_rate_with_label_replace(engine, metric):
    got = rows_to_dict(
        engine.query_instant(
            metric,
            'rate(metric{job="1"}[100s] @ 100) + label_replace(rate(metric{job="2"}[123s] @ 200), "job", "1", "", "")',
            25 * S,
        ),
        ["job"],
    )
    assert got[(25 * S, "1")] == pytest.approx(0.3)


def test_at_start_end(engine, metric):
    got = rows_to_dict(
        engine.query_range(metric, "metric{job=\"1\"} @ end()", 0, 100 * S, 50 * S),
        [],
    )
    # pinned at end (100s) → value 10 at every step
    assert got == {(0,): 10.0, (50 * S,): 10.0, (100 * S,): 10.0}


def test_timestamp_of_selector_vs_computed_vector(engine, spark):
    # engine.go: the sample time only when the argument, parens unwrapped,
    # is a vector selector; a computed vector's samples sit at the step
    df = corpus.load(spark, 60 * S, ['x{a="1"} 0+1x40'])
    t = 630 * S
    for q, want in [
        ("timestamp(x)", 600.0),
        ("timestamp((x))", 600.0),
        ("timestamp(x @ 70)", 60.0),
        ("timestamp(abs(x))", 630.0),
        ("timestamp(x * 2)", 630.0),
        ("timestamp(-x)", 630.0),
        ("timestamp(timestamp(x @ 10))", 630.0),
    ]:
        assert rows_to_dict(engine.query_instant(df, q, t), []) == {(t,): want}, q


def test_staleness_sequence(engine, spark):
    df = corpus.load(spark, 10 * S, ["metric 0 1 stale 2"])
    assert rows_to_dict(engine.query_instant(df, "metric", 10 * S), []) == {
        (10 * S,): 1.0
    }
    assert engine.query_instant(df, "metric", 20 * S).count() == 0
    assert rows_to_dict(engine.query_instant(df, "metric", 30 * S), []) == {
        (30 * S,): 2.0
    }
    # 5 minutes after the last sample it expires
    assert rows_to_dict(engine.query_instant(df, "metric", 330 * S), []) == {
        (330 * S,): 2.0
    }
    assert engine.query_instant(df, "metric", 331 * S).count() == 0


def test_staleness_range_vector(engine, spark):
    df = corpus.load(spark, 10 * S, ["metric 0 1 stale 2"])
    assert rows_to_dict(
        engine.query_instant(df, "count_over_time(metric[1m])", 30 * S), []
    ) == {(30 * S,): 3.0}
    assert rows_to_dict(
        engine.query_instant(df, "count_over_time(metric[1s])", 10 * S), []
    ) == {(10 * S,): 1.0}
    assert engine.query_instant(df, "count_over_time(metric[1s])", 20 * S).count() == 0
    assert rows_to_dict(
        engine.query_instant(df, "count_over_time(metric[10s])", 20 * S), []
    ) == {(20 * S,): 1.0}
