"""Range-function semantics vs vendor promql/testdata/functions.test goldens."""

from __future__ import annotations

import math

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

MIN = 60_000


def q(engine, spark, series, step_min, promql, at_min):
    df = corpus.load(spark, step_min * MIN, series)
    return engine.query_instant(df, promql, at_min * MIN)


def test_resets(engine, spark):
    series = [
        'http_requests{path="/foo"} 1 2 3 0 1 0 0 1 2 0',
        'http_requests{path="/bar"} 1 2 3 4 5 1 2 3 4 5',
        'http_requests{path="/biz"} 0 0 0 0 0 1 1 1 1 1',
    ]
    for rng, want in [
        ("5m", {"/foo": 0, "/bar": 0, "/biz": 0}),
        ("20m", {"/foo": 1, "/bar": 0, "/biz": 0}),
        ("30m", {"/foo": 2, "/bar": 1, "/biz": 0}),
        ("50m", {"/foo": 3, "/bar": 1, "/biz": 0}),
    ]:
        got = rows_to_dict(
            q(engine, spark, series, 5, f"resets(http_requests[{rng}])", 50), ["path"]
        )
        assert got == {(50 * MIN, k): float(v) for k, v in want.items()}, rng


def test_changes(engine, spark):
    series = [
        'http_requests{path="/foo"} 1 2 3 0 1 0 0 1 2 0',
        'http_requests{path="/bar"} 1 2 3 4 5 1 2 3 4 5',
        'http_requests{path="/biz"} 0 0 0 0 0 1 1 1 1 1',
    ]
    for rng, want in [
        ("5m", {"/foo": 0, "/bar": 0, "/biz": 0}),
        ("20m", {"/foo": 3, "/bar": 3, "/biz": 0}),
        ("50m", {"/foo": 8, "/bar": 9, "/biz": 1}),
    ]:
        got = rows_to_dict(
            q(engine, spark, series, 5, f"changes(http_requests[{rng}])", 50), ["path"]
        )
        assert got == {(50 * MIN, k): float(v) for k, v in want.items()}, rng


def test_changes_nan(engine, spark):
    series = ['x{a="b"} NaN NaN NaN', 'x{a="c"} 0 NaN 0']
    got = rows_to_dict(q(engine, spark, series, 5, "changes(x[15m])", 15), ["a"])
    assert got == {(15 * MIN, "b"): 0.0, (15 * MIN, "c"): 2.0}


def test_increase(engine, spark):
    series = [
        'http_requests{path="/foo"} 0+10x10',
        'http_requests{path="/bar"} 0+10x5 0+10x5',
    ]
    got = rows_to_dict(
        q(engine, spark, series, 5, "increase(http_requests[50m])", 50), ["path"]
    )
    assert got[(50 * MIN, "/foo")] == pytest.approx(100.0)
    assert got[(50 * MIN, "/bar")] == pytest.approx(90.0)
    got = rows_to_dict(
        q(engine, spark, series, 5, "increase(http_requests[100m])", 50), ["path"]
    )
    assert got[(50 * MIN, "/foo")] == pytest.approx(100.0)
    assert got[(50 * MIN, "/bar")] == pytest.approx(90.0)


def test_increase_counter_reset_zero_restart(engine, spark):
    series = ['http_requests{path="/foo"} 0 1 2 3 2 3 4']
    got = rows_to_dict(
        q(engine, spark, series, 5, "increase(http_requests[30m])", 30), ["path"]
    )
    assert got[(30 * MIN, "/foo")] == pytest.approx(7.0)


def test_rate_reset_middle_and_end(engine, spark):
    series = [
        "testcounter_reset_middle 0+10x4 0+10x5",
        "testcounter_reset_end 0+10x9 0 10",
    ]
    got = rows_to_dict(
        q(engine, spark, series, 5, "rate(testcounter_reset_middle[50m])", 50), []
    )
    assert got[(50 * MIN,)] == pytest.approx(0.03)
    got = rows_to_dict(
        q(engine, spark, series, 5, "rate(testcounter_reset_end[5m])", 50), []
    )
    assert got[(50 * MIN,)] == pytest.approx(0.0)


def test_rate_window_and_offset(engine, spark):
    series = [
        'calculate_rate_offset{x="a"} 0+10x10',
        'calculate_rate_offset{x="b"} 0+20x10',
        "calculate_rate_window 0+80x10",
    ]
    got = rows_to_dict(
        q(engine, spark, series, 5, "rate(calculate_rate_window[50m])", 50), []
    )
    assert got[(50 * MIN,)] == pytest.approx(0.26666666666666666)
    got = rows_to_dict(
        q(engine, spark, series, 5, "rate(calculate_rate_offset[10m] offset 5m)", 50),
        ["x"],
    )
    assert got[(50 * MIN, "a")] == pytest.approx(0.03333333333333333)
    assert got[(50 * MIN, "b")] == pytest.approx(0.06666666666666667)


def test_rate_zero_cutoff(engine, spark):
    # counters cannot be negative: extrapolation clamps at the zero crossing
    series = [
        'testcounter_zero_cutoff{start="0m"} 0+240x10',
        'testcounter_zero_cutoff{start="1m"} 60+240x10',
        'testcounter_zero_cutoff{start="2m"} 120+240x10',
        'testcounter_zero_cutoff{start="3m"} 180+240x10',
        'testcounter_zero_cutoff{start="4m"} 240+240x10',
        'testcounter_zero_cutoff{start="5m"} 300+240x10',
    ]
    df = corpus.load(spark, 4 * MIN, series)
    got = rows_to_dict(
        engine.query_instant(df, "rate(testcounter_zero_cutoff[20m])", 50 * MIN),
        ["start"],
    )
    for lbl in ["0m", "1m", "2m", "3m", "4m", "5m"]:
        assert got[(50 * MIN, lbl)] == pytest.approx(0.6), lbl


def test_irate(engine, spark):
    series = [
        'http_requests{path="/foo"} 0+10x10',
        'http_requests{path="/bar"} 0+10x5 0+10x5',
    ]
    got = rows_to_dict(q(engine, spark, series, 5, "irate(http_requests[50m])", 50), ["path"])
    assert got[(50 * MIN, "/foo")] == pytest.approx(1 / 30)
    assert got[(50 * MIN, "/bar")] == pytest.approx(1 / 30)
    got = rows_to_dict(q(engine, spark, series, 5, "irate(http_requests[50m])", 30), ["path"])
    assert got[(30 * MIN, "/foo")] == pytest.approx(1 / 30)
    assert got[(30 * MIN, "/bar")] == pytest.approx(0.0)


def test_delta_idelta(engine, spark):
    series = [
        'http_requests{path="/foo"} 0 50 100 150 200',
        'http_requests{path="/bar"} 200 150 100 50 0',
    ]
    got = rows_to_dict(q(engine, spark, series, 5, "delta(http_requests[20m])", 20), ["path"])
    assert got[(20 * MIN, "/foo")] == pytest.approx(200.0)
    assert got[(20 * MIN, "/bar")] == pytest.approx(-200.0)

    series = [
        'http_requests{path="/foo"} 0 50 100 150',
        'http_requests{path="/bar"} 0 50 100 50',
    ]
    got = rows_to_dict(q(engine, spark, series, 5, "idelta(http_requests[20m])", 20), ["path"])
    assert got[(20 * MIN, "/foo")] == pytest.approx(50.0)
    assert got[(20 * MIN, "/bar")] == pytest.approx(-50.0)


def test_deriv_predict_linear(engine, spark):
    series = [
        "testcounter_reset_middle 0+10x4 0+10x5",
        'http_requests{job="app-server", instance="1", group="canary"} 0+80x10',
    ]
    got = rows_to_dict(
        q(engine, spark, series, 5, "deriv(http_requests[50m])", 50),
        ["job"],
    )
    assert got[(50 * MIN, "app-server")] == pytest.approx(0.26666666666666666)
    got = rows_to_dict(
        q(engine, spark, series, 5, "deriv(testcounter_reset_middle[100m])", 50), []
    )
    assert got[(50 * MIN,)] == pytest.approx(0.010606060606060607)
    got = rows_to_dict(
        q(engine, spark, series, 5, "predict_linear(testcounter_reset_middle[100m], 3600)", 50),
        [],
    )
    assert got[(50 * MIN,)] == pytest.approx(76.81818181818181)
    # @ pins the window; the intercept tracks the eval time
    got = rows_to_dict(
        q(engine, spark, series, 5,
          "predict_linear(testcounter_reset_middle[100m] @ 3000, 3600)", 10),
        [],
    )
    assert got[(10 * MIN,)] == pytest.approx(51.36363636363637)


def test_over_time_family(engine, spark):
    series = ["data 0 10 20 30 40"]
    at = 20
    cases = {
        "sum_over_time(data[20m])": 100.0,
        "avg_over_time(data[20m])": 20.0,
        "min_over_time(data[20m])": 0.0,
        "max_over_time(data[20m])": 40.0,
        "count_over_time(data[20m])": 5.0,
        "last_over_time(data[20m])": 40.0,
        "present_over_time(data[20m])": 1.0,
        "stddev_over_time(data[20m])": pytest.approx(math.sqrt(200.0)),
        "stdvar_over_time(data[20m])": pytest.approx(200.0),
        "quantile_over_time(0.5, data[20m])": 20.0,
    }
    for expr, want in cases.items():
        got = rows_to_dict(q(engine, spark, series, 5, expr, at), [])
        assert got[(at * MIN,)] == want, expr


def test_holt_winters(engine, spark):
    # functions.test:476-486 (load 10s, eval at 8000s)
    series = [
        'http_requests{job="api-server", instance="0", group="production"} 0+10x1000 100+30x1000',
        'http_requests{job="api-server", instance="1", group="production"} 0+20x1000 200+30x1000',
        'http_requests{job="api-server", instance="0", group="canary"} 0+30x1000 300+80x1000',
        'http_requests{job="api-server", instance="1", group="canary"} 0+40x2000',
    ]
    df = corpus.load(spark, 10_000, series)
    got = rows_to_dict(
        engine.query_instant(df, "holt_winters(http_requests[1m], 0.01, 0.1)", 8_000_000),
        ["instance", "group"],
    )
    assert got[(8_000_000, "0", "production")] == pytest.approx(8000.0)
    assert got[(8_000_000, "1", "production")] == pytest.approx(16000.0)
    assert got[(8_000_000, "0", "canary")] == pytest.approx(24000.0)
    assert got[(8_000_000, "1", "canary")] == pytest.approx(32000.0)


def test_rate_range_query_multiple_steps(engine, spark):
    series = ["ctr 0+10x20"]
    df = corpus.load(spark, 5 * MIN, series)
    out = engine.query_range(df, "rate(ctr[10m])", 10 * MIN, 30 * MIN, 5 * MIN)
    got = rows_to_dict(out, [])
    for t in range(10, 31, 5):
        assert got[(t * MIN,)] == pytest.approx(10 / 300), t
