"""Binary operator semantics vs vendor promql/testdata/operators.test goldens."""

from __future__ import annotations

import math

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict
from tests.test_selectors import HTTP_REQUESTS, MIN


@pytest.fixture(scope="module")
def samples(spark):
    df = corpus.load(
        spark,
        5 * MIN,
        HTTP_REQUESTS[:8]
        + [
            'vector_matching_a{l="x"} 0+1x100',
            'vector_matching_a{l="y"} 0+2x50',
            'vector_matching_b{l="x"} 0+4x25',
        ],
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def nodes(spark):
    df = corpus.load(
        spark,
        5 * MIN,
        [
            'node_var{instance="abc",job="node"} 2',
            'node_role{instance="abc",job="node",role="prometheus"} 1',
            'node_cpu{instance="abc",job="node",mode="idle"} 3',
            'node_cpu{instance="abc",job="node",mode="user"} 1',
            'node_cpu{instance="def",job="node",mode="idle"} 8',
            'node_cpu{instance="def",job="node",mode="user"} 2',
            'random{foo="bar"} 1',
            'threshold{instance="abc",job="node",target="a@b.com"} 0',
        ],
    )
    df.cache().count()
    return df


def test_agg_minus_agg(engine, samples):
    got = rows_to_dict(
        engine.query_instant(
            samples, "SUM(http_requests) BY (job) - COUNT(http_requests) BY (job)", 50 * MIN
        ),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): 996.0, (50 * MIN, "app-server"): 2596.0}


def test_scalar_vector_arith(engine, samples):
    got = rows_to_dict(
        engine.query_instant(samples, "2 - SUM(http_requests) BY (job)", 50 * MIN),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): -998.0, (50 * MIN, "app-server"): -2598.0}
    got = rows_to_dict(
        engine.query_instant(samples, "1000 / SUM(http_requests) BY (job)", 50 * MIN),
        ["job"],
    )
    assert got[(50 * MIN, "app-server")] == pytest.approx(0.38461538461538464)


def test_scalar_precedence_chain(engine, samples):
    got = rows_to_dict(engine.query_instant(samples, "-2^---1*3", 50 * MIN), [])
    assert got[(50 * MIN,)] == pytest.approx(-1.5)
    got = rows_to_dict(engine.query_instant(samples, "2/-2^---1*3+2", 50 * MIN), [])
    assert got[(50 * MIN,)] == pytest.approx(-10.0)
    got = rows_to_dict(
        engine.query_instant(samples, "SUM(http_requests) BY (job) % 2 ^ 3 ^ 2", 50 * MIN),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): 488.0, (50 * MIN, "app-server"): 40.0}


def test_div_mod_edge_semantics(engine, samples):
    got = rows_to_dict(
        engine.query_instant(samples, "SUM(http_requests) BY (job) / 0", 50 * MIN),
        ["job"],
    )
    assert got[(50 * MIN, "api-server")] == math.inf
    got = rows_to_dict(
        engine.query_instant(
            samples,
            '-1 * http_requests{group="canary", instance="0", job="api-server"} / 0',
            50 * MIN,
        ),
        [],
    )
    assert got[(50 * MIN,)] == -math.inf
    got = rows_to_dict(
        engine.query_instant(
            samples,
            '0 * http_requests{group="canary", instance="0", job="api-server"} % 0',
            50 * MIN,
        ),
        [],
    )
    assert math.isnan(got[(50 * MIN,)])
    got = rows_to_dict(
        engine.query_instant(samples, "SUM(http_requests) BY (job) % 0.3", 50 * MIN),
        ["job"],
    )
    assert got[(50 * MIN, "api-server")] == pytest.approx(0.1)
    assert got[(50 * MIN, "app-server")] == pytest.approx(0.2)


def test_vector_vector_arith_drops_name(engine, samples):
    df = engine.query_instant(
        samples,
        "SUM(http_requests) BY (job) + SUM(http_requests) BY (job)",
        50 * MIN,
    )
    got = rows_to_dict(df, ["job"])
    assert got == {(50 * MIN, "api-server"): 2000.0, (50 * MIN, "app-server"): 5200.0}

    df = engine.query_instant(samples, 'http_requests{job="api-server"} + 0', 50 * MIN)
    for r in df.collect():
        assert "__name__" not in (r["labels"] or {})


def test_and_or_unless(engine, samples):
    got = rows_to_dict(
        engine.query_instant(
            samples,
            'http_requests{group="canary"} and http_requests{instance="0"}',
            50 * MIN,
        ),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): 300.0, (50 * MIN, "app-server"): 700.0}

    got = rows_to_dict(
        engine.query_instant(
            samples,
            '(http_requests{group="canary"} + 1) and on(instance) http_requests{instance="0", group="production"}',
            50 * MIN,
        ),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): 301.0, (50 * MIN, "app-server"): 701.0}

    df = engine.query_instant(
        samples,
        'http_requests{group="canary"} or http_requests{group="production"}',
        50 * MIN,
    )
    assert df.count() == 8

    # overlap: rhs duplicates dropped
    got = rows_to_dict(
        engine.query_instant(
            samples,
            '(http_requests{group="canary"} + 1) or http_requests{instance="1"}',
            50 * MIN,
        ),
        ["group", "instance", "job"],
    )
    assert len(got) == 6
    assert got[(50 * MIN, "canary", "1", "api-server")] == 401.0
    assert got[(50 * MIN, "production", "1", "api-server")] == 200.0

    got = rows_to_dict(
        engine.query_instant(
            samples,
            'http_requests{group="canary"} unless http_requests{instance="0"}',
            50 * MIN,
        ),
        ["instance", "job"],
    )
    assert got == {
        (50 * MIN, "1", "api-server"): 400.0,
        (50 * MIN, "1", "app-server"): 800.0,
    }
    assert (
        engine.query_instant(
            samples,
            'http_requests{group="canary"} unless on(job) http_requests{instance="0"}',
            50 * MIN,
        ).count()
        == 0
    )


def test_on_ignoring_division(engine, samples):
    for q in [
        'http_requests{group="canary"} / on(instance,job) http_requests{group="production"}',
        'http_requests{group="canary"} / ignoring(group) http_requests{group="production"}',
    ]:
        got = rows_to_dict(engine.query_instant(samples, q, 50 * MIN), ["instance", "job"])
        assert got == {
            (50 * MIN, "0", "api-server"): 3.0,
            (50 * MIN, "0", "app-server"): 1.4,
            (50 * MIN, "1", "api-server"): 2.0,
            (50 * MIN, "1", "app-server"): pytest.approx(4 / 3),
        }, q


def test_comparisons(engine, samples):
    got = rows_to_dict(
        engine.query_instant(samples, "SUM(http_requests) BY (job) > 1000", 50 * MIN),
        ["job"],
    )
    assert got == {(50 * MIN, "app-server"): 2600.0}
    got = rows_to_dict(
        engine.query_instant(samples, "1000 < SUM(http_requests) BY (job)", 50 * MIN),
        ["job"],
    )
    assert got == {(50 * MIN, "app-server"): 2600.0}
    got = rows_to_dict(
        engine.query_instant(samples, "SUM(http_requests) BY (job) == bool 1000", 50 * MIN),
        ["job"],
    )
    assert got == {(50 * MIN, "api-server"): 1.0, (50 * MIN, "app-server"): 0.0}
    got = rows_to_dict(engine.query_instant(samples, "0 == bool 1", 50 * MIN), [])
    assert got[(50 * MIN,)] == 0.0


def test_group_left_right(engine, nodes):
    got = rows_to_dict(
        engine.query_instant(
            nodes, "node_role * on (instance) group_right (role) node_var", 5 * MIN
        ),
        ["instance", "job", "role"],
    )
    assert got == {(5 * MIN, "abc", "node", "prometheus"): 2.0}

    got = rows_to_dict(
        engine.query_instant(
            nodes, "node_var * on (instance) group_left (role) node_role", 5 * MIN
        ),
        ["instance", "job", "role"],
    )
    assert got == {(5 * MIN, "abc", "node", "prometheus"): 2.0}

    got = rows_to_dict(
        engine.query_instant(
            nodes, "node_cpu * ignoring (role, mode) group_left (role) node_role", 5 * MIN
        ),
        ["instance", "mode", "role"],
    )
    assert got == {
        (5 * MIN, "abc", "idle", "prometheus"): 3.0,
        (5 * MIN, "abc", "user", "prometheus"): 1.0,
    }


def test_ratio_of_total(engine, nodes):
    got = rows_to_dict(
        engine.query_instant(
            nodes,
            "node_cpu / on (instance) group_left sum by (instance,job)(node_cpu)",
            5 * MIN,
        ),
        ["instance", "mode"],
    )
    assert got == {
        (5 * MIN, "abc", "idle"): 0.75,
        (5 * MIN, "abc", "user"): 0.25,
        (5 * MIN, "def", "idle"): 0.80,
        (5 * MIN, "def", "user"): 0.20,
    }
    got = rows_to_dict(
        engine.query_instant(
            nodes,
            "sum(sum by (mode, job)(node_cpu) / on (job) group_left sum by (job)(node_cpu))",
            5 * MIN,
        ),
        [],
    )
    assert got[(5 * MIN,)] == pytest.approx(1.0)


def test_group_left_comparison_keeps_name_and_includes(engine, nodes):
    df = engine.query_instant(
        nodes, "node_cpu > on(job, instance) group_left(target) threshold", 5 * MIN
    )
    rows = {
        ((r["labels"] or {}).get("__name__"), r["labels"].get("mode"),
         r["labels"].get("target")): r["value"]
        for r in df.collect()
    }
    assert rows == {
        ("node_cpu", "idle", "a@b.com"): 3.0,
        ("node_cpu", "user", "a@b.com"): 1.0,
    }


def test_group_left_on_dummy_include(engine, nodes):
    got = rows_to_dict(
        engine.query_instant(
            nodes, "node_cpu + on(dummy) group_left(foo) random*0", 5 * MIN
        ),
        ["instance", "mode", "foo"],
    )
    assert got == {
        (5 * MIN, "abc", "idle", "bar"): 3.0,
        (5 * MIN, "abc", "user", "bar"): 1.0,
        (5 * MIN, "def", "idle", "bar"): 8.0,
        (5 * MIN, "def", "user", "bar"): 2.0,
    }


def test_and_on_vector_literal(engine, samples):
    df = engine.query_instant(samples, "http_requests AND ON (dummy) vector(1)", 50 * MIN)
    assert df.count() == 8


def test_or_with_mixed_schemas(engine, samples):
    # lhs is an aggregate (no sample_ts column), rhs a raw selector
    df = engine.query_instant(
        samples,
        'sum by (job) (http_requests{group="canary"}) or vector_matching_a',
        50 * MIN,
    )
    assert df.count() == 4  # 2 jobs + 2 vector_matching_a series


def test_many_to_many_detection_default_on(samples, engine):
    # engine.go:2228-2246: the reference rejects on() collisions
    # unconditionally
    with pytest.raises(Exception, match="many-to-many"):
        engine.query_instant(
            samples,
            'http_requests{group="canary"} + on(job) http_requests{group="production"}',
            50 * MIN,
        ).collect()
    # unique matches still work
    out = engine.query_instant(
        samples,
        'http_requests{group="canary"} / ignoring(group) http_requests{group="production"}',
        50 * MIN,
    )
    assert out.count() == 4


def test_many_to_many_eval_fail_corpus(engine, spark):
    # operators.test "many-to-many matching not allowed" eval_fail cases
    df = corpus.load(
        spark, 5 * MIN,
        [
            'node_cpu{instance="a", mode="user"} 1',
            'node_cpu{instance="a", mode="system"} 1',
            'node_cpu{instance="b", mode="user"} 2',
            'node_fs{instance="a", filesystem="x"} 10',
            'node_fs{instance="a", filesystem="y"} 20',
        ],
    )
    # group_left with duplicates on the "one" (rhs) side
    with pytest.raises(Exception, match="many-to-many"):
        engine.query_instant(
            df, "node_cpu / on(instance) group_left() node_fs", 5 * MIN
        ).collect()
    # one-to-one with duplicates on both sides
    with pytest.raises(Exception, match="many-to-many"):
        engine.query_instant(
            df, "node_cpu + on(instance) node_fs", 5 * MIN
        ).collect()


def test_on_empty_and_ignoring_empty(engine, spark):
    # operators.test:429-443
    df = corpus.load(
        spark, 5 * MIN,
        ['random{foo="bar"} 2', 'metricA{baz="meh"} 3', 'metricB{baz="meh"} 4'],
    )
    got = rows_to_dict(engine.query_instant(df, "random + on() metricA", 5 * MIN), [])
    assert got == {(5 * MIN,): 5.0}
    got = rows_to_dict(
        engine.query_instant(df, "metricA + ignoring() metricB", 5 * MIN), ["baz"]
    )
    assert got == {(5 * MIN, "meh"): 7.0}
    got = rows_to_dict(engine.query_instant(df, "metricA + metricB", 5 * MIN), ["baz"])
    assert got == {(5 * MIN, "meh"): 7.0}


def test_comparison_bool_vs_filter_vector(engine, spark):
    # operators.test:455-468
    df = corpus.load(
        spark, 5 * MIN,
        ['test_total{instance="localhost"} 50', 'test_smaller{instance="localhost"} 10'],
    )
    got = rows_to_dict(
        engine.query_instant(df, "test_total > bool test_smaller", 5 * MIN), []
    )
    assert got == {(5 * MIN,): 1.0}
    out = engine.query_instant(df, "test_total > test_smaller", 5 * MIN).collect()
    assert len(out) == 1 and out[0]["value"] == 50.0
    assert out[0]["labels"].get("__name__") == "test_total"
    got = rows_to_dict(
        engine.query_instant(df, "test_total < bool test_smaller", 5 * MIN), []
    )
    assert got == {(5 * MIN,): 0.0}
    assert engine.query_instant(df, "test_total < test_smaller", 5 * MIN).count() == 0


def test_atan2_vector_and_nan(engine, spark):
    # operators.test:472-489
    df = corpus.load(spark, 5 * MIN, ["trigy 10", "trigx 20", "trigNaN NaN"])
    got = rows_to_dict(engine.query_instant(df, "trigy atan2 trigx", 5 * MIN), [])
    assert got[(5 * MIN,)] == pytest.approx(0.4636476090008061)
    got = rows_to_dict(engine.query_instant(df, "trigy atan2 trigNaN", 5 * MIN), [])
    assert math.isnan(got[(5 * MIN,)])
    got = rows_to_dict(engine.query_instant(df, "10 atan2 20", 5 * MIN), [])
    assert got[(5 * MIN,)] == pytest.approx(0.4636476090008061)
    got = rows_to_dict(engine.query_instant(df, "10 atan2 NaN", 5 * MIN), [])
    assert math.isnan(got[(5 * MIN,)])
