"""Static uniqueness proof (VectorResult.unique) vs the runtime assertions.

The evaluator leaves the same-labelset and many-to-many assertions out of
the plan only where the plan itself guarantees one row per (t, match key).
These tests pin both halves: every collision the reference rejects
(collision.test, operators.test, histograms.test) still raises, whatever
columns the action reads, and the proof is granted exactly where it holds.
"""

from __future__ import annotations

import pytest

from metric_store_release_spark.engine.evaluator import EvalContext, Evaluator
from metric_store_release_spark.engine.results import UniqueSeries
from metric_store_release_spark.promql.parser import parse
from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

MIN = 60_000


@pytest.fixture(scope="module")
def collide(spark):
    df = corpus.load(
        spark,
        MIN,
        [
            'a_total{job="j", instance="0"} 0+1x20',
            'b_total{job="j", instance="0"} 0+2x20',
            'a_bucket{job="j", le="1"} 0+1x20',
            'a_bucket{job="j", le="+Inf"} 0+2x20',
            'b_bucket{job="j", le="1"} 0+1x20',
            'b_bucket{job="j", le="+Inf"} 0+3x20',
            'x{job="j", instance="0"} 1x20',
            'x{job="j", instance="1"} 2x20',
            'y{job="j", instance="0"} 4x20',
        ],
    )
    df.cache().count()
    return df


# count() and a labels-only read prune the value column: the assertions
# must not live there
ACTIONS = {
    "collect": lambda df: df.collect(),
    "count": lambda df: df.count(),
    "labels": lambda df: df.select("labels").collect(),
}


@pytest.mark.parametrize("action", list(ACTIONS))
@pytest.mark.parametrize(
    "query, message",
    [
        ('rate({__name__=~"a_total|b_total"}[5m])', "same labelset"),
        ('histogram_quantile(0.9, {__name__=~"a_bucket|b_bucket"})',
         "same labelset"),
        ('histogram_quantile(0.9, sum by (__name__, le) '
         '({__name__=~"a_bucket|b_bucket"}))', "same labelset"),
        ('-sum by (__name__, job) ({__name__=~"a_total|b_total"})',
         "same labelset"),
        ("sum by (job, instance) (x) / on(job) sum by (job) (y)",
         "many-to-many"),
        # range-function output: label keys unknown, so on() keeps the check
        ("rate(x[5m]) / on(job) rate(y[5m])", "many-to-many"),
        ("rate(x[5m]) / ignoring(instance) rate(y[5m])", "many-to-many"),
        # a collision inside a subquery's inner evaluation
        ('max_over_time(ceil({__name__=~"a_total|b_total"})[2m:1m])',
         "same labelset"),
    ],
)
def test_collisions_still_raise(engine, collide, query, message, action):
    out = engine.query_range(collide, query, 10 * MIN, 15 * MIN, MIN)
    with pytest.raises(Exception, match=message):
        ACTIONS[action](out)


def _unique(spark, samples, query):
    ctx = EvalContext(
        spark=spark,
        samples=samples,
        start_ms=10 * MIN,
        end_ms=15 * MIN,
        step_ms=MIN,
        lookback_ms=5 * MIN,
    )
    return Evaluator(ctx).eval(parse(query)).unique


@pytest.mark.parametrize(
    "query, proof",
    [
        ("rate(a_total[5m])", UniqueSeries()),
        ('rate({__name__="a_total", job="j"}[5m])', UniqueSeries()),
        ("sum by (job) (x)", UniqueSeries(frozenset({"job"}))),
        ("sum without (instance) (x)", UniqueSeries()),
        ('count_values("v", x)', UniqueSeries(frozenset({"v"}))),
        ('count_values("v", sum by (job) (x))',
         UniqueSeries(frozenset({"v"}))),
        ('count_values("v", x) by (job)',
         UniqueSeries(frozenset({"job", "v"}))),
        ("histogram_quantile(0.9, sum by (job, le) (rate(a_bucket[5m])))",
         UniqueSeries(frozenset({"job"}))),
        ("2 * sum by (job) (x) > 1", UniqueSeries(frozenset({"job"}))),
        ("-(sum by (job) (x))", UniqueSeries(frozenset({"job"}))),
        # no proof: the checks stay in the plan
        ('rate({__name__=~"a_total|b_total"}[5m])', None),
        ("rate(a_total[5m:1m])", None),
        ("last_over_time(a_total[5m])", None),
        ("x", None),
        ("abs(x)", None),
        ("topk(1, sum by (job) (x))", None),
        ("sum by (__name__) (x)", None),
        ('count_values("__name__", sum by (job) (x))', None),
        ("sum by (job) (x) / sum by (job) (y)", None),
    ],
)
def test_proof_granted_only_where_it_holds(spark, collide, query, proof):
    assert _unique(spark, collide, query) == proof


@pytest.mark.parametrize(
    "query, keys, value",
    [
        # x sums to 1 + 2 per step, y to 4
        ("sum by (job) (x) / sum by (job) (y)", ["job"], 0.75),
        ("sum by (job) (x) / on(job) sum by (job) (y)", ["job"], 0.75),
        ("sum by (job) (x) / ignoring(instance) sum by (job) (y)", ["job"],
         0.75),
        # b_total climbs twice as fast as a_total over the same timestamps
        ("rate(a_total[5m]) / rate(b_total[5m])", ["job", "instance"], 0.5),
        # le="+Inf" climbs twice as fast as le="1": rank 0.9 of the total
        # lands in the +Inf bucket, which answers the highest finite bound
        ('histogram_quantile(0.9, sum by (le) (rate(a_bucket[5m])))', [], 1.0),
    ],
)
def test_proven_shapes_answer_as_unchecked(engine, collide, query, keys, value):
    """Where the proof skips an assertion, the plan holds none, and the
    answer is the fixture's: one value per step on the one series."""
    out = engine.query_range(collide, query, 10 * MIN, 15 * MIN, MIN)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "raise_error(" not in plan, plan
    labels = {"job": "j", "instance": "0"}
    want = {
        (t * MIN,) + tuple(labels[k] for k in keys): value
        for t in range(10, 16)
    }
    assert rows_to_dict(out, keys) == pytest.approx(want)
