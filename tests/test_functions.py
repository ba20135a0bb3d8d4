"""Scalar functions, label manipulation, absent, histogram_quantile,
subqueries — vs vendor promql/testdata/{functions,histograms,subquery}.test."""

from __future__ import annotations

import math

import pytest

from metric_store_release_spark.sources import corpus
from tests.conftest import rows_to_dict

MIN = 60_000


def test_label_replace(engine, spark):
    df = corpus.load(
        spark,
        5 * MIN,
        [
            'testmetric{src="source-value-10",dst="original-destination-value"} 0',
            'testmetric{src="source-value-20",dst="original-destination-value"} 1',
        ],
    )
    got = rows_to_dict(
        engine.query_instant(
            df,
            'label_replace(testmetric, "dst", "destination-value-$1", "src", "source-value-(.*)")',
            0,
        ),
        ["src", "dst"],
    )
    assert got == {
        (0, "source-value-10", "destination-value-10"): 0.0,
        (0, "source-value-20", "destination-value-20"): 1.0,
    }
    # full-string match only — no substring rewrite
    got = rows_to_dict(
        engine.query_instant(
            df,
            'label_replace(testmetric, "dst", "destination-value-$1", "src", "value-(.*)")',
            0,
        ),
        ["src", "dst"],
    )
    assert set(got.values()) == {0.0, 1.0}
    assert all(k[2] == "original-destination-value" for k in got)


@pytest.mark.parametrize(
    "repl,want,regex",
    [
        # Go Regexp.Expand: an unknown group expands to ""
        ("a${x}b", "ab", "(.*)"),
        # the name is the longest word run: group "1x", not group 1 + "x"
        ("<$1x>", "<>", "(.*)"),
        ("<${1}x>", "<s1x>", "(.*)"),
        ("${1}0", "s10", "(.*)"),
        ("$$1 $$", "$1 $", "(.*)"),
        # a `$` that starts no reference stays literal
        ("$-${1", "$-${1", "(.*)"),
        ("a\\\\b$1", "a\\bs1", "(.*)"),
        ("$0!", "s1!", "(.*)"),
        # RE2 named groups, by name and by number
        ("$name", "s1", "(?P<name>.*)"),
        ("<${name}x>", "<s1x>", "(?P<name>.*)"),
        ("$2-$a", "1-s", "(?P<a>[a-z])(?P<b>[0-9])"),
        ("${b}", "1", "(s)(?P<b>.*)"),
    ],
)
def test_label_replace_go_template(engine, spark, repl, want, regex):
    df = corpus.load(spark, 5 * MIN, ['testmetric{src="s1"} 0'])
    out = engine.query_instant(
        df, f'label_replace(testmetric, "dst", "{repl}", "src", "{regex}")', 0
    ).collect()
    assert [r["labels"].get("dst") for r in out] == [want]


def test_label_join(engine, spark):
    df = corpus.load(
        spark, 5 * MIN, ['m{a="x",b="y"} 1']
    )
    got = rows_to_dict(
        engine.query_instant(df, 'label_join(m, "dst", "-", "a", "b")', 0),
        ["dst"],
    )
    assert got == {(0, "x-y"): 1.0}


def test_clamp_round(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["m 0 5 10 15"])
    assert rows_to_dict(engine.query_instant(df, "clamp(m, 3, 12)", 15 * MIN), []) == {
        (15 * MIN,): 12.0
    }
    assert rows_to_dict(engine.query_instant(df, "clamp_max(m, 7)", 15 * MIN), []) == {
        (15 * MIN,): 7.0
    }
    assert rows_to_dict(engine.query_instant(df, "clamp_min(m, 20)", 15 * MIN), []) == {
        (15 * MIN,): 20.0
    }
    df2 = corpus.load(spark, 5 * MIN, ["v 2.5"])
    assert rows_to_dict(engine.query_instant(df2, "round(v)", 0), []) == {(0,): 3.0}
    assert rows_to_dict(engine.query_instant(df2, "round(v, 5)", 0), []) == {(0,): 5.0}
    # ties round UP
    df3 = corpus.load(spark, 5 * MIN, ["v -2.5"])
    assert rows_to_dict(engine.query_instant(df3, "round(v)", 0), []) == {(0,): -2.0}


def test_math_functions(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["m 4 -9"])
    assert rows_to_dict(engine.query_instant(df, "sqrt(m)", 0), []) == {(0,): 2.0}
    assert rows_to_dict(engine.query_instant(df, "abs(m)", 5 * MIN), []) == {
        (5 * MIN,): 9.0
    }
    assert rows_to_dict(engine.query_instant(df, "sgn(m)", 5 * MIN), []) == {
        (5 * MIN,): -1.0
    }
    got = rows_to_dict(engine.query_instant(df, "exp(ln(m))", 0), [])
    assert got[(0,)] == pytest.approx(4.0)
    # name dropped by math functions
    out = engine.query_instant(df, "abs(m)", 0).collect()
    assert "__name__" not in (out[0]["labels"] or {})


def test_date_functions(engine, spark):
    # 2021-01-04T03:02:01Z
    ts = 1609729321.0
    df = corpus.load(spark, 5 * MIN, [f"m {ts}"])
    cases = {
        "minute(m)": 2.0,
        "hour(m)": 3.0,
        "day_of_week(m)": 1.0,  # Monday
        "day_of_month(m)": 4.0,
        "day_of_year(m)": 4.0,
        "days_in_month(m)": 31.0,
        "month(m)": 1.0,
        "year(m)": 2021.0,
    }
    for q, want in cases.items():
        assert rows_to_dict(engine.query_instant(df, q, 0), [])[(0,)] == want, q


def test_time_and_zero_arg_date(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["m 1"])
    got = rows_to_dict(engine.query_instant(df, "time()", 120_000), [])
    assert got[(120_000,)] == 120.0
    got = rows_to_dict(engine.query_instant(df, "timestamp(m)", 120_000), [])
    assert got[(120_000,)] == 0.0  # sample written at ts=0


def test_scalar_and_vector(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["m 7", 'n{a="1"} 1', 'n{a="2"} 2'])
    got = rows_to_dict(engine.query_instant(df, "scalar(m) * 2", 0), [])
    assert got[(0,)] == 14.0
    # scalar() of a multi-series vector is NaN
    got = rows_to_dict(engine.query_instant(df, "scalar(n)", 0), [])
    assert math.isnan(got[(0,)])
    got = rows_to_dict(engine.query_instant(df, "vector(1)", 0), [])
    assert got[(0,)] == 1.0


def test_absent(engine, spark):
    df = corpus.load(spark, 5 * MIN, ['m{job="x"} 1'])
    assert engine.query_instant(df, "absent(m)", 0).count() == 0
    got = engine.query_instant(df, 'absent(nonexistent{job="myjob"})', 0).collect()
    assert len(got) == 1
    assert got[0]["value"] == 1.0
    assert got[0]["labels"] == {"job": "myjob"}
    # regex matchers contribute no labels
    got = engine.query_instant(
        df, 'absent(nonexistent{job="myjob", instance=~".*"})', 0
    ).collect()
    assert got[0]["labels"] == {"job": "myjob"}


def test_absent_over_time(engine, spark):
    df = corpus.load(spark, 5 * MIN, ['m{job="x"} 1 1 1'])
    assert engine.query_instant(df, "absent_over_time(m[10m])", 10 * MIN).count() == 0
    got = engine.query_instant(
        df, 'absent_over_time(q{job="y"}[10m])', 10 * MIN
    ).collect()
    assert len(got) == 1 and got[0]["labels"] == {"job": "y"}


def test_sort(engine, spark):
    df = corpus.load(
        spark, 5 * MIN,
        ['m{i="a"} 3', 'm{i="b"} 1', 'm{i="c"} 2'],
    )
    out = [r["labels"]["i"] for r in engine.query_instant(df, "sort(m)", 0).collect()]
    assert out == ["b", "c", "a"]
    out = [
        r["labels"]["i"] for r in engine.query_instant(df, "sort_desc(m)", 0).collect()
    ]
    assert out == ["a", "c", "b"]


HIST = [
    'testhistogram_bucket{le="0.1", start="positive"} 0+5x10',
    'testhistogram_bucket{le=".2", start="positive"} 0+7x10',
    'testhistogram_bucket{le="1e0", start="positive"} 0+11x10',
    'testhistogram_bucket{le="+Inf", start="positive"} 0+12x10',
    'testhistogram_bucket{le="-.2", start="negative"} 0+1x10',
    'testhistogram_bucket{le="-0.1", start="negative"} 0+2x10',
    'testhistogram_bucket{le="0.3", start="negative"} 0+2x10',
    'testhistogram_bucket{le="+Inf", start="negative"} 0+3x10',
]


def test_histogram_quantile(engine, spark):
    df = corpus.load(spark, 5 * MIN, HIST)
    got = rows_to_dict(
        engine.query_instant(df, "histogram_quantile(0.8, testhistogram_bucket)", 50 * MIN),
        ["start"],
    )
    assert got[(50 * MIN, "positive")] == pytest.approx(0.72)
    assert got[(50 * MIN, "negative")] == pytest.approx(0.3)
    got = rows_to_dict(
        engine.query_instant(df, "histogram_quantile(-0.1, testhistogram_bucket)", 50 * MIN),
        ["start"],
    )
    assert got[(50 * MIN, "positive")] == -math.inf
    got = rows_to_dict(
        engine.query_instant(df, "histogram_quantile(1.01, testhistogram_bucket)", 50 * MIN),
        ["start"],
    )
    assert got[(50 * MIN, "positive")] == math.inf


def test_histogram_quantile_skips_unparsable_le(engine, spark):
    """A bucket whose `le` does not parse is skipped, not an error
    (functions.go: a ParseFloat failure drops the sample)."""
    buckets = ['h_bucket{le="0.5"} 5', 'h_bucket{le="+Inf"} 10']
    q = "histogram_quantile(0.5, h_bucket)"
    with_bad = corpus.load(spark, 5 * MIN, buckets + ['h_bucket{le="abc"} 7'])
    without = corpus.load(spark, 5 * MIN, buckets)
    got = rows_to_dict(engine.query_instant(with_bad, q, 0), [])
    assert got == rows_to_dict(engine.query_instant(without, q, 0), [])
    assert got == {(0,): pytest.approx(0.5)}


def test_histogram_quantile_of_rate(engine, spark):
    df = corpus.load(spark, 5 * MIN, HIST)
    got = rows_to_dict(
        engine.query_instant(
            df, "histogram_quantile(0.2, rate(testhistogram_bucket[5m]))", 50 * MIN
        ),
        ["start"],
    )
    assert got[(50 * MIN, "positive")] == pytest.approx(0.048)
    assert got[(50 * MIN, "negative")] == pytest.approx(-0.2)
    got = rows_to_dict(
        engine.query_instant(
            df, "histogram_quantile(0.5, rate(testhistogram_bucket[5m]))", 50 * MIN
        ),
        ["start"],
    )
    assert got[(50 * MIN, "positive")] == pytest.approx(0.15)
    assert got[(50 * MIN, "negative")] == pytest.approx(-0.15)


def test_histogram_quantile_aggregated(engine, spark):
    series = [
        'request_duration_seconds_bucket{job="job1", instance="ins1", le="0.1"} 0+1x10',
        'request_duration_seconds_bucket{job="job1", instance="ins1", le="0.2"} 0+3x10',
        'request_duration_seconds_bucket{job="job1", instance="ins1", le="+Inf"} 0+4x10',
        'request_duration_seconds_bucket{job="job1", instance="ins2", le="0.1"} 0+2x10',
        'request_duration_seconds_bucket{job="job1", instance="ins2", le="0.2"} 0+5x10',
        'request_duration_seconds_bucket{job="job1", instance="ins2", le="+Inf"} 0+6x10',
        'request_duration_seconds_bucket{job="job2", instance="ins1", le="0.1"} 0+3x10',
        'request_duration_seconds_bucket{job="job2", instance="ins1", le="0.2"} 0+4x10',
        'request_duration_seconds_bucket{job="job2", instance="ins1", le="+Inf"} 0+6x10',
        'request_duration_seconds_bucket{job="job2", instance="ins2", le="0.1"} 0+4x10',
        'request_duration_seconds_bucket{job="job2", instance="ins2", le="0.2"} 0+7x10',
        'request_duration_seconds_bucket{job="job2", instance="ins2", le="+Inf"} 0+9x10',
    ]
    df = corpus.load(spark, 5 * MIN, series)
    got = rows_to_dict(
        engine.query_instant(
            df,
            "histogram_quantile(0.5, rate(request_duration_seconds_bucket[5m]))",
            50 * MIN,
        ),
        ["instance", "job"],
    )
    assert got[(50 * MIN, "ins1", "job1")] == pytest.approx(0.15)
    assert got[(50 * MIN, "ins2", "job1")] == pytest.approx(0.13333333333333333)
    assert got[(50 * MIN, "ins1", "job2")] == pytest.approx(0.1)
    assert got[(50 * MIN, "ins2", "job2")] == pytest.approx(0.11666666666666667)


def test_subquery_basic(engine, spark):
    # subquery.test:1-18 style
    df = corpus.load(spark, 10_000, ["metric 1 2"])
    got = rows_to_dict(
        engine.query_instant(df, "sum_over_time(metric[50s:10s])", 100_000), []
    )
    # inner grid at 60..100s? window [50s,100s] aligned steps 50,60,..,100 →
    # lookback fills: samples at 0(1),10(2) → all later steps see 2
    assert got[(100_000,)] == 12.0


def test_subquery_with_inner_function(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["ctr 0+10x20"])
    got = rows_to_dict(
        engine.query_instant(df, "avg_over_time(rate(ctr[10m])[30m:5m])", 60 * MIN), []
    )
    assert got[(60 * MIN,)] == pytest.approx(10 / 300)


def test_quantile_over_time_edges(engine, spark):
    df = corpus.load(spark, 5 * MIN, ["data 0 10 20 30 40"])
    got = rows_to_dict(
        engine.query_instant(df, "quantile_over_time(-1, data[20m])", 20 * MIN), []
    )
    assert got[(20 * MIN,)] == -math.inf
    got = rows_to_dict(
        engine.query_instant(df, "quantile_over_time(2, data[20m])", 20 * MIN), []
    )
    assert got[(20 * MIN,)] == math.inf


def test_label_replace_empty_value_drops_label(engine, spark):
    # functions.test:288-291
    df = corpus.load(
        spark, 5 * MIN,
        ['testmetric{src="s10",dst="orig"} 0', 'testmetric{src="s20",dst="orig"} 1'],
    )
    out = engine.query_instant(
        df, 'label_replace(testmetric, "dst", "", "dst", ".*")', 0
    ).collect()
    assert all("dst" not in r["labels"] for r in out)
    assert {r["labels"]["src"] for r in out} == {"s10", "s20"}


def test_label_replace_errors(engine, spark):
    from metric_store_release_spark.engine.evaluator import PromQLEvalError

    df = corpus.load(spark, 5 * MIN, ['testmetric{src="x"} 0'])
    with pytest.raises(PromQLEvalError, match="regular expression"):
        engine.query_instant(
            df, 'label_replace(testmetric, "dst", "value-$1", "src", "(.*")', 0
        )
    with pytest.raises(PromQLEvalError, match="destination label"):
        engine.query_instant(
            df, 'label_replace(testmetric, "invalid-label-name", "", "src", "(.*)")', 0
        )
