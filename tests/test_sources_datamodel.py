"""Exposition parser, sanitization, label truncation, sig collision-freedom,
and `datamodel.sig` as the one signature of the storage and API paths."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark import api
from metric_store_release_spark.datamodel import (
    SAMPLES_SCHEMA,
    sanitize_label_name,
    sanitize_metric_name,
    sig,
    truncate_label_values,
)
from metric_store_release_spark.sources import federation, storage


def test_parse_exposition(spark, engine):
    from metric_store_release_spark.sources.exposition import parse_exposition

    body = "\n".join(
        [
            "# HELP http_requests_total Total requests.",
            "# TYPE http_requests_total counter",
            'http_requests_total{method="get",code="200"} 1027 1395066363000',
            'http_requests_total{method="post",code="400"} 3',
            "go_goroutines 42",
            'weird_value{x="a\\"b"} NaN',
            "malformed line without value-ish suffix maybe",
        ]
    )
    scrapes = spark.createDataFrame(
        [("host:9100", 1_700_000_000_000, body)], "target string, scrape_ts long, body string"
    )
    rows = {
        (r["name"], tuple(sorted(r["labels"].items()))): r
        for r in parse_exposition(scrapes).collect()
    }
    k1 = ("http_requests_total", (("code", "200"), ("instance", "host:9100"), ("method", "get")))
    assert rows[k1]["value"] == 1027.0
    assert rows[k1]["ts"] == 1395066363000  # explicit timestamp honored
    k2 = ("go_goroutines", (("instance", "host:9100"),))
    assert rows[k2]["value"] == 42.0
    assert rows[k2]["ts"] == 1_700_000_000_000  # scrape time default
    nan_rows = [r for (n, _), r in rows.items() if n == "weird_value"]
    assert len(nan_rows) == 1 and math.isnan(nan_rows[0]["value"])
    # parsed samples feed the engine directly
    out = engine.query_instant(
        parse_exposition(scrapes),
        'sum(http_requests_total{code=~"2.."})',
        1395066363000,
    ).collect()
    assert [r["value"] for r in out] == [1027.0]


def test_sanitize_names(spark):
    df = spark.createDataFrame(
        [("2bad-name",), ("good:name",), ("sp ace",)], "s string"
    )
    got = [r["m"] for r in df.select(sanitize_metric_name(F.col("s")).alias("m")).collect()]
    assert got == ["_2bad_name", "good:name", "sp_ace"]
    got = [r["m"] for r in df.select(sanitize_label_name(F.col("s")).alias("m")).collect()]
    assert got == ["_2bad_name", "good_name", "sp_ace"]  # labels reject colons


def test_truncate_label_values(spark):
    df = spark.createDataFrame([({"k": "x" * 300},)], "labels map<string,string>")
    out = df.select(truncate_label_values(F.col("labels")).alias("l")).collect()
    assert len(out[0]["l"]["k"]) == 256


def test_sig_collision_free(spark):
    # vendor testdata/collision.test guards against label-hash collisions;
    # the signature here is the sorted entry array itself — collision-free
    df = spark.createDataFrame(
        [
            ({"a": "1", "b": "2"},),
            ({"a": "1,b=2"},),  # would collide under naive string concat
            ({"ab": "12"},),
        ],
        "labels map<string,string>",
    )
    sigs = df.select(sig(F.col("labels")).alias("s")).distinct()
    assert sigs.count() == 3


def test_sig_is_array_sort_order_without_lambda(spark):
    """`sig` sorts with `sort_array`, whose order (key, then value) is the
    default-comparator `array_sort`'s, and plans no comparator lambda."""
    df = spark.createDataFrame(
        [
            ({"b": "1", "a": "2"},),
            ({"zeta": "x", "ünï": "y", "a": "z"},),
            ({"a": None, "b": "v"},),
            ({},),
        ],
        "labels map<string,string>",
    )
    rows = df.select(
        sig(F.col("labels")).alias("s"),
        F.array_sort(F.map_entries("labels")).alias("ref"),
    ).collect()
    for r in rows:
        assert r["s"] == r["ref"], r
    assert [e["key"] for e in rows[1]["s"]] == ["a", "zeta", "ünï"]
    assert rows[3]["s"] == []
    expr = df.select(sig(F.col("labels")))._jdf.queryExecution().analyzed().toString()
    assert "lambdafunction" not in expr, expr


#: functions outside the engine that key series by their signature: name →
#: call over a samples frame, returning a DataFrame or collecting its own
SERIES_USERS = {
    "downsample_samples": lambda s: storage.downsample_samples(s, 60_000),
    "redownsample": lambda s: storage.redownsample(
        storage.downsample_samples(s, 60_000), 120_000
    ),
    "correlate_series": lambda s: storage.correlate_series(
        s, "m", {"a": "1"}, step_ms=60_000, min_points=1
    ),
    "series_signature": lambda s: s.select(storage.series_signature(F.col("labels"))),
    "_dedup_replicas": federation._dedup_replicas,
    "api.series": lambda s: api.series(s, ["m"]),
}


@pytest.mark.parametrize("name", SERIES_USERS)
def test_series_signature_users_plan_no_array_sort(spark, monkeypatch, name):
    """They build the signature with `datamodel.sig`: no `array_sort`, whose
    default comparator is a lambda, in the plans they analyse."""
    rows = [
        (ts, "m", float(ts // 60_000), {"b": "2", "a": a}, False)
        for ts in (0, 60_000, 120_000)
        for a in ("1", "2")
    ]
    samples = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    plans = []
    cls = type(samples)
    collect = cls.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().analyzed().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording_collect)
    out = SERIES_USERS[name](samples)
    if isinstance(out, DataFrame):
        plans.append(out._jdf.queryExecution().analyzed().toString())
    assert plans
    for plan in plans:
        assert "array_sort(" not in plan, plan
        assert "sort_array(" in plan, plan


def test_parse_point_lines(spark, engine):
    from metric_store_release_spark.sources.ingest import parse_point_lines

    lines = spark.createDataFrame(
        [
            ('{"ts": 1000, "name": "cpu", "value": 1.5, "labels": {"host": "a"}}',),
            ('{"ts": 2000, "name": "2bad name", "value": 2.0, "labels": {}}',),
            ('{"ts": 3000, "name": "inf_metric", "value": Infinity}',),  # rejected
            ("not json at all",),
            ('{"ts": null, "name": "x", "value": 1.0}',),  # rejected: no ts
        ],
        "value string",
    )
    pts = parse_point_lines(lines).collect()
    by_name = {r["name"]: r for r in pts}
    assert set(by_name) == {"cpu", "_2bad_name"}
    assert by_name["cpu"]["labels"] == {"host": "a"}
    # parsed points queryable
    out = engine.query_instant(parse_point_lines(lines), "cpu", 1000).collect()
    assert [r["value"] for r in out] == [1.5]
