"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import MIN_BEYOND, NAME_RE, UNIT_RE, Metrics, digest, percentile  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    values = list(range(100))
    assert percentile(values, 0.9) == 89
    with pytest.raises(ValueError):
        percentile(values[:99], 0.9)
    assert percentile(range(20), 0.5) == 9
    with pytest.raises(ValueError):
        percentile(range(19), 0.5)
    with pytest.raises(ValueError):
        percentile(values, 0.25)
    assert MIN_BEYOND == 10


@pytest.mark.parametrize("name", ["setup_s", "query_p50_ms", "panel.x.build_ms",
                                  "calib.cpu_start_s", "a-b", "9lives"])
def test_metric_name_pattern_accepts(name):
    assert NAME_RE.fullmatch(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "ä"])
def test_metric_name_pattern_rejects(name):
    assert not NAME_RE.fullmatch(name)


@pytest.mark.parametrize("unit", ["ms", "s", "1/s", "count", "%", "B/point", "ratio"])
def test_unit_pattern(unit):
    assert UNIT_RE.fullmatch(unit)
    assert not UNIT_RE.fullmatch(unit + " x")
    assert not UNIT_RE.fullmatch("x" * 17)


def test_metrics_refuse_bad_records():
    m = Metrics()
    m.put("a_ms", 1.5, "ms", 3)
    with pytest.raises(ValueError):
        m.put("a_ms", 2.0, "ms")
    with pytest.raises(ValueError):
        m.put("b ms", 2.0, "ms")
    with pytest.raises(ValueError):
        m.put("c_ms", 2.0, "m s")
    with pytest.raises(ValueError):
        m.put("d_ms", float("nan"), "ms")
    assert m.as_json(["a_ms"]) == {"a_ms": {"value": 1.5, "unit": "ms"}}


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == ["dashboard", "ingest_with_reads"]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME_RE.fullmatch(m["name"]) and UNIT_RE.fullmatch(m["unit"])
    assert any(m["name"] == "setup_s" and m["bound"] == max(
        e["bound"] for e in spec["end_to_end"]) for m in spec["end_to_end"])


def test_generator_is_deterministic_per_seed():
    fleet = gen.Fleet(2, 2)
    a, b = gen.generate(7, fleet, 30), gen.generate(7, fleet, 30)
    assert a.columns == b.columns and a.gauges == b.gauges and a.points == b.points
    c = gen.generate(8, fleet, 30)
    assert c.columns != a.columns


def test_generator_shape():
    fleet = gen.Fleet(3, 2)
    tl = gen.generate(1, fleet, 12)
    ticks = tl.columns["tick"]
    assert sorted(set(ticks)) == list(range(12))
    types = tl.columns["type"]
    assert types.count("gauge") == types.count("counter") == 12 * fleet.size
    assert 12 * fleet.size <= types.count("timer") <= 36 * fleet.size
    # timers sit just before their tick, so rollup windows end on ticks
    for k, typ, ts in zip(ticks, types, tl.columns["ts"]):
        tick_ns = tl.tick_ms(k) * gen.NS_PER_MS
        assert ts == tick_ns if typ != "timer" else tick_ns - 10 * gen.NS_PER_MS < ts < tick_ns
    for k in range(12):
        mem = [v[1] for v in tl.gauges[k].values()]
        assert len(set(mem)) == fleet.size  # topk has one answer
        assert fleet.size * (gen.POINTS_PER_INSTANCE_TICK + 1) <= tl.points[k]
        assert tl.points[k] <= fleet.size * (gen.POINTS_PER_INSTANCE_TICK + 2)


def _response(series):
    return {"status": "success",
            "data": {"resultType": "matrix", "result": series}}


def test_digest_ignores_series_order_and_last_bits():
    s1 = {"metric": {"a": "1"}, "values": [[1.0, "0.30000000000000004"]]}
    s2 = {"metric": {"a": "2"}, "values": [[1.0, "2"]]}
    d = digest(_response([s1, s2]))
    assert digest(_response([s2, s1])) == d
    s1b = {"metric": {"a": "1"}, "values": [[1.0, "0.3"]]}
    assert digest(_response([s1b, s2])) == d
    s2b = {"metric": {"a": "2"}, "values": [[1.0, "2.001"]]}
    assert digest(_response([s1, s2b])) != d


def test_tracer_self_times_and_inactive():
    t = Tracer()
    with t.span("x"):
        pass
    assert t.spans == []
    t.active = True
    with t.span("api", root="q1") as outer:
        with t.span("build"):
            pass
        assert t.current() == (outer, "q1")
    with t.span("write", root="c1", parent=outer):
        pass
    by_name = {s[1]: s for s in t.spans}
    assert by_name["build"][4] == outer and by_name["build"][5] == "q1"
    assert by_name["write"][4] == outer and by_name["write"][5] == "c1"
    selfs, totals = t.self_times_ms(), t.totals_ms()
    assert selfs["api"][0] <= totals["api"][0]
    assert totals["api"][0] >= totals["build"][0]
