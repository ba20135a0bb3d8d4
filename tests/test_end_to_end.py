"""Full-pipeline integration: envelopes → rollup → shard store → PromQL →
recording rule → alert — the acceptance-suite shape of the reference
(src/internal/acceptance/metric-store/metric_store_test.go) on one engine.
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from metric_store_release_spark import EngineConfig, PromQLEngine
from metric_store_release_spark.sources.storage import read_samples, write_samples
from metric_store_release_spark.streaming.nozzle import (
    ENVELOPE_SCHEMA,
    envelopes_to_samples,
)

NS = 1_000_000_000


def _mk_envelopes(spark, n_windows: int = 30):
    """1 min of HTTP timers: every 10 s window gets 6 requests for app A
    (durations ramp 10..60 ms) and 2 slow ones for app B (1 s)."""
    rows = []
    for w in range(n_windows):
        base = w * 10
        for i in range(6):
            rows.append(
                (
                    int((base + i) * NS + 1),
                    "gorouter",
                    "timer",
                    "http",
                    None,
                    None,
                    0,
                    (i + 1) * 10_000_000,
                    {"status_code": "200", "app_id": "A"},
                )
            )
        for i in range(2):
            rows.append(
                (
                    int((base + 3 + i) * NS),
                    "gorouter",
                    "timer",
                    "http",
                    None,
                    None,
                    0,
                    1 * NS,
                    {"status_code": "200", "app_id": "B"},
                )
            )
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_full_pipeline_federated(spark, tmp_path):
    """Same acceptance shape through the replicated cluster layer: ingest
    with one node down (writes queue to handoff), query from the surviving
    replicas, replay on recovery, re-query — results identical
    throughout."""
    from metric_store_release_spark.sources.federation import FederatedStore

    envelopes = _mk_envelopes(spark)
    engine = PromQLEngine(spark, EngineConfig(lookback_ms=60_000))
    pts = envelopes_to_samples(envelopes)
    fed = FederatedStore(spark, str(tmp_path / "cluster"), n_nodes=3,
                         replication_factor=2)
    down = fed.table.lookup("http_total")[0]
    fed.write(pts, down_nodes={down}, queued_at_ms=1_000)

    def p90_rates():
        got = engine.query_instant(
            fed.select_samples("http_total"),
            "sum by (app_id) (rate(http_total[5m]))",
            300_000,
        )
        return {r["labels"]["app_id"]: r["value"] for r in got.collect()}

    degraded = p90_rates()  # served by the surviving replica
    assert degraded["A"] == pytest.approx(0.6, rel=0.05)
    assert degraded["B"] == pytest.approx(0.2, rel=0.05)
    assert fed.replay_handoff(down, now_ms=2_000) > 0
    assert p90_rates() == degraded  # replica healed, results unchanged


def test_full_pipeline(spark):
    envelopes = _mk_envelopes(spark)
    engine = PromQLEngine(spark, EngineConfig(lookback_ms=60_000))

    with tempfile.TemporaryDirectory() as store:
        # ingest: envelopes → samples → date-partitioned shard store
        pts = envelopes_to_samples(envelopes)
        write_samples(pts, store)
        samples = read_samples(spark, store)

        # 1) counter rollup queryable: requests/sec per app over 5m
        at = 300_000  # after all 30 windows
        got = {
            r["labels"]["app_id"]: r["value"]
            for r in engine.query_instant(
                samples, "sum by (app_id) (rate(http_total[5m]))", at
            ).collect()
        }
        # A: 6 req / 10 s = 0.6/s, B: 0.2/s (extrapolated over full window)
        assert got["A"] == pytest.approx(0.6, rel=0.05)
        assert got["B"] == pytest.approx(0.2, rel=0.05)

        # 2) latency quantile from the histogram rollup: A fast, B slow
        q = engine.query_instant(
            samples,
            "histogram_quantile(0.9, sum by (app_id, le) "
            "(rate(http_duration_seconds_bucket[5m])))",
            at,
        )
        lat = {r["labels"]["app_id"]: r["value"] for r in q.collect()}
        assert lat["A"] < 0.1
        # 1 s durations fill the (0.5, 1.0] bucket; p90 interpolates inside it
        assert 0.5 < lat["B"] <= 1.0

        # 3) recording rule writes back and is queryable
        from metric_store_release_spark.rules import (
            RecordingRule,
            RuleGroup,
            evaluate_group,
        )

        group = RuleGroup(
            name="latency",
            rules=[
                RecordingRule(
                    record="app:http_p90:5m",
                    expr=(
                        "histogram_quantile(0.9, sum by (app_id, le) "
                        "(rate(http_duration_seconds_bucket[5m])))"
                    ),
                )
            ],
        )
        evaluate_group(spark, samples, group, at, store_path=store)
        recorded = read_samples(spark, store)
        rec = engine.query_instant(recorded, 'app:http_p90:5m{app_id="B"}', at)
        assert rec.count() == 1

        # 4) alert on the recorded series
        from metric_store_release_spark.rules import (
            AlertingRule,
            AlertState,
            evaluate_alert,
        )

        rule = AlertingRule(alert="SlowApp", expr="app:http_p90:5m > 0.5", for_ms=0)
        firing, pending = evaluate_alert(engine, recorded, rule, at, AlertState())
        assert any(dict(k).get("app_id") == "B" for k in firing)
        assert not any(dict(k).get("app_id") == "A" for k in firing)
