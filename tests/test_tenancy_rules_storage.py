"""Tenancy rewrite/authorization, recording/alerting rules, storage shards."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from metric_store_release_spark import PromQLEngine
from metric_store_release_spark.sources import corpus
from metric_store_release_spark.tenancy import (
    AuthorizationError,
    authorize,
    extract_source_ids,
    inject_source_id,
)

MIN = 60_000


# ------------------------------------------------------------------- tenancy
def test_extract_source_ids():
    ids = extract_source_ids(
        'sum(rate(http{source_id="app-1"}[5m])) + avg(cpu{source_id="app-2"})'
    )
    assert ids == {"app-1", "app-2"}


def test_extract_requires_equality():
    with pytest.raises(AuthorizationError):
        extract_source_ids('sum(http{source_id=~"app-.*"})')
    with pytest.raises(AuthorizationError):
        extract_source_ids("sum(http)")


def test_authorize():
    authorize('http{source_id="a"}', {"a", "b"})
    authorize("http", set(), is_admin=True)
    with pytest.raises(AuthorizationError):
        authorize('http{source_id="c"}', {"a"})


def test_inject_source_id_roundtrip(spark, engine):
    q = inject_source_id("sum by (job) (rate(http[5m]))", "app-1")
    assert 'source_id="app-1"' in q
    # the rewritten query still parses and evaluates
    df = corpus.load(
        spark,
        MIN,
        [
            'http{job="x", source_id="app-1"} 0+10x10',
            'http{job="x", source_id="app-2"} 0+100x10',
        ],
    )
    out = engine.query_instant(df, q, 10 * MIN).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(10 / 60)


def test_inject_source_id_escapes_malicious_values():
    """A matcher value crafted to close the quoted string / smuggle a second
    selector must round-trip as a literal value, not as extra matchers."""
    from metric_store_release_spark.promql import ast, parse
    from metric_store_release_spark.promql.ast import MatchOp, VectorSelector

    for evil in (
        'x", source_id="victim',
        'y"} or m{l="z',
        "back\\slash",
        'quote"quote',
    ):
        q_ast = parse("m")
        sel = next(
            n for n in ast.walk(q_ast) if isinstance(n, VectorSelector)
        )
        sel.matchers = [ast.LabelMatcher("l", MatchOp.EQ, evil)]
        from metric_store_release_spark.tenancy import _format

        rewritten = inject_source_id(_format(q_ast), "tenant-1")
        # re-parse: every selector carries ONLY tenant-1 as source_id, and
        # the evil value survives verbatim as the value of label l
        reparsed = parse(rewritten)
        sels = [n for n in ast.walk(reparsed) if isinstance(n, VectorSelector)]
        assert len(sels) == 1
        sids = [
            m.value
            for m in sels[0].matchers
            if m.name == "source_id" and m.op == MatchOp.EQ
        ]
        assert sids == ["tenant-1"]
        lvals = [m.value for m in sels[0].matchers if m.name == "l"]
        assert lvals == [evil]


# --------------------------------------------------------------------- rules
def test_recording_rule_writeback(spark, engine):
    from metric_store_release_spark.rules import (
        RecordingRule,
        RuleGroup,
        evaluate_group,
    )

    df = corpus.load(
        spark,
        MIN,
        ['http{job="a"} 0+10x10', 'http{job="b"} 0+20x10'],
    )
    group = RuleGroup(
        name="g",
        rules=[RecordingRule(record="job:http:sum", expr="sum by (job) (http)")],
    )
    with tempfile.TemporaryDirectory() as tmp:
        recorded, _ = evaluate_group(spark, df, group, 10 * MIN, store_path=tmp)
        assert {
            (r["name"], r["labels"]["job"]): r["value"] for r in recorded.collect()
        } == {("job:http:sum", "a"): 100.0, ("job:http:sum", "b"): 200.0}
        # the recorded series is queryable from the store
        from metric_store_release_spark.sources.storage import read_samples

        stored = read_samples(spark, tmp)
        out = engine.query_instant(stored, 'job:http:sum{job="a"}', 10 * MIN).collect()
        assert [r["value"] for r in out] == [100.0]


def test_alerting_rule_for_state(spark):
    from metric_store_release_spark.rules import AlertingRule, AlertState
    from metric_store_release_spark.rules import evaluate_alert
    from metric_store_release_spark import PromQLEngine

    eng = PromQLEngine(spark)
    df = corpus.load(spark, MIN, ['errors{job="a"} 0 5 5 5'])
    rule = AlertingRule(alert="HighErrors", expr="errors > 3", for_ms=2 * MIN)
    st = AlertState()
    firing, pending = evaluate_alert(eng, df, rule, 1 * MIN, st)
    assert not firing and len(pending) == 1  # just became active
    firing, pending = evaluate_alert(eng, df, rule, 2 * MIN, st)
    assert not firing and len(pending) == 1  # 1m < for
    firing, pending = evaluate_alert(eng, df, rule, 3 * MIN, st)
    assert len(firing) == 1 and not pending  # ≥ 2m active


# ------------------------------------------------------------------- storage
def test_storage_roundtrip_and_retention(spark, engine):
    from metric_store_release_spark.sources.storage import (
        expire_shards,
        read_samples,
        write_samples,
    )

    day = 86_400_000
    rows = [
        (0 * day + 1000, "m", 1.0, {"a": "x"}),
        (1 * day + 1000, "m", 2.0, {"a": "x"}),
        (5 * day + 1000, "m", 3.0, {"a": "x"}),
    ]
    df = spark.createDataFrame(rows, "ts long, name string, value double, labels map<string,string>")
    with tempfile.TemporaryDirectory() as tmp:
        write_samples(df, tmp)
        back = read_samples(spark, tmp)
        assert back.count() == 3
        # 24h shard pruning: a time filter prunes partitions at plan time
        plan = back.filter(
            (F.col("ts") >= 5 * day) & (F.col("name") == "m")
        )._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "IsNotNull" in plan
        dropped = expire_shards(tmp, "1970-01-03")
        assert dropped == ["date=1970-01-01", "date=1970-01-02"]
        assert read_samples(spark, tmp).count() == 1
        out = engine.query_instant(read_samples(spark, tmp), "m", 5 * day + 1000)
        assert [r["value"] for r in out.collect()] == [3.0]


def test_prune_oldest_shards_byte_budget(spark):
    from metric_store_release_spark.sources.storage import (
        _shard_bytes,
        prune_oldest_shards,
        read_samples,
        write_samples,
    )
    from pathlib import Path

    day = 86_400_000
    rows = [
        (d * day + i, "m", float(i), {"a": "x"})
        for d in range(5)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_samples(df, tmp)
        parts = sorted(Path(tmp).glob("date=*"))
        assert len(parts) == 5
        # budget that fits exactly the newest two shards
        budget = sum(_shard_bytes(p) for p in parts[-2:])
        dropped = prune_oldest_shards(tmp, max_total_bytes=budget)
        # oldest-first until under budget (store.go deleteOldest loop)
        assert dropped == ["date=1970-01-01", "date=1970-01-02", "date=1970-01-03"]
        assert read_samples(spark, tmp).count() == 100
        # under budget now: another sweep is a no-op
        assert prune_oldest_shards(tmp, max_total_bytes=budget) == []


def test_prune_oldest_disk_free_reporter(spark):
    from metric_store_release_spark.sources.storage import (
        prune_oldest_shards,
        retention_sweep,
        write_samples,
    )
    from pathlib import Path

    day = 86_400_000
    df = spark.createDataFrame(
        [(d * day, "m", 1.0, {"a": "x"}) for d in range(4)],
        "ts long, name string, value double, labels map<string,string>",
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_samples(df, tmp)
        # reporter below target for two checks, then recovered —
        # one oldest shard dropped per check (store.go:185-198)
        free = iter([5.0, 10.0, 30.0])
        dropped = prune_oldest_shards(
            tmp, disk_free_pct=lambda: next(free), disk_free_target_pct=20.0
        )
        assert dropped == ["date=1970-01-01", "date=1970-01-02"]
        # never drops the last remaining shard even if still low
        dropped = prune_oldest_shards(
            tmp, disk_free_pct=lambda: 1.0, disk_free_target_pct=20.0
        )
        assert dropped == ["date=1970-01-03"]
        assert [p.name for p in Path(tmp).glob("date=*")] == ["date=1970-01-04"]
        assert retention_sweep(
            tmp, disk_free_pct=lambda: 1.0, disk_free_target_pct=20.0
        ) == []


def test_compact_shards(spark):
    import tempfile

    from metric_store_release_spark.sources.storage import (
        compact_shards,
        read_samples,
        write_samples,
    )

    day = 86_400_000
    df = spark.createDataFrame(
        [(i * 1000, "m", float(i), {"a": "x"}) for i in range(100)],
        "ts long, name string, value double, labels map<string,string>",
    ).repartition(8)
    with tempfile.TemporaryDirectory() as tmp:
        write_samples(df, tmp)
        n = compact_shards(spark, tmp)
        assert n == 1
        from pathlib import Path

        files = list(Path(tmp).glob("date=*/*.parquet"))
        assert len(files) == 1
        assert read_samples(spark, tmp).count() == 100


def test_engine_prunes_date_partitions(spark, engine):
    import tempfile

    from metric_store_release_spark.sources.storage import read_samples, write_samples

    day = 86_400_000
    rows = [(d * day + 3600_000, "m", float(d), {"a": "x"}) for d in range(10)]
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_samples(df, tmp)
        stored = read_samples(spark, tmp)
        out = engine.query_instant(stored, "m", 5 * day + 3600_000)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # partition predicate derived from the query time bounds
        assert "PartitionFilters" in plan
        assert "date" in plan.split("PartitionFilters")[1][:400]
        assert [r["value"] for r in out.collect()] == [5.0]


def test_downsample_and_series_signature(spark):
    from metric_store_release_spark.sources.storage import (
        downsample_samples,
        series_signature,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "m", 1.0, {"b": "2", "a": "1"}),
        (100, "m", 3.0, {"a": "1", "b": "2"}),   # same series, key order differs
        (10_000, "m", 5.0, {"a": "1", "b": "2"}),  # next bucket
        (50, "m", 7.0, {"a": "9"}),               # different series
    ]
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    out = {
        (r["ts"], tuple(sorted(r["labels"].items()))): (
            r["avg_value"], r["min_value"], r["max_value"], r["n_samples"]
        )
        for r in downsample_samples(df, 10_000).collect()
    }
    key = (0, (("a", "1"), ("b", "2")))
    assert out[key] == (2.0, 1.0, 3.0, 2)          # buckets [0,10000)
    assert out[(10_000, (("a", "1"), ("b", "2")))] == (5.0, 5.0, 5.0, 1)
    assert out[(0, (("a", "9"),))] == (7.0, 7.0, 7.0, 1)
    # canonical signature: insertion order never matters
    sigs = df.select(series_signature(F.col("labels")).alias("s")).collect()
    assert sigs[0]["s"] == sigs[1]["s"] == "a=1,b=2"


def test_correlate_series_known_relationships(spark):
    from metric_store_release_spark.sources.storage import correlate_series

    rows = []
    for b in range(6):
        ts = b * 10_000
        rows.append((ts, "tgt", float(b), {"s": "t"}))
        rows.append((ts, "pos", 2.0 * b + 5, {"s": "p"}))     # corr +1
        rows.append((ts, "neg", -3.0 * b, {"s": "n"}))        # corr -1
        rows.append((ts, "flat", 7.0, {"s": "f"}))            # zero variance
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    out = {
        r["name"]: (r["corr"], r["n_buckets"])
        for r in correlate_series(df, "tgt", {"s": "t"}, step_ms=10_000).collect()
    }
    assert out["tgt"] == (1.0, 6)
    assert out["pos"] == (1.0, 6)
    assert out["neg"] == (-1.0, 6)
    assert "flat" not in out  # undefined correlation excluded by contract


def test_correlate_series_ambiguous_target_raises(spark):
    """ADVICE r5: label-subset matching hitting >1 series (or none) must
    raise instead of silently unioning buckets into a bogus target."""
    import pytest

    from metric_store_release_spark.sources.storage import correlate_series

    rows = [
        (0, "tgt", 1.0, {"s": "t", "host": "a"}),
        (10_000, "tgt", 3.0, {"s": "t", "host": "a"}),
        (0, "tgt", 2.0, {"s": "t", "host": "b"}),  # extra-label sibling
        (10_000, "tgt", 5.0, {"s": "t", "host": "b"}),
    ]
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    with pytest.raises(ValueError, match="2\\+ series"):
        correlate_series(df, "tgt", {"s": "t"}, step_ms=10_000)
    with pytest.raises(ValueError, match="no series"):
        correlate_series(df, "tgt", {"s": "missing"}, step_ms=10_000)
    # the full label set resolves uniquely and works
    out = correlate_series(
        df, "tgt", {"s": "t", "host": "a"}, step_ms=10_000, min_points=1
    ).collect()
    assert len(out) >= 1


def test_downsample_tier_write_read_query_roundtrip(spark, tmp_path):
    """The retention-tier loop end-to-end: downsample raw samples, WRITE
    the rollup as a shard table, read it back, and run a PromQL query
    over it — the answer must equal querying the in-memory rollup
    directly. Proves the tier is a real storage artifact, not only a
    DataFrame transformation."""
    from metric_store_release_spark import EngineConfig, PromQLEngine
    from metric_store_release_spark.sources.storage import (
        downsample_samples,
        read_samples,
        write_samples,
    )
    from pyspark.sql import functions as F

    rows = [
        (t * 1_000, "m", float(t % 7), {"user": str(t % 3)})
        for t in range(0, 3_600)
    ]
    raw = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    rollup = downsample_samples(raw, 300_000).select(
        "ts", "name", F.col("avg_value").alias("value"), "labels"
    )
    path = str(tmp_path / "rollup_tier")
    write_samples(rollup, path)
    back = read_samples(spark, path)

    eng = PromQLEngine(spark, EngineConfig(lookback_ms=600_000))
    q = "sum by (user) (m)"
    want = {
        (r["t"], r["labels"]["user"]): round(r["value"], 9)
        for r in eng.query_range(rollup, q, 0, 3_600_000, 600_000).collect()
    }
    got = {
        (r["t"], r["labels"]["user"]): round(r["value"], 9)
        for r in eng.query_range(back, q, 0, 3_600_000, 600_000).collect()
    }
    assert got == want and len(got) > 0


def test_select_tier_matrix():
    """Planner rule: coarse steps pick the coarsest qualifying tier,
    fine steps pick raw, ranges older than raw retention force the
    finest tier as the floor."""
    from metric_store_release_spark.sources.storage import select_tier

    tiers = [300_000, 3_600_000]  # 5 min, 1 h rollups
    now = 10_000_000_000
    # step/5 rule: 6 h step -> the 1 h tier qualifies (3.6e6*5 <= 2.16e7)
    assert select_tier(21_600_000, 0, 1, tiers) == 3_600_000
    # 30 min step -> only the 5 min tier qualifies
    assert select_tier(1_800_000, 0, 1, tiers) == 300_000
    # 1 min step -> no tier qualifies: raw
    assert select_tier(60_000, 0, 1, tiers) is None
    # fine step BUT the range predates raw retention: finest tier floor
    assert (
        select_tier(60_000, 0, 1_000, tiers, raw_retention_ms=1_000_000, now_ms=now)
        == 300_000
    )
    # fine step, range inside raw retention: raw
    assert (
        select_tier(
            60_000, now - 500_000, now, tiers, raw_retention_ms=1_000_000, now_ms=now
        )
        is None
    )
    import pytest

    with pytest.raises(ValueError):
        select_tier(0, 0, 1, tiers)
    with pytest.raises(ValueError):
        select_tier(60_000, 10, 0, tiers)


def test_tiered_read_query_matches_direct_rollup_query(spark):
    """End-to-end through the planner: a coarse-step query routed by
    tiered_samples must produce byte-identical engine output to querying
    the rollup directly; a fine-step query must route to raw."""
    from metric_store_release_spark import EngineConfig, PromQLEngine
    from metric_store_release_spark.sources.storage import (
        downsample_samples,
        tiered_samples,
    )

    rows = []
    for i in range(0, 7_200_000, 60_000):  # 2 h of 1-min raw samples
        rows.append((i, "m", float(i % 7), {"u": str(i % 3)}))
    raw = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    tiers = {300_000: downsample_samples(raw, 300_000)}
    start, end, step = 0, 7_200_000, 1_800_000  # 30 min step -> rollup

    routed, chosen = tiered_samples(raw, tiers, start, end, step)
    assert chosen == 300_000
    eng = PromQLEngine(spark, EngineConfig(lookback_ms=step))
    direct = tiers[300_000].select(
        "ts", "name", F.col("avg_value").alias("value"), "labels"
    )
    got = sorted(
        (r["t"], r["labels"]["u"], r["value"])
        for r in eng.query_range(routed, "sum by (u) (m)", start, end, step).collect()
    )
    want = sorted(
        (r["t"], r["labels"]["u"], r["value"])
        for r in eng.query_range(direct, "sum by (u) (m)", start, end, step).collect()
    )
    assert got == want and len(got) > 0

    # fine step: raw passthrough, untouched frame
    routed_fine, chosen_fine = tiered_samples(raw, tiers, start, end, 60_000)
    assert chosen_fine is None and routed_fine is raw


def test_redownsample_chain_equals_direct_rollup(spark):
    """The compaction chain: 5-min tier -> 1-h tier must equal
    downsampling raw directly to 1 h — including when bucket populations
    differ (the case a naive avg-of-avgs gets wrong)."""
    from metric_store_release_spark.sources.storage import (
        downsample_samples,
        redownsample,
    )

    rows = []
    # deliberately uneven density: minute samples for the first 10 min,
    # then one sample per 5-min bucket
    for i in range(0, 600_000, 60_000):
        rows.append((i, "m", float(i % 11), {"u": "a"}))
    for i in range(600_000, 3_600_000, 300_000):
        rows.append((i, "m", float(i % 13), {"u": "a"}))
    raw = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    fine = downsample_samples(raw, 300_000)
    chained = redownsample(fine, 3_600_000).collect()
    direct = downsample_samples(raw, 3_600_000).collect()
    assert len(chained) == len(direct) == 1
    c, d = chained[0], direct[0]
    assert (c["ts"], c["name"], c["min_value"], c["max_value"], c["n_samples"]) == (
        d["ts"], d["name"], d["min_value"], d["max_value"], d["n_samples"]
    )
    assert c["avg_value"] == pytest.approx(d["avg_value"], abs=1e-9)
    # and the naive unweighted avg-of-avgs would NOT match
    naive = sum(
        r["avg_value"] for r in fine.collect()
    ) / fine.count()
    assert abs(naive - d["avg_value"]) > 1e-3


def test_build_tier_tables_roundtrip_through_tiered_query(spark, tmp_path):
    """The full compaction-job loop: raw shard store -> chained tier
    tables on disk (raw read once) -> read back -> tier-routed engine
    query equals querying the directly-built rollup. Tier tables are
    date-partitioned so retention applies to them unchanged."""
    from pathlib import Path

    from metric_store_release_spark import EngineConfig, PromQLEngine
    from metric_store_release_spark.sources.storage import (
        build_tier_tables,
        downsample_samples,
        read_tier_samples,
        tiered_samples,
        write_samples,
    )

    rows = []
    for i in range(0, 7_200_000, 60_000):
        rows.append((i, "m", float(i % 7), {"u": str(i % 3)}))
    raw = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>"
    )
    raw_path = str(tmp_path / "raw")
    write_samples(raw, raw_path)

    tiers_root = str(tmp_path / "tiers")
    paths = build_tier_tables(
        spark, raw_path, [300_000, 3_600_000], tiers_root
    )
    assert set(paths) == {300_000, 3_600_000}
    assert (Path(paths[300_000]) / "date=1970-01-01").exists()  # sharded

    tiers = read_tier_samples(spark, paths)
    start, end, step = 0, 7_200_000, 1_800_000
    routed, chosen = tiered_samples(raw, tiers, start, end, step)
    assert chosen == 300_000
    eng = PromQLEngine(spark, EngineConfig(lookback_ms=step))
    got = sorted(
        (r["t"], r["labels"]["u"], round(r["value"], 9))
        for r in eng.query_range(routed, "sum by (u) (m)", start, end, step).collect()
    )
    direct = downsample_samples(raw, 300_000).select(
        "ts", "name", F.col("avg_value").alias("value"), "labels"
    )
    want = sorted(
        (r["t"], r["labels"]["u"], round(r["value"], 9))
        for r in eng.query_range(direct, "sum by (u) (m)", start, end, step).collect()
    )
    assert got == want and len(got) > 0
    # the coarse tier on disk equals redownsampling the fine tier
    coarse = tiers[3_600_000].collect()
    assert len(coarse) > 0 and all(r["n_samples"] > 0 for r in coarse)
