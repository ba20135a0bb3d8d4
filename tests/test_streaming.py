"""Nozzle conversion + timer rollup semantics (FIXTURES.md §F5 goldens)."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from metric_store_release_spark.streaming.nozzle import (
    ENVELOPE_SCHEMA,
    envelopes_to_points,
)
from metric_store_release_spark.streaming.rollup import (
    rollup_counters,
    rollup_histograms,
)

NS = 1_000_000_000


def env_row(
    ts_s: float,
    typ: str,
    source_id: str = "gorouter",
    name: str | None = None,
    total: float | None = None,
    gauges: dict | None = None,
    start: int | None = None,
    stop: int | None = None,
    tags: dict | None = None,
):
    return (
        int(ts_s * NS),
        source_id,
        typ,
        name,
        total,
        gauges,
        start,
        stop,
        tags or {},
    )


@pytest.fixture()
def timer_envelopes(spark):
    rows = []
    # window [0,10s): three timers for app A (status 200), one for B (500)
    for i, dur_ms in enumerate([3, 30, 300]):
        rows.append(
            env_row(
                1 + i,
                "timer",
                name="http",
                start=0,
                stop=dur_ms * 1_000_000,
                tags={"status_code": "200", "app_id": "A"},
            )
        )
    rows.append(
        env_row(
            5, "timer", name="http", start=0, stop=2 * NS,
            tags={"status_code": "500", "app_id": "B"},
        )
    )
    # a client-peer timer must be ignored (nozzle.go:246-248)
    rows.append(
        env_row(
            6, "timer", name="http", start=0, stop=NS,
            tags={"status_code": "200", "app_id": "A", "peer_type": "client"},
        )
    )
    # next window [10,20s)
    rows.append(
        env_row(
            12, "timer", name="http", start=0, stop=50_000_000,
            tags={"status_code": "200", "app_id": "A"},
        )
    )
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_rollup_counter(spark, timer_envelopes):
    out = rollup_counters(timer_envelopes).collect()
    got = {
        (r["ts"], r["labels"]["app_id"], r["labels"]["status_code"]): r["value"]
        for r in out
    }
    # cumulative across windows (counter.go keeps running totals)
    assert got == {
        (10_000, "A", "200"): 3.0,
        (10_000, "B", "500"): 1.0,
        (20_000, "A", "200"): 4.0,
    }
    names = {r["name"] for r in out}
    assert names == {"http_total"}
    assert all(r["labels"]["source_id"] == "gorouter" for r in out)
    assert all(r["labels"]["node_index"] == "0" for r in out)


def test_rollup_histogram(spark, timer_envelopes):
    out = rollup_histograms(timer_envelopes).collect()
    by_name = {}
    for r in out:
        by_name.setdefault(r["name"], []).append(r)
    # grouping excludes status_code → A and B both under their app_id only
    counts = {
        (r["ts"], r["labels"]["app_id"]): r["value"]
        for r in by_name["http_duration_seconds_count"]
    }
    assert counts == {(10_000, "A"): 3.0, (10_000, "B"): 1.0, (20_000, "A"): 4.0}
    sums = {
        (r["ts"], r["labels"]["app_id"]): round(r["value"], 6)
        for r in by_name["http_duration_seconds_sum"]
    }
    assert sums == {(10_000, "A"): 0.333, (10_000, "B"): 2.0, (20_000, "A"): 0.383}
    # cumulative buckets for window-1 app A: durations 3ms, 30ms, 300ms
    a1 = {
        r["labels"]["le"]: r["value"]
        for r in by_name["http_duration_seconds_bucket"]
        if r["ts"] == 10_000 and r["labels"]["app_id"] == "A"
    }
    assert a1["0.005"] == 1.0
    assert a1["0.05"] == 2.0
    assert a1["0.5"] == 3.0
    assert a1["+Inf"] == 3.0
    # monotone cumulative
    order = ["0.005", "0.01", "0.025", "0.05", "0.1", "0.25", "0.5", "1.0", "2.5", "5.0", "10.0", "+Inf"]
    vals = [a1[k] for k in order]
    assert vals == sorted(vals)
    # status_code is not a histogram label
    assert all(
        "status_code" not in r["labels"]
        for r in by_name["http_duration_seconds_bucket"]
    )


def test_histogram_quantile_over_rollup(spark, engine, timer_envelopes):
    """End-to-end: rollup output → engine histogram_quantile (FIXTURES F4)."""
    pts = rollup_histograms(timer_envelopes)
    samples = pts.withColumn("stale", F.lit(False))
    out = engine.query_instant(
        samples,
        'histogram_quantile(0.5, http_duration_seconds_bucket{app_id="A"})',
        10_000,
    ).collect()
    # 3 observations in buckets ≤0.005 / ≤0.05 / ≤0.5 → median interpolates
    # inside the (0.025, 0.05] bucket: rank 1.5 → 0.025 + 0.025*(0.5/1)
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(0.0375)


def test_gauge_and_counter_conversion(spark):
    """The exact points of gauge, counter and timer envelopes, edge cases
    included (nozzle.go:346-400, point_translator.go:48-101)."""
    long_value = "x" * 300
    rows = [
        env_row(
            1,
            "gauge",
            source_id="app-1",
            gauges={
                "cpu": {"unit": "percent", "value": 12.5},
                "memory": {"unit": "bytes", "value": float("nan")},  # rejected
                "inf": {"unit": None, "value": float("inf")},  # rejected
                "ninf": {"unit": None, "value": float("-inf")},  # rejected
                "disk": {"unit": None, "value": 3.0},  # no unit label
            },
            # the gauge's unit replaces a unit tag; the envelope's
            # source_id replaces a source_id tag
            tags={"deployment": "cf", "unit": "tag", "source_id": "other"},
        ),
        env_row(
            2, "counter", source_id="app-1", name="2bad.name", total=42.0,
            tags={"unit": "tag", "source_id": "other", "long": long_value},
        ),
        env_row(3, "counter", source_id="app-1", name="nan", total=float("nan")),
        env_row(4, "counter", source_id="app-1", name="none", total=None),
        env_row(5, "timer", name="http", start=0, stop=NS, tags={"app_id": "A"}),
    ]
    env = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    got = {
        (r["ts"], r["name"], repr(r["value"]), tuple(sorted(r["labels"].items())))
        for r in envelopes_to_points(env).collect()
    }
    assert got == {
        (1000, "cpu", "12.5",
         (("deployment", "cf"), ("source_id", "app-1"), ("unit", "percent"))),
        (1000, "disk", "3.0", (("deployment", "cf"), ("source_id", "app-1"))),
        (2000, "_2bad_name", "42.0",
         (("long", "x" * 256), ("source_id", "app-1"), ("unit", "tag"))),
        (3000, "nan", "nan", (("source_id", "app-1"),)),
    }


def _plan_nodes(df) -> list[str]:
    """The node names of `df`'s optimized logical plan."""
    names, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_one_plan_branch_per_sample_family(spark, timer_envelopes, tmp_path):
    """Each family of stored samples reads the envelopes once: the points
    are one projection over one scan, and each rollup aggregates and
    computes its running sums once for all the samples it emits (the
    histogram's 12 `_bucket` rows, `_count` and `_sum` included)."""
    path = str(tmp_path / "envelopes")
    timer_envelopes.write.parquet(path)
    env = spark.read.schema(ENVELOPE_SCHEMA).parquet(path)

    for rollup in (rollup_counters, rollup_histograms):
        nodes = _plan_nodes(rollup(env))
        assert nodes.count("Aggregate") == 1, rollup.__name__
        assert nodes.count("Window") == 1, rollup.__name__
    points = envelopes_to_points(env)
    assert points._jdf.queryExecution().optimizedPlan().collectLeaves().size() == 1
    assert "Union" not in _plan_nodes(points)


def test_ingest_stream_backpressure_and_shed(spark):
    """maxFilesPerTrigger bounds each micro-batch; load_shed drops the
    oldest envelopes over the cap and counts them (diode analog)."""
    import os

    from metric_store_release_spark.streaming.nozzle import (
        NozzleMetrics,
        ingest_stream,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        # 3 files × 4 counter envelopes
        for f in range(3):
            rows = [
                env_row(100 * f + i, "counter", name="c", total=float(i))
                for i in range(4)
            ]
            spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        metrics = NozzleMetrics()
        q = ingest_stream(
            spark, src, out, ckpt,
            max_files_per_trigger=1, shed_above_rows=3, metrics=metrics,
        )
        q.awaitTermination(120)
        # each 4-row batch shed 1 (the oldest), 3 batches total
        assert metrics.dropped_envelopes_total == 3
        assert metrics.ingressed_envelopes_total == 9
        from metric_store_release_spark.sources.storage import read_samples

        got = read_samples(spark, out)
        assert got.count() == 9
        # the shed envelope is the OLDEST of each batch (ts_s = 100f)
        kept_ts_ms = {r["ts"] for r in got.select("ts").collect()}
        for f in range(3):
            assert 100 * f * 1000 not in kept_ts_ms


def test_ingest_stream_counts_every_envelope(spark, tmp_path):
    """With metrics and no load shed, every envelope of every micro-batch
    is counted as ingressed."""
    from metric_store_release_spark.streaming.nozzle import (
        NozzleMetrics,
        ingest_stream,
    )

    src = str(tmp_path / "src")
    for f in range(2):
        rows = [
            env_row(100 * f, "counter", name="c", total=1.0),
            env_row(100 * f + 1, "gauge", gauges={"cpu": {"unit": "", "value": 1.0}}),
            env_row(100 * f + 2, "timer", name="http", start=0, stop=NS),
        ]
        spark.createDataFrame(rows, ENVELOPE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    metrics = NozzleMetrics()
    q = ingest_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, metrics=metrics,
    )
    q.awaitTermination(120)
    assert metrics.ingressed_envelopes_total == 6
    assert metrics.dropped_envelopes_total == 0


def test_ingest_stream_stores_every_sample(spark, timer_envelopes):
    """One stream over one envelope directory stores the gauge and counter
    points and every timer rollup — exactly `envelopes_to_samples` over
    the same envelopes as a batch."""
    import os

    from metric_store_release_spark.sources.storage import read_samples
    from metric_store_release_spark.streaming.nozzle import (
        envelopes_to_samples,
        ingest_stream,
    )

    others = spark.createDataFrame(
        [
            env_row(4, "gauge", source_id="app-1",
                    gauges={"cpu": {"unit": "percent", "value": 12.5}}),
            env_row(7, "counter", source_id="app-1", name="requests",
                    total=42.0),
        ],
        ENVELOPE_SCHEMA,
    )
    envelopes = timer_envelopes.unionByName(others)

    def rows(df):
        return sorted(
            (r["ts"], r["name"], tuple(sorted(r["labels"].items())), r["value"])
            for r in df.select("ts", "name", "labels", "value").collect()
        )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        envelopes.coalesce(1).write.parquet(src)
        ingest_stream(spark, src, out, os.path.join(tmp, "ckpt")).awaitTermination(120)
        got = rows(read_samples(spark, out))

    assert {name for _, name, _, _ in got} == {
        "cpu",
        "requests",
        "http_total",
        "http_duration_seconds_bucket",
        "http_duration_seconds_count",
        "http_duration_seconds_sum",
    }
    assert got == rows(envelopes_to_samples(envelopes))


def test_envelopes_to_points_leaves_timers_to_the_rollups(spark, timer_envelopes):
    """`envelopes_to_points` converts gauges and counters only: callers
    that union the rollups onto it themselves (perfbench's `to_points`)
    would otherwise store every rollup point twice. `envelopes_to_samples`
    adds each rollup once, so it keeps one row per (series, ts)."""
    from metric_store_release_spark.streaming.nozzle import envelopes_to_samples

    envelopes = timer_envelopes.unionByName(
        spark.createDataFrame(
            [env_row(7, "counter", source_id="app-1", name="requests", total=42.0)],
            ENVELOPE_SCHEMA,
        )
    )
    points = envelopes_to_points(envelopes).collect()
    assert {r["name"] for r in points} == {"requests"}

    samples = envelopes_to_samples(envelopes)
    keys = [
        (r["name"], tuple(sorted(r["labels"].items())), r["ts"])
        for r in samples.collect()
    ]
    assert len(keys) == len(set(keys))
    n_rollups = (
        rollup_counters(envelopes).count() + rollup_histograms(envelopes).count()
    )
    assert len(keys) == len(points) + n_rollups


def test_load_shed_under_cap_is_noop(spark):
    from metric_store_release_spark.streaming.nozzle import (
        NozzleMetrics,
        load_shed,
    )

    df = spark.createDataFrame(
        [env_row(i, "counter", name="c", total=1.0) for i in range(5)],
        ENVELOPE_SCHEMA,
    )
    m = NozzleMetrics()
    out = load_shed(df, 10, m)
    assert out.count() == 5
    assert m.dropped_envelopes_total == 0 and m.ingressed_envelopes_total == 5


def test_ingest_stream_rolls_up_timers(spark, timer_envelopes):
    """The same rollup code runs under Structured Streaming."""
    import os

    from metric_store_release_spark.streaming.nozzle import ingest_stream

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        timer_envelopes.write.parquet(src)
        q = ingest_stream(spark, src, out, ckpt)
        q.awaitTermination(120)
        from metric_store_release_spark.sources.storage import read_samples

        got = read_samples(spark, out)
        counters = got.filter(F.col("name") == "http_total").collect()
        assert {(r["ts"], r["labels"]["app_id"]): r["value"] for r in counters} == {
            (10_000, "A"): 3.0,
            (10_000, "B"): 1.0,
            (20_000, "A"): 4.0,
        }


def test_dedup_points_last_write_wins(spark):
    """Batch write-path dedup: one row per (name, labels, ts); the latest
    arrival (by order col) wins — the TSM cache overwrite semantic."""
    from metric_store_release_spark.sources.storage import dedup_points

    rows = [
        (1000, "m", 10.0, {"a": "1"}, 1),
        (1000, "m", 20.0, {"a": "1"}, 2),   # later arrival, same series+ts
        (1000, "m", 5.0, {"a": "2"}, 3),    # different labels: kept
        (2000, "m", 7.0, {"a": "1"}, 4),    # different ts: kept
    ]
    df = spark.createDataFrame(
        rows, "ts long, name string, value double, labels map<string,string>, seq long"
    )
    got = {
        (r["ts"], r["labels"]["a"]): r["value"]
        for r in dedup_points(df, order_col="seq").collect()
    }
    assert got == {(1000, "1"): 20.0, (1000, "2"): 5.0, (2000, "1"): 7.0}


def test_dedup_points_stream_drops_cross_batch_duplicates(spark):
    """Streaming ingest dedup: duplicates of an already-seen (series, ts)
    arriving in a later micro-batch (within the watermark) are dropped;
    state is watermark-bounded."""
    import os
    import time as _time

    from metric_store_release_spark.sources.storage import dedup_points_stream

    schema = "ts long, name string, value double, labels map<string,string>"
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        spark.createDataFrame(
            [(1_000, "m", 1.0, {"a": "1"})], schema
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        spark.createDataFrame(
            [(1_000, "m", 9.0, {"a": "1"}), (2_000, "m", 2.0, {"a": "1"})],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            dedup_points_stream(stream, watermark_delay="1 minute")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["ts"], r["value"]) for r in spark.read.parquet(out).collect()}
        # the batch-2 duplicate of (m,{a:1},1000) is dropped; first wins
        assert got == {(1_000, 1.0), (2_000, 2.0)}


def test_session_window_batch_matches_sessionize(spark):
    """The streaming session aggregate (F.session_window) and the batch
    lag/cumsum sessionize must produce the same sessions: same start
    (first event), same membership counts and sums; session_window's end
    is exclusive (last_ts + gap) by contract."""
    from metric_store_release_spark.pipeline.events import sessionize
    from metric_store_release_spark.streaming.sessions import session_aggregate

    rows = []
    eid = 0
    for u in range(4):
        base = 1_700_000_000_000 + u * 10_000_000
        for burst in range(3):
            start = base + burst * 7_200_000  # bursts 2 h apart
            for i in range(burst + 1):
                rows.append((eid, u, start + i * 60_000, float(u + i)))
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ms long, value double"
    )
    batch = {
        (r["user_id"], r["session_start_ms"]): (r["n_events"], r["sum_value"])
        for r in sessionize(df, gap_ms=30 * 60 * 1000).collect()
    }
    sw = session_aggregate(
        df.withColumn("ts", F.timestamp_millis(F.col("ts_ms"))),
        gap="30 minutes",
    )
    import datetime

    # collected session_start is a NAIVE datetime in the session tz (UTC);
    # naive .timestamp() would reinterpret it in the OS-local zone
    def ms(dt):
        return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)

    stream_shape = {
        (r["user_id"], ms(r["session_start"])): (r["n_events"], r["sum_value"])
        for r in sw.collect()
    }
    assert stream_shape == batch


def test_session_stream_availablenow_watermark_closes(spark, tmp_path):
    """Real readStream → session_window → foreachBatch (availableNow,
    append mode): exactly the sessions the final watermark has CLOSED are
    emitted — user 1's late second session (inside the 1 h watermark of
    the stream's max event time) stays open in state, unemitted; the two
    earlier sessions emit with the same aggregates as the batch path."""
    from metric_store_release_spark.streaming.sessions import (
        session_aggregate,
        session_stream,
    )

    rows = [
        (1, 1_700_000_000_000 + i * 60_000, 1.0) for i in range(3)
    ] + [
        (1, 1_700_000_000_000 + 4 * 3_600_000, 5.0),  # second session
        (2, 1_700_000_000_000, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ms long, value double")
    src = df.withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).drop("ts_ms")
    path = str(tmp_path / "events_stream")
    src.write.parquet(path)

    stream = spark.readStream.schema(src.schema).parquet(path)
    sink: list = []
    q = session_stream(stream, sink, gap="30 minutes", watermark="1 hour")
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in sink
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in session_aggregate(src, gap="30 minutes").collect()
    }
    assert len(batch) == 3  # two sessions for user 1, one for user 2
    # final watermark = max event time - 1 h; only sessions with
    # end < watermark are closed and emitted
    import datetime

    wm = datetime.datetime.fromtimestamp(
        (1_700_000_000_000 + 4 * 3_600_000) / 1000 - 3600,
        tz=datetime.timezone.utc,
    ).replace(tzinfo=None)  # collected rows are naive session-UTC datetimes
    closed = {key: v for key, v in batch.items() if key[2] < wm}
    assert got == closed
    assert len(got) == 2


def test_stream_range_join_matches_batch(spark, tmp_path):
    """Stream-stream time-range join (availableNow) emits exactly the
    batch range join's pairs: views within the hour before each purchase,
    same user, inner join."""
    from metric_store_release_spark.streaming.joins import stream_range_join

    base = 1_700_000_000_000
    purchases = spark.createDataFrame(
        [
            (1, base + 2 * 3_600_000, 100.0),   # pairs with views at +1h..+2h
            (1, base + 9 * 3_600_000, 200.0),   # no views in window
            (2, base + 3_600_000, 300.0),       # pairs with view at +30min
        ],
        "user_id long, ts_ms long, amount double",
    ).select("user_id", F.timestamp_millis("ts_ms").alias("ts"), "amount")
    views = spark.createDataFrame(
        [
            (1, base + 1 * 3_600_000 + 300_000, 1.0),
            (1, base + 2 * 3_600_000, 2.0),          # boundary: rts == lts kept
            (1, base + 2 * 3_600_000 - 3_600_000, 3.0),  # boundary: exactly -1h, EXCLUDED
            (2, base + 1_800_000, 4.0),
            (2, base + 5 * 3_600_000, 5.0),          # after every purchase
        ],
        "user_id long, ts_ms long, value double",
    ).select("user_id", F.timestamp_millis("ts_ms").alias("ts"), "value")

    batch = {
        (r["user_id"], r["ts"], r["r_ts"], r["r_value"])
        for r in stream_range_join(purchases, views).collect()
    }
    # boundary semantics: rts == lts kept (2.0), rts == lts - 1h excluded
    # (3.0), post-purchase views never pair (5.0)
    assert {v for (_, _, _, v) in batch} == {1.0, 2.0, 4.0}

    # real streams: both sides from parquet dirs, availableNow
    pdir, vdir = str(tmp_path / "p"), str(tmp_path / "v")
    purchases.write.parquet(pdir)
    views.write.parquet(vdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    vs = spark.readStream.schema(views.schema).parquet(vdir)
    sink: list = []
    q = (
        stream_range_join(ps, vs)
        .writeStream.foreachBatch(lambda df, _id: sink.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r["user_id"], r["ts"], r["r_ts"], r["r_value"]) for r in sink}
    assert got == batch


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a second query started on the SAME
    checkpoint (a) skips every file the first run already committed —
    exactly-once over the source — and (b) RESTORES the dedup state
    store, so duplicates of pre-restart rows arriving after the restart
    are still dropped. This is the recovery contract the ingest pipeline
    leans on (checkpoint = source offsets + state + sink commit log)."""
    import os

    from metric_store_release_spark.sources.storage import dedup_points_stream

    schema = "ts long, name string, value double, labels map<string,string>"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            dedup_points_stream(stream, watermark_delay="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1_000, "m", 1.0, {"a": "1"}), (2_000, "m", 2.0, {"a": "1"})], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # "crash" = clean stop after draining the first file
    assert spark.read.parquet(out).count() == 2

    # after the restart: one duplicate of a PRE-restart row (ts=1000, new
    # value — must be dropped by the restored state) and one new row
    spark.createDataFrame(
        [(1_000, "m", 9.0, {"a": "1"}), (3_000, "m", 3.0, {"a": "1"})], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    got = sorted(
        (r["ts"], r["value"]) for r in spark.read.parquet(out).collect()
    )
    # first-write-wins across the restart, old rows not re-emitted
    assert got == [(1_000, 1.0), (2_000, 2.0), (3_000, 3.0)]


def test_ingest_throughput_beats_reference_envelope(spark):
    """The end-to-end `ingest_stream` path must sustain more
    than the reference's client batching envelope of 128 points/s
    (>=64 points per 500 ms micro-batch, ingressclient.go:15-17 via
    BASELINE.md) — on a small corpus so the test stays quick; bench.py
    measures the same probe at full size."""
    from metric_store_release_spark.streaming.ingest_bench import (
        ENVELOPE_POINTS_PER_SEC,
        measure_ingest_throughput,
    )

    out = measure_ingest_throughput(spark, n_envelopes=6_000, n_files=8,
                                    max_files_per_trigger=4)
    assert out["batches"] >= 2  # real multi-batch streaming, not one gulp
    assert out["points"] > 6_000  # gauges fan out 2 points per envelope
    assert out["points_per_sec"] > ENVELOPE_POINTS_PER_SEC


def test_streaming_crawl_dedup_against_persisted_band_index(spark, tmp_path):
    """The streaming crawl-update composition: document batches arrive as
    a file stream; each micro-batch minhash-matches against the PERSISTED
    corpus band index (never re-banded) and appends its candidate matches
    to a sink. Verifies (a) every planted near-dup rediscovers its corpus
    source across multiple micro-batches, (b) the result equals the batch
    run of minhash_match over the same rows."""
    from metric_store_release_spark.pipeline.dedup import (
        minhash_band_table,
        minhash_match,
    )

    corpus_rows = [
        (i, f"alpha bravo charlie delta echo foxtrot golf hotel doc{i}")
        for i in range(20)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index_path = str(tmp_path / "band_index")
    minhash_band_table(corpus, num_hashes=8, bands=4, shingle_n=3).write.parquet(
        index_path
    )
    index = spark.read.parquet(index_path)

    # two arriving batches: ids shifted by 1000, every 2nd corpus doc
    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [(1000 + i, t) for i, t in corpus_rows if i % 2 == 0][:5]
    batch2 = [(1000 + i, t) for i, t in corpus_rows if i % 2 == 0][5:]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def match_batch(batch, batch_id):
        minhash_match(
            batch, index, num_hashes=8, bands=4, shingle_n=3
        ).write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["batch_id"], r["index_id"])
        for r in spark.read.parquet(sink).collect()
    }
    # every shifted doc must rediscover its source (identical text)
    for i, _ in corpus_rows:
        if i % 2 == 0:
            assert (1000 + i, i) in got
    # streaming == batch over the same rows
    all_new = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    want = {
        (r["batch_id"], r["index_id"])
        for r in minhash_match(
            all_new, index, num_hashes=8, bands=4, shingle_n=3
        ).collect()
    }
    assert got == want
