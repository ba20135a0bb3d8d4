"""The sample-file format `sources/storage.py` declares: every writer of
sample files makes zstd pages with min/max statistics on the columns reads
prune by only, and `read_samples` reads with the declared schema, without
a Spark job, stores of the older Snappy files included."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField

from metric_store_release_spark import PromQLEngine
from metric_store_release_spark.datamodel import SAMPLES_SCHEMA
from metric_store_release_spark.sources.federation import FederatedStore
from metric_store_release_spark.sources.storage import (
    build_tier_tables,
    compact_shards,
    read_samples,
    write_samples,
)

DAY = 86_400_000
MIN = 60_000
SCHEMA = "ts long, name string, value double, labels map<string,string>"


def _samples(spark, n=120, names=("cpu", "memory")):
    rows = [
        (i * MIN, name, float(i % 7), {"job": f"j{i % 3}", "inst": str(i % 2)})
        for name in names
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _chunks(root: Path):
    """(column path, codec, has min/max) of every column chunk under root."""
    files = sorted(root.rglob("*.parquet"))
    assert files, root
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                stats = col.statistics
                yield col.path_in_schema, col.compression, bool(
                    stats is not None and stats.has_min_max
                )


def _assert_format(root: Path) -> None:
    chunks = list(_chunks(root))
    assert {codec for _, codec, _ in chunks} == {"ZSTD"}
    with_stats = {path for path, _, has in chunks if has}
    assert with_stats == {"ts", "name"}, with_stats
    paths = {path for path, _, _ in chunks}
    assert "value" in paths or "avg_value" in paths
    assert any(p.startswith("labels.") for p in paths)


def test_write_samples_format(spark, tmp_path):
    write_samples(_samples(spark), str(tmp_path / "store"))
    _assert_format(tmp_path / "store")


def test_build_tier_tables_format(spark, tmp_path):
    write_samples(_samples(spark), str(tmp_path / "raw"))
    paths = build_tier_tables(
        spark, str(tmp_path / "raw"), [5 * MIN, 30 * MIN], str(tmp_path / "tiers")
    )
    for path in paths.values():
        _assert_format(Path(path))


def test_compact_shards_format(spark, tmp_path):
    store = str(tmp_path / "store")
    write_samples(_samples(spark).repartition(4), store)
    assert compact_shards(spark, store) == 1
    assert len(list(Path(store).rglob("*.parquet"))) == 1
    _assert_format(Path(store))


def test_federated_store_format(spark, tmp_path):
    fed = FederatedStore(spark, str(tmp_path / "fed"), n_nodes=2)
    df = _samples(spark)
    fed.write(df.filter("ts < 60 * 60000"))
    _assert_format(tmp_path / "fed")
    # the hinted-handoff queue and its replay into the node store
    fed.write(df.filter("ts >= 60 * 60000"), down_nodes={0, 1}, queued_at_ms=5)
    _assert_format(tmp_path / "fed_handoff")
    assert fed.replay_handoff(0, now_ms=10) + fed.replay_handoff(1, now_ms=10) > 0
    _assert_format(tmp_path / "fed")
    assert fed.read_all().count() == df.count()


def test_read_samples_runs_no_job(spark, tmp_path):
    store = str(tmp_path / "store")
    write_samples(_samples(spark), store)
    sc = spark.sparkContext
    sc.setJobGroup("read_samples_jobs", "read_samples")
    try:
        df = read_samples(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("read_samples_jobs")) == []
    # the declared types; a file scan reads every column as nullable
    declared = [*SAMPLES_SCHEMA.fields, StructField("date", DateType())]
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in declared
    ]
    assert df.count() == 240
    assert df.filter("stale IS NOT NULL").count() == 0


def test_snappy_and_zstd_files_read_together(spark, tmp_path):
    """A store written before the format (Snappy, statistics everywhere)
    stays readable after new files land in the same shards."""
    store = str(tmp_path / "store")
    old = _samples(spark, names=("cpu",))
    old.withColumn("date", F.to_date(F.timestamp_millis("ts"))).write.partitionBy(
        "date"
    ).option("compression", "snappy").parquet(store)
    write_samples(_samples(spark, names=("memory",)), store)
    codecs = {codec for _, codec, _ in _chunks(Path(store))}
    assert codecs == {"SNAPPY", "ZSTD"}
    back = read_samples(spark, store)
    got = sorted((r["ts"], r["name"], r["value"]) for r in back.collect())
    want = sorted((r["ts"], r["name"], r["value"]) for r in _samples(spark).collect())
    assert got == want


@pytest.mark.parametrize(
    "query",
    ["sum by (job) (rate(cpu[10m]))", "cpu", 'max_over_time(memory{inst="1"}[5m])'],
)
def test_store_without_stale_answers_as_before(spark, tmp_path, query):
    """Files without a `stale` column read it as null, which never marks:
    the answers equal those over the store read with its own inferred
    schema, which has no `stale` column at all."""
    store = str(tmp_path / "store")
    write_samples(_samples(spark), store)
    eng = PromQLEngine(spark)

    def answer(samples):
        out = eng.query_range(samples, query, 30 * MIN, 110 * MIN, 5 * MIN)
        rows = out.collect()
        return sorted((r["t"], sorted(r["labels"].items()), r["value"]) for r in rows)

    inferred = spark.read.parquet(store)
    assert "stale" not in inferred.columns
    want = answer(inferred)
    assert want
    assert answer(read_samples(spark, store)) == want


def test_stale_markers_read_when_first_file_has_none(spark, tmp_path):
    """A shard holding no `stale` column comes first; a later shard's
    staleness marker still ends its series."""
    store = str(tmp_path / "store")
    write_samples(
        spark.createDataFrame([(DAY - MIN, "m", 1.0, {"a": "x"})], SCHEMA), store
    )
    write_samples(
        spark.createDataFrame(
            [(DAY + MIN, "m", float("nan"), {"a": "x"}, True)],
            SCHEMA + ", stale boolean",
        ),
        store,
    )
    out = PromQLEngine(spark).query_range(
        read_samples(spark, store), "m", DAY - MIN, DAY + 2 * MIN, MIN
    )
    assert sorted(r["t"] for r in out.collect()) == [DAY - MIN, DAY]


def test_compaction_keeps_stale_markers(spark, tmp_path):
    """A shard whose files differ in having `stale` compacts to one file
    that keeps every file's markers."""
    store = str(tmp_path / "store")
    write_samples(spark.createDataFrame([(MIN, "m", 1.0, {"a": "x"})], SCHEMA), store)
    write_samples(
        spark.createDataFrame(
            [(2 * MIN, "m", float("nan"), {"a": "x"}, True)],
            SCHEMA + ", stale boolean",
        ),
        store,
    )
    assert compact_shards(spark, store) == 1
    assert len(list(Path(store).rglob("*.parquet"))) == 1
    back = read_samples(spark, store)
    assert sorted((r["ts"], r["stale"]) for r in back.collect()) == [
        (MIN, None), (2 * MIN, True)
    ]
