"""Samples storage: date-partitioned Parquet (the 24 h TSM shard analog).

Reference: points bucket into 24 h shards keyed by day-truncated epoch-ns
(influx_adapter.go:326-370); expiry drops whole shards past retention
(store.go:158-214). Spark-native equivalent: `partitionBy(date)` parquet —
time-range predicates prune partitions at plan time, and retention is a
partition drop. `name` stays a top-level column so equality matchers push
into row-group filters (the TSI-index analog).
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import sig

PARTITION_COL = "date"


def write_samples(samples: DataFrame, path: str, mode: str = "append") -> None:
    """samples (ts ms, name, value, labels[, stale]) → partitioned parquet."""
    out = samples.withColumn(
        PARTITION_COL, F.to_date(F.timestamp_millis(F.col("ts")))
    )
    out.write.partitionBy(PARTITION_COL).mode(mode).parquet(path)


def dedup_points(points: DataFrame, order_col: str | None = None) -> DataFrame:
    """Write-path duplicate resolution: one row per (name, labels, ts).

    The reference's TSM cache dedups duplicate (series, ts) entries at
    write time with last-write-wins (V tsm1/cache.go:285+ — later cache
    entries overwrite earlier ones when the shard flushes). Spark analog:
    one hash aggregation keyed on (name, series signature, ts); when an
    arrival-order column exists the latest arrival's value wins (`max_by`
    on the (order, value) pair, so ties on the order column resolve to
    the larger value — fully deterministic), otherwise the max value.
    The engine's duplicate-ts uniqueness contract (engine/selectors.py)
    holds downstream. Uniform shuffle on the series key: skew-free at any
    scale because the key includes ts.
    """
    win = (
        F.max_by("value", F.struct(F.col(order_col), F.col("value")))
        if order_col
        else F.max("value")
    ).alias("value")
    deduped = (
        points.withColumn("__sig", sig(F.col("labels")))
        .groupBy("name", "__sig", "ts")
        .agg(win)
    )
    return deduped.select(
        "ts", "name", "value", F.map_from_entries("__sig").alias("labels")
    )


def dedup_points_stream(points: DataFrame, watermark_delay: str = "1 minute") -> DataFrame:
    """Streaming form for the ingest path: FIRST-write-wins per
    (name, labels, ts) with state bounded by the event-time watermark
    (dropDuplicatesWithinWatermark — state for a key is dropped once the
    watermark passes it, so the dedup map cannot grow unboundedly the way
    an unwatermarked dropDuplicates would).

    Contract note: this layer is a VOLUME-REDUCTION pass, not the
    authoritative resolution — it keeps the first arrival while the batch
    `dedup_points` (compaction/read time) keeps the last, mirroring the
    reference where the cache absorbs duplicates cheaply and TSM
    compaction applies the final overwrite ordering. When duplicate
    values can genuinely differ, route conflicting series through the
    batch pass with an arrival-order column; the streaming pass is for
    the common retransmit case where duplicates are identical."""
    # map columns cannot be equality keys — use the canonical sorted-entry
    # signature serialized to JSON as the dedup key
    with_time = points.withColumn(
        "__event_time", F.timestamp_millis(F.col("ts"))
    ).withColumn("__sig_key", F.to_json(sig(F.col("labels"))))
    return (
        with_time.withWatermark("__event_time", watermark_delay)
        .dropDuplicatesWithinWatermark(["name", "__sig_key", "ts"])
        .drop("__event_time", "__sig_key")
    )


def read_samples(spark: SparkSession, path: str) -> DataFrame:
    """Keeps the `date` partition column: the engine derives a partition
    predicate from each query's time bounds so whole shards prune at plan
    time (the reference's forTimestampRange shard walk)."""
    return spark.read.parquet(path)


def expire_shards(path: str, cutoff_date: str) -> list[str]:
    """Drop partitions older than cutoff (store.go:158-176 expiry walk).

    Returns the dropped partition names. Local-filesystem implementation;
    on a real warehouse this is an ALTER TABLE DROP PARTITION / Delta
    VACUUM."""
    root = Path(path)
    dropped = []
    for part in sorted(root.glob(f"{PARTITION_COL}=*")):
        day = part.name.split("=", 1)[1]
        if day < cutoff_date:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


def _shard_bytes(part: Path) -> int:
    return sum(f.stat().st_size for f in part.rglob("*") if f.is_file())


def prune_oldest_shards(
    path: str,
    max_total_bytes: int | None = None,
    disk_free_pct: "Callable[[], float] | None" = None,
    disk_free_target_pct: float | None = None,
) -> list[str]:
    """Disk-low retention: drop OLDEST shards first, regardless of age.

    Mirrors store.go:185-214 — when the disk-free reporter falls below
    DiskFreePercentTarget, deleteOldest() removes one oldest shard per check
    until the target is met. Two modes (either or both):

      - ``max_total_bytes``: drop oldest partitions until the store's total
        on-disk size fits the byte budget (a deterministic analog of the
        percent target, testable without statvfs).
      - ``disk_free_pct`` + ``disk_free_target_pct``: re-invoke the reporter
        after each drop, exactly the reference's loop shape.

    Never drops the newest remaining shard. Returns dropped partition names.
    """
    root = Path(path)
    parts = sorted(root.glob(f"{PARTITION_COL}=*"))  # name order == day order
    dropped: list[str] = []
    while len(parts) > 1:
        over_budget = (
            max_total_bytes is not None
            and sum(_shard_bytes(p) for p in parts) > max_total_bytes
        )
        disk_low = (
            disk_free_pct is not None
            and disk_free_target_pct is not None
            and disk_free_pct() < disk_free_target_pct
        )
        if not (over_budget or disk_low):
            break
        oldest = parts.pop(0)
        shutil.rmtree(oldest)
        dropped.append(oldest.name)
    return dropped


def retention_sweep(
    path: str,
    cutoff_date: str | None = None,
    max_total_bytes: int | None = None,
    disk_free_pct: "Callable[[], float] | None" = None,
    disk_free_target_pct: float | None = None,
) -> list[str]:
    """One periodic-expiry tick (store.go:178-198 deleteExpiredData): age
    cutoff first, then disk-low/oldest-first pruning. Returns all dropped
    partition names."""
    dropped: list[str] = []
    if cutoff_date is not None:
        dropped += expire_shards(path, cutoff_date)
    dropped += prune_oldest_shards(
        path, max_total_bytes, disk_free_pct, disk_free_target_pct
    )
    return dropped


def compact_shards(
    spark: SparkSession, path: str, target_files_per_shard: int = 1
) -> int:
    """Rewrite each date partition to few large files — the Delta OPTIMIZE /
    TSM full-compaction analog (store.go:120-125 scheduled compaction).
    Returns the number of compacted partitions."""
    root = Path(path)
    n = 0
    for part in sorted(root.glob(f"{PARTITION_COL}=*")):
        files = list(part.glob("*.parquet"))
        if len(files) <= target_files_per_shard:
            continue
        df = spark.read.parquet(str(part))
        tmp = str(part) + ".compact"
        df.coalesce(target_files_per_shard).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part)
        Path(tmp).rename(part)
        n += 1
    return n


def downsample_samples(samples: DataFrame, step_ms: int) -> DataFrame:
    """Continuous-aggregate downsampling (the Thanos-compact / TimescaleDB
    rollup analog the reference delegates to retention — here a first-class
    storage operator): per (series, step bucket), avg/min/max/count, with
    ts = bucket start.

    One hash aggregation keyed by (name, label-signature, bucket) —
    uniform, map-side combined; labels rebuilt from the sorted entry array
    (maps aren't groupable, same contract as the replica heal). Writing
    the result per retention tier is how a 100 TB store keeps year-old
    data queryable at 1/N the cost; PromQL evaluates unchanged over the
    downsampled table at coarser step."""
    bucket = (F.floor(F.col("ts") / step_ms) * step_ms).cast("long")
    return (
        samples.withColumn("__sig", sig(F.col("labels")))
        .groupBy(bucket.alias("ts"), F.col("name"), F.col("__sig"))
        .agg(
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .withColumn("labels", F.map_from_entries(F.col("__sig")))
        .drop("__sig")
        .select(
            "ts", "name", "labels",
            "avg_value", "min_value", "max_value", "n_samples",
        )
    )


def redownsample(rollup: DataFrame, step_ms: int) -> DataFrame:
    """Build a COARSER rollup tier from a finer one without touching raw
    — the compaction-chain shape (each retention level feeds the next, so
    year-old raw need never be re-read to build the 1 h tier from the
    5 min tier).

    Correctness subtlety this function exists to own: a plain
    avg-of-bucket-avgs is WRONG whenever bucket populations differ
    (a 2-sample bucket would weigh as much as a 200-sample one); the
    coarser avg must be re-weighted by ``n_samples`` —
    sum(avg·n)/sum(n) — which equals downsample_samples(raw, step) up to
    float summation order. min/max/count fold losslessly. Same one-hash-
    aggregation shape as downsample_samples."""
    bucket = (F.floor(F.col("ts") / step_ms) * step_ms).cast("long")
    return (
        rollup.withColumn("__sig", sig(F.col("labels")))
        .groupBy(bucket.alias("ts"), F.col("name"), F.col("__sig"))
        .agg(
            (
                F.sum(F.col("avg_value") * F.col("n_samples"))
                / F.sum("n_samples")
            ).alias("avg_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("n_samples").alias("n_samples"),
        )
        .withColumn("labels", F.map_from_entries(F.col("__sig")))
        .drop("__sig")
        .select(
            "ts", "name", "labels",
            "avg_value", "min_value", "max_value", "n_samples",
        )
    )


def build_tier_tables(
    spark: SparkSession,
    raw_path: str,
    steps_ms: list[int],
    out_root: str,
    mode: str = "overwrite",
) -> dict[int, str]:
    """The compaction JOB: materialize the whole rollup-tier chain from a
    raw shard store. The finest tier downsamples raw once; every coarser
    tier derives from the previous tier via :func:`redownsample`
    (weighted, so chained == direct) — raw is read exactly once no matter
    how many tiers, the Thanos-compact level structure. Each tier writes
    date-partitioned like the raw store, so shard pruning and
    retention/expiry (:func:`expire_shards`, :func:`prune_oldest_shards`)
    apply to tiers unchanged — in production each tier carries its own,
    longer, retention. Returns {step_ms: tier_path} ready to read back
    into :func:`tiered_samples`.
    """
    steps = sorted(int(s) for s in steps_ms)
    if not steps:
        return {}
    paths: dict[int, str] = {}
    prev: DataFrame | None = None
    for i, step in enumerate(steps):
        if prev is None:
            tier = downsample_samples(read_samples(spark, raw_path), step)
        else:
            tier = redownsample(prev, step)
        tier_path = f"{out_root.rstrip('/')}/step={step}"
        out = tier.withColumn(
            PARTITION_COL, F.to_date(F.timestamp_millis(F.col("ts")))
        )
        out.write.partitionBy(PARTITION_COL).mode(mode).parquet(tier_path)
        paths[step] = tier_path
        # the next tier derives from what was just WRITTEN (not the
        # in-memory plan): one raw read total, and each tier's lineage is
        # its own parquet — the restartable-compaction contract
        prev = spark.read.parquet(tier_path).drop(PARTITION_COL)
    return paths


def read_tier_samples(spark: SparkSession, tier_paths: dict[int, str]) -> dict[int, DataFrame]:
    """Read tier tables back into the {step: rollup DataFrame} form
    :func:`tiered_samples` consumes."""
    return {
        step: spark.read.parquet(path).drop(PARTITION_COL)
        for step, path in tier_paths.items()
    }


def select_tier(
    step_ms: int,
    start_ms: int,
    end_ms: int,
    tier_steps: list[int],
    raw_retention_ms: int | None = None,
    now_ms: int | None = None,
) -> int | None:
    """Read-path resolution selection over downsample tiers: the query-time
    counterpart of the reference's retention delete (store.go:158-214 —
    which makes old data simply vanish; a rollup tier keeps it queryable)
    and the Thanos auto-downsampling rule (pkg/query: pick the coarsest
    resolution still giving >=5 samples per step).

    Returns the chosen tier's bucket width (an element of ``tier_steps``)
    or None for raw. Rules, in order:

    1. Coverage floor: if ``raw_retention_ms`` is set and the range starts
       before now - retention, raw cannot serve the query — the FINEST
       tier becomes the fallback even when the step/5 rule prefers raw.
    2. step/5: among tiers with tier_step * 5 <= step_ms, pick the
       COARSEST (cheapest scan that still resolves the step); otherwise
       raw (or the coverage fallback from rule 1).

    Pure driver-side arithmetic over catalog metadata — no data is read
    to make the choice, so it belongs in the planner, not the scan.
    """
    if step_ms <= 0:
        raise ValueError(f"step_ms must be positive, got {step_ms}")
    if end_ms < start_ms:
        raise ValueError(f"empty range: [{start_ms}, {end_ms}]")
    tiers = sorted(tier_steps)
    eligible = [t for t in tiers if t * 5 <= step_ms]
    needs_rollup = (
        raw_retention_ms is not None
        and now_ms is not None
        and start_ms < now_ms - raw_retention_ms
    )
    if eligible:
        return eligible[-1]
    if needs_rollup and tiers:
        return tiers[0]
    return None


def tiered_samples(
    raw: DataFrame,
    tiers: dict[int, DataFrame],
    start_ms: int,
    end_ms: int,
    step_ms: int,
    raw_retention_ms: int | None = None,
    now_ms: int | None = None,
) -> tuple[DataFrame, int | None]:
    """Route a query to raw vs rollup by (range, step): returns
    (samples, chosen_tier_step). ``tiers`` maps bucket width →
    :func:`downsample_samples` output (in memory or read back from a
    shard table); a chosen rollup re-presents ``avg_value`` as the sample
    value, which `promql_over_downsampled` proves evaluates unchanged
    through the engine. The caller's lookback must be >= the chosen
    tier's bucket width for the as-of selector to land on a bucket —
    true by construction here since tiers only win when
    step >= 5 * bucket width and lookback tracks step.
    """
    chosen = select_tier(
        step_ms, start_ms, end_ms, list(tiers), raw_retention_ms, now_ms
    )
    if chosen is None:
        return raw, None
    rollup = tiers[chosen]
    return (
        rollup.select(
            "ts", "name", F.col("avg_value").alias("value"), "labels"
        ),
        chosen,
    )


def series_signature(labels: Column) -> Column:
    """Canonical string form of a label set: sorted 'k=v' pairs joined by
    commas — the engine-portable series identity for cardinality
    accounting (datamodel.sig's layout, flattened to one hashable
    string)."""
    return F.array_join(
        F.transform(
            sig(labels),
            lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
        ),
        ",",
    )


def correlate_series(
    samples: DataFrame,
    target_name: str,
    target_labels: dict[str, str],
    step_ms: int = 300_000,
    min_points: int = 3,
) -> DataFrame:
    """Time-series similarity search: Pearson correlation of EVERY series
    against one target series over aligned time buckets — the incident-
    triage query ("what moved with this metric?"; cf. distributed
    time-series similarity search, EDBT 2019 line of work).

    Alignment first: irregular samples roll up to ``step_ms`` bucket
    means (one hash agg), then one equi-join on the bucket key against
    the (tiny, broadcast) target vector and one corr() aggregation per
    series. No per-pair work, no series pivot/collect: cost is ~2 scans
    + 2 uniform shuffles regardless of series count. Zero-variance
    series (corr undefined: NaN in Spark, NULL in SQL engines) and
    series sharing fewer than ``min_points`` buckets with the target are
    excluded — both exclusions are part of the contract so oracles agree.
    Output: (name, labels, n_buckets, corr), target included (corr 1.0).
    """
    ds = downsample_samples(samples, step_ms).select(
        "ts", "name", "labels", F.col("avg_value").alias("v")
    )
    tgt_filter = F.col("name") == target_name
    for k, val in sorted(target_labels.items()):
        tgt_filter = tgt_filter & (F.col("labels").getItem(k) == val)
    # label-subset matching can hit several series (one with extra labels);
    # silently unioning their buckets would duplicate ts keys in the
    # broadcast join and corrupt every correlation — demand exactly one.
    n_target = (
        samples.filter(tgt_filter)
        .select(series_signature(F.col("labels")).alias("__s"))
        .distinct()
        .limit(2)
        .count()
    )
    if n_target != 1:
        raise ValueError(
            f"correlate_series target {target_name!r} {target_labels!r} "
            f"matches {'no series' if n_target == 0 else '2+ series'}; "
            "pass the full label set so exactly one series resolves"
        )
    target = ds.filter(tgt_filter).select("ts", F.col("v").alias("__x"))
    joined = ds.join(F.broadcast(target), "ts")
    # explicit moment sums instead of F.corr: under ANSI mode (Spark 4
    # default) corr() RAISES DIVIDE_BY_ZERO on a zero-variance group; the
    # guarded closed form returns null there instead — and, mirrored
    # verbatim in SQL oracles, computes the identical doubles (corr()'s
    # internal streaming algorithm differs between engines)
    n = F.col("n_buckets")
    dv = n * F.col("__svv") - F.col("__sv") * F.col("__sv")
    dx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    cov = n * F.col("__svx") - F.col("__sv") * F.col("__sx")
    r = F.when((dv > 0) & (dx > 0), cov / F.sqrt(dv * dx))
    out = (
        joined.withColumn("__sig", sig(F.col("labels")))
        .groupBy("name", "__sig")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_buckets"),
            F.sum("v").alias("__sv"),
            F.sum("__x").alias("__sx"),
            F.sum(F.col("v") * F.col("__x")).alias("__svx"),
            F.sum(F.col("v") * F.col("v")).alias("__svv"),
            F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        )
        .withColumn("__r", r)
        .filter((n >= min_points) & F.col("__r").isNotNull())
        .withColumn("labels", F.map_from_entries(F.col("__sig")))
        .select(
            "name",
            "labels",
            n.cast("long").alias("n_buckets"),
            F.round("__r", 6).alias("corr"),
        )
    )
    return out
