"""Federated multi-node storage — the Spark-first analog of the reference's
metric-name routing + replicated read layer.

Reference behavior: every metric name hashes onto `replication_factor` of N
nodes (jump-consistent hash over the name,
src/internal/routing/routing_table.go:47-63); writes replicate to every
assigned node; a read resolves the metric name to its replica set, prefers
the local node, and otherwise queries replicas with failover and retries
(src/internal/storage/replicated_querier.go:106-160, remote read transport
src/internal/storage/remote_querier.go:82-93).

The Spark translation drops the hand-built TLS TCP transport entirely: a
"node" is a storage path on the shared filesystem / object store Spark
already assumes, so

  - remote read   = a parquet scan of the replica's store (pushdown intact),
  - fan-out       = Spark task scheduling over the unioned replica scans,
  - failover      = skipping unreadable replica paths at plan time,
  - retry/backoff = the cluster manager's task re-execution,
  - divergence    = healed at read time by a deterministic dedup on
                    (name, ts, series signature) — replicas that missed
                    writes while down (the reference's hinted-handoff
                    window) simply contribute fewer rows to the union.

Routing stays on the driver as a broadcast map: metric-NAME cardinality is
small (the reference's routing table is an in-memory array of nodes), so a
distinct-names pass + broadcast join routes a 100 TB write without any
per-row Python.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import sig
from metric_store_release_spark.sources.storage import PARTITION_COL

# no leading underscore: Spark's file listing skips `_`-prefixed dirs when
# scanning a parent, and the node dir must stay a readable scan root
_NODE_COL = "node"

#: hinted-handoff defaults (write_replayer.go:19-41)
DEFAULT_HANDOFF_MAX_AGE_MS = 7 * 24 * 3600 * 1000


def _hash64(s: str) -> int:
    """Portable 64-bit name hash (md5 prefix — the xxhash analog)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def _jump_hash(key: int, n_buckets: int) -> int:
    """Jump consistent hash (Lamping & Veach 2014): same algorithm as the
    reference's jmphash dependency (routing_table.go:41,50-51). O(ln n),
    no state, minimal reshuffling when nodes are added."""
    b, j = -1, 0
    while j < n_buckets:
        b = j
        key = (key * 2862933555777941757 + 1) & 0xFFFFFFFFFFFFFFFF
        j = int((b + 1) * (float(1 << 31) / float((key >> 33) + 1)))
    return b


class RoutingTable:
    """Metric name → replica node set (routing_table.go:47-63).

    The primary node comes from the jump hash; the remaining
    `replication_factor - 1` replicas are the following nodes mod N — the
    ring-successor placement the reference's range-based replica walk
    produces."""

    def __init__(self, n_nodes: int, replication_factor: int = 1) -> None:
        if not 1 <= replication_factor <= n_nodes:
            raise ValueError("replication_factor must be in [1, n_nodes]")
        self.n_nodes = n_nodes
        self.replication_factor = replication_factor

    def lookup(self, metric_name: str) -> list[int]:
        first = _jump_hash(_hash64(metric_name), self.n_nodes)
        return [
            (first + i) % self.n_nodes for i in range(self.replication_factor)
        ]

    def is_local(self, metric_name: str, node: int) -> bool:
        """replicated_querier.go:115 IsLocal — serve from the local store
        when the name routes here."""
        return node in self.lookup(metric_name)


class FederatedStore:
    """N replicated shard stores under one root: node i lives at
    `root/node=i`, each internally date-partitioned like
    `sources.storage` (the 24 h shard analog)."""

    def __init__(
        self, spark: SparkSession, root: str, n_nodes: int,
        replication_factor: int = 1,
        heal_on_read: bool = False,
    ) -> None:
        self.spark = spark
        self.root = root
        self.table = RoutingTable(n_nodes, replication_factor)
        #: read-repair mode: scan EVERY live replica and collapse divergent
        #: copies (one extra hash-agg shuffle). The reference's
        #: replicated_querier serves each metric from a single node with
        #: failover (replicated_querier.go:160-190) and never cross-checks
        #: replicas, so the default follows it; heal_on_read=True is the
        #: stronger anti-entropy read for operators who want it.
        self.heal_on_read = heal_on_read

    def node_path(self, node: int) -> str:
        return f"{self.root}/{_NODE_COL}={node}"

    # -- write ---------------------------------------------------------------
    def write(
        self,
        samples: DataFrame,
        mode: str = "append",
        down_nodes: "frozenset[int] | set[int]" = frozenset(),
        queued_at_ms: int | None = None,
    ) -> None:
        """Replicated write: one scan, one job.

        Routing is resolved once per distinct metric name on the driver
        (names are routing-table cardinality, not row cardinality), exploded
        to (name, node) and broadcast-joined onto the samples — each row
        fans out to exactly its replica set, then a single
        partitionBy(node, date) write lands every replica. No shuffle
        beyond the write's own partitioning; no per-row Python.

        Rows routed to a node in `down_nodes` go to the hinted-handoff
        queue instead (metric_store.go writes through a WriteReplayer per
        unreachable node); `replay_handoff` drains them when the node
        recovers. `queued_at_ms` stamps the handoff batch (required when
        down_nodes is non-empty — explicit so replay/purge are
        deterministic and testable)."""
        if down_nodes and mode != "append":
            # overwrite would wipe the down node's existing partitions while
            # its replacement rows sit in the handoff queue — silent loss
            raise ValueError(
                "down_nodes requires mode='append'; overwrite would drop the "
                "down node's existing data while its new rows are queued"
            )
        names = [r["name"] for r in samples.select("name").distinct().collect()]
        routes = self.spark.createDataFrame(
            [(n, node) for n in names for node in self.table.lookup(n)],
            f"name string, {_NODE_COL} int",
        )
        routed = samples.join(F.broadcast(routes), "name").withColumn(
            PARTITION_COL, F.to_date(F.timestamp_millis(F.col("ts")))
        )
        live = routed
        if down_nodes:
            if queued_at_ms is None:
                raise ValueError("queued_at_ms is required with down_nodes")
            down = sorted(down_nodes)
            live = routed.filter(~F.col(_NODE_COL).isin(down))
            for node in down:
                self.handoff.append(
                    routed.filter(F.col(_NODE_COL) == node).drop(
                        _NODE_COL, PARTITION_COL
                    ),
                    node,
                    queued_at_ms,
                )
        live.write.partitionBy(_NODE_COL, PARTITION_COL).mode(mode).parquet(
            self.root
        )

    @property
    def handoff(self) -> HandoffLog:
        return HandoffLog(self.spark, f"{self.root}_handoff")

    def replay_handoff(
        self,
        node: int,
        now_ms: int,
        max_age_ms: int = DEFAULT_HANDOFF_MAX_AGE_MS,
    ) -> int:
        """Drain the recovered node's queue into its store
        (write_replayer.go Write loop): purge batches older than MaxAge,
        append the rest as one job, clear exactly the batches replayed.
        Returns rows replayed. Idempotent under crash-between-append-and-
        delete: the replica dedup at read time absorbs a double replay. A
        batch appended concurrently (after the listing) is left queued for
        the next replay rather than deleted unreplayed."""
        import shutil

        log = self.handoff
        log.purge_older_than(node, now_ms - max_age_ms)
        batches = log.pending_batches(node)
        if not batches:
            return 0
        batch_paths = [f"{log.queue_path(node)}/queued_at={b}" for b in batches]
        queued = self.spark.read.parquet(*batch_paths)
        out = queued.withColumn(
            PARTITION_COL, F.to_date(F.timestamp_millis(F.col("ts")))
        )
        n = queued.count()
        out.write.partitionBy(PARTITION_COL).mode("append").parquet(
            self.node_path(node)
        )
        for p in batch_paths:
            shutil.rmtree(p)
        return n

    # -- read ----------------------------------------------------------------
    def _available(self, nodes: list[int]) -> list[int]:
        """Failover at plan time: unreadable replicas are skipped the way
        queryWithNodeFailover walks to the next node
        (replicated_querier.go:160-190)."""
        return [n for n in nodes if Path(self.node_path(n)).exists()]

    def select_samples(
        self, metric_name: str, heal: "bool | None" = None
    ) -> DataFrame:
        """All samples for one metric. Raises when every replica is down —
        the reference returns an error series set in the same situation.

        Default (``heal`` None → ``self.heal_on_read``, default False):
        serve from the FIRST available replica in ring order, exactly the
        reference's single-node read with failover
        (replicated_querier.go:160-190) — a plain one-node FileScan, no
        dedup shuffle. ``heal=True``: scan every live replica and collapse
        divergent copies via `_dedup_replicas` (read-repair; one extra
        hash-agg shuffle). At replication factor 1 the two modes are
        identical and the dedup is always skipped — it cannot remove
        anything and would only add a shuffle to every federated read
        (measured as most of the round-4 1.42x federated premium).
        """
        heal = self.heal_on_read if heal is None else heal
        nodes = self._available(self.table.lookup(metric_name))
        if not nodes:
            raise FileNotFoundError(
                f"no replica of {metric_name!r} is readable"
            )
        if not heal or self.table.replication_factor == 1:
            nodes = nodes[:1]
        # one multi-path scan over the chosen replica roots (not a union of
        # per-node scans): single FileScan node, name pushdown intact;
        # basePath makes node= a partition column, dropped after the scan
        scan = (
            self.spark.read.option("basePath", self.root)
            .parquet(*[self.node_path(n) for n in nodes])
            .drop(_NODE_COL)
            .filter(F.col("name") == metric_name)
        )
        if len(nodes) == 1:
            return scan
        return _dedup_replicas(scan)

    def samples_for_query(self, promql: str) -> DataFrame:
        """Resolve a PromQL query's samples across the cluster —
        replicated_querier.go Select: every selector's metric name routes to
        its replica set; names must be STRICT equality matches
        (extractMetricName, replicated_querier.go:129-140 — the reference
        errors on regex/negative name matchers, and so do we).

        Returns one union of the (deduped) per-metric replica scans, ready
        to hand to PromQLEngine.query_range/query_instant. Name-equality
        pushdown survives: each branch scans only its metric's replicas."""
        from metric_store_release_spark.promql.ast import (
            MatchOp,
            VectorSelector,
            walk,
        )
        from metric_store_release_spark.promql.parser import parse

        names: set[str] = set()
        for node in walk(parse(promql)):
            if isinstance(node, VectorSelector):
                name = node.name
                if name is None:
                    for m in node.matchers:
                        if m.name == "__name__":
                            if m.op != MatchOp.EQ:
                                raise ValueError(
                                    "only strict equality is supported for "
                                    "metric names"
                                )
                            name = m.value
                if name is None:
                    raise ValueError("no metric name present")
                names.add(name)
        if not names:
            raise ValueError("no metric name present")
        return _union([self.select_samples(n) for n in sorted(names)])

    def read_all(self) -> DataFrame:
        """Whole-store read across every live node (the multi-node scatter
        behind /api/v1/labels etc.), replica-deduped."""
        nodes = self._available(list(range(self.table.n_nodes)))
        if not nodes:
            raise FileNotFoundError("no federation node is readable")
        scan = (
            self.spark.read.option("basePath", self.root)
            .parquet(*[self.node_path(n) for n in nodes])
            .drop(_NODE_COL)
        )
        # RF=1: node stores are disjoint by routing, nothing to heal
        if self.table.replication_factor == 1:
            return scan
        return _dedup_replicas(scan)


class HandoffLog:
    """Disk-backed per-target-node queue of writes that missed a down node —
    the hinted-handoff analog (src/internal/handoff/write_replayer.go:17-41,
    disk_backed_queue.go).

    The reference queues gob-encoded batches per node and a WriteReplayer
    drains them over TCP with retry/backoff when the node returns. Here the
    queue is parquet under `<root>/target=<node>/queued_at=<ms>` — batches
    stay separately purgeable by age (MaxAge), DiskUsage is a directory
    walk, and replay is a single append job into the recovered node's store
    (Spark task retry replaces the byte-rate-limited TCP drain)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def queue_path(self, node: int) -> str:
        return f"{self.root}/target={node}"

    def append(self, samples: DataFrame, node: int, queued_at_ms: int) -> None:
        samples.write.mode("append").parquet(
            f"{self.queue_path(node)}/queued_at={queued_at_ms}"
        )

    def disk_usage(self, node: int) -> int:
        """Queue.DiskUsage analog — bytes on disk for one target node."""
        p = Path(self.queue_path(node))
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())

    def purge_older_than(self, node: int, cutoff_ms: int) -> int:
        """Queue.PurgeOlderThan: drop whole batches queued before cutoff
        (the reference purges whole queue segments the same way)."""
        import shutil

        dropped = 0
        for batch in sorted(Path(self.queue_path(node)).glob("queued_at=*")):
            if int(batch.name.split("=", 1)[1]) < cutoff_ms:
                shutil.rmtree(batch)
                dropped += 1
        return dropped

    def pending_batches(self, node: int) -> list[int]:
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in Path(self.queue_path(node)).glob("queued_at=*")
        )


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _dedup_replicas(samples: DataFrame) -> DataFrame:
    """Collapse replica copies of the same (name, ts, series) to one row.

    Maps aren't groupable, so the series key is the sorted label entry
    array (datamodel.sig's layout) built map-side; max(value) breaks the
    (never-expected) divergent-value tie deterministically. NOTE the
    tie-break contract: Spark orders NaN greater than every number, so if
    one replica holds a stale marker (NaN) and another a real sample at the
    same (name, ts, sig), the stale marker wins — intentional, since the
    replica that saw the staleness event has the newer information; for
    ordinary divergence the larger value wins (there is no per-row write
    version to do latest-write-wins). One hash aggregation keyed by
    (name, ts, sig) — uniformly distributed, no skew: the same shape as the
    engine's per-selector aggregation."""
    extra = [
        c for c in samples.columns
        if c not in ("ts", "name", "value", "labels", PARTITION_COL)
    ]
    deduped = (
        samples.withColumn("__sig", sig(F.col("labels")))
        .groupBy("ts", "name", "__sig")
        .agg(
            F.max("value").alias("value"),
            *[F.max(c).alias(c) for c in extra],
        )
        .withColumn("labels", F.map_from_entries(F.col("__sig")))
        .drop("__sig")
    )
    return deduped.select("ts", "name", "value", "labels", *extra)
