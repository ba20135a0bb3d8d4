"""pipeline.graph.pagerank + pipeline.dedup.remove_duplicate_spans.

PageRank is checked against an exact NumPy replay of the same damped
recurrence (fixed iterations, dangling redistribution), not against
magic constants — any drift in the distributed formulation shows up as
a per-node mismatch at 1e-12.
"""

from __future__ import annotations

import numpy as np
import pytest

from metric_store_release_spark.pipeline.dedup import remove_duplicate_spans
from metric_store_release_spark.pipeline.graph import _scaled_npart, pagerank


def _np_pagerank(edges, iterations=5, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {i: [] for i in range(n)}
    for s, t in set(edges):
        out[idx[s]].append(idx[t])
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[i] for i in range(n) if not out[i])
        nxt += d * dangling / n
        for i in range(n):
            for j in out[i]:
                nxt[j] += d * r[i] / len(out[i])
        r = nxt
    return {nodes[i]: r[i] for i in range(n)}


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_scaled_npart_unknown_stats_fall_back_to_floor(spark):
    """A createDataFrame edge list is an RDD-backed leaf whose size stat is
    spark.sql.defaultSizeInBytes (Long.MaxValue): unknown, not huge. The
    partition count must fall back to the floor, not jump to the cap."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], ["src", "dst"]
    )
    assert _scaled_npart(edges, 4) == 4
    # a leaf with real stats still scales: 1 GiB of range → 64 x 16 MiB
    big = spark.range(1 << 27)  # 8 B/row
    assert _scaled_npart(big, 4) == 64


def test_pagerank_matches_numpy_reference(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    got = _ranks(spark, edges, iterations=5)
    want = _np_pagerank(edges, iterations=5)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_conserves_total_mass_with_dangling(spark):
    # node 3 is a sink: without redistribution total rank leaks each
    # iteration; with it the total stays exactly 1.
    edges = [(1, 3), (2, 3)]
    got = _ranks(spark, edges, iterations=4)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    want = _np_pagerank(edges, iterations=4)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_symmetric_graph_uniform(spark):
    # undirected 4-cycle: perfect symmetry keeps every rank at 1/4
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    edges = cyc + [(b, a) for a, b in cyc]
    got = _ranks(spark, edges, iterations=3)
    for v in got.values():
        assert v == pytest.approx(0.25, abs=1e-12)


def test_pagerank_duplicate_edges_collapse(spark):
    # the edge list is distinct-ed: repeating an edge must not change
    # outdeg or contributions
    edges = [(1, 2), (2, 1)]
    got = _ranks(spark, edges + edges + edges, iterations=3)
    assert got[1] == pytest.approx(0.5, abs=1e-12)
    assert got[2] == pytest.approx(0.5, abs=1e-12)


def _exchanges_above_caches(df) -> int:
    """Count shuffle Exchanges in the AQE-final physical plan, stopping
    at InMemoryTableScan leaves (their cached build plans don't re-run)."""
    found = [0]

    def walk(node):
        name = node.nodeName()
        if name == "Exchange":
            found[0] += 1
        if "InMemoryTableScan" in name:
            return
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found[0]


def test_pagerank_iteration_plans_one_exchange(spark):
    """The 100 TB regime (rank too big to broadcast): one power
    iteration over the src-partitioned edge cache must plan exactly ONE
    shuffle — the dst-keyed transpose. The edge table reuses its cached
    hash(src) layout, outdeg inherits it, and rank's hash(node) alias-
    propagates to hash(src); without the pre-partitioning the edge table
    (the big side) re-shuffles every iteration. Mirrors the build in
    pipeline/graph.py:pagerank."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    for k in saved:
        spark.conf.set(k, "-1")
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        raw = spark.createDataFrame(
            [(i % 13, (i * 7) % 13) for i in range(200)], ["src", "dst"]
        )
        e = (
            raw.repartition(n_part, "src")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        e.count()
        outdeg = (
            e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        outdeg.count()
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = nodes.count()
        rank = nodes.select(
            "node", (F.lit(1.0) / n).alias("rank")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        rank.count()
        contrib = (
            e.join(outdeg, "src")
            .join(rank.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        new_rank = nodes.join(
            contrib.groupBy("dst").agg(F.sum("c").alias("inflow")),
            nodes["node"] == F.col("dst"),
            "left",
        ).select(
            "node",
            (F.lit(0.1) + F.coalesce(F.col("inflow"), F.lit(0.0))).alias(
                "rank"
            ),
        )
        new_rank.count()  # materialize so the AQE-final plan exists
        assert _exchanges_above_caches(new_rank) == 1
        for df in (e, outdeg, nodes, rank):
            df.unpersist()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ------------------------------------------------------------ span dedup

def _clean(spark, docs, **kw):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {
        r["doc_id"]: (r["text"], r["n_spans"], r["n_removed"])
        for r in remove_duplicate_spans(df, **kw).collect()
    }


def test_spans_removes_cross_doc_boilerplate_preserving_order(spark):
    docs = [
        (1, "a b c x y z"),
        (2, "p q r a b c"),
        (3, "u v w"),
    ]
    got = _clean(spark, docs, span_words=3, min_df=2)
    # "a b c" occurs in docs 1 and 2 -> removed from both; remaining
    # spans keep their original order
    assert got[1] == ("x y z", 2, 1)
    assert got[2] == ("p q r", 2, 1)
    assert got[3] == ("u v w", 1, 0)


def test_spans_within_doc_repeat_is_not_banned(spark):
    # df counts DISTINCT docs: a span repeated inside one doc stays
    docs = [(1, "a b a b"), (2, "c d e f")]
    got = _clean(spark, docs, span_words=2, min_df=2)
    assert got[1] == ("a b a b", 2, 0)
    assert got[2] == ("c d e f", 2, 0)


def test_spans_tail_span_and_whitespace_canonicalized(spark):
    # 5 words at span_words=2 -> tail span of 1 word; multi-space input
    # comes back single-spaced
    docs = [(1, "a  b c   d e")]
    got = _clean(spark, docs, span_words=2, min_df=2)
    assert got[1] == ("a b c d e", 3, 0)


def test_spans_full_duplicate_docs_empty_out(spark):
    docs = [(1, "a b c d"), (2, "a b c d")]
    got = _clean(spark, docs, span_words=2, min_df=2)
    assert got[1] == ("", 2, 2)
    assert got[2] == ("", 2, 2)


def test_spans_zero_word_doc_dropped(spark):
    docs = [(1, "   "), (2, "a b")]
    got = _clean(spark, docs, span_words=2, min_df=2)
    assert set(got) == {2}
    assert got[2] == ("a b", 1, 0)


# --------------------------------------- exact substring-span dedup (r9)

def _substr_clean(spark, docs, **kw):
    from metric_store_release_spark.pipeline.dedup import (
        remove_repeated_substrings,
    )

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in remove_repeated_substrings(df, **kw).collect()
    }


def test_substr_spans_removed_at_any_offset(spark):
    # the shared 5-token span sits at offset 0 in doc 1 but offset 1 in
    # doc 2 — fixed-chunk span dedup would misalign; ExactSubstr removes
    # it from both, preserving surrounding token order
    docs = [
        (1, "a b c d e f g"),
        (2, "zz a b c d e yy"),
        (3, "totally unrelated words over here"),
    ]
    got = _substr_clean(spark, docs, k=5)
    assert got[1] == ("f g", 7, 5)
    assert got[2] == ("zz yy", 7, 5)
    assert got[3] == ("totally unrelated words over here", 5, 0)


def test_substr_longer_span_fully_covered_by_window_union(spark):
    # a repeated span LONGER than k: every position is inside some
    # repeated k-window, so the whole maximal run goes, exactly
    docs = [(1, "s1 s2 s3 s4 s5 s6 s7 tailone"), (2, "pre s1 s2 s3 s4 s5 s6 s7")]
    got = _substr_clean(spark, docs, k=4)
    assert got[1] == ("tailone", 8, 7)
    assert got[2] == ("pre", 8, 7)


def test_substr_within_doc_repeat_removed_all_occurrences(spark):
    # TOTAL occurrence count (not distinct docs): an internal repeat
    # reaches min_count inside one document and ALL copies are excised
    # (Lee et al.'s released tool deletes every occurrence)
    docs = [(1, "p q r s MID p q r s tail"), (2, "none of these words")]
    got = _substr_clean(spark, docs, k=4)
    assert got[1] == ("MID tail", 10, 8)
    assert got[2] == ("none of these words", 4, 0)


def test_substr_short_doc_untouched_and_canonicalized(spark):
    # docs shorter than k tokens produce no windows and pass through
    # with single-space canonicalization; zero-word docs are dropped
    docs = [(1, "a  b   c"), (2, "   "), (3, "a b c d e"), (4, "a b c d e")]
    got = _substr_clean(spark, docs, k=4)
    assert set(got) == {1, 3, 4}
    assert got[1] == ("a b c", 3, 0)
    assert got[3] == ("", 5, 5)
    assert got[4] == ("", 5, 5)


def test_substr_disjoint_repeats_leave_gap_tokens(spark):
    # two separate repeated runs in one doc: only their union is removed,
    # the in-between token survives in order
    docs = [
        (1, "a1 a2 a3 a4 GAP b1 b2 b3 b4"),
        (2, "a1 a2 a3 a4 x1 x2 b1 b2 b3 b4"),
    ]
    got = _substr_clean(spark, docs, k=4)
    assert got[1] == ("GAP", 9, 8)
    assert got[2] == ("x1 x2", 10, 8)


# ------------------------------------------------- hard-negative mining

def test_top_pc_recovers_dominant_axis(spark):
    """Power iteration must find the dominant variance direction: on
    data spread 30x wider along axis 0 than axis 1, the loadings
    concentrate on axis 0 and scores order by the axis-0 coordinate."""
    import math

    from metric_store_release_spark.pipeline.similarity import (
        top_pc_loadings,
        top_principal_component,
    )

    rows = [
        (i, [float(i - 10) * 3.0, math.sin(i) * 0.1, 0.05 * (i % 3), 0.0])
        for i in range(21)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = top_pc_loadings(emb, iters=6)
    assert abs(v[0]) > 0.99  # dominant axis
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-9)
    scores = {
        r["vec_id"]: r["pc1_score"]
        for r in top_principal_component(emb, iters=6).collect()
    }
    # scores are monotone in the axis-0 coordinate (up to global sign)
    ordered = [scores[i] for i in range(21)]
    assert ordered == sorted(ordered) or ordered == sorted(ordered, reverse=True)


def test_simhash_bits_scale_with_corpus():
    from metric_store_release_spark.pipeline.similarity import simhash_bits_for

    # occupancy ~32 at every scale: 2^bits tracks N/32
    assert simhash_bits_for(500) == 4
    assert simhash_bits_for(2_000) == 6
    assert simhash_bits_for(20_000) == 10
    assert simhash_bits_for(200_000) == 13
    assert simhash_bits_for(0) == 4  # floor
    # 10x the corpus adds ~log2(10) ≈ 3.3 bits, so per-bucket occupancy
    # N / 2^bits stays within [16, 32] once past the floor
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        occ = n / (1 << simhash_bits_for(n))
        assert 16 <= occ <= 32, (n, occ)


def test_simhash_weight_is_int64_safe_and_centered():
    from metric_store_release_spark.pipeline.similarity import (
        simhash_plane_weight,
    )

    ws = [
        simhash_plane_weight(i, j, 64)
        for i in range(40)
        for j in range(1, 65)
    ]
    assert all(-1073741823 <= w <= 1073741823 for w in ws)
    # signs roughly balanced -> buckets roughly balanced
    pos = sum(1 for w in ws if w >= 0)
    assert 0.4 < pos / len(ws) < 0.6
    # nonlinear mix: plane i+1 is not a shifted/offset copy of plane i
    p0 = [simhash_plane_weight(0, j, 64) for j in range(1, 65)]
    p1 = [simhash_plane_weight(1, j, 64) for j in range(1, 65)]
    diffs = {b - a for a, b in zip(p0, p1)}
    assert len(diffs) > 32


def test_hard_negative_mining_simhash_excludes_self_and_same_label(spark):
    from metric_store_release_spark.pipeline.similarity import (
        hard_negative_mining_simhash,
    )

    # same fixture as the IVF test: with only 4 hash bits and 2-d
    # vectors, near-identical vectors share a bucket
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 1), (3, [0.95, 0.05], 0),
        (4, [-1.0, 0.0], 0), (5, [-0.9, -0.1], 1), (6, [-0.95, 0.05], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_negative_mining_simhash(emb, k=2, n_probe=1, dim=2).collect()
    for r in out:
        assert r["query_id"] != r["vec_id"]
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out}
    # labels always differ between query and its negatives
    labels = {i: lab for i, _, lab in rows}
    for (qid, _), vid in got.items():
        assert labels[qid] != labels[vid]


def test_hard_negative_mining_simhash_probe_widens_candidates(spark):
    from metric_store_release_spark.pipeline.similarity import (
        hard_negative_mining_simhash,
    )
    from pyspark.sql import functions as F

    rows = [(i, [float(i % 7) + 0.1 * i, 1.0 - 0.05 * i, 0.3], i % 2)
            for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pred = F.col("vec_id") % 5 == 0
    n1 = hard_negative_mining_simhash(
        emb, k=5, n_probe=1, dim=3, query_pred=pred
    ).count()
    n3 = hard_negative_mining_simhash(
        emb, k=5, n_probe=3, dim=3, query_pred=pred
    ).count()
    assert n3 >= n1


# ------------------------------------------------ label propagation (r9)

def test_label_prop_majority_tiebreak_and_clamping(spark):
    from metric_store_release_spark.pipeline.graph import label_propagation

    # node 10 hears A from two seeds and B from one -> majority A;
    # node 11 hears A and B once each -> tie, smallest label A wins;
    # seed 1 also receives votes but stays clamped to its own label B
    edges = spark.createDataFrame(
        [
            (1, 10), (2, 10), (3, 10),   # seeds 1(B) 2(A) 3(A) -> 10
            (2, 11), (1, 11),            # A and B -> 11 (tie)
            (2, 1),                      # vote into a seed: must not flip
        ],
        "src long, dst long",
    )
    seeds = spark.createDataFrame(
        [(1, "B"), (2, "A"), (3, "A")], "node long, label string"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iterations=1).collect()
    }
    assert got[10] == "A"
    assert got[11] == "A"
    assert got[1] == "B"  # clamped


def test_label_prop_multi_hop_reach_and_unreached_absent(spark):
    from metric_store_release_spark.pipeline.graph import label_propagation

    # chain seed(1,"X") -> 2 -> 3: node 3 is only labelable in round 2;
    # node 99 has no in-edges from labeled nodes and stays absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (50, 99)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1, "X")], "node long, label string")
    one = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iterations=1).collect()
    }
    assert one == {1: "X", 2: "X"}
    two = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iterations=2).collect()
    }
    assert two == {1: "X", 2: "X", 3: "X"}
    assert 99 not in two
