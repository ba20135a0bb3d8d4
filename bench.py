"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "runs": N, "full": "BENCH_FULL.json"}.

Output contract: a caller may keep only the LAST 2000 characters of
stdout, so the final line carries serving/offline TOTALS + the top-30
slowest serving medians only (2-decimal), asserted < 1700 chars —
entry-count growth does not move the line; the full per-query map, spread
bands, cold run, best-of-run, ingest probe and per-run raw timings go to
the BENCH_FULL.json sidecar next to this file.

Methodology: each query runs $SPARK_GRAFT_BENCH_RUNS times (default 4 =
1 cold + 3 warm). The headline per-query number ("queries", summed into
"value") is the MEDIAN of the warm runs — robust to one-off shared-VM
hiccups in a way best-of-2 is not. The full evidence is persisted
alongside: "spread" carries [min, max] over the warm runs per query, so a
round-over-round delta on an untouched query can be judged against the
measured noise band instead of eyeballed; "best_queries"/"best_total"
(all-runs min) and "run1_queries"/"run1_total" (cold) are kept for
continuity with BENCH_r01..r05.

Query set: the heaviest representatives of each operator family — instant
selector fan-out + agg, rate over 1d windows, histogram_quantile, topk,
vector-vector join, subquery, TPC-H q1/q3, MinHash LSH, ANN top-k, plus
the hashed-feature classifier, audio/video feature extraction,
and a streaming micro-batch ingest throughput probe.
Baseline envelope (BASELINE.md): a ≤20e6-sample query must fit the 10-60 s
reference timeout at sf0.1 — each of these touches well under that cap.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _calibrate(spark) -> dict:
    """Fixed-work box-speed anchor: round-over-round
    absolute timings drift with the shared builder box (r9 measured every
    CPU-bound cell ~1.5-1.9x slower than r8 on identical committed code,
    rescued only by a 69-shared-entry median-ratio analysis). Recording a
    deterministic single-core CPython loop and a fixed tiny Spark job in
    EVERY bench JSON turns that drift into a measured scalar:
    cross-round comparisons divide by the calib ratio first.

    - cpu_sec: 2M-iteration xorshift64 integer loop, pure CPython, single
      core — pins interpreter + core speed (~0.5 s on the r10 box).
    - spark_sec: sum over a fixed 200M-row range() with a multiply/mod,
      32 partitions — pins JVM codegen + task scheduling throughput,
      independent of SF_DIR. Median of 3 reps each.
    """

    def cpu_once() -> float:
        t0 = time.perf_counter()
        x = 88172645463325252
        for _ in range(2_000_000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        assert x == 4432599367204585669  # pinned: the work is the work
        return time.perf_counter() - t0

    def spark_once() -> float:
        t0 = time.perf_counter()
        got = (
            spark.range(0, 200_000_000, 1, 32)
            .selectExpr("sum((id * 2654435761) % 1000003) AS s")
            .collect()[0]["s"]
        )
        assert got == 100000202928013         # pinned result
        return time.perf_counter() - t0

    spark_once()  # one untimed warm-up: first run JIT-compiles the stage
    return {
        "cpu_sec": round(statistics.median(cpu_once() for _ in range(3)), 3),
        "spark_sec": round(
            statistics.median(spark_once() for _ in range(3)), 3
        ),
    }


def main() -> None:
    from metric_store_release_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    bench_names = [
        "promql_sum_by_user",
        "promql_sum_by_user_federated",
        "promql_rate",
        "promql_split_rate",
        "promql_split_cached",
        "promql_topk",
        "promql_binop_add",
        "promql_histogram_quantile",
        "promql_subquery",
        "tpch_q1",
        "tpch_q3",
        "rollup_counter",
        "dedup_minhash_lsh",
        "embedding_topk",
        "text_quality",
        "dedup_substring",
        "embedding_kmeans",
        "text_repetition",
        "text_unigram_logprob",
        "docs_pack",
        "corpus_prepare",
        "ngram_contamination",
        "docs_bloom_contamination",
        "embedding_ann_trained",
        "dedup_simhash_pairs",
        "text_bm25",
        "text_top_ngrams",
        "tpch_q10",
        "events_sessionize",
        "events_asof_join",
        "events_funnel",
        # steady-state serving paths — the one-time
        # index / bucketed-table writes are untimed setup below, so these
        # measure the amortized per-query cost (probe-only ANN;
        # Exchange-free sessionize). Compare events_sessionize_bucketed
        # against events_sessionize for the bucketing payoff.
        "embedding_ann_probe",
        "events_sessionize_bucketed",
        # bucket-decomposed range join, KMV distinct sketch,
        # 8-round distributed BPE merge training (force-trains per call)
        "events_interval_join",
        "events_kmv_users",
        "docs_bpe_merges",
        "text_classifier_score",
        "audio_features",
        "video_frame_features",
        # Read-path tier selection — rollup aggregation + PromQL
        # eval over the 5-min tier the step/5 rule routes to; compare with
        # promql_sum_by_user (raw) for what the tier saves the engine
        "promql_tiered_read",
        # count-min frequency sketch, bounded-sample quantile sketch
        # (dedup_components_star is in the offline loop — it is an
        # iterative job, not a serving query)
        "events_cms_topk",
        "events_quantile_sketch",
        "events_kmv_dau_wau",
        # Deterministic HLL pair — per-day distinct and the
        # lossless register-merge sliding window (compare the KMV pair)
        "events_hll_users",
        "events_hll_dau_wau",
        # The Gopher/MassiveText rule battery (pure map-side)
        "docs_gopher_rules",
        # Cluster-consistent train/val/test assignment (LSH
        # pairs -> components -> one hash per cluster)
        "docs_leakage_split",
        # Experiment readout (per-user hash agg + 1-row agg)
        "events_ab_test",
        # 2-D selective scan over the natural vs the
        # Morton-clustered (z-ordered) events layout — the pair measures
        # what multi-column min/max pruning is worth (layout write is
        # untimed setup, same rule as the bucketed/IVF tables)
        "events_range_scan",
        "events_range_scan_zordered",
        # The same scan over the Hilbert-curve layout — the
        # three-way compares natural vs Morton vs Hilbert pruning
        "events_range_scan_hilbert",
        # C4-style boilerplate-span removal (graph_pagerank is in the
        # offline loop — iterative job)
        "dedup_spans",
        # skew-safe exact percentiles vs the buffered F.percentile form
        # (pair: same oracle, distribution-table plan)
        "events_latency_pctl",
        "events_latency_pctl_dist",
        # MaxMatch/WordPiece tokenizer: one-pass frequency-ranked vocab
        # train + greedy longest-match apply (compare docs_bpe_merges for
        # the merge-loop tokenizer)
        "docs_wordpiece_vocab",
        "docs_wordpiece_tokens",
        # Unigram-LM (SentencePiece-style) Viterbi-EM pair —
        # force-trains per call like docs_bpe_merges
        "docs_unigram_vocab",
        "docs_unigram_tokens",
        # Top-PC projection — 4 matrix-free power-iteration
        # rounds (one distributed agg each) + one map-side projection
        "embedding_top_pc",
        # bulk kNN join (hard-negative mining): both sides corpus-scale,
        # IVF-bucketed shuffle join — the non-broadcast retrieval shape
        "embedding_hard_negatives",
        # IVF-PQ compressed serving — the probe scans 16 B/row
        # packed codes and reranks a 50-row shortlist against the raw
        # vectors; compare embedding_ann_probe (raw-vector lists) for
        # what the compression costs/saves at equal coarse geometry
        "embedding_ann_pq",
        # Perceptual-hash image dedup — dHash mapInPandas over
        # the netpbm corpus, then the dedup_simhash_pairs banded-Hamming
        # join; multimodal near-dup at corpus scale, never all-pairs
        "media_phash_pairs",
        # Delta-sign audio fingerprint near-dup (same banded
        # join, audio modality) and SemDeDup-style keep-one-per-cluster
        # over embedding near-dup components
        "media_audio_fp_pairs",
        "embedding_semdedup",
        # DSIR importance-resampling selection — two LM-count
        # passes over the hashed-feature table + one weighted top-n
        "docs_dsir_select",
        # ExactSubstr substring-span dedup (sliding k-gram cover
        # — compare dedup_spans for the fixed-chunk variant's cost) and
        # the incremental IVF-PQ probe over an appended index (setup =
        # train on base + append delta, untimed like the other indexes;
        # compare embedding_ann_pq for the from-scratch-index probe)
        "dedup_substring_spans",
        "embedding_ann_append",
        # Incremental ExactSubstr — the planted copies as a
        # new batch against the already-deduped corpus; compare
        # dedup_substring_spans for the from-scratch cost of the same
        # fixture (the delta-proportional win is the point)
        "dedup_substring_incr",
        # Incremental component labeling — the batch's LSH
        # pairs merged into the session-persisted id-bucketed base
        # labeling through a delta-sized super-graph pass; compare
        # dedup_components_star (offline loop) for the from-scratch cost
        "dedup_components_incr",
        # Fellegi–Sunter record linkage over the enriched part
        # catalog — combinatorial subset blocking (provably lossless for
        # the weight-derived Jaccard floor) + exact verify, then the
        # transitive-closure entity labeling on the matched pairs
        "records_entity_pairs",
        "records_entity_resolution",
        # CCNet per-language perplexity terciles (one
        # hashed-feature agg + distribution-table thresholds) and
        # VAD-style energy segmentation over the PCM16 corpus
        "docs_ccnet_buckets",
        "audio_segments",
        "video_scene_cuts",
        # Video delta-sign fingerprint near-dup
        # (completes the image/audio/video trio through the one factored
        # banded-Hamming join), the two-pass token-budget mixture
        # sampler, per-doc 8-gram novelty, and SQ8 scalar quantization
        # with exact reconstruction error
        "media_video_fp_pairs",
        "docs_token_budget_mix",
        "docs_ngram_novelty",
        "embedding_scalar_quant",
        # MinHash fuzzy benchmark decontamination — corpus
        # banded once, probe cost ∝ benchmark, exact-Jaccard verify on
        # candidates only (compare docs_bloom_contamination for the
        # exact-gram probe's cost)
        "docs_fuzzy_decontamination",
    ]
    # Offline-pass entries, benched in their own trailing loop: the
    # PassJoin edit-distance join and the exact containment verifier
    # cycle 10⁷–10⁸-row shuffles per run, and queries measured in their
    # WAKE run up to 3x slow for the next ~15 s (reproduced at sf1:
    # minhash 6.4/4.4/2.3 s immediately after them vs 2.2 s isolated —
    # survives System.gc() and a 1 GB code cache, so it is OS/page-cache
    # state, not JVM state). Benching them after the serving loop keeps
    # every serving median out of their wake while still reporting warm
    # medians + spreads for both under the same 4-run methodology.
    # The iterative jobs — 5-iteration PageRank and the O(log n)-round
    # two-star connected components — run here too: they are offline
    # passes, not serving queries (SCALING.md notes the serving-total
    # cut).
    offline_names = [
        "dedup_editdist",
        "dedup_containment",
        "graph_pagerank",
        "dedup_components_star",
        # Clamped-seed label propagation — iterative job like
        # pagerank (3 majority-vote rounds over the same order graph)
        "graph_label_prop",
        # The composed end-to-end corpus pass (ExactSubstr →
        # fuzzy decon → CCNet terciles → token budget) — a multi-job
        # offline pipeline with internal blocking materializations, not
        # a serving query; compare against the sum of its component
        # entries for the composition overhead
        "corpus_prepare_full",
        # Cross-modal pair dedup — contains the iterative
        # connected-components pass (dHash + caption-LSH edges through
        # one shared component labeling), offline like components_star
        "media_pair_dedup",
        # The streaming incremental corpus pass — 90% bulk
        # load + two 5% crawl updates through the parquet-state
        # foreachBatch pipeline, then the finalize tail; an end-to-end
        # BUILD (state written fresh per run), not a serving query
        "corpus_prepare_stream",
        # The full modality trio through the shared components
        # pass (image dHash + audio/video delta-sign codes + caption
        # MinHash edges); decode kernels + components rounds -> offline
        "media_pair_dedup_trimodal",
    ]
    # warm the JVM + parquet footers with one tiny action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    # fixed-work box-speed anchor, recorded in every bench JSON
    calib = _calibrate(spark)
    print(f"# calib: {calib}", file=sys.stderr)
    # build the federated store untimed: the replicated write is input
    # setup, not query work (the plan it returns is NOT executed here)
    qs["promql_sum_by_user_federated"](spark, SF_DIR)
    # one-time index/table writes (bucketed IVF index, user-bucketed events)
    # are production setup amortized across queries — untimed, same rule
    qs["embedding_ann_probe"](spark, SF_DIR)
    qs["embedding_ann_pq"](spark, SF_DIR)
    qs["embedding_ann_append"](spark, SF_DIR)
    # span-dedup warehouse index only — calling the full query here would
    # leave its _index_cache (gd/toks_aff/grams_clean) pinned for the whole
    # bench session (advisor r10: storage-pressure accumulation the in-loop
    # lease exists to prevent); the timed query needs just the tables
    entry_mod._span_index_for(spark, SF_DIR)
    # The id-bucketed base component labeling (and the band
    # index it derives from) — the incremental-components query measures
    # the delta merge, not the one-time base labeling
    entry_mod._components_labels_for(spark, SF_DIR)
    qs["events_sessionize_bucketed"](spark, SF_DIR)
    qs["events_range_scan_zordered"](spark, SF_DIR)
    qs["events_range_scan_hilbert"](spark, SF_DIR)

    from metric_store_release_spark.pipeline.dedup import leased

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))
    timings: dict[str, list[float]] = {
        name: [] for name in bench_names + offline_names
    }
    for group in (bench_names, offline_names):
        for r in range(runs):
            for name in group:
                fn = qs[name]
                t0 = time.perf_counter()
                # the dedup builders pin a band/gram index per invocation
                # (caller-owned contract); a 4-run bench is exactly the
                # long-lived session that accumulates them — the lease
                # releases after each materialization so run N doesn't
                # measure run N-1's storage pressure
                with leased(fn(spark, SF_DIR)) as df:
                    n = df.count()
                    # timing stops BEFORE the lease releases the cache,
                    # keeping the measured region identical to r1-r6
                    took = round(time.perf_counter() - t0, 3)
                timings[name].append(took)
                print(f"# run{r + 1} {name}: {took}s ({n} rows)", file=sys.stderr)

    # streaming micro-batch ingest throughput: points/s through
    # `ingest_stream` (gauges, counters, timer rollups) vs the reference's
    # batch envelope (>=64 points per 500 ms micro-batch = 128 points/s,
    # BASELINE.md / ingressclient.go:15-17). Measured once — trigger
    # cadence, not JVM warm-up, dominates; the envelope check is the point.
    from metric_store_release_spark.streaming.ingest_bench import (
        measure_ingest_throughput,
    )

    ingest = measure_ingest_throughput(spark)
    print(
        f"# ingest: {ingest['points_per_sec']} points/s over "
        f"{ingest['batches']} micro-batches (envelope 128 pts/s)",
        file=sys.stderr,
    )

    # warm-run statistics: drop the cold first run when there is more than
    # one run; median is the headline, [min, max] the persisted noise band
    med: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    best: dict[str, float] = {}
    run1: dict[str, float] = {}
    for name, ts in timings.items():
        warm = ts[1:] if len(ts) > 1 else ts
        med[name] = round(statistics.median(warm), 3)
        spread[name] = [round(min(warm), 3), round(max(warm), 3)]
        best[name] = round(min(ts), 3)
        run1[name] = ts[0]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # the sidecar's value matches the stdout line's (serving-only) so the
    # two artifacts can't be conflated; the offline loop gets its own sum
    serving_total = round(sum(med[n] for n in bench_names), 3)
    full = {
        "metric": "headline_total",
        "value": serving_total,
        "offline_total": round(sum(med[n] for n in offline_names), 3),
        "unit": "sec",
        "queries": med,
        "sf": float(sf) if sf else None,
        "runs": runs,
        # per-query [min, max] over the warm runs: the noise band a
        # round-over-round delta must clear to count as real
        "spread": spread,
        "ingest_points_per_sec": ingest["points_per_sec"],
        "ingest_envelope_points_per_sec": 128.0,
        # fixed-work box-speed anchor: divide cross-round timings by the
        # calib ratio before reading any round-over-round delta
        "calib": calib,
        # the SAME anchor re-measured after all loops: a session whose
        # start anchor hit a transient slow window (r11 observed a 2.15x
        # spark_sec outlier at sf1 session start while raw medians showed
        # ordinary ~1.2x drift) is now self-diagnosing — read the
        # [calib, calib_end] bracket, not a single point
        "calib_end": _calibrate(spark),
        # cold (first-run) vs all-runs best, reported separately so
        # comparisons with BENCH_r01..r05 don't mix methodology
        "run1_total": round(sum(run1.values()), 3),
        "best_total": round(sum(best.values()), 3),
        "run1_queries": run1,
        "best_queries": best,
        "raw_timings": timings,
        # which entries ran in the trailing offline loop (iterative jobs
        # + wake-effect shuffles); the serving total excludes them
        "offline": offline_names,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(sidecar, "w") as f:
        json.dump(full, f, indent=1)

    # a caller may keep only the last 2000 chars of stdout: the line
    # carries the serving/offline TOTALS, the entry counts, and the TOP-N
    # slowest serving medians — adding an operator does not grow the line
    # unless it enters the top-N. The complete per-query map, spreads and
    # raw runs stay in the BENCH_FULL.json sidecar. Asserted < 1700 for
    # headroom.
    serving = {n: round(med[n], 2) for n in bench_names}
    offline = {n: round(med[n], 2) for n in offline_names}
    top_n = 30
    slowest = dict(
        sorted(serving.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    )
    line = json.dumps(
        {
            "metric": "headline_total",
            "value": round(sum(serving.values()), 2),
            "unit": "sec",
            "n_serving": len(serving),
            "offline_total": round(sum(offline.values()), 2),
            "queries": slowest,
            "offline_queries": offline,
            "sf": float(sf) if sf else None,
            "runs": runs,
            "calib": calib,
            "full": "BENCH_FULL.json",
        },
        separators=(",", ":"),
    )
    assert len(line) < 1700, f"bench line {len(line)} chars > 1700 budget"
    print(line, flush=True)


if __name__ == "__main__":
    main()
