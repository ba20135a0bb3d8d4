"""ngram_containment_pairs: directional subset/quotation dedup."""

from __future__ import annotations

from metric_store_release_spark.pipeline.dedup import (
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)

LONG = " ".join(f"w{i}" for i in range(60))
QUOTE = " ".join(f"w{i}" for i in range(20))  # token-aligned prefix of LONG
OTHER = " ".join(f"x{i}" for i in range(30))


def test_quote_has_full_containment_but_low_jaccard(spark):
    df = spark.createDataFrame(
        [(1, LONG), (2, QUOTE), (3, OTHER)], "doc_id long, text string"
    )
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in ngram_containment_pairs(df, threshold=0.8).collect()
    }
    # every shingle of the quote appears in the long doc: containment 1,
    # directional (the long doc is NOT contained in the quote)
    assert got == {(2, 1): 1.0}
    # the same pair is invisible to symmetric Jaccard at any useful
    # threshold: |A∩B|/|A∪B| = 18/58
    jac = ngram_jaccard_pairs(df, threshold=0.5)
    assert jac.count() == 0


def test_threshold_excludes_partial_overlap(spark):
    half_in = QUOTE + " " + " ".join(f"y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, LONG), (2, half_in)], "doc_id long, text string"
    )
    # ~half of doc 2's shingles are in doc 1 → below the 0.8 bar
    assert ngram_containment_pairs(df, threshold=0.8).count() == 0
    found = ngram_containment_pairs(df, threshold=0.4).collect()
    assert [(r.contained_id, r.container_id) for r in found] == [(2, 1)]
