"""Incremental exact dedup against a corpus hash index."""

from case_uco_ontology_map_spark.operators.dedup import (
    hash_index,
    incremental_exact_dedup,
)

CORPUS = [
    (1, "the quick brown fox"),
    (2, "jumps over the lazy dog"),
    (3, "the quick brown fox"),  # corpus-internal dup of 1
]
BATCH = [
    (10, "the quick brown fox"),      # already in corpus -> canonical 1
    (11, "a genuinely new document"),  # fresh
    (12, "a genuinely new document"),  # batch-internal dup of 11
    (13, "jumps over the lazy dog"),   # corpus hit -> canonical 2
]


def test_incremental_exact_dedup(spark):
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    batch = spark.createDataFrame(BATCH, "doc_id long, text string")
    out = {
        r.doc_id: (r.canonical_id, r.in_corpus, r.is_canonical)
        for r in incremental_exact_dedup(batch, hash_index(corpus)).collect()
    }
    assert out == {
        10: (1, True, False),
        11: (11, False, True),
        12: (11, False, False),
        13: (2, True, False),
    }
