"""The Arrow minhash fold (dedup.minhash_fold_arrow) against a plain-Python
reference of ``min(((|s| mod p)·a + b) mod p)`` over the collected staged
shingle arrays, ``p`` for an empty or null set. The fold is pure int64
arithmetic with every intermediate < 2^62, so numpy and Python integers
must agree EXACTLY; these tests pin that across normal, empty, null,
excluded-everything, and randomized inputs in both hash modes and both
signature widths used by the engine."""

import random

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators.dedup import (
    _MERSENNE_P,
    _hash_params,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ref_signature(sh, params):
    if not sh:
        return [_MERSENNE_P] * len(params)
    return [
        min(((abs(s) % _MERSENNE_P) * a + b) % _MERSENNE_P for s in sh)
        for a, b in params
    ]


def _ref_rows(staged, id_cols, params, exclude=()):
    """(*id_cols, signature) rows from a frame carrying the ``_sh`` array."""
    ex = set(exclude)
    return sorted(
        tuple(r[c] for c in id_cols)
        + (_ref_signature([s for s in (r["_sh"] or []) if s not in ex], params),)
        for r in staged.collect()
    )


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(20260822)
    words = ["alpha", "beta", "gamma", "delta", "x", "Y9", "zz-top", "."]
    rows = [
        (0, ""),  # empty → sentinel signature
        (1, None),  # null text → sentinel signature
        (2, "one two"),  # fewer tokens than shingle width
        (3, "a a a a a a"),  # degenerate repetition
    ] + [
        (
            10 + i,
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 40))),
        )
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _doc_shingles(docs, hash_mode="xxhash64"):
    from case_uco_ontology_map_spark.operators.dedup import (
        shingles_from_tokens,
        tokens_lower_col,
    )

    toks = docs.select("doc_id", tokens_lower_col(F.col("text")).alias("_toks"))
    return toks.select(
        "doc_id", shingles_from_tokens(F.col("_toks"), 3, hash_mode).alias("_sh")
    )


@pytest.mark.parametrize("hash_mode", ["xxhash64", "md5_60"])
@pytest.mark.parametrize("num_hashes", [16, 64])
def test_minhash_signatures_arrow_matches_expr(docs, hash_mode, num_hashes):
    from case_uco_ontology_map_spark.operators.dedup import minhash_signatures

    a = minhash_signatures(docs, num_hashes=num_hashes, hash_mode=hash_mode)
    ref = _ref_rows(
        _doc_shingles(docs, hash_mode), ["doc_id"], _hash_params(num_hashes)
    )
    assert _rows(a) == ref


def test_entity_minhash_arrow_matches_expr(spark):
    from case_uco_ontology_map_spark.operators import canonicalize as cz

    rng = random.Random(7)
    rows = [
        (0, ""),
        (1, None),
        (2, "ab"),  # shorter than the 3-gram width
    ] + [
        (
            10 + i,
            "https://hot.example.com/section/"
            + "".join(rng.choice("abcdef01") for _ in range(24))
            + f"-v{i % 4}",
        )
        for i in range(60)
    ]
    ents = spark.createDataFrame(rows, "entity_id long, entity_key string")
    staged = ents.select(
        "entity_id", "entity_key",
        cz.char_shingles(F.col("entity_key")).alias("_sh"),
    )
    params = _hash_params(32, seed=17)
    for exclude in (None, cz.common_shingles(ents, df_fraction=0.2)):
        a = cz.entity_minhash(ents, exclude=exclude)
        ref = _ref_rows(
            staged, ["entity_id", "entity_key"], params, exclude or ()
        )
        assert _rows(a) == ref


def test_canonicalize_unchanged_by_default_impl(spark):
    """canonicalize_entities (which signs via the Arrow fold) must land
    the expected grouping — the grouping IS the contract surface."""
    from case_uco_ontology_map_spark.operators.canonicalize import (
        canonicalize_entities,
    )

    rng = random.Random(99)
    bases = [
        "".join(rng.choice("0123456789abcdef") for _ in range(16))
        for _ in range(25)
    ]
    rows = [
        (i * 10 + v, f"ent-{bases[i]}-v{v}")
        for i in range(25)
        for v in range(4)
    ]
    ents = spark.createDataFrame(rows, "entity_id long, entity_key string")
    out = canonicalize_entities(ents, jaccard_threshold=0.7, verify="estimate")
    got = {
        (r["entity_id"], r["canonical_id"]) for r in out.collect()
    }
    # every group of 4 variants collapses to its min id; 25 groups
    assert len({c for _, c in got}) == 25
    for eid, cid in got:
        assert cid == (eid // 10) * 10
