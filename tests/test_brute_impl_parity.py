"""brute_force_topk's Arrow kernel must reproduce its Catalyst plan
(_brute_force_topk_catalyst) EXACTLY — same (query_id, vec_id, cosine,
rank) rows — on randomized corpora, float32 and float64 embeddings, zero
vectors, empty arrays, null rows, ragged dims, k ≥ N, and the no-query
edge. The kernel's per-dimension sequential fold is bit-identical to the
Catalyst aggregate by construction; these tests pin the whole surface
anyway, plus the query-cap fallback onto the Catalyst plan.
"""

import random

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import similarity
from case_uco_ontology_map_spark.operators.similarity import brute_force_topk


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"])
        for r in df.collect()
    )


def _parity(spark, emb_rows, q_rows, k, elem="double"):
    emb = spark.createDataFrame(
        emb_rows, f"vec_id long, embedding array<{elem}>"
    )
    qs = spark.createDataFrame(
        q_rows, f"query_id long, query_vec array<{elem}>"
    )
    fast = _rows(brute_force_topk(emb, qs, k=k))
    ref = _rows(
        similarity._brute_force_topk_catalyst(
            emb, qs, k, "vec_id", "embedding", "query_id", "query_vec"
        )
    )
    assert fast == ref
    return fast


@pytest.mark.parametrize("elem", ["double", "float"])
def test_randomized_corpus_parity(spark, elem):
    rng = random.Random(427)
    d = 16
    emb_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(120)
    ]
    q_rows = [(i, emb_rows[i][1]) for i in range(4)]
    out = _parity(spark, emb_rows, q_rows, k=5, elem=elem)
    assert len(out) == 4 * 5
    # each query's own vector is its rank-1 hit
    assert all(
        any(q == v and rk == 1 for (q, v, _c, rk) in out)
        for q in range(4)
    )


def test_edge_cases_parity(spark):
    emb_rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0]),          # zero vector → cosine 0.0
        (2, []),                        # empty array → cosine 0.0
        (3, None),                      # null row → cosine 0.0
        (4, [1.0, 1.0]),                # ragged dim → NULL cosine
        (5, [0.5, 0.5, 0.70710678]),
    ]
    q_rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0])]
    _parity(spark, emb_rows, q_rows, k=10)  # k > N keeps everything


def test_tie_breaking_parity(spark):
    # identical vectors → identical cosines → id-ascending tie break
    emb_rows = [(i, [1.0, 2.0, 3.0]) for i in range(20)]
    q_rows = [(0, [1.0, 2.0, 3.0])]
    out = _parity(spark, emb_rows, q_rows, k=7)
    assert [v for (_q, v, _c, _r) in sorted(out, key=lambda t: t[3])] == list(
        range(7)
    )


def test_prefilter_boundary_parity(spark):
    # scores engineered to straddle the 6-decimal rounding boundary so the
    # batch pre-filter's epsilon band is exercised
    base = [1.0] + [0.0] * 7
    emb_rows = []
    for i in range(64):
        v = list(base)
        v[1] = 1e-6 * (i % 9)  # many near-identical cosines
        emb_rows.append((i, v))
    q_rows = [(0, base)]
    _parity(spark, emb_rows, q_rows, k=5)


def test_no_queries(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    qs = spark.createDataFrame([], "query_id long, query_vec array<double>")
    assert brute_force_topk(emb, qs, k=3).count() == 0


def test_query_cap_falls_back_to_catalyst(spark, monkeypatch):
    """A query batch past _BRUTE_ARROW_MAX_QUERIES is not collected: the
    call runs the Catalyst plan (no Python node) and returns the rows the
    Arrow kernel gives the same batch under the real cap."""
    import re

    rng = random.Random(5)
    d = 8
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(3)],
        "query_id long, query_vec array<double>",
    )
    arrow = _rows(brute_force_topk(emb, qs, k=4))
    monkeypatch.setattr(similarity, "_BRUTE_ARROW_MAX_QUERIES", 2)
    fallback = brute_force_topk(emb, qs, k=4)
    plan = fallback._jdf.queryExecution().executedPlan().toString()
    assert not re.search(
        r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython", plan
    ), plan
    assert _rows(fallback) == arrow and len(arrow) == 3 * 4
