"""Operator tests: textstats, dedup, similarity — semantics on small,
hand-checkable inputs plus testdata smoke."""

import math
import os

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog today", "en"),  # near dup
        (3, "el perro de la casa es un animal que ladra en el patio", "es"),
        (4, "completely different content about spark query engines", "en"),
        (5, "", "en"),  # empty doc edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["group_size"] == 2 and by_id[1]["group_size"] == 2
    assert by_id[0]["is_canonical"] and not by_id[1]["is_canonical"]
    assert by_id[1]["canonical_id"] == 0
    assert by_id[2]["group_size"] == 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=64, bands=16, threshold=0.3
    ).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (0, 1) in got  # identical docs always collide
    jac = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs}
    assert jac[(0, 1)] == 1.0
    if (0, 2) in got:  # near-dup likely caught
        assert 0.3 <= jac[(0, 2)] < 1.0
    # unrelated docs never pass verification
    assert (0, 4) not in got and (3, 4) not in got


def test_minhash_estimate_pairs_reference_and_no_blocks_left(spark, docs):
    """Signature-only verify: the pairs equal a driver-side reference —
    pairs sharing a full band slice, scored by the fraction of agreeing
    signature positions (32 positions: every fraction is exact at 6
    decimals). The caller owns the signature frame's blocks: given an
    unpersisted frame, the function leaves no persisted RDD behind."""
    from case_uco_ontology_map_spark.operators.barrier import _persistent_ids

    before = _persistent_ids(spark)
    k, bands, threshold = 32, 8, 0.3
    sigs = dedup.minhash_signatures(docs, num_hashes=k)
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.minhash_estimate_pairs(
            sigs, bands=bands, threshold=threshold
        ).collect()
    }
    assert _persistent_ids(spark) - before == set()

    sig = {r["doc_id"]: list(r["minhash"]) for r in sigs.collect()}
    rows = k // bands
    want = {}
    for a in sig:
        for b in sig:
            if a >= b or not any(
                sig[a][i:i + rows] == sig[b][i:i + rows]
                for i in range(0, k, rows)
            ):
                continue
            j = sum(x == y for x, y in zip(sig[a], sig[b])) / k
            if j >= threshold:
                want[(a, b)] = j
    assert got == want
    assert got[(0, 1)] == 1.0  # the exact duplicate


def test_ngram_jaccard_exact(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 4)], "a_id long, b_id long"
    )
    out = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, pairs).collect()
    }
    assert out[(0, 1)] == 1.0
    assert 0 < out[(0, 2)] < 1
    assert out[(0, 4)] == 0.0


def test_simhash_near_pairs(docs):
    sims = dedup.simhash(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert rows[0] == rows[1]  # identical text → identical simhash
    pairs = dedup.simhash_near_pairs(sims, max_hamming=16).collect()
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs}
    assert got[(0, 1)] == 0


def test_simhash_degenerate_band_capped_with_drop_count(spark):
    """The web-scale failure mode the cap exists for: every empty doc votes
    to simhash 0, so one band value concentrates the whole corpus. The cap
    must bound the pair output AND report the loss (no silent caps)."""
    n_empty = 1000
    rows = [(i, "") for i in range(n_empty)] + [
        (n_empty, "alpha beta gamma delta epsilon zeta"),
        (n_empty + 1, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sims = dedup.simhash(docs)
    obs = dedup.drop_observation()
    pairs = dedup.simhash_near_pairs(
        sims, max_bucket=100, observation=obs
    ).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    # the real near-dup pair survives; the empty-doc O(n²) blowup does not
    assert (n_empty, n_empty + 1) in got
    assert all(a >= n_empty for a, _ in got)
    assert len(pairs) < 100  # bounded: no 1000²/2 explosion
    m = obs.get
    # empty docs share simhash 0 → one hot bucket per band (4 bands)
    assert m["dropped_buckets"] == 4
    assert m["dropped_members"] == 4 * n_empty


def test_embedding_hot_bucket_capped_with_drop_count(spark):
    """1k identical vectors collapse onto one hyperplane bucket; the cap
    bounds the self-join and the drop metrics report the loss."""
    n_hot = 1000
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n_hot)] + [
        (n_hot, [0.0, 1.0, 0.0, 0.0]),
        (n_hot + 1, [0.0, 0.99, 0.01, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    obs = dedup.drop_observation()
    out = dedup.embedding_near_dups(
        emb, threshold=0.95, planes=8, max_bucket=100, observation=obs
    ).collect()
    got = {(r["a_id"], r["b_id"]) for r in out}
    assert (n_hot, n_hot + 1) in got
    assert all(a >= n_hot for a, _ in got)
    m = obs.get
    assert m["dropped_buckets"] >= 1
    assert m["dropped_members"] >= n_hot


def test_lsh_candidate_pairs_drop_observation(spark):
    """The minhash band path reports drops through the same observation —
    a hot 50-member clone cluster is capped (and counted) while a small
    genuine near-dup pair survives."""
    rows = [(i, "same words everywhere forever and ever amen") for i in range(50)]
    rows += [
        (100, "one singular unique document about spark engines"),
        (101, "one singular unique document about spark engines today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    obs = dedup.drop_observation()
    pairs = dedup.lsh_candidate_pairs(
        sigs, bands=4, max_bucket=10, observation=obs
    ).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # the clone cluster is capped
    m = dedup.drop_metrics(obs)
    assert m["dropped_buckets"] == 4  # the clone bucket, once per band
    assert m["dropped_members"] == 200


    # verification still uses FULL shingle sets — boilerplate-only overlap
    # pairs score high Jaccard on full text, so thresholding is the
    # caller's semantic choice exactly as before (here: candidates only)


def test_drop_metrics_none_when_all_buckets_capped(spark):
    """All-dropped corner: AQE empty-propagation prunes the metrics node;
    drop_metrics answers None ('unavailable'), never a fake zero."""
    rows = [(i, "same words everywhere forever and ever amen") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    obs = dedup.drop_observation()
    pairs = dedup.lsh_candidate_pairs(
        sigs, bands=4, max_bucket=10, observation=obs
    ).collect()
    assert pairs == []
    assert dedup.drop_metrics(obs) is None


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_dups(emb, threshold=0.95, planes=8).collect()
    got = {(r["a_id"], r["b_id"]) for r in out}
    assert (0, 1) in got
    assert (0, 2) not in got and (0, 3) not in got


def test_brute_force_topk(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.1, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    out = similarity.brute_force_topk(vecs, queries, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [0, 1]


def test_ivf_topk_matches_brute_force_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            (F.col("vec_id") + 10000).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    exact = similarity.brute_force_topk(emb, queries, k=3).collect()
    cents = similarity.centroids_kmeans(emb, k=8, iterations=2)
    approx = similarity.ivf_topk(emb, queries, cents, k=3, nprobe=4).collect()
    exact_top1 = {r["query_id"]: r["vec_id"] for r in exact if r["rank"] == 1}
    approx_top1 = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    # the query vector itself must be its own top-1 in both paths
    for qid, vid in exact_top1.items():
        assert vid == qid - 10000
    for qid, vid in approx_top1.items():
        assert vid == qid - 10000


def test_pii_scrub(spark):
    from case_uco_ontology_map_spark.operators import pii

    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@x.co and d@y.org now"),
            (1, "server 192.168.1.254 up, 10.0.0.1 down"),
            (2, "call +1 555-0147 258 or +44 20 7946 0958"),
            (3, "clean text with number 12345 and v1.2 tag"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii.pii_scrub(docs).collect()}
    assert out[0]["text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[0]["n_email"] == 2
    assert out[1]["text"] == "server <IP> up, <IP> down"
    assert out[1]["n_ip"] == 2
    assert out[2]["n_phone"] == 2 and "<PHONE>" in out[2]["text"]
    assert out[3]["text"] == docs.collect()[3]["text"]  # untouched
    assert (
        out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0
    )


def test_repetition_features(spark):
    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),  # 3x "spam spam" 2-gram
            (1, "all words here are quite different tokens"),
            (2, "line one\nline one\n  \nline two"),  # dup line + blank
            (3, "solo"),  # < n tokens → zero grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in textstats.repetition_features(docs).collect()
    }
    assert out[0]["n_grams"] == 3 and out[0]["top_ngram_frac"] == 1.0
    assert out[0]["dup_ngram_frac"] == 1.0
    assert out[1]["dup_ngram_frac"] == 0.0 and out[1]["top_ngram_frac"] < 0.2
    # 3 non-empty trimmed lines, 2 distinct → 1/3 duplicated
    assert out[2]["dup_line_frac"] == round(1 / 3, 6)
    assert out[3]["n_grams"] == 0 and out[3]["top_ngram_frac"] == 0.0


def test_decontaminate(spark):
    from case_uco_ontology_map_spark.operators import decontam

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),  # full bench item
            (1, "x alpha beta gamma delta y"),  # one 4-gram only
            (2, "unrelated words entirely different here now"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "bench_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontam.decontaminate(
            docs, bench, ngram_n=4, min_hits=1
        ).collect()
    }
    # bench item has 3 distinct 4-grams; doc 0 contains all, doc 1 one
    assert out[0]["n_hit_ngrams"] == 3 and out[0]["overlap_frac"] == 1.0
    assert out[1]["n_hit_ngrams"] == 1
    assert 2 not in out and 3 not in out
    # min_hits=2 drops the single-gram hit
    strict = decontam.decontaminate(docs, bench, ngram_n=4, min_hits=2)
    assert [r["doc_id"] for r in strict.collect()] == [0]


def test_quality_features(docs):
    out = {r["doc_id"]: r for r in textstats.quality_features(docs).collect()}
    assert out[0]["n_tokens"] == 9
    assert out[5]["n_tokens"] == 0 and out[5]["quality_score"] is not None
    assert out[0]["stopword_ratio_en"] > 0
    assert out[3]["stopword_ratio_en"] == 0


def test_lang_scores(docs):
    out = {r["doc_id"]: r for r in textstats.lang_scores(docs).collect()}
    assert out[0]["lang_pred"] == "en"
    assert out[3]["lang_pred"] == "es"
    assert out[5]["lang_pred"] == "unknown"


def test_doc_fingerprints(docs):
    out = {r["doc_id"]: r for r in textstats.doc_fingerprints(docs).collect()}
    assert out[0]["exact_sha256"] == out[1]["exact_sha256"]
    assert out[0]["rolling_min_hash"] == out[1]["rolling_min_hash"]
    assert out[0]["exact_sha256"] != out[2]["exact_sha256"]


def test_md5_60_hash_mode_cross_engine_parity(spark):
    """content_hash64(_, 'md5_60') must equal DuckDB's
    ('0x'||substr(md5(x),1,15))::BIGINT — the identity the contract oracles
    rely on. Pinned against python hashlib as the neutral third engine."""
    import hashlib

    from pyspark.sql import functions as F

    vals = ["hello", "", "Domain Name", "δοκιμή", "a b  c"]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", dedup.content_hash64(F.col("s"), "md5_60").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for v in vals:
        expect = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        assert got[v] == expect, v


def test_minhash_md5_mode_same_pair_semantics(spark, docs):
    """md5_60 and xxhash64 modes agree on EXACT-duplicate pairs (hash mode
    changes bucket values, never the dup-pair contract)."""
    xx = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.99).collect()
    }
    md = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.99, hash_mode="md5_60"
        ).collect()
    }
    assert xx == md


def test_ivf_index_partition_pruned_matches_inline(spark, sf_dir, tmp_path):
    """write_ivf_index + ivf_topk_from_index: identical results to the
    inline ivf_topk at the same (centroids, nprobe), and the probe scan's
    plan carries a PartitionFilters cell predicate (parquet partition
    pruning — the 100 TB serving path never opens unprobed cells)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            (F.col("vec_id") + 10000).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    cents = similarity.centroids_kmeans(emb, k=8, iterations=2)
    idx_path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, cents, idx_path)
    inline = similarity.ivf_topk(emb, queries, cents, k=3, nprobe=4)
    from_idx = similarity.ivf_topk_from_index(
        spark, idx_path, queries, cents, k=3, nprobe=4
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, from_idx.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, inline.collect()), key=lambda t: (t[0], t[3]))
    plan = from_idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_assign_cells_arrow_matches_expr(spark, sf_dir):
    """The vectorized (numpy-matmul) index-build assignment kernel agrees
    with the oracle-replayable Catalyst assign_cells on every real vector
    — the two may only diverge within BLAS rounding of an exact two-cell
    tie, which real embeddings don't sit on. Centroids come from
    kmeans(sample=...)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = similarity.centroids_kmeans(emb, k=8, iterations=2, sample=256)
    by_expr = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(emb, cents).select(
            "vec_id", "cell"
        ).collect()
    }
    by_arrow = {
        r["vec_id"]: r["cell"]
        for r in similarity._assign_cells_arrow(
            emb, cents, "embedding"
        ).select("vec_id", "cell").collect()
    }
    assert by_expr == by_arrow


def test_write_ivf_index_arrow_serves_same_topk(spark, sf_dir, tmp_path):
    """write_ivf_index (Arrow assignment) serves the same top-k as a
    reference index partitioned by the Catalyst assign_cells."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            (F.col("vec_id") + 10000).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    cents = similarity.centroids_kmeans(emb, k=8, iterations=2)
    expr_path = str(tmp_path / "ivf-expr")
    arrow_path = str(tmp_path / "ivf-arrow")
    similarity.assign_cells(emb, cents).repartition(8, "cell").write.partitionBy(
        "cell"
    ).parquet(expr_path)
    similarity.write_ivf_index(emb, cents, arrow_path)
    key = lambda t: (t[0], t[3])
    a = sorted(
        map(
            tuple,
            similarity.ivf_topk_from_index(
                spark, expr_path, queries, cents, k=3, nprobe=4
            ).collect(),
        ),
        key=key,
    )
    b = sorted(
        map(
            tuple,
            similarity.ivf_topk_from_index(
                spark, arrow_path, queries, cents, k=3, nprobe=4
            ).collect(),
        ),
        key=key,
    )
    assert a == b


class TestClassifierScore:
    def test_matches_duckdb_and_manual(self, spark):
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.textstats import (
            classifier_score,
            classifier_sql,
        )

        rows = [
            (0, "Good clean prose here"),
            (1, "spam spam spam spam spam"),
            (2, ""),
            (3, "  "),
            (4, "MiXeD CaSe prose"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        weights = [((b * 37 + 11) % 201) - 100 for b in range(64)]
        out = classifier_score(
            df, weights, bias_milli=7, threshold_milli=5, hash_mode="md5_60"
        ).select("doc_id", "n_tokens", "score_milli", "keep")
        got = {tuple(r) for r in out.collect()}
        con = duckdb.connect()
        con.register("d_src", pd.DataFrame(rows, columns=["doc_id", "text"]))
        sql = classifier_sql(
            weights, bias_milli=7, threshold_milli=5, table="d_src"
        )
        want = {tuple(r) for r in con.execute(sql).fetchall()}
        assert got == want
        by_id = {r[0]: r for r in got}
        # zero-token docs: n=0, score=bias, keep = bias >= 0
        assert by_id[2] == (2, 0, 7, True)
        assert by_id[3] == (3, 0, 7, True)
        # manual replay of doc 0 in pure Python
        import hashlib

        def md5_60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        toks = "good clean prose here".split()
        exp = 7 + sum(weights[md5_60(t) % 64] for t in toks)
        assert by_id[0][2] == exp

    def test_lowercase_off_and_bucket_wrap(self, spark):
        from case_uco_ontology_map_spark.operators.textstats import (
            classifier_score,
        )

        df = spark.createDataFrame([(0, "A a")], "doc_id long, text string")
        on = classifier_score(df, [10, -3], hash_mode="md5_60").collect()[0]
        off = classifier_score(
            df, [10, -3], hash_mode="md5_60", lowercase=False
        ).collect()[0]
        assert on["n_tokens"] == off["n_tokens"] == 2
        # lowercased both tokens hash identically; raw case may differ
        import hashlib

        def md5_60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        w = [10, -3]
        assert on["score_milli"] == 2 * w[md5_60("a") % 2]
        assert off["score_milli"] == w[md5_60("A") % 2] + w[md5_60("a") % 2]


class TestRewriteCanonical:
    def test_rewrite_merges_and_collapses(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            rewrite_canonical,
        )

        trip = spark.createDataFrame(
            [
                ("kb:a1", "kb:linksTo", "kb:b", True),
                ("kb:a2", "kb:linksTo", "kb:b", True),   # alias of a1
                ("kb:b", "kb:linksTo", "kb:a2", True),
                ("kb:a1", "kb:label", "kb:a2", False),   # literal that
                # textually collides with an alias IRI: must NOT rewrite
                ("kb:c", "kb:label", "plain", False),
            ],
            "subj string, pred string, obj string, obj_is_iri boolean",
        )
        mapping = spark.createDataFrame(
            [("kb:a2", "kb:a1"), ("kb:c", "kb:c")],  # identity row dropped
            "from_iri string, to_iri string",
        )
        out = rewrite_canonical(
            trip, mapping, obj_is_iri_col="obj_is_iri"
        )
        rows = {tuple(r) for r in out.collect()}
        assert rows == {
            ("kb:a1", "kb:linksTo", "kb:b", True),   # two aliases -> one
            ("kb:b", "kb:linksTo", "kb:a1", True),   # object rewritten
            ("kb:a1", "kb:label", "kb:a2", False),   # literal untouched
            ("kb:c", "kb:label", "plain", False),
        }

    def test_rewrite_without_iri_guard_rewrites_matching_objects(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            rewrite_canonical,
        )

        trip = spark.createDataFrame(
            [("s", "p", "x"), ("x", "p", "y")], "subj string, pred string, obj string"
        )
        mapping = spark.createDataFrame(
            [("x", "z")], "from_iri string, to_iri string"
        )
        rows = {
            tuple(r)
            for r in rewrite_canonical(trip, mapping).collect()
        }
        assert rows == {("s", "p", "z"), ("z", "p", "y")}

    def test_rewrite_distinct_false_keeps_bag(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            rewrite_canonical,
        )

        trip = spark.createDataFrame(
            [("a", "p", "o"), ("b", "p", "o")],
            "subj string, pred string, obj string",
        )
        mapping = spark.createDataFrame(
            [("b", "a")], "from_iri string, to_iri string"
        )
        out = rewrite_canonical(trip, mapping, distinct=False)
        assert out.count() == 2
        assert rewrite_canonical(trip, mapping).count() == 1


class TestTfidfTopTerms:
    def test_hand_computed(self, spark):
        import math

        from case_uco_ontology_map_spark.operators.textstats import (
            tfidf_top_terms,
        )

        rows = [
            (0, "apple apple banana", "fruit"),
            (1, "apple cherry", "fruit"),
            (2, "stone stone stone", "rock"),
            (3, "apple stone", "rock"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        got = {
            (r.source, r.term): (r.tf, r.df, r.tfidf, r.rank)
            for r in tfidf_top_terms(df, "source", k=2).collect()
        }
        # fruit: apple tf=3 df=3; banana tf=1 df=1; cherry tf=1 df=1 —
        # top-2 = apple then banana (df tie → term asc)
        assert got[("fruit", "apple")] == (3, 3, 3 * math.log(4 / 3), 1)
        assert got[("fruit", "banana")] == (1, 1, math.log(4.0), 2)
        assert ("fruit", "cherry") not in got
        # rock: stone tf=4 (3 in doc 2 + 1 in doc 3) df=2 rank 1;
        # apple tf=1 df=3 rank 2
        assert got[("rock", "stone")] == (4, 2, 4 * math.log(2.0), 1)
        assert got[("rock", "apple")] == (1, 3, math.log(4 / 3), 2)

    def test_min_token_len_and_k_guard(self, spark):
        import pytest as _pt

        from case_uco_ontology_map_spark.operators.textstats import (
            tfidf_top_terms,
        )

        df = spark.createDataFrame(
            [(0, "aa bbb", "s")], "doc_id long, text string, source string"
        )
        terms = {
            r.term for r in tfidf_top_terms(df, "source", k=5).collect()
        }
        assert terms == {"bbb"}  # 2-char token dropped
        with _pt.raises(ValueError):
            tfidf_top_terms(df, "source", k=0)


class TestDiffGraphs:
    def test_added_removed_and_set_semantics(self, spark):
        from case_uco_ontology_map_spark.operators.triples import diff_graphs

        schema = "subj string, pred string, obj string"
        old = spark.createDataFrame(
            [
                ("a", "p", "1"),
                ("a", "p", "1"),  # duplicate assertion: set semantics
                ("b", "p", "2"),
            ],
            schema,
        )
        new = spark.createDataFrame(
            [("a", "p", "1"), ("c", "p", "3")], schema
        )
        got = {
            (r.subj, r.pred, r.obj, r.change)
            for r in diff_graphs(old, new).collect()
        }
        assert got == {
            ("c", "p", "3", "added"),
            ("b", "p", "2", "removed"),
        }

    def test_identical_graphs_empty_diff(self, spark):
        from case_uco_ontology_map_spark.operators.triples import diff_graphs

        schema = "subj string, pred string, obj string"
        g = spark.createDataFrame([("a", "p", "1")], schema)
        assert diff_graphs(g, g).count() == 0


class TestPoolEmbeddings:
    def test_mean_and_sum(self, spark):
        rows = [
            ("d1", [1.0, 2.0], 1),
            ("d1", [3.0, 4.0], 1),
            ("d2", [5.0, 6.0], 1),
        ]
        df = spark.createDataFrame(
            rows, "doc string, embedding array<double>, n_tokens int"
        )
        mean = {
            r.doc: (r.embedding, r.n_pooled)
            for r in similarity.pool_embeddings(df, ["doc"]).collect()
        }
        assert mean == {"d1": ([2.0, 3.0], 2), "d2": ([5.0, 6.0], 1)}
        total = {
            r.doc: r.embedding
            for r in similarity.pool_embeddings(
                df, ["doc"], mode="sum"
            ).collect()
        }
        assert total == {"d1": [4.0, 6.0], "d2": [5.0, 6.0]}

    def test_weighted_mean(self, spark):
        rows = [("d1", [1.0, 0.0], 3), ("d1", [0.0, 1.0], 1)]
        df = spark.createDataFrame(
            rows, "doc string, embedding array<double>, n_tokens int"
        )
        got = similarity.pool_embeddings(
            df, ["doc"], weight_col="n_tokens"
        ).collect()[0]
        assert got.embedding == [0.75, 0.25]
        with pytest.raises(ValueError):
            similarity.pool_embeddings(df, ["doc"], mode="median")


class TestBigramLM:
    ROWS = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the hat"),
        (2, "colorless green ideas sleep furiously"),
        (3, "the the the the"),
        (4, "single"),
        (5, ""),
    ]

    def test_hand_computed_and_membership(self, spark):
        import math

        from case_uco_ontology_map_spark.operators.textstats import (
            bigram_lm_scores,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.avg_logp)
            for r in bigram_lm_scores(df).collect()
        }
        # docs 4 (<2 tokens) and 5 (empty) produce no bigrams
        assert set(got) == {0, 1, 2, 3}
        assert got[0][0] == 5 and got[3][0] == 3
        # doc 3: bigram (the,the) c2=3; cl(the)=3+2+2... left-hand
        # occurrences of 'the': doc0 has (the,cat),(the,mat);
        # doc1 (the,cat),(the,hat); doc3 (the,the)x3 → cl=7
        # V = distinct tokens across corpus
        vocab = {
            t
            for _, text in self.ROWS
            for t in text.split()
        }
        v = float(len(vocab))
        expected = math.log((3 + 1) / (7 + v))
        assert abs(got[3][1] - expected) < 1e-12
        # fluent repeated doc scores higher than the unique-word doc
        assert got[0][1] > got[2][1]

    def test_matches_duckdb(self, spark):
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.textstats import (
            bigram_lm_scores,
            bigram_lm_sql,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = sorted(
            (r.doc_id, r.n_bigrams, round(r.avg_logp, 10))
            for r in bigram_lm_scores(df).collect()
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(self.ROWS, columns=["doc_id", "text"]),
        )
        want = sorted(
            (int(a), int(b), round(c, 10))
            for a, b, c in con.execute(bigram_lm_sql()).fetchall()
        )
        assert got == want

    def test_case_sensitivity_toggle(self, spark):
        from case_uco_ontology_map_spark.operators.textstats import (
            bigram_lm_scores,
        )

        df = spark.createDataFrame(
            [(0, "The cat"), (1, "the cat"), (2, "the cat")],
            "doc_id long, text string",
        )
        lower = {
            r.doc_id: r.avg_logp
            for r in bigram_lm_scores(df, lowercase=True).collect()
        }
        assert lower[0] == lower[1] == lower[2]  # case-folded: one bigram
        raw = {
            r.doc_id: r.avg_logp
            for r in bigram_lm_scores(df, lowercase=False).collect()
        }
        # raw: (The,cat) is rarer than (the,cat) → lower probability
        assert raw[0] < raw[1] == raw[2]


class TestGopherRules:
    ROWS = [
        (0, "The quick brown fox jumps over the lazy dog near town"),
        (1, "a b c"),                       # too few words
        (2, "# # # ... # words here soup five six"),  # symbol soup
        (3, "- alpha beta gamma delta\n- alpha beta gamma delta\n"
            "- alpha beta gamma delta\n"
            "the quick brown fox jumps over lazy dogs again today"),
        (4, "0 1 2 3 4 5 6 7 8 9 10"),      # no alphabetic words
    ]

    def test_gate_and_duckdb(self, spark):
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.textstats import (
            gopher_rules,
            gopher_sql,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = {r.doc_id: r for r in gopher_rules(df).collect()}
        assert got[0].keep is True
        assert got[1].keep is False  # min_words
        assert got[2].keep is False  # symbol ratio
        assert got[4].keep is False  # alpha fraction
        # bullet doc: 3 bullet lines of 4 (0.75 < 0.9), alpha fraction
        # 22/25 (dashes count as words but not alpha words) -> survives
        assert got[3].keep is True and got[3].n_bullet_lines == 3
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(self.ROWS, columns=["doc_id", "text"]),
        )
        want = {
            int(r[0]): tuple(r) for r in con.execute(gopher_sql()).fetchall()
        }
        for d, r in got.items():
            assert tuple(r) == want[d], f"doc {d}"

    def test_integer_threshold_edges(self, spark):
        # exactly ON the 0.8 alpha-fraction boundary: 4 alpha / 5 words
        # must KEEP (>= is inclusive and integer-exact)
        from case_uco_ontology_map_spark.operators.textstats import (
            GOPHER_DEFAULTS,
            gopher_rules,
        )

        df = spark.createDataFrame(
            [(0, "alpha beta gamma delta 12345")],
            "doc_id long, text string",
        )
        t = dict(GOPHER_DEFAULTS, min_words=1)
        r = gopher_rules(df, thresholds=t).collect()[0]
        assert r.n_alpha_words == 4 and r.n_words == 5 and r.keep is True


class TestParagraphDedup:
    ROWS = [
        (0, "shared footer text\n\nunique alpha body"),
        (1, "shared footer text\n \n unique beta body"),
        (2, "unique gamma body\n\n\nshared   footer\ttext"),
        (3, "x"),
    ]

    def test_first_wins_and_duckdb(self, spark):
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.dedup import (
            paragraph_dedup,
            paragraph_dedup_sql,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        out = paragraph_dedup(df, hash_mode="md5_60").collect()
        rows = {(r.doc_id, r.para_idx): r for r in out}
        # whitespace-normalized "shared footer text" appears in docs
        # 0, 1, 2 — only (0, 0) is first
        shared = [
            r for r in out if r.n_occurrences == 3
        ]
        assert len(shared) == 3
        firsts = [(r.doc_id, r.para_idx) for r in shared if r.is_first]
        assert firsts == [(0, 0)]
        # unique paragraphs are their own firsts
        assert rows[(0, 1)].is_first and rows[(0, 1)].n_occurrences == 1
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(self.ROWS, columns=["doc_id", "text"]),
        )
        want = sorted(
            map(tuple, con.execute(paragraph_dedup_sql()).fetchall())
        )
        got = sorted(map(tuple, out))
        assert got == want

    def test_min_chars_and_partition_invariance(self, spark):
        from case_uco_ontology_map_spark.operators.dedup import (
            paragraph_dedup,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        a = sorted(map(tuple, paragraph_dedup(df, min_chars=2).collect()))
        # the 1-char doc 3 paragraph is dropped
        assert all(r[0] != 3 for r in a)
        b = sorted(
            map(
                tuple,
                paragraph_dedup(df.repartition(7), min_chars=2).collect(),
            )
        )
        assert a == b


class TestReadNtriples:
    def test_roundtrip_identity(self, spark):
        from case_uco_ontology_map_spark.operators.render import (
            ntriples_lines,
            read_ntriples,
        )

        rows = [
            ("kb:r1", "uco-core:hasFacet", "kb:f1", True, None),
            ("kb:f1", "rdf:type", "uco-observable:ContentDataFacet",
             True, None),
            ("kb:f1", "uco-observable:sizeInBytes", "157", False,
             "xsd:integer"),
            ("kb:f1", "uco-core:description",
             'line1\nline2\t"quoted" back\\slash', False, None),
        ]
        t = spark.createDataFrame(
            rows,
            "subj string, pred string, obj string, obj_is_iri boolean,"
            " obj_datatype string",
        )
        back = read_ntriples(ntriples_lines(t))
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, t.collect()))
        assert got == want  # byte-exact round trip incl. escapes

    def test_comment_blank_and_malformed(self, spark):
        from case_uco_ontology_map_spark.operators.render import (
            read_ntriples,
        )

        ok = spark.createDataFrame(
            [("# a comment",), ("",),
             ("<http://x/s> <http://x/p> \"v\" .",)],
            "line string",
        )
        out = read_ntriples(ok, prefixes={}).collect()
        assert len(out) == 1 and out[0].obj == "v" and not out[0].obj_is_iri
        bad = spark.createDataFrame(
            [("<http://x/s> <http://x/p> unquoted .",)], "line string"
        )
        import pytest as _pt

        with _pt.raises(Exception, match="malformed N-Triples"):
            read_ntriples(bad).collect()

    def test_longest_namespace_wins(self, spark):
        from case_uco_ontology_map_spark.operators.render import (
            read_ntriples,
        )

        lines = spark.createDataFrame(
            [("<http://x/ns/deep/a> <http://x/ns/p> <http://x/ns/deep/b>"
              " .",)],
            "line string",
        )
        out = read_ntriples(
            lines,
            prefixes={"short": "http://x/ns/", "deep": "http://x/ns/deep/"},
        ).collect()[0]
        assert out.subj == "deep:a" and out.pred == "short:p"


class TestReadJsonldNodes:
    def test_roundtrip_identity(self, spark):
        from case_uco_ontology_map_spark.operators.render import (
            jsonld_nodes,
            read_jsonld_nodes,
        )

        rows = [
            ("kb:r1", "rdf:type", "uco-observable:URL", True, None, "u1"),
            ("kb:r1", "uco-core:hasFacet", "kb:f1", True, None, "u1"),
            ("kb:r1", "uco-core:hasFacet", "kb:f2", True, None, "u1"),
            ("kb:f1", "rdf:type", "uco-observable:ContentDataFacet",
             True, None, "u1"),
            ("kb:f1", "uco-observable:sizeInBytes", "157", False,
             "xsd:integer", "u1"),
            ("kb:f1", "uco-observable:isArchived", "true", False,
             "xsd:boolean", "u1"),
            ("kb:f1", "uco-core:description", "plain text", False, None,
             "u1"),
            ("kb:f1", "uco-observable:observedDate",
             "2026-01-01T00:00:00Z", False, "xsd:dateTime", "u1"),
        ]
        t = spark.createDataFrame(
            rows,
            "subj string, pred string, obj string, obj_is_iri boolean,"
            " obj_datatype string, record_uuid string",
        )
        back = read_jsonld_nodes(jsonld_nodes(t))
        got = sorted(map(tuple, back.collect()))
        want = sorted(
            map(tuple, t.select(
                "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
            ).collect())
        )
        assert got == want

    def test_multivalue_and_dict_forms(self, spark):
        from case_uco_ontology_map_spark.operators.render import (
            read_jsonld_nodes,
        )
        import json as _json

        node = {
            "@id": "kb:x",
            "@type": "uco-observable:URL",
            "uco-core:tag": ["a", "b"],
            "uco-core:ref": {"@id": "kb:y"},
        }
        df = spark.createDataFrame(
            [(_json.dumps(node),)], "node_json string"
        )
        got = sorted(map(tuple, read_jsonld_nodes(df).collect()))
        assert ("kb:x", "uco-core:tag", "a", False, None) in got
        assert ("kb:x", "uco-core:tag", "b", False, None) in got
        assert ("kb:x", "uco-core:ref", "kb:y", True, None) in got
        assert ("kb:x", "rdf:type", "uco-observable:URL", True, None) in got


def test_sq8_quantize_properties(spark):
    """SQ8 invariants: codes in [0,255], min→0 and max→255,
    reconstruction error < one quantization step, constant vectors get
    scale 0 and all-zero codes."""
    from case_uco_ontology_map_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.5, 4.0, -3.0]),
            (1, [0.5, 0.5, 0.5, 0.5]),  # constant → scale 0
            (2, [-1.0, 1.0, 0.0, 0.25]),
        ],
        "vec_id int, embedding array<double>",
    )
    q = quantize_embeddings(df)
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[1].q_scale == 0.0 and rows[1].codes == [0, 0, 0, 0]
    for vid in (0, 2):
        r = rows[vid]
        assert all(0 <= c <= 255 for c in r.codes)
        assert min(r.codes) == 0 and max(r.codes) == 255
        step = r.q_scale
        recon = [r.q_min + c * step for c in r.codes]
        orig = [1.0, 2.5, 4.0, -3.0] if vid == 0 else [-1.0, 1.0, 0.0, 0.25]
        assert all(abs(a - b) <= step + 1e-12 for a, b in zip(recon, orig))


def test_sq8_topk_rescoring_matches_brute_force(spark):
    """Quantize → approx top-20 → exact rescore top-5 must agree with
    the full-precision brute force on a deterministic corpus (the SQ8
    error is far below the neighbor separation here)."""
    import math

    from case_uco_ontology_map_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
        sq8_topk,
    )

    def vec(i):
        return [
            math.sin(0.1 * i * (d + 1)) + 0.01 * ((i * 7 + d) % 5)
            for d in range(8)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)],
        "vec_id int, embedding array<double>",
    )
    queries = (
        emb.orderBy("vec_id")
        .limit(2)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    quantized = quantize_embeddings(emb)
    rescored = sq8_topk(
        quantized, queries, k=5, overfetch=4, full_vectors=emb
    ).collect()
    key = lambda rows: sorted((r.query_id, r.vec_id, r.rank) for r in rows)
    assert key(rescored) == key(exact)
    # and the rescored cosines ARE the exact cosines (stage 2 reads the
    # full-precision vectors, not the reconstruction)
    e = {(r.query_id, r.vec_id): r.cosine for r in exact}
    assert all(e[(r.query_id, r.vec_id)] == r.cosine for r in rescored)


def test_sq8_arrow_kernel_matches_expr(spark):
    """sq8_topk (Arrow stage-1 scorer) must produce the identical
    rescored top-k as a Catalyst reference of the same two stages:
    cosine against the dequantized codes, top k·overfetch, exact rescore
    against the full vectors, top k."""
    import math

    from pyspark.sql import Window

    from case_uco_ontology_map_spark.operators.dedup import _cosine
    from case_uco_ontology_map_spark.operators.similarity import (
        quantize_embeddings,
        sq8_topk,
    )

    def vec(i):
        return [
            math.cos(0.37 * i + 0.9 * d) + 0.02 * ((i * 3 + d) % 7)
            for d in range(16)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(120)],
        "vec_id int, embedding array<double>",
    )
    queries = (
        emb.orderBy("vec_id")
        .limit(3)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    q = quantize_embeddings(emb)
    key = lambda rows: sorted(
        (r.query_id, r.vec_id, r.rank, r.cosine) for r in rows
    )

    def top(df, n, score):
        w = Window.partitionBy("query_id").orderBy(
            F.desc(score), F.asc("vec_id")
        )
        return df.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= n
        )

    # reconstructed double vector: min + code * scale per dim
    xhat = F.transform(
        F.col("codes"),
        lambda c: F.col("q_min") + c.cast("double") * F.col("q_scale"),
    )
    approx = q.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id",
        F.round(_cosine(xhat, F.col("query_vec")), 6).alias("approx"),
    )
    cands = top(approx, 5 * 4, "approx").drop("rank")
    exact = (
        cands.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id", "vec_id",
            F.round(_cosine(F.col("embedding"), F.col("query_vec")), 6).alias(
                "cosine"
            ),
        )
    )
    expr = top(exact, 5, "cosine")
    arrow = sq8_topk(q, queries, k=5, overfetch=4, full_vectors=emb)
    assert key(arrow.collect()) == key(expr.collect())


def test_domain_quality_prior_gate_and_oracle(spark):
    """Integer-exact site gate: a healthy two-doc domain passes; a
    single-doc domain fails min_docs; a punctuation-soup domain fails
    the punct gate; a short-text domain fails mean tokens. Subdomains
    of one registered domain aggregate together (incl. a .co.uk
    multi-part suffix). DuckDB replays host chain + domain CASE +
    gate."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.textstats import (
        domain_prior_sql,
        domain_quality_prior,
    )

    good = "the quick brown fox jumps over the lazy dog " * 3  # 27 tokens
    rows = [
        ("https://a.good.co.uk/1", good),
        ("https://WWW.b.good.co.uk/2", good),   # same registered domain
        ("https://solo.test/x", good),          # fails min_docs=2
        ("https://noisy.test/a", "!!! ??? ;;; ***" * 10),  # punct soup
        ("https://noisy.test/b", "%%% &&& @@@ ^^^" * 10),
        ("https://short.test/a", "tiny text"),  # fails mean tokens
        ("https://short.test/b", "also tiny"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    pri = domain_quality_prior(df)
    got = {
        r["domain"]: (
            r["n_docs"], r["n_tokens"], r["prior_pass"]
        )
        for r in pri.collect()
    }
    assert got["good.co.uk"][0] == 2 and got["good.co.uk"][2] is True
    assert got["solo.test"][2] is False
    assert got["noisy.test"][2] is False
    assert got["short.test"][2] is False
    con = duckdb.connect()
    con.register("d_src", pd.DataFrame(rows, columns=["url", "text"]))
    want = {
        r[0]: (r[1], r[2], r[5])
        for r in con.execute(
            "WITH d AS (SELECT * FROM d_src) " + domain_prior_sql()
        ).fetchall()
    }
    assert {k: v[:2] for k, v in got.items()} == {
        k: v[:2] for k, v in want.items()
    }
    assert {k: v[2] for k, v in got.items()} == {
        k: v[2] for k, v in want.items()
    }


def test_sameas_smush_chain_merge_and_oracle(spark):
    """A one-way sameAs CHAIN kb:c -> kb:b -> kb:a collapses all three to
    the lexicographic min kb:a; every alias's literals and IRI edges move
    to the canonical node, duplicates merge (RDF set semantics), the
    sameAs assertions vanish, and a literal textually equal to an alias
    IRI is NOT rewritten. DuckDB replays closure + rewrite end to end."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        sameas_smush,
        sameas_smush_sql,
    )

    rows = [
        # chain asserted one-way, plus an unrelated island kb:z
        ("kb:c", "owl:sameAs", "kb:b", True, None),
        ("kb:b", "owl:sameAs", "kb:a", True, None),
        ("kb:a", "ex:name", "alpha", False, None),
        ("kb:b", "ex:name", "alpha", False, None),     # merges with above
        ("kb:c", "ex:name", "gamma", False, None),     # survives distinct
        ("kb:c", "ex:knows", "kb:z", True, None),      # IRI object kept
        ("kb:z", "ex:ref", "kb:b", True, None),        # object rewritten
        ("kb:z", "ex:label", "kb:b", False, None),     # literal untouched
    ]
    cols = "subj string, pred string, obj string, obj_is_iri boolean, obj_datatype string"
    t = spark.createDataFrame(rows, cols)
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri)
        for r in sameas_smush(t).collect()
    }
    assert got == {
        ("kb:a", "ex:name", "alpha", False),
        ("kb:a", "ex:name", "gamma", False),
        ("kb:a", "ex:knows", "kb:z", True),
        ("kb:z", "ex:ref", "kb:a", True),
        ("kb:z", "ex:label", "kb:b", False),
    }
    con = duckdb.connect()
    con.register(
        "t_src",
        pd.DataFrame(
            rows,
            columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
        ),
    )
    want = {
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({sameas_smush_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_kg_census_void_partitions(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        kg_census,
        kg_census_sql,
    )

    rows = [
        ("kb:a", "rdf:type", "ex:Person"),
        ("kb:b", "rdf:type", "ex:Person"),
        ("kb:c", "rdf:type", "ex:Place"),
        ("kb:a", "ex:knows", "kb:b"),
        ("kb:a", "ex:name", "alpha"),
        ("kb:b", "ex:name", "alpha"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r.kind, r.name): (r.n_triples, r.n_subjects, r.n_objects)
        for r in kg_census(t).collect()
    }
    assert got[("dataset", "")] == (6, 3, 4)
    assert got[("property", "rdf:type")] == (3, 3, 2)
    assert got[("property", "ex:name")] == (2, 2, 1)
    assert got[("class", "ex:Person")] == (2, 2, 1)
    assert got[("class", "ex:Place")] == (1, 1, 1)
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(rows, columns=["subj", "pred", "obj"]))
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({kg_census_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_boilerplate_detect_strip_and_oracle(spark):
    """Header/footer lines shared by >= min_docs docs of one registered
    domain are detected and stripped; a line shared across DIFFERENT
    domains is kept (per-domain scope); blank lines survive; the cap
    keeps the MOST frequent lines. DuckDB replays detection + strip."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.textstats import (
        boilerplate_lines,
        strip_boilerplate,
        strip_boilerplate_sql,
    )

    body = ["first body line", "", "second body line"]
    mk = lambda i, body_lines: "\n".join(
        ["SITE MENU home about", *body_lines, "(c) example footer"]
    )
    rows = [
        ("https://a.example.com/1", mk(1, ["doc one unique"])),
        ("https://WWW.b.example.com/2", mk(2, body)),
        ("https://example.com:80/3", mk(3, ["doc three unique"])),
        # other domain shares the footer text — must NOT count toward
        # example.com's tally nor be stripped from other.test docs alone
        ("https://other.test/x", "(c) example footer\nunique other body"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    bl = boilerplate_lines(df, min_docs=3)
    got_bl = {(r.domain, r.line): r.n_docs for r in bl.collect()}
    assert got_bl == {
        ("example.com", "SITE MENU home about"): 3,
        ("example.com", "(c) example footer"): 3,
    }
    out = {
        r.url: r.text_clean
        for r in strip_boilerplate(df, bl).collect()
    }
    assert out["https://WWW.b.example.com/2"] == "first body line\n\nsecond body line"
    assert out["https://a.example.com/1"] == "doc one unique"
    assert out["https://other.test/x"] == "(c) example footer\nunique other body"
    con = duckdb.connect()
    con.register("d_src", pd.DataFrame(rows, columns=["url", "text"]))
    want = dict(
        con.execute(
            "WITH d AS (SELECT * FROM d_src) "
            f"SELECT * FROM ({strip_boilerplate_sql(min_docs=3)}) z"
        ).fetchall()
    )
    assert out == want


def test_boilerplate_cap_keeps_most_frequent(spark):
    from case_uco_ontology_map_spark.operators.textstats import (
        strip_boilerplate,
    )

    # hand-built boilerplate frame: "common" in 9 docs, "rare" in 3 —
    # cap of 1 must keep "common"
    bl = spark.createDataFrame(
        [("example.com", None, "common", 9), ("example.com", None, "rare", 3)],
        "domain string, line_md5 string, line string, n_docs long",
    )
    from pyspark.sql import functions as F

    bl = bl.withColumn("line_md5", F.md5("line"))
    docs = spark.createDataFrame(
        [("https://example.com/p", "common\nbody\nrare")],
        "url string, text string",
    )
    out = strip_boilerplate(docs, bl, max_lines_per_domain=1).collect()
    assert out[0]["text_clean"] == "body\nrare"


def test_nquads_lines_fourth_term_and_escape(spark):
    """N-Quads: graph IRI expands through the same prefix table, rides
    before the dot; literal lines keep ECHAR escapes + datatype tags;
    ntriples_lines output is the exact prefix of every quad line."""
    from case_uco_ontology_map_spark.operators.render import (
        nquads_lines,
        ntriples_lines,
    )

    rows = [
        ("kb:a", "rdf:type", "uco-observable:URL", True, None, "kb:rec1"),
        ("kb:a", "dfc-ext:lang", 'li"ne\n1', False, "xsd:string", "kb:rec1"),
        ("http://x/y", "ex:p", "kb:b", True, None, "http://g/1"),
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, graph string"
    )
    t = spark.createDataFrame(rows, cols)
    quads = [r["line"] for r in nquads_lines(t).collect()]
    trips = [r["line"] for r in ntriples_lines(t).collect()]
    assert quads[0] == (
        "<http://example.org/kb/a> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<https://ontology.unifiedcyberontology.org/uco/observable/URL> "
        "<http://example.org/kb/rec1> ."
    )
    assert '"li\\"ne\\n1"^^<http://www.w3.org/2001/XMLSchema#string>' in quads[1]
    assert quads[2].endswith("<http://g/1> .")  # absolute graph passthrough
    for q, nt in zip(quads, trips):
        assert q == nt[:-1] + f"<{q.rsplit('<', 1)[1]}"
        assert q.startswith(nt[:-2])


def test_unresolved_refs_report_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        unresolved_refs,
        unresolved_refs_sql,
    )

    rows = [
        ("kb:a", "rdf:type", "ex:Thing", True, None),
        ("kb:a", "ex:ref", "kb:gone", True, None),     # dangling ×2
        ("kb:b", "ex:ref", "kb:gone", True, None),
        ("kb:a", "ex:ref", "kb:b", True, None),        # resolved
        ("kb:a", "ex:label", "kb:gone", False, None),  # literal — ignored
        ("kb:b", "ex:ext", "http://other/x", True, None),  # outside kb:
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(rows, cols)
    got = {(r.iri, r.n_refs) for r in unresolved_refs(t).collect()}
    assert got == {("kb:gone", 2)}
    # namespace=None also reports the vocabulary + external IRIs
    got_all = {r.iri for r in unresolved_refs(t, namespace=None).collect()}
    assert got_all == {"kb:gone", "ex:Thing", "http://other/x"}
    con = duckdb.connect()
    con.register(
        "t_src",
        pd.DataFrame(rows, columns=["subj", "pred", "obj", "obj_is_iri",
                                    "obj_datatype"]),
    )
    want = {
        tuple(r)
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({unresolved_refs_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_latest_assertions_supersede_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        latest_assertions,
        latest_assertions_sql,
    )

    rows = [
        ("kb:a", "ex:title", "old title", 1),
        ("kb:a", "ex:title", "new title", 5),
        ("kb:a", "ex:title", "also new", 5),   # tie at ts=5 → min obj
        ("kb:a", "ex:lang", "en", 2),
        ("kb:b", "ex:title", "only", 3),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, ts long"
    )
    got = {
        (r.subj, r.pred): (r.obj, r.ts)
        for r in latest_assertions(t).collect()
    }
    assert got == {
        ("kb:a", "ex:title"): ("also new", 5),
        ("kb:a", "ex:lang"): ("en", 2),
        ("kb:b", "ex:title"): ("only", 3),
    }
    con = duckdb.connect()
    con.register(
        "t_src", pd.DataFrame(rows, columns=["subj", "pred", "obj", "ts"])
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({latest_assertions_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_rdfs_infer_types_diamond_and_oracle(spark):
    """rdfs9 over a diamond hierarchy (B ⊑ A, C ⊑ A, D ⊑ B, D ⊑ C):
    an instance typed D gains B, C, and A exactly once; explicit
    re-assertions are no-ops; non-type triples pass through."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        rdfs_infer_types,
        rdfs_infer_types_sql,
    )

    triples = [
        ("kb:x", "rdf:type", "ex:D", True, None),
        ("kb:x", "rdf:type", "ex:A", True, None),   # explicit — no dup
        ("kb:y", "rdf:type", "ex:B", True, None),
        ("kb:x", "ex:name", "thing", False, None),
    ]
    sub = [("ex:B", "ex:A"), ("ex:C", "ex:A"), ("ex:D", "ex:B"),
           ("ex:D", "ex:C")]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(triples, cols)
    sc = spark.createDataFrame(sub, "sub string, sup string")
    got = {
        (r.subj, r.pred, r.obj) for r in rdfs_infer_types(t, sc).collect()
    }
    assert got == {
        ("kb:x", "rdf:type", "ex:D"),
        ("kb:x", "rdf:type", "ex:B"),
        ("kb:x", "rdf:type", "ex:C"),
        ("kb:x", "rdf:type", "ex:A"),
        ("kb:y", "rdf:type", "ex:B"),
        ("kb:y", "rdf:type", "ex:A"),
        ("kb:x", "ex:name", "thing"),
    }
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        triples,
        columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    con.register("sc_src", pd.DataFrame(sub, columns=["sub", "sup"]))
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src), sc AS (SELECT * FROM sc_src) "
            f"SELECT * FROM ({rdfs_infer_types_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_infer_transitive_chain_cycle_and_oracle(spark):
    """Transitive materialization over a 4-chain (a→b→c→d) asserts all 6
    implied pairs; a 2-cycle terminates (engine: minimal-hop anti-join)
    including the self-pairs the cycle implies; literal objects of the
    same predicate never participate."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        infer_transitive,
        infer_transitive_sql,
    )

    rows = [
        ("kb:a", "ex:in", "kb:b", True, None),
        ("kb:b", "ex:in", "kb:c", True, None),
        ("kb:c", "ex:in", "kb:d", True, None),
        ("kb:p", "ex:in", "kb:q", True, None),
        ("kb:q", "ex:in", "kb:p", True, None),   # cycle
        ("kb:a", "ex:in", "not-an-iri", False, None),
        ("kb:a", "ex:other", "kb:z", True, None),
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(rows, cols)
    got = {
        (r.subj, r.pred, r.obj)
        for r in infer_transitive(t, "ex:in", max_hops=8).collect()
    }
    chain = {("kb:a", "ex:in", x) for x in ("kb:b", "kb:c", "kb:d")}
    chain |= {("kb:b", "ex:in", x) for x in ("kb:c", "kb:d")}
    chain |= {("kb:c", "ex:in", "kb:d")}
    cyc = {("kb:p", "ex:in", x) for x in ("kb:q", "kb:p")}
    cyc |= {("kb:q", "ex:in", x) for x in ("kb:p", "kb:q")}
    passthru = {("kb:a", "ex:in", "not-an-iri"), ("kb:a", "ex:other", "kb:z")}
    assert got == chain | cyc | passthru
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({infer_transitive_sql('ex:in', max_hops=8)}) z"
        ).fetchall()
    }
    assert got == want


def test_infer_subproperties_chain_datatype_and_oracle(spark):
    """rdfs7 over a 2-hop property chain (name ⊑ label ⊑ prop): a
    name-triple entails BOTH ancestors and the entailed rows keep the
    source row's obj_is_iri/obj_datatype (literal stays literal, IRI
    stays IRI); predicates off the chain pass through untouched; an
    explicit re-assertion dedups."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        infer_subproperties,
        infer_subproperties_sql,
    )

    triples = [
        ("kb:x", "ex:name", "Ada", False, "xsd:string"),
        ("kb:x", "ex:label", "Ada", False, "xsd:string"),  # explicit
        ("kb:y", "ex:ref", "kb:z", True, None),
        ("kb:y", "ex:other", "5", False, "xsd:integer"),
    ]
    sub = [("ex:name", "ex:label"), ("ex:label", "ex:prop"),
           ("ex:ref", "ex:link")]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(triples, cols)
    sp = spark.createDataFrame(sub, "sub string, sup string")
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype)
        for r in infer_subproperties(t, sp).collect()
    }
    assert got == {
        ("kb:x", "ex:name", "Ada", False, "xsd:string"),
        ("kb:x", "ex:label", "Ada", False, "xsd:string"),
        ("kb:x", "ex:prop", "Ada", False, "xsd:string"),
        ("kb:y", "ex:ref", "kb:z", True, None),
        ("kb:y", "ex:link", "kb:z", True, None),
        ("kb:y", "ex:other", "5", False, "xsd:integer"),
    }
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        triples,
        columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    con.register("sp_src", pd.DataFrame(sub, columns=["sub", "sup"]))
    want = {
        tuple(r)
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src), sp AS (SELECT * FROM sp_src) "
            f"SELECT * FROM ({infer_subproperties_sql()}) z"
        ).fetchall()
    }
    assert got == want


def test_infer_inverse_pairs_symmetric_literals_and_oracle(spark):
    """owl:inverseOf fires in BOTH directions (p→q and q→p), symmetric
    predicates swap onto themselves, literal objects never swap into
    subject position, and an already-present reverse edge dedups."""
    import duckdb
    import pandas as pd
    import pytest

    from case_uco_ontology_map_spark.operators.triples import (
        infer_inverse,
        infer_inverse_sql,
    )

    triples = [
        ("kb:a", "ex:parentOf", "kb:b", True, None),
        ("kb:c", "ex:childOf", "kb:a", True, None),   # reverse direction
        ("kb:b", "ex:knows", "kb:c", True, None),
        ("kb:c", "ex:knows", "kb:b", True, None),     # already symmetric
        ("kb:a", "ex:label", "A", False, "xsd:string"),
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(triples, cols)
    got = {
        (r.subj, r.pred, r.obj)
        for r in infer_inverse(
            t, inverse_pairs=[("ex:parentOf", "ex:childOf")],
            symmetric_preds=["ex:knows"],
        ).collect()
    }
    assert got == {
        ("kb:a", "ex:parentOf", "kb:b"),
        ("kb:b", "ex:childOf", "kb:a"),
        ("kb:c", "ex:childOf", "kb:a"),
        ("kb:a", "ex:parentOf", "kb:c"),
        ("kb:b", "ex:knows", "kb:c"),
        ("kb:c", "ex:knows", "kb:b"),
        ("kb:a", "ex:label", "A"),
    }
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        triples,
        columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    sql = infer_inverse_sql(
        inverse_pairs=[("ex:parentOf", "ex:childOf")],
        symmetric_preds=["ex:knows"],
    )
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(
            f"WITH t AS (SELECT * FROM t_src) SELECT * FROM ({sql}) z"
        ).fetchall()
    }
    assert got == want
    with pytest.raises(ValueError):
        infer_inverse(t)


def test_void_summary_scopes_and_multityped_subject(spark):
    """VoID stats: the dataset row counts distinct IRI objects only; a
    multi-typed subject's triples appear in BOTH class partitions (per
    the VoID classPartition definition); an untyped subject appears in
    property partitions but no class partition."""
    from case_uco_ontology_map_spark.operators.triples import (
        void_summary,
    )

    triples = [
        ("kb:a", "rdf:type", "ex:P", True, None),
        ("kb:a", "rdf:type", "ex:Q", True, None),
        ("kb:a", "ex:name", "Ada", False, "xsd:string"),
        ("kb:b", "ex:name", "Bob", False, "xsd:string"),
        ("kb:b", "ex:ref", "kb:a", True, None),
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    got = {
        (r.scope, r.key): (r.n_triples, r.n_subjects, r.n_objects,
                           r.n_preds)
        for r in void_summary(
            spark.createDataFrame(triples, cols)
        ).collect()
    }
    assert got[("dataset", "")] == (5, 2, 3, 3)
    assert got[("property", "ex:name")] == (2, 2, 0, 1)
    assert got[("property", "rdf:type")] == (2, 1, 2, 1)
    assert got[("property", "ex:ref")] == (1, 1, 1, 1)
    # kb:a is typed P AND Q → its 3 triples count under both classes
    assert got[("class", "ex:P")] == (3, 1, 2, 2)
    assert got[("class", "ex:Q")] == (3, 1, 2, 2)
    assert ("class", "ex:name") not in got  # untyped kb:b: no partition
    assert len(got) == 6


def test_apply_diff_roundtrip_identity(spark):
    """new ≡ apply_diff(old, diff_graphs(old, new)) — the snapshot-diff
    lifecycle closes; duplicate assertions in either snapshot never
    produce phantom rows (set semantics end to end)."""
    from case_uco_ontology_map_spark.operators.triples import (
        apply_diff,
        diff_graphs,
    )

    cols = "subj string, pred string, obj string"
    old = spark.createDataFrame(
        [("a", "p", "1"), ("a", "p", "1"), ("a", "q", "2"), ("b", "p", "3")],
        cols,
    )
    new = spark.createDataFrame(
        [("a", "p", "1"), ("b", "p", "4"), ("c", "r", "5")], cols
    )
    patched = {
        tuple(r) for r in apply_diff(old, diff_graphs(old, new)).collect()
    }
    assert patched == {("a", "p", "1"), ("b", "p", "4"), ("c", "r", "5")}


def test_kg_fingerprint_invariance_and_oracle(spark):
    """Digest is order/partition/multiplicity-invariant, flips on any
    single-triple change, distinguishes null datatype from the string
    'None', and DuckDB reproduces it bit-exactly."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        kg_fingerprint,
        kg_fingerprint_sql,
    )

    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    rows = [
        ("kb:a", "ex:p", "v", False, None),
        ("kb:a", "ex:q", "kb:b", True, None),
        ("kb:b", "ex:p", "3", False, "xsd:integer"),
    ]
    t = spark.createDataFrame(rows, cols)
    base = kg_fingerprint(t).collect()[0]
    assert base["n_triples"] == 3
    # multiplicity + partitioning invariance
    dup = kg_fingerprint(t.unionByName(t).repartition(7)).collect()[0]
    assert (dup["n_triples"], dup["digest"]) == (
        base["n_triples"], base["digest"]
    )
    # single-char change flips the digest
    mut = spark.createDataFrame(
        [rows[0], rows[1], ("kb:b", "ex:p", "4", False, "xsd:integer")], cols
    )
    assert kg_fingerprint(mut).collect()[0]["digest"] != base["digest"]
    # null datatype ≠ the literal string "None"
    noneish = spark.createDataFrame(
        [rows[0][:4] + ("None",), rows[1], rows[2]], cols
    )
    assert kg_fingerprint(noneish).collect()[0]["digest"] != base["digest"]
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    want = con.execute(
        "WITH t AS (SELECT * FROM t_src) "
        f"SELECT * FROM ({kg_fingerprint_sql()}) z"
    ).fetchall()[0]
    assert (base["n_triples"], base["digest"]) == want


def test_property_graph_projection_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.triples import (
        property_graph_nodes,
        property_graph_nodes_sql,
    )

    rows = [
        ("kb:a", "rdf:type", "ex:Person", True, None),
        ("kb:a", "rdf:type", "ex:Agent", True, None),     # multi-label
        ("kb:a", "ex:name", "zeta", False, None),
        ("kb:a", "ex:name", "alpha", False, None),        # multi-valued
        ("kb:a", "ex:knows", "kb:b", True, None),          # edge
        ("kb:b", "ex:age", "3", False, "xsd:integer"),    # no type row
    ]
    cols = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )
    t = spark.createDataFrame(rows, cols)
    nodes = {
        r.id: (list(r.types), list(r.props))
        for r in property_graph_nodes(t).collect()
    }
    assert nodes == {
        # IRI edge ex:knows is NOT a prop; multi-valued ex:name keeps both
        "kb:a": (["ex:Agent", "ex:Person"],
                 ["ex:name=alpha", "ex:name=zeta"]),
        "kb:b": ([], ["ex:age=3"]),
    }
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    want = {
        r[0]: (list(r[1]), list(r[2]))
        for r in con.execute(
            "WITH t AS (SELECT * FROM t_src) "
            f"SELECT * FROM ({property_graph_nodes_sql()}) z"
        ).fetchall()
    }
    assert nodes == want


class TestKgAsOf:
    def test_hand_computed_timeline(self, spark):
        from case_uco_ontology_map_spark.operators.triples import kg_as_of

        log = spark.createDataFrame(
            [
                # t1: added at 1, deleted at 3, re-added at 5
                ("s", "p", "a", "add", 1),
                ("s", "p", "a", "del", 3),
                ("s", "p", "a", "add", 5),
                # t2: added at 2, never touched again
                ("s", "p", "b", "add", 2),
                # t3: add+del at the SAME ts -> delete wins (absent)
                ("s", "p", "c", "add", 4),
                ("s", "p", "c", "del", 4),
                # t4: only a delete (imported tombstone) -> absent
                ("s", "p", "d", "del", 1),
                # future op must not leak into as_of=4
                ("s", "p", "e", "add", 9),
                # invalid op is ignored
                ("s", "p", "f", "noop", 1),
            ],
            "subj string, pred string, obj string, op string, ts long",
        )
        as_of_4 = {
            tuple(r) for r in kg_as_of(log, 4).collect()
        }
        assert as_of_4 == {("s", "p", "b", 2)}
        as_of_5 = {
            tuple(r) for r in kg_as_of(log, 5).collect()
        }
        assert as_of_5 == {("s", "p", "a", 5), ("s", "p", "b", 2)}
        as_of_2 = {
            tuple(r) for r in kg_as_of(log, 2).collect()
        }
        assert as_of_2 == {("s", "p", "a", 1), ("s", "p", "b", 2)}


class TestKgCompleteness:
    def test_hand_computed_fill_rates(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            kg_completeness,
        )

        t = spark.createDataFrame(
            [
                ("p1", "rdf:type", "Person"),
                ("p2", "rdf:type", "Person"),
                ("p3", "rdf:type", "Person"),
                ("o1", "rdf:type", "Org"),
                ("p1", "name", "A"),
                ("p2", "name", "B"),
                ("p2", "name", "B2"),   # multi-value still counts ONCE
                ("p1", "email", "a@x"),
                ("stray", "name", "S"),  # untyped subject never counts
            ],
            "subj string, pred string, obj string",
        )
        schema = spark.createDataFrame(
            [("Person", "name"), ("Person", "email"), ("Org", "name"),
             ("Ghost", "name")],  # class with no instances: absent
            "cls string, prop string",
        )
        got = {tuple(r) for r in kg_completeness(t, schema).collect()}
        assert got == {
            ("Person", "name", 2, 3),
            ("Person", "email", 1, 3),
            ("Org", "name", 0, 1),
        }


class TestSchemaGraphCompactionLiterals:
    def test_schema_graph_rollup(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            schema_graph,
        )

        t = spark.createDataFrame(
            [
                ("a", "rdf:type", "Person", True),
                ("b", "rdf:type", "Org", True),
                ("b", "rdf:type", "Agent", True),   # multi-typed
                ("a", "worksFor", "b", True),
                ("a", "worksFor", "b", True),        # dup edge: once
                ("a", "knows", "x", True),           # untyped object
                ("a", "name", "lit", False),         # literal: excluded
            ],
            "subj string, pred string, obj string, obj_is_iri boolean",
        )
        got = {tuple(r) for r in schema_graph(t).collect()}
        assert got == {
            ("Person", "worksFor", "Org", 1),
            ("Person", "worksFor", "Agent", 1),
            ("Person", "knows", "__untyped__", 1),
        }

    def test_compact_log_as_of_equivalent(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            compact_log,
            kg_as_of,
        )

        log = spark.createDataFrame(
            [
                ("s", "p", "a", "add", 1), ("s", "p", "a", "del", 3),
                ("s", "p", "a", "add", 5),
                ("s", "p", "b", "add", 2),
                ("s", "p", "c", "add", 4), ("s", "p", "c", "del", 6),
            ],
            "subj string, pred string, obj string, op string, ts long",
        )
        compacted = compact_log(log, 4)
        # pre-horizon history is gone: only one synthetic add per
        # triple alive at 4, plus the verbatim hot ops
        rows = {tuple(r) for r in compacted.collect()}
        assert rows == {
            ("s", "p", "b", "add", 4), ("s", "p", "c", "add", 4),
            ("s", "p", "a", "add", 5), ("s", "p", "c", "del", 6),
        }
        for t in (4, 5, 6, 9):
            full = {tuple(r) for r in kg_as_of(log, t).drop("ts").collect()}
            comp = {
                tuple(r) for r in kg_as_of(compacted, t).drop("ts").collect()
            }
            assert full == comp, f"as-of {t} diverged after compaction"

    def test_literal_stats_exact(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            literal_stats,
        )

        t = spark.createDataFrame(
            [
                ("a", "rank", "3", False),
                ("b", "rank", "-7", False),
                ("c", "rank", "3.5", False),     # non-int
                ("d", "rank", "1e3", False),     # non-int
                ("e", "price", "100", False),
                ("f", "linksTo", "100", True),   # IRI: excluded
            ],
            "subj string, pred string, obj string, obj_is_iri boolean",
        )
        got = {tuple(r) for r in literal_stats(t).collect()}
        assert got == {
            ("rank", 2, 2, -7, 3, -4),
            ("price", 1, 0, 100, 100, 100),
        }


class TestCharacteristicSets:
    """characteristic_sets (triples.py): subjects partitioned by their
    exact distinct-predicate set — hand-pinned on a 4-shape fixture."""

    def test_hand_pinned_shapes(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            characteristic_sets,
        )

        rows = [
            # s1, s2: shape {a, b} — s1 asserts b twice (distinct set
            # unchanged, triple count sees all rows)
            ("s1", "a", "1"), ("s1", "b", "2"), ("s1", "b", "3"),
            ("s2", "a", "4"), ("s2", "b", "5"),
            # s3: shape {a} alone
            ("s3", "a", "6"),
            # s4: shape {b, c} — sorted join key is "b c"
            ("s4", "c", "7"), ("s4", "b", "8"),
        ]
        t = spark.createDataFrame(
            rows, "subj string, pred string, obj string"
        )
        got = {tuple(r) for r in characteristic_sets(t).collect()}
        assert got == {
            ("a b", 2, 2, 5),   # s1 (3 triples) + s2 (2)
            ("a", 1, 1, 1),     # s3
            ("b c", 2, 1, 2),   # s4 — set sorted regardless of order
        }

    def test_custom_separator_and_cols(self, spark):
        from case_uco_ontology_map_spark.operators.triples import (
            characteristic_sets,
        )

        t = spark.createDataFrame(
            [("s", "p1", "x"), ("s", "p2", "y")],
            "subject string, predicate string, obj string",
        )
        got = characteristic_sets(
            t, subj_col="subject", pred_col="predicate", sep="|"
        ).collect()
        assert [tuple(r) for r in got] == [("p1|p2", 2, 1, 2)]

    def test_star_cardinality_exact_and_empty(self, spark):
        """star_cardinality: the cset-superset sum equals the true
        subject count for every distinct-pred star (partition theorem);
        an unmatched star sums to 0 over 0 sets; the empty star
        raises."""
        import pytest

        from case_uco_ontology_map_spark.operators.triples import (
            characteristic_sets,
            star_cardinality,
        )

        rows = [
            ("s1", "a", "1"), ("s1", "b", "2"), ("s1", "b", "3"),
            ("s2", "a", "4"), ("s2", "b", "5"),
            ("s3", "a", "6"),
            ("s4", "c", "7"), ("s4", "b", "8"),
        ]
        t = spark.createDataFrame(
            rows, "subj string, pred string, obj string"
        )
        cs = characteristic_sets(t)
        # star {a}: supersets "a b" (2 subjects) + "a" (1) = 3 = truth
        r = star_cardinality(cs, ["a"]).collect()[0]
        assert (r.n_star_preds, r.n_matching_csets, r.n_subjects) == (
            1, 2, 3
        )
        # star {a, b}: only "a b" → 2; duplicate pred dedups
        r = star_cardinality(cs, ["b", "a", "a"]).collect()[0]
        assert (r.n_star_preds, r.n_matching_csets, r.n_subjects) == (
            2, 1, 2
        )
        # star {a, c}: no subject binds both → 0 over 0 sets
        r = star_cardinality(cs, ["a", "c"]).collect()[0]
        assert (r.n_matching_csets, r.n_subjects) == (0, 0)
        with pytest.raises(ValueError):
            star_cardinality(cs, [])


class TestInferTypesByNeighbors:
    SCHEMA = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string"
    )

    def test_domain_range_votes_hand_computed(self, spark):
        """hasFacet teaches domain URL / range Facet from the typed
        part; untyped u3 (2 domain votes) gets URL, untyped f3 (1 range
        vote) falls below min_votes=2 and stays untyped — but is typed
        at min_votes=1. Spark and the SQL twin agree."""
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.triples import (
            infer_types_by_neighbors,
            infer_types_by_neighbors_sql,
        )

        rows = [
            ("kb:u1", "rdf:type", "ex:URL", True, None),
            ("kb:u2", "rdf:type", "ex:URL", True, None),
            ("kb:f1", "rdf:type", "ex:Facet", True, None),
            ("kb:f2", "rdf:type", "ex:Facet", True, None),
            ("kb:u1", "ex:hasFacet", "kb:f1", True, None),
            ("kb:u2", "ex:hasFacet", "kb:f2", True, None),
            ("kb:u3", "ex:hasFacet", "kb:f1", True, None),
            ("kb:u3", "ex:hasFacet", "kb:f2", True, None),
            ("kb:u1", "ex:hasFacet", "kb:f3", True, None),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = sorted(
            map(tuple, infer_types_by_neighbors(df).collect())
        )
        assert got == [("kb:u3", "ex:URL", 2, 2)]
        con = duckdb.connect()
        con.register(
            "t",
            pd.DataFrame(
                rows,
                columns=[
                    "subj", "pred", "obj", "obj_is_iri", "obj_datatype",
                ],
            ),
        )
        got1 = sorted(
            map(
                tuple,
                infer_types_by_neighbors(df, min_votes=1).collect(),
            )
        )
        assert got1 == [
            ("kb:f3", "ex:Facet", 1, 1),
            ("kb:u3", "ex:URL", 2, 2),
        ]
        want1 = sorted(
            map(
                tuple,
                con.execute(
                    infer_types_by_neighbors_sql("t", min_votes=1)
                ).fetchall(),
            )
        )
        assert got1 == want1

    def test_typed_nodes_never_retyped_and_literals_ignored(self, spark):
        """A typed node casts votes but receives none; literal objects
        never vote (no range signal from strings)."""
        from case_uco_ontology_map_spark.operators.triples import (
            infer_types_by_neighbors,
        )

        rows = [
            ("kb:a", "rdf:type", "ex:T", True, None),
            ("kb:a", "ex:p", "kb:b", True, None),
            ("kb:a", "ex:p", "lit", False, None),
            ("kb:b", "rdf:type", "ex:U", True, None),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        assert infer_types_by_neighbors(df, min_votes=1).count() == 0
