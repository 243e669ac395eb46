"""Serving layer (operators/serving.py): entity cards and batch BM25 —
expectations hand-computed (BM25 partials derived from the exact-rational
formula in pure Python)."""

from case_uco_ontology_map_spark.operators.serving import (
    bm25_topk,
    build_postings,
    entity_summary,
    posting_stats,
)


def test_entity_summary_rarity_rank(spark):
    rows = [
        # rdf:type is the common predicate (3 uses) — least informative
        ("e1", "rdf:type", "T"),
        ("e2", "rdf:type", "T"),
        ("e3", "rdf:type", "T"),
        # isbn appears once — most informative
        ("e1", "id:isbn", "979-1"),
        # name appears twice
        ("e1", "schema:name", "Widget"),
        ("e2", "schema:name", "Gadget"),
        # duplicate assertion collapses before counting
        ("e1", "schema:name", "Widget"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {
        (r.subj, r.pred, r.rank)
        for r in entity_summary(t, k=2).collect()
    }
    assert got == {
        ("e1", "id:isbn", 1),       # freq 1
        ("e1", "schema:name", 2),   # freq 2
        ("e2", "schema:name", 1),
        ("e2", "rdf:type", 2),
        ("e3", "rdf:type", 1),
    }


def _expected_score(parts, round_to=6):
    return round(sum(parts) + 1e-12, round_to)


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "Apple banana  apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry cherry"),
            (4, "   "),  # empty after tokenization: never indexed
        ],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    got_postings = {
        (r.term, r.doc_id, r.tf, r.dl) for r in postings.collect()
    }
    assert got_postings == {
        ("apple", 1, 2, 3), ("banana", 1, 1, 3),
        ("banana", 2, 1, 2), ("cherry", 2, 1, 2),
        ("cherry", 3, 4, 4),
    }
    stats = posting_stats(postings)
    assert [tuple(r) for r in stats.collect()] == [(3, 9)]

    queries = spark.createDataFrame(
        [("q1", "apple"), ("q1", "cherry"), ("q2", "banana")],
        "query_id string, term string",
    )
    out = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk(postings, stats, queries, k=10).collect()
    }

    def sat(tf, dl, n=3.0, L=9.0):
        return (22 * tf * L) / (10 * tf * L + 3 * L + 9 * dl * n)

    def idf(df, n=3.0):
        return (2 * n - 2 * df + 1) / (2 * df + 1)

    d1 = _expected_score([sat(2.0, 3.0) * idf(1.0)])       # apple
    d2 = _expected_score([sat(1.0, 2.0) * idf(2.0)])       # cherry
    d3 = _expected_score([sat(4.0, 4.0) * idf(2.0)])       # cherry
    b1 = _expected_score([sat(1.0, 3.0) * idf(2.0)])       # banana d1
    b2 = _expected_score([sat(1.0, 2.0) * idf(2.0)])       # banana d2
    assert out == {
        ("q1", 1, d1, 1), ("q1", 3, d3, 2), ("q1", 2, d2, 3),
        ("q2", 2, b2, 1), ("q2", 1, b1, 2),
    }


def test_postings_unpersist_leaves_no_blocks(spark):
    """build_postings persists its result for its consumers; the caller's
    unpersist after the last action is the release, and it leaves no
    persisted RDD behind."""
    from case_uco_ontology_map_spark.operators.barrier import _persistent_ids

    before = _persistent_ids(spark)
    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry")], "doc_id long, text string"
    )
    postings = build_postings(docs)
    queries = spark.createDataFrame([("q", "banana")], "query_id string, term string")
    rows = bm25_topk(postings, posting_stats(postings), queries, k=2).collect()
    assert len(rows) == 2
    assert _persistent_ids(spark) - before
    postings.unpersist()
    assert _persistent_ids(spark) - before == set()


def test_bm25_max_df_prunes_stopwords(spark):
    docs = spark.createDataFrame(
        [(1, "the apple"), (2, "the pear"), (3, "the fig")],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    stats = posting_stats(postings)
    queries = spark.createDataFrame(
        [("q", "the"), ("q", "apple")], "query_id string, term string"
    )
    out = bm25_topk(postings, stats, queries, k=10, max_df=2).collect()
    # 'the' (df=3) is pruned: only doc 1 matches, via 'apple' alone
    assert [(r.query_id, r.doc_id, r.rank) for r in out] == [("q", 1, 1)]


def test_entity_postings_bounded_sample(spark):
    from case_uco_ontology_map_spark.operators.serving import (
        entity_postings,
    )

    rows = [
        ("E1", "d2"), ("E1", "d1"), ("E1", "d3"), ("E1", "d1"),  # dup doc
        ("E2", "d9"),
        (None, "d5"),  # unlinked mention never indexes
    ]
    df = spark.createDataFrame(rows, "entity string, doc string")
    got = {tuple(r) for r in entity_postings(df, sample_k=2).collect()}
    assert got == {("E1", 3, "d1|d2"), ("E2", 1, "d9")}


def test_merge_postings_equals_full_rebuild(spark):
    from case_uco_ontology_map_spark.operators.serving import (
        build_postings,
        merge_postings,
    )

    crawl1 = spark.createDataFrame(
        [(1, "apple banana"), (2, "cherry cherry"), (3, "fig")],
        "doc_id long, text string",
    )
    # re-crawl: doc 2's text CHANGED, doc 4 is new
    crawl2 = spark.createDataFrame(
        [(2, "banana"), (4, "apple fig")], "doc_id long, text string"
    )
    merged = merge_postings(build_postings(crawl1), build_postings(crawl2))
    full = build_postings(
        spark.createDataFrame(
            [(1, "apple banana"), (2, "banana"), (3, "fig"),
             (4, "apple fig")],
            "doc_id long, text string",
        )
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }
    # the stale cherry postings are gone, not double-counted
    assert merged.where("term = 'cherry'").count() == 0


def test_hard_negatives_rank_gap_closes(spark):
    """Positive is rank 2 of the top-(k+1): rows below it shift up by
    exactly one; rows above it keep their rank; the rank<=k cut holds."""
    from case_uco_ontology_map_spark.operators.serving import (
        hard_negatives,
    )

    # one shared rare term per doc so BM25 ranks purely by tf
    docs = spark.createDataFrame(
        [(1, "x x x x"), (2, "x x x"), (3, "x x"), (4, "x"),
         (5, "y")],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    stats = posting_stats(postings)
    queries = spark.createDataFrame(
        [("q", "x")], "query_id string, term string"
    )
    # shorter docs score HIGHER for same tf=... actually tf differs:
    # score grows with tf but shrinks with dl; verify the engine's own
    # ordering first, then pin the gap arithmetic against it
    base = bm25_topk(postings, stats, queries, k=3).collect()
    order = [r.doc_id for r in sorted(base, key=lambda r: r.rank)]
    positive = order[1]  # rank-2 doc is the known positive
    positives = spark.createDataFrame(
        [("q", positive)], "query_id string, doc_id long"
    )
    got = hard_negatives(
        postings, stats, queries, positives, k=2
    ).collect()
    got_order = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    # rank 1 unchanged; old rank 3 became rank 2; positive absent
    assert got_order == [order[0], order[2]]
    assert positive not in got_order
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2]


def test_hard_negatives_two_positives_ranked(spark):
    """Positives at ranks 1 and 3 of the top-(k+1): each row moves up by
    the number of positives ranked above it (old rank 4 → 2, not 3), and
    the ROW_NUMBER oracle over the same postings agrees."""
    import duckdb

    from case_uco_ontology_map_spark.operators.serving import (
        hard_negatives,
        hard_negatives_sql,
    )

    docs = spark.createDataFrame(
        [(1, "x x x x x"), (2, "x x x x"), (3, "x x x"), (4, "x x"),
         (5, "x"), (6, "y")],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    stats = posting_stats(postings)
    queries = spark.createDataFrame(
        [("q", "x")], "query_id string, term string"
    )
    base = bm25_topk(postings, stats, queries, k=4).collect()
    order = [r.doc_id for r in sorted(base, key=lambda r: r.rank)]
    positives = spark.createDataFrame(
        [("q", order[0]), ("q", order[2])], "query_id string, doc_id long"
    )
    got = sorted(
        (r.rank, r.doc_id)
        for r in hard_negatives(
            postings, stats, queries, positives, k=3
        ).collect()
    )
    assert got == [(1, order[1]), (2, order[3])]

    con = duckdb.connect()
    con.register("postings_t", postings.toPandas())
    con.register("queries_t", queries.toPandas())
    con.register("positives_t", positives.toPandas())
    oracle = sorted(
        (int(rank), int(doc))
        for _, doc, _, rank in con.execute(
            hard_negatives_sql("postings_t", "queries_t", "positives_t", k=3)
        ).fetchall()
    )
    assert oracle == got


def test_hard_negatives_positive_outside_topk(spark):
    """A positive that never ranked removes nothing and shifts nothing."""
    from case_uco_ontology_map_spark.operators.serving import (
        hard_negatives,
    )

    docs = spark.createDataFrame(
        [(1, "x x"), (2, "x"), (3, "zzz")],
        "doc_id long, text string",
    )
    postings = build_postings(docs)
    stats = posting_stats(postings)
    queries = spark.createDataFrame(
        [("q", "x")], "query_id string, term string"
    )
    positives = spark.createDataFrame(
        [("q", 3)], "query_id string, doc_id long"  # doc 3 never matches
    )
    got = hard_negatives(
        postings, stats, queries, positives, k=2
    ).collect()
    assert sorted((r.doc_id, r.rank) for r in got) == [(1, 1), (2, 2)]
