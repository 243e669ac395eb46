"""Serving-side consumption: entity summaries and batch BM25 search.

Once the KG is materialized and the corpus curated, two read paths
dominate real usage (no reference counterpart as code — the reference
hands JSON-LD to downstream stores; these give the same consumption
shapes natively on the Spark tables):

* ``entity_summary`` — the top-k most informative facts per entity
  (an "entity card"): facts ranked by global predicate rarity, so
  ``isbn`` beats ``rdf:type``. Exact integer dominance rank — no
  tf-idf float ever orders a card (house rule, cf.
  textstats.tfidf_terms).
* ``build_postings`` / ``posting_stats`` / ``bm25_topk`` — the batch
  text-retrieval path: an inverted index as a DataFrame, corpus
  statistics as one row, and MANY queries scored in one pass (the
  shape a training-data pipeline needs for decontamination probes,
  hard-negative mining, and eval-set retrieval — one query at a time
  is a serving-store job, not a Spark job).

BM25 determinism: the classic k1=1.2, b=0.75 constants are exact
rationals (6/5, 3/4), so each (doc, term) partial is a ratio of exact
integers evaluated in ONE IEEE division; the idf factor is the
log-free Robertson–Sparck-Jones odds ``(N-df+1/2)/(df+1/2)`` — again
one exact-integer ratio — making every per-term score bit-identical
across engines. Only the final per-doc SUM is order-sensitive (±ULP),
absorbed by rounding to ``round_to`` decimals before ranking; ties
then break on doc_id, so the ranked result is engine/partitioning/
re-run-invariant.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_summary(
    triples: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` facts per subject, most-informative first →
    ``(subj, pred, obj, pred_freq, rank)``: a fact's salience is its
    predicate's RARITY over the whole graph (global assertion count,
    ascending — the predicate every node carries says nothing about
    this node), ties by (pred ASC, obj ASC). Set semantics: duplicate
    assertions collapse before anything is counted.

    Scale shape: the predicate frequency table is |distinct preds|
    rows — a broadcast dimension by construction; the per-subject
    ranking window is bounded by the node's OWN fact count, which a
    post-fusion KG bounds upstream (``fuse_assertions`` keeps one
    object per functional key; cap multi-valued hubs with
    ``sampling.cap_per_key`` before summarizing a raw graph)."""
    from pyspark.sql.window import Window

    facts = triples.select("subj", "pred", "obj").distinct()
    freq = facts.groupBy("pred").agg(
        F.count(F.lit(1)).alias("pred_freq")
    )
    w = Window.partitionBy("subj").orderBy(
        F.asc("pred_freq"), F.asc("pred"), F.asc("obj")
    )
    return (
        facts.join(F.broadcast(freq), "pred")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("subj", "pred", "obj", "pred_freq", "rank")
    )


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted index as a DataFrame → ``(term, doc_id, tf, dl)``:
    terms are lowercased whitespace tokens (the engine's standard
    tokenization, cf. textstats.tokens_col), ``tf`` the term's count
    in the doc, ``dl`` the doc's total token count (riding every
    posting so scoring never joins back to documents). Empty docs
    vanish (they can never match).

    Scale shape: tokenize/explode is in-row JVM work; the one shuffle
    groups (term, doc_id) with map-side partials. Write the result
    partitioned/bucketed BY TERM and query-time scans prune to the
    query's terms — the parquet twin of a posting-list seek.

    The returned frame is ``persist()``-ed (lazy, MEMORY_AND_DISK): an
    index build's output is consumed several times in one serving job —
    ``posting_stats`` (full pass), the df aggregate and the matched-slice
    scan inside ``bm25_topk`` — and without a shared materialization the
    tokenize+explode+groupBy build re-executes once PER consumer inside a
    single action (guide §7.2 duplicated subtrees; measured 3 evaluations
    in the bench's text_index stage). At 100 TB the build is written to
    term-bucketed parquet instead (the layout above) and reuse is a
    storage read — persist is the in-session equivalent. The caller owns
    those blocks: ``unpersist()`` the frame after the last action that
    reads it (nothing else releases them while the session lives)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
        .withColumn("dl", F.size("_t").cast("long"))
        .where(F.col("dl") > 0)
    )
    return (
        base.select("doc_id", "dl", F.explode("_t").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .persist()
    )


def posting_stats(postings: DataFrame) -> DataFrame:
    """Corpus statistics for BM25 — ONE row ``(n_docs, total_len)``
    computed from the index itself (per-doc lengths already ride the
    postings; no second pass over documents)."""
    return (
        postings.groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_len"),
        )
    )


def bm25_topk(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_df: Optional[int] = None,
    round_to: int = 6,
) -> DataFrame:
    """Batch BM25 retrieval: score MANY queries against the inverted
    index in one pass → ``(query_id, doc_id, score, rank)``, top ``k``
    docs per query by (score DESC, doc_id ASC).

    ``queries`` is ``(query_id, term)`` — one row per query term,
    already tokenized like the index (lower + whitespace).
    Per-(doc, term) partial with k1=1.2, b=0.75 as exact rationals:

        tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
          = 22·tf·L / (10·tf·L + 3·L + 9·dl·N)        (avgdl = L/N)

    times the log-free RSJ odds idf ``(2N−2df+1)/(2df+1)`` — each
    factor ONE IEEE division of exact-integer-valued doubles, so
    per-term scores are bit-identical across engines; the per-doc sum
    is rounded to ``round_to`` decimals (+1e-12 nudge) before ranking
    to absorb summation-order ULPs (the pagerank_weighted discipline).

    ``max_df`` drops stopword-grade terms (df above the cap) BEFORE
    any candidate set forms — the standard pruning, and what bounds
    the per-query ranking window: candidates per query ≤ Σ df over
    its surviving terms.

    Scale shape: the query-term table broadcasts into the postings
    scan (term-bucketed postings prune to the probed terms); df comes
    from one groupBy over the matched slice; stats is a 1-row
    broadcast cross join; the only per-query serialization is the
    bounded top-k window."""
    from pyspark.sql.window import Window

    q = queries.select("query_id", "term").distinct()
    matched = postings.join(
        F.broadcast(q.select("term").distinct()), "term"
    )
    df_ = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        df_ = df_.where(F.col("df") <= max_df)
    scored_terms = (
        matched.join(F.broadcast(df_), "term")
        .join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
    )
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    n = F.col("n_docs").cast("double")
    total = F.col("total_len").cast("double")
    dfd = F.col("df").cast("double")
    sat = (22 * tf * total) / (10 * tf * total + 3 * total + 9 * dl * n)
    idf = (2 * n - 2 * dfd + 1) / (2 * dfd + 1)
    per_doc = (
        scored_terms.withColumn("_s", sat * idf)
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("_s") + 1e-12, round_to).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk_sql(
    postings: str,
    queries: str,
    k: int = 10,
    max_df: Optional[int] = None,
    round_to: int = 6,
) -> str:
    """ANSI replay of ``posting_stats`` + ``bm25_topk`` over a postings
    CTE/table and a (query_id, term) CTE/table."""
    df_filter = f"HAVING count(*) <= {max_df}" if max_df is not None else ""
    return f"""
WITH q AS (SELECT DISTINCT query_id, term FROM {queries}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM (SELECT doc_id, MAX(dl) AS dl FROM {postings} GROUP BY doc_id)
),
matched AS (
  SELECT p.* FROM {postings} p
  WHERE p.term IN (SELECT term FROM q)
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM matched GROUP BY term {df_filter}
),
per_doc AS (
  SELECT q.query_id, m.doc_id,
         ROUND(SUM(
           (22 * CAST(m.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE))
           / (10 * CAST(m.tf AS DOUBLE) * CAST(s.total_len AS DOUBLE)
              + 3 * CAST(s.total_len AS DOUBLE)
              + 9 * CAST(m.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
           * ((2 * CAST(s.n_docs AS DOUBLE) - 2 * CAST(d.df AS DOUBLE)
               + 1) / (2 * CAST(d.df AS DOUBLE) + 1))
         ) + 1e-12, {round_to}) AS score
  FROM matched m
  JOIN dfreq d ON m.term = d.term
  JOIN q ON m.term = q.term
  CROSS JOIN stats s
  GROUP BY q.query_id, m.doc_id
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rank
  FROM per_doc
) WHERE rank <= {k}
"""


def hard_negatives(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    max_df: Optional[int] = None,
    round_to: int = 6,
) -> DataFrame:
    """BM25 hard-negative mining for retrieval training (the DPR-style
    generator): batch top-``k+1`` per query, drop each query's known
    positive docs, close the rank gaps in place, keep ``rank <= k`` →
    ``(query_id, doc_id, score, rank)``.

    ``positives`` is ``(query_id, doc_id)`` — any number of
    known-relevant docs per query (duplicate rows collapse via
    distinct). Rank adjustment is arithmetic, not a re-rank: every row
    moves up by the number of positives ranked above it. A positive
    outside the top-(k+1) removes nothing and the ``rank <= k`` cut
    restores the contract; with p positives inside it, k+1-p rows
    remain.

    Scale shape: the expensive BM25 scoring pipeline is evaluated
    ONCE — the positives-above count is a running windowed ``count``
    over the already-query-partitioned top-(k+1) frame (it orders at
    most k+1 rows per query), never from a self-join that would
    duplicate the scoring subplan."""
    from pyspark.sql import Window

    topk = bm25_topk(
        postings, stats, queries, k=k + 1, max_df=max_df,
        round_to=round_to,
    )
    pos = positives.select("query_id", "doc_id").distinct()
    marked = topk.join(
        pos.withColumn("_is_pos", F.lit(True)),
        ["query_id", "doc_id"], "left",
    )
    # running count up to and including this row: for a non-positive
    # row, exactly the positives ranked above it
    shift = F.count(F.when(F.col("_is_pos"), F.lit(1))).over(
        Window.partitionBy("query_id").orderBy("rank")
    )
    return (
        marked.withColumn("rank", (F.col("rank") - shift).cast("int"))
        .where(F.col("_is_pos").isNull() & (F.col("rank") <= k))
        .select("query_id", "doc_id", "score", "rank")
    )


def hard_negatives_sql(
    postings: str,
    queries: str,
    positives: str,
    k: int = 5,
    max_df: Optional[int] = None,
    round_to: int = 6,
) -> str:
    """ANSI replay of ``hard_negatives`` — ``bm25_topk_sql`` at k+1,
    the positives anti-joined out, and the survivors re-ranked with
    ``ROW_NUMBER()`` (a re-rank, independent of the engine's
    positives-above arithmetic)."""
    inner = bm25_topk_sql(
        postings, queries, k=k + 1, max_df=max_df, round_to=round_to
    )
    return f"""
WITH topk AS ({inner}),
pos AS (SELECT DISTINCT query_id, doc_id FROM {positives}),
neg AS (
  SELECT t.query_id, t.doc_id, t.score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY t.query_id ORDER BY t.rank
         ) AS INT) AS rank
  FROM topk t
  WHERE NOT EXISTS (
    SELECT 1 FROM pos p
    WHERE p.query_id = t.query_id AND p.doc_id = t.doc_id
  )
)
SELECT query_id, doc_id, score, rank FROM neg WHERE rank <= {k}
"""


def entity_postings(
    linked: DataFrame,
    entity_col: str = "entity",
    doc_col: str = "doc",
    sample_k: int = 5,
) -> DataFrame:
    """Provenance postings — the entity→documents index a KG serves
    alongside each entity card ("which pages support this node?"):
    per entity, the number of DISTINCT supporting documents and a
    bounded, deterministic evidence sample (``|``-joined first
    ``sample_k`` doc ids in lexicographic order) →
    ``(entity, n_docs, docs)``. NULL entities (unlinked mentions)
    never index.

    Scale shape: one distinct + one groupBy on entity — map-side
    partials; the collected set is bounded by the entity's distinct
    doc count and the emitted sample by ``sample_k`` (same evidence
    discipline as fusion.functional_violations — a hub entity's full
    posting list lives in the postings TABLE, never in one row)."""
    pairs = (
        linked.where(F.col(entity_col).isNotNull())
        .select(
            F.col(entity_col).alias("entity"),
            F.col(doc_col).cast("string").alias("doc"),
        )
        .distinct()
    )
    return pairs.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.concat_ws(
            "|", F.slice(F.sort_array(F.collect_set("doc")), 1, sample_k)
        ).alias("docs"),
    )


def merge_postings(
    old: DataFrame,
    delta: DataFrame,
) -> DataFrame:
    """Incremental index maintenance: fold a re-crawl's postings into
    the standing inverted index. Document-replacement semantics — a
    doc appearing in ``delta`` REPLACES its old postings wholesale
    (its text changed; summing term frequencies across crawls would
    corrupt every score), docs absent from the delta keep theirs. By
    construction ``merge_postings(build(A), build(B)) ≡ build(A∖B ∪
    B)`` — the incremental fold is exact, not approximate.

    Scale shape: one anti-join of the standing index against the
    delta's (small) distinct doc set — broadcast when the re-crawl is
    a daily slice — plus a union; the standing index never shuffles
    on anything but its own doc key, and with both sides bucketed by
    term the downstream query path is unchanged."""
    touched = delta.select("doc_id").distinct()
    return old.join(
        F.broadcast(touched), "doc_id", "left_anti"
    ).unionByName(delta).select("term", "doc_id", "tf", "dl")
