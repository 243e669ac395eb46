"""Exact-substring span deduplication — find the duplicated token spans a
curation pass cuts from training text (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL'22: any ≥W-token
sequence occurring ≥2 times in the corpus is cut). The reference engine has no counterpart; this is part of
the large-scale training-data operator family, alongside the doc-level
MinHash/SimHash near-dup passes in operators/dedup.py.

Spark-first shape (the suffix-array construction of the paper is a
single-machine algorithm; the distributed equivalent is rolling W-gram
hashing):

1. one scan explodes each doc into (pos, gram_hash) for every W-token
   window — linear in corpus tokens, embarrassingly parallel, all JVM
   (transform + slice + concat_ws, no Python);
2. one groupBy(gram_hash) with map-side partial aggregation finds grams
   occurring ≥ min_count times (optionally in ≥ min_docs distinct docs —
   countDistinct rewrites to two-level aggregation, still partial);
3. the duplicated-hash set joins back onto the gram stream (AQE
   broadcasts it while it is small — the common case: duplicated grams
   are a thin slice of all grams — and falls back to a shuffle join with
   skew splitting on a pathological corpus);
4. overlapping/adjacent duplicated windows merge into maximal spans with
   ONE per-doc window pass (the same gap-merge recurrence as
   streaming/ingest.sessionize) — per-doc partitions bound the
   sort.

The gram stream is recomputed for step 3 rather than cached: it is one
stateless codegen'd projection, and pinning a corpus-sized exploded frame
in memory at 100 TB is exactly the wrong trade.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _gram_stream(
    df: DataFrame, text_col: str, id_col: str, width: int, hash_mode: str
) -> DataFrame:
    """(id, pos, gh): hash of the W-token window starting at 0-based token
    ``pos``. Docs shorter than W tokens emit nothing."""
    from .dedup import content_hash64
    from .textstats import tokens_col

    staged = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.when(n >= width, F.sequence(F.lit(0), n - width)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(
        idx,
        lambda i: content_hash64(
            F.concat_ws(" ", F.slice(toks, i + 1, width)), hash_mode
        ),
    )
    return staged.select(
        F.col(id_col),
        F.posexplode(hashes).alias("pos", "gh"),
    ).select(F.col(id_col), F.col("pos").cast("long").alias("pos"), "gh")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    min_count: int = 2,
    min_docs: Optional[int] = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Maximal duplicated token spans per doc: (id, span_start, span_end)
    half-open 0-based token ranges covering every W-token window whose
    hash occurs ≥ ``min_count`` times corpus-wide (and, if ``min_docs``,
    in ≥ that many distinct docs — set it to 2 to ignore self-repetition,
    which operators/textstats.repetition_features already scores)."""
    grams = _gram_stream(df, text_col, id_col, width, hash_mode)
    aggs = [F.count("*").alias("_n")]
    if min_docs is not None:
        aggs.append(F.countDistinct(id_col).alias("_nd"))
    dup = grams.groupBy("gh").agg(*aggs).filter(F.col("_n") >= min_count)
    if min_docs is not None:
        dup = dup.filter(F.col("_nd") >= min_docs)
    dup_pos = _gram_stream(df, text_col, id_col, width, hash_mode).join(
        dup.select("gh"), "gh"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + width).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.select(
        F.col(id_col),
        "pos",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0)
        .alias("_new"),
    )
    spans = (
        marked.withColumn(
            "_span",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + width).cast("long").alias("span_end"),
        )
        .select(F.col(id_col), "span_start", "span_end")
    )
    return spans
