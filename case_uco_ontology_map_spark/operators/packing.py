"""Sequence packing: greedy next-fit token packing for training batches.

LLM pretraining wants documents concatenated into fixed token-budget packs
(e.g. 2048/8192 tokens) with minimal padding. True greedy packing is a
sequential scan — inherently order-dependent — so the scale-first shape is
BUCKET-LOCAL packing: documents hash into `buckets` independent packing
streams (pmod(hash(id ‖ salt), buckets)), each stream packs its documents
in id order with the greedy next-fit rule. Pack identity is
(bucket, pack_id) — globally unique, and fully DETERMINISTIC regardless of
cluster size, partitioning, or AQE, because both the bucket assignment and
the in-bucket order are pure functions of the row key (the same argument
as operators/sampling.py — never let physical partitioning decide pack
membership).

Cost: ONE shuffle on bucket; the per-bucket scan is an Arrow-batched
applyInPandas (a greedy state machine is exactly the "composition of
DataFrame ops can't express it" case). Bucket count tunes parallelism and
bounds per-task memory (a bucket's rows must fit one task — pick
buckets ≈ corpus_docs / 10^6 at 100 TB).

The greedy rule (pinned by the pack_sequences contract oracle, which
replays it as a DuckDB recursive CTE): items in id order; a new pack opens
when the running total is non-zero and would exceed `max_tokens`;
oversized single documents occupy their own pack.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sampling import hash_bucket


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    max_tokens: int = 2048,
    buckets: int = 64,
    salt: str = "",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """df + (bucket, pack_id, pack_pos): greedy next-fit packing of each
    hash bucket's documents (id order) into packs of <= `max_tokens`
    (oversized docs alone in their pack). pack_id restarts per bucket;
    pack_pos is the 1-based position within the pack."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    bucket = hash_bucket(F.col(id_col), buckets, salt, hash_mode).cast("int")
    out_schema = T.StructType(
        [
            *df.schema.fields,
            T.StructField("bucket", T.IntegerType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_pos", T.IntegerType()),
        ]
    )

    def pack_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        packs, poss = [], []
        running, pack, pos = 0, 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if running > 0 and running + t > max_tokens:
                pack += 1
                running = 0
                pos = 0
            running += t
            pos += 1
            packs.append(pack)
            poss.append(pos)
        pdf["pack_id"] = pd.Series(packs, dtype="int64")
        pdf["pack_pos"] = pd.Series(poss, dtype="int32")
        return pdf

    return (
        df.withColumn("bucket", bucket)
        .groupBy("bucket")
        .applyInPandas(pack_fn, out_schema)
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into fixed-size token-window chunks with
    optional overlap — the context-window prep step between curation and
    packing: ``(id, chunk_id, chunk_text, n_chunk_tokens)``, one row per
    window of ``max_tokens`` whitespace tokens starting every
    ``max_tokens - overlap`` tokens. Chunk text is the token slice
    re-joined with single spaces (token-space chunking: original
    whitespace is not preserved — by design, the SAME normalization the
    packer and token counters see). Zero-token docs emit no chunks.

    Scale shape: pure per-row expressions — tokenize once, a ``sequence``
    of window starts, a ``transform`` slice per start, one ``posexplode``.
    No shuffle, no Python; output rows ≈ input tokens / stride.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must be in [0, max_tokens)")
    from .textstats import tokens_col

    step = max_tokens - overlap
    toks = tokens_col(F.col(text_col))
    sz = F.size(toks)
    # last start must leave at least one NEW token past the overlap —
    # cap the sequence at sz - overlap - 1 (floored at 0 so a short doc
    # still emits its single chunk). Without the cap, a start landing in
    # the final `overlap` tokens emits a window fully contained in its
    # predecessor, duplicating training text.
    last_start = F.greatest(sz - F.lit(overlap) - 1, F.lit(0))
    starts = F.when(
        sz > 0, F.sequence(F.lit(0), last_start, F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    base = df.select(
        F.col(id_col),
        toks.alias("_tk"),
        sz.alias("_sz"),
        starts.alias("_starts"),
    )
    return base.select(
        id_col,
        F.posexplode("_starts").alias("chunk_id", "_s"),
        F.col("_tk"),
        F.col("_sz"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(
            " ", F.slice(F.col("_tk"), F.col("_s") + 1, max_tokens)
        ).alias("chunk_text"),
        F.least(F.lit(max_tokens), F.col("_sz") - F.col("_s"))
        .cast("long")
        .alias("n_chunk_tokens"),
    )
