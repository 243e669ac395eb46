"""Vertically-partitioned triple store — the serving layout for SPARQL
over parquet at 100 TB.

The classic result (Abadi et al., "SW-Store"/"Scalable Semantic Web Data
Management Using Vertical Partitioning", VLDB'07) is that RDF workloads
win by storing one physical partition PER PREDICATE: a BGP pattern with
a constant predicate — the overwhelmingly common shape — then scans only
its own partition instead of the whole graph. This module is that layout
on parquet + Catalyst:

- ``write_triple_store`` writes ``pred=<v>/sbkt=<b>/`` parquet leaves —
  predicate as the first partition column (vocabulary-bounded: RDF
  predicate sets are 10^2–10^4 even at web scale, so the dir fan-out is
  safe), a deterministic subject-hash bucket as the second (the
  skew/file-sizing lever: ``rdf:type`` alone can be 20%+ of a web KG,
  and the bucket splits it into ``subj_buckets`` independently-written,
  independently-scannable files).
- ``read_triple_store`` reads it back with the canonical column order;
  Catalyst partition pruning then does the rest: ANY filter on ``pred``
  (hand-written or planted by ``graphquery.bgp_query``'s per-pattern
  predicate filters) reaches the scan as a PartitionFilter and skips
  every other predicate's files — no code in this module runs at query
  time.
- ``scan_pattern`` is the point-lookup helper: a constant subject also
  prunes to its ONE bucket per predicate (the same trick
  ``similarity.ivf_topk`` uses for cell files), so an entity-card fetch
  opens 1/``subj_buckets`` of one predicate's data.

The bucket function is :func:`operators.sampling.hash_bucket` — the
repo-wide deterministic router. Default mode ``md5_60`` replays
bit-exactly in ANSI SQL (the ``store_layout`` contract row pins the
full partition assignment against DuckDB), so the layout is an
ENGINE-PORTABLE contract, not a Spark implementation detail: any reader
that can compute md5 can locate a triple's file. ``xxhash64`` stays
available as the cheaper JVM-only mode for closed deployments.

Reference surface: the reference keeps its graph in one in-memory
rdflib store (/root/reference/tools.py) — a single-process luxury. This
is its distributed replacement: the same triples, addressable by
pattern, at parquet scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sampling import hash_bucket

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype"]

#: Salt for the subject-bucket hash — fixed so writers and readers agree
#: across sessions (a store written today must be addressable forever).
STORE_SALT = "triple-store-v1"


def subject_bucket(
    subj: Column, subj_buckets: int, hash_mode: str = "md5_60"
) -> Column:
    """The store's subject→bucket routing function, exposed so readers
    can prune: ``sbkt = hash_bucket(subj ‖ salt) mod subj_buckets``."""
    return hash_bucket(subj, subj_buckets, STORE_SALT, hash_mode)


def store_layout(
    triples: DataFrame,
    subj_buckets: int = 8,
    hash_mode: str = "md5_60",
) -> DataFrame:
    """The partition assignment as data: one row per (pred, sbkt) leaf
    with triple/subject counts — the census a capacity planner reads
    (are buckets balanced? which predicate dominates?) and the contract
    surface pinning the routing function cross-engine. Column
    ``n_subjects`` is exact distinct (leaf-local, bounded by the leaf).
    """
    return (
        triples.select(
            "pred",
            subject_bucket(
                F.col("subj"), subj_buckets, hash_mode
            ).alias("sbkt"),
            "subj",
        )
        .groupBy("pred", "sbkt")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
        )
    )


def store_layout_sql(
    table: str = "t", subj_buckets: int = 8
) -> str:
    """ANSI replay of ``store_layout`` (md5_60 mode) — DuckDB computes
    the identical bucket for every subject, so a hash-match proves the
    layout is engine-portable, not just deterministic."""
    bkt = (
        "(('0x' || substr(md5(subj || chr(31) || "
        f"'{STORE_SALT}'), 1, 15))::BIGINT % {subj_buckets})"
    )
    return f"""
SELECT pred, {bkt} AS sbkt, count(*) AS n_triples,
       count(DISTINCT subj) AS n_subjects
FROM {table}
GROUP BY pred, sbkt
"""


def write_triple_store(
    triples: DataFrame,
    path: str,
    subj_buckets: int = 8,
    hash_mode: str = "md5_60",
) -> str:
    """Write (overwrite) the vertically-partitioned store. House sink rule:
    repartition on the partition columns BEFORE ``partitionBy`` so each
    (pred, sbkt) leaf is written by exactly one task — without it every
    task writes a sliver of every leaf and the store is
    files = tasks × leaves. Spark escapes predicate characters
    (``:`` → ``%3A``) in dir names and unescapes on read, so CURIEs and
    full IRIs are both safe partition values."""
    staged = triples.select(
        *TRIPLE_COLS,
        subject_bucket(F.col("subj"), subj_buckets, hash_mode).alias(
            "sbkt"
        ),
    )
    (
        staged.repartition(F.col("pred"), F.col("sbkt"))
        .write.mode("overwrite")
        .partitionBy("pred", "sbkt")
        .parquet(path)
    )
    return path


def read_triple_store(spark: SparkSession, path: str) -> DataFrame:
    """Open the store with the canonical triple column order (partition
    columns come back typed: ``pred`` string, ``sbkt`` int). Keep
    ``sbkt`` in the frame — dropping it would not un-prune anything, but
    keeping it lets callers route follow-up joins bucket-locally."""
    df = spark.read.parquet(path)
    return df.select(*TRIPLE_COLS, F.col("sbkt").cast("int").alias("sbkt"))


def scan_pattern(
    store: DataFrame,
    pred: str | None = None,
    subj: str | None = None,
    subj_buckets: int = 8,
    hash_mode: str = "md5_60",
) -> DataFrame:
    """Pattern scan with every prunable constant pushed to the partition
    columns: a constant predicate prunes to its directory; a constant
    subject ADDITIONALLY prunes to its one bucket (the filter on
    ``sbkt`` is derived from the same routing function the writer used,
    evaluated once driver-side via a literal-only expression, so it
    reaches the scan as a PartitionFilter)."""
    out = store
    if pred is not None:
        out = out.filter(F.col("pred") == pred)
    if subj is not None:
        bkt = subject_bucket(F.lit(subj), subj_buckets, hash_mode)
        out = out.filter(
            (F.col("sbkt") == bkt) & (F.col("subj") == subj)
        )
    return out

