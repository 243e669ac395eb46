"""Reproducible corpus sampling — hash-based, not RNG-based.

`df.sample()` is seeded per-partition RNG: the kept set CHANGES when the
partitioning changes (repartition, AQE, input-split boundaries move), which
is poison for training-data lineage ("which docs were in the 1% eval
split?"). Hash-gating fixes that: a row is kept iff
``hash(key ‖ salt) mod M < fraction·M`` — a pure function of the row key,
so the split is identical across cluster sizes, partitionings, retries,
and engines (the md5_60 mode replays bit-exactly in DuckDB, which is how
the contract oracle pins it). Changing `salt` draws an independent split;
disjoint salts give overlap ≈ product of fractions.

All JVM expression work: the gate is a filter, pushes down past column
pruning, costs one hash per row, no shuffle.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import content_hash64

# Denominator for the keep gate. 2^20 gives ~1e-6 fraction granularity
# while keeping pmod math in cheap integer space.
SAMPLE_MOD = 1 << 20


def hash_bucket(key: Column, buckets: int, salt: str, hash_mode: str) -> Column:
    """Non-negative bucket in [0, buckets) from the row key + salt — THE
    deterministic row-routing primitive shared by the samplers and
    bucket-local operators (packing). md5_60 is already non-negative;
    xxhash64 needs the pmod wrap."""
    h = content_hash64(F.concat_ws("\x1f", key.cast("string"), F.lit(salt)), hash_mode)
    return F.pmod(h, F.lit(buckets))


def _gate(key: Column, salt: str, hash_mode: str) -> Column:
    return hash_bucket(key, SAMPLE_MOD, salt, hash_mode)


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Keep ~`fraction` of rows, decided per-row by key hash. Exactly
    reproducible: same (key, salt, fraction) → same kept set on any
    cluster, partitioning, or engine."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    threshold = int(fraction * SAMPLE_MOD)
    return df.filter(_gate(F.col(key_col), salt, hash_mode) < threshold)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Dict[str, float],
    default: float = 0.0,
    salt: str = "",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-stratum hash-gated sampling (the reproducible `sampleBy`):
    stratum → keep fraction, unlisted strata keep `default`. The threshold
    is a small CASE expression compiled from the driver-side dict — still
    one filter, no shuffle, no RNG."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0,1], got {v}")
    threshold = F.lit(int(default * SAMPLE_MOD))
    for k, v in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == F.lit(k), F.lit(int(v * SAMPLE_MOD))
        ).otherwise(threshold)
    return df.filter(_gate(F.col(key_col), salt, hash_mode) < threshold)


def mix_corpora(
    sources,
    key_col: str,
    salt: str = "",
    hash_mode: str = "xxhash64",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic weighted corpus mixture: `sources` is a sequence of
    (name, df, weight) with weight = the fraction of that corpus to keep.
    Each source is hash-gated with its name folded into the salt, so the
    per-source draws are independent; rows carry a `source` tag column.
    The mixture is reproducible on any cluster/partitioning — the usual
    requirement when a training mix must be re-materialized bit-identically
    for ablations. Schemas must align (unionByName)."""
    mixed = None
    for name, df, weight in sources:
        part = deterministic_sample(
            df, key_col, weight, salt=f"{salt}\x1f{name}", hash_mode=hash_mode
        ).withColumn(source_col, F.lit(name))
        mixed = part if mixed is None else mixed.unionByName(part)
    if mixed is None:
        raise ValueError("mix_corpora needs at least one source")
    return mixed


def split_columns(
    df: DataFrame,
    key_col: str,
    splits: Dict[str, float],
    salt: str = "",
    hash_mode: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test …) by
    carving [0, SAMPLE_MOD) into contiguous ranges in sorted split-name
    order. Fractions must sum to <= 1; rows falling past the last range get
    NULL (held out). Deterministic and partition-independent like the
    samplers; one expression, no shuffle."""
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    gate = _gate(F.col(key_col), salt, hash_mode)
    expr = F.lit(None).cast("string")
    hi = 0
    for name, frac in sorted(splits.items()):
        lo, hi = hi, hi + int(frac * SAMPLE_MOD)
        expr = F.when((gate >= lo) & (gate < hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def cap_per_key(
    df: DataFrame,
    key_cols: "list[str]",
    n: int,
    order_cols: "list | None" = None,
    hash_key_col: "str | None" = None,
    salt: str = "",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-key cap — at most ``n`` rows per key group (the
    per-domain document cap every web-corpus curation runs so flood
    domains can't dominate the mix). Priority is an explicit total order
    (``order_cols``) or, when omitted, the hash gate of ``hash_key_col``
    (+``salt``) with the key itself as tie-break — i.e. a deterministic
    reservoir: same (key, salt, n) keeps the same rows on any cluster,
    partitioning, or engine, like every sampler in this module.

    Scale shape: one shuffle on the key (window ROW_NUMBER ≤ n). A flood
    domain routes to a single reducer — that is inherent to exact per-key
    rank selection; when cap ≪ domain size, pre-thin with
    ``deterministic_sample`` on the SAME gate (the kept top-n by gate
    survives any gate-prefix prefilter that retains ≥ n rows per key) and
    verify with a per-key count. AQE cannot skew-split windows.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if order_cols is None:
        if hash_key_col is None:
            raise ValueError("pass order_cols or hash_key_col")
        order = [
            _gate(F.col(hash_key_col), salt, hash_mode).asc(),
            F.col(hash_key_col).asc(),
        ]
    else:
        order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def shard_assignment(
    df: DataFrame,
    key_col: str,
    shards: int,
    salt: str = "shard",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Deterministic dataloader sharding: add ``shard`` (0..shards-1) and
    ``shard_order`` columns — shard = key-hash bucket, within-shard order
    = an independent hash of the same key (the "global shuffle" order a
    training run reads in). Both are pure functions of the key: every
    epoch, retry, and cluster size regenerates the identical shards in
    the identical order, which RNG-shuffled writes cannot promise.
    All JVM expressions, zero shuffle until a writer repartitions."""
    if shards < 1:
        raise ValueError("shards must be >= 1")
    key = F.col(key_col)
    return df.withColumn(
        "shard", hash_bucket(key, shards, salt, hash_mode)
    ).withColumn(
        "shard_order", _gate(key, salt + "\x1forder", hash_mode)
    )
