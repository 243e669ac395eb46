"""Deduplication operators for training-data pipelines.

Five dedup families, each a DataFrame→DataFrame transform over the
``documents`` table, designed for 100 TB:

  exact_dedup          hash-groupBy on content hash — one shuffle on a
                       uniformly-distributed 64/256-bit key (no skew by
                       construction).
  minhash_signatures   k independent minhashes over token shingles —
                       shingle hashing in the JVM (xxhash64), the integer
                       fold one Arrow-batched numpy pass.
  lsh_candidate_pairs  band the signatures, self-join on (band, band_hash) —
                       the standard shingle→minhash→band→bucket-join;
                       bucket key is a hash, so AQE skew-join plus an
                       optional frequency cap defuse hot buckets.
  simhash              64-bit simhash over tokens via bit-vote aggregation —
                       JVM-only; near-dups = hamming distance ≤ r on
                       rotated-band equi-join.
  ngram_jaccard_pairs  exact n-gram Jaccard on candidate pairs (verification
                       stage after LSH; never all-pairs).
  embedding_near_dups  cosine top-pairs over an embedding column via
                       LSH-bucketed (random hyperplane) candidate join.

Every stage states its shuffle: dedup is the one family where shuffles are
inherent (grouping by similarity requires data movement); the design keeps
them to hash-partitioned exchanges on well-distributed keys.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the universal-hash family ((a*x + b) mod p):
# with a, b, x all < 2^31 the product stays < 2^62, inside signed-64 range
# (Spark 4 runs ANSI mode — long overflow is an error, not a wrap).
_MERSENNE_P = (1 << 31) - 1
# Deterministic (a, b) parameters derived from a fixed seed — no RNG at
# plan-build time (stable across runs/resumes).
def _hash_params(k: int, seed: int = 42) -> List[tuple]:
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def content_hash64(c: Column, hash_mode: str = "xxhash64") -> Column:
    """String → 64-bit hash under a named, engine-portable mode.

    ``xxhash64``  the production mode: one JVM codegen'd call, the right
                  choice at 100 TB.
    ``md5_60``    top 60 bits of md5 parsed as a bigint — ~3× more expr
                  nodes, but bit-identical in ANSI SQL engines
                  (DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``),
                  which is what the correctness-contract oracles run.
                  Always non-negative (< 2^60).
    """
    if hash_mode == "xxhash64":
        return F.xxhash64(c)
    if hash_mode == "md5_60":
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def tokens_lower_col(text: Column) -> Column:
    """Lowercased whitespace tokens (empty dropped) — the shared shingle
    tokenizer."""
    return F.filter(F.split(F.lower(text), "\\s+"), lambda t: t != "")


def shingles_from_tokens(
    toks: Column, n: int = 3, hash_mode: str = "xxhash64"
) -> Column:
    """Token-array → n-gram shingle-hash set (array<bigint>).

    Pass a MATERIALIZED token column (an alias projected in its own
    select), not an inline tokenize expression: the per-shingle lambda
    references ``toks``, and an inline expression is re-evaluated once per
    shingle (~token-count× redundant tokenization — measured 2.5× on
    signatures; see minhash_signatures' staging note)."""
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: content_hash64(
                F.concat_ws(" ", F.slice(toks, i, n)), hash_mode
            ),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the min-id representative per sha256(text).
    One shuffle on the hash (uniform key, no skew). Returns
    (id, content_hash, group_size, is_canonical)."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col), h)
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
    )


def high_df_hashes(
    base: DataFrame,
    stage,
    df_fraction: float,
    sample_fraction: Optional[float] = None,
) -> List[int]:
    """DF-cutoff scaffold behind ``canonicalize.common_shingles``:
    optional uniform sample →
    ``stage(df)`` producing an ``_sh`` shingle-hash array column →
    explode + groupBy counts, filtered against the corpus row count.
    The count rides the SAME query as a broadcast cross-joined aggregate
    (cutoff = greatest(floor(n·fraction), 1), identical to the old
    driver-side ``max(int(n·fraction), 1)`` for non-negative n), so the
    whole computation is ONE action instead of a separate count() job.
    ``stage`` exists because of the HOF-staging rule — the shingle lambda
    must reference a materialized column, never an inline expression
    (measured 36× recompute otherwise)."""
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=13)
    counts = (
        stage(base)
        .select(F.explode("_sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    total = base.agg(F.count(F.lit(1)).alias("n"))
    cutoff = F.greatest(
        F.floor(F.col("n") * F.lit(df_fraction)).cast("long"), F.lit(1)
    )
    rows = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("df") > cutoff)
        .select("s")
        .collect()
    )
    return [r["s"] for r in rows]


def minhash_fold_arrow(staged: DataFrame, params, sh_col: str = "_sh"):
    """Arrow-batched minhash fold over a staged shingle-hash array column →
    an ``array<bigint>`` signature: ``min(((|s| mod p)·a + b) mod p)`` per
    hash, ``p`` for an empty or null set. Pure int64 arithmetic
    (``abs(s) % p`` stays < 2^31, ``a < p``, so every intermediate fits
    int64 exactly; pinned against a plain-Python reference by test). The
    Catalyst form of this fold — k higher-order transforms, interpreted
    (no whole-stage codegen inside lambdas) at ~k·|sh| ops per row — is
    what one numpy (|sh| × k) broadcasted multiply-mod per row replaced.
    Shingle HASHING stays in the JVM (xxhash64/md5 exactness is the
    engine's), only the integer fold crosses — and only the ``_sh``
    column ships.

    Returns ``staged`` with a ``minhash`` column appended."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    A = np.asarray([a for a, _ in params], dtype=np.int64)
    B = np.asarray([b for _, b in params], dtype=np.int64)
    k = len(params)
    P = _MERSENNE_P
    sentinel = np.full(k, P, dtype=np.int64)
    i64min = np.iinfo(np.int64).min

    @F.pandas_udf(ArrayType(LongType()))
    def _fold(col: pd.Series) -> pd.Series:
        def one(arr):
            if arr is None:
                return sentinel
            s = np.asarray(arr, dtype=np.int64)
            if s.size == 0:
                return sentinel
            if (s == i64min).any():
                # as ANSI abs(int64 min) does in the JVM: no silent wrap
                raise ArithmeticError("abs overflow in minhash fold")
            sm = np.abs(s) % P
            return ((sm[:, None] * A[None, :] + B[None, :]) % P).min(axis=0)

        return col.map(one)

    return staged.withColumn("minhash", _fold(sh_col))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """k minhashes per doc: sig_i = min over shingles of ((a_i*s + b_i) mod p).
    Shingles hash in the JVM; the fold is one Arrow-batched numpy pass
    (minhash_fold_arrow). No shuffle. Empty shingle sets get p (sentinel)
    so they never collide with real signatures.

    The tokens are materialized in their OWN projection before the
    shingle lambda references them: CollapseProject folds an inlined
    expression into every lambda that references it, and subexpression
    elimination does not reach inside higher-order functions (see
    shingles_from_tokens). Same fix as simhash's `_votes` staging below."""
    params = _hash_params(num_hashes)
    staged = df.select(
        F.col(id_col), tokens_lower_col(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        shingles_from_tokens(F.col("_toks"), shingle_n, hash_mode).alias("_sh"),
    )
    return minhash_fold_arrow(staged, params).select(
        F.col(id_col), F.col("minhash")
    )


def drop_observation(name: str = "bucket_drops") -> Observation:
    """Observation for the bucket-cap drop metrics every bucketed pair
    generator exposes (``dropped_buckets``, ``dropped_members``). Pass to
    any ``observation=`` parameter below; read ``drop_metrics(obs)`` after
    the returned DataFrame's first action — observe() piggybacks on the
    action, so the accounting is free. A 100 TB run that caps its hottest
    buckets MUST surface the loss (no silent caps): lineage/audit consumers
    record these two numbers next to the pair counts."""
    return Observation(name)


def drop_metrics(observation: Observation) -> Optional[dict]:
    """Read the (dropped_buckets, dropped_members) metrics from a
    drop_observation after the pair frame's action.

    Returns None — explicitly "metrics unavailable", never a fake zero —
    when AQE's empty-relation propagation pruned the CollectMetrics node:
    if EVERY bucket was dropped the downstream pair stages are empty, AQE
    replaces the whole subtree with an empty LocalTableScan, and the
    observed row is never produced (obs.get raises on the empty row).
    An empty pair result + None metrics therefore reads as "possibly
    everything was capped — count the buckets explicitly if it matters",
    which is the honest answer, not silence."""
    try:
        return dict(observation.get)
    except Exception:
        return None


def _bucket_member_pairs(
    bucketed: DataFrame,
    keys: List[str],
    max_bucket: Optional[int],
    observation: Optional[Observation] = None,
    bucket_filter=None,
) -> DataFrame:
    """(keys..., m) → exploded in-bucket member pairs (a, b), a = least.

    The shared pair-generation core: ONE shuffle (groupBy bucket) instead
    of a self-join's two shuffle sides, and the ``max_bucket`` cap is a
    plain size filter on the grouped array — a degenerate hot bucket is
    dropped before a single pair materializes (the O(n²) blowup never
    leaves the bucket row). Measured 4× faster than the equi-self-join
    formulation at bench scale.

    Capped drops are NOT silent: pass ``observation`` (see
    ``drop_observation``) and the grouped frame reports
    (dropped_buckets, dropped_members) — the number of over-cap buckets
    and the total members inside them — as observed metrics on the same
    job that computes the pairs.

    ``m`` may be a scalar id OR a struct whose FIRST field is the id
    (struct comparison is field-order lexicographic, so least/greatest
    order by id either way). Callers project/filter/distinct the result.

    ``bucket_filter`` (Column fn of the grouped member array): drops whole
    buckets BEFORE the cap/pair explode — the incremental-canonicalize
    path uses it to skip all-prior buckets so a mature corpus's buckets
    cost nothing when only the delta needs pairing."""
    grouped = bucketed.groupBy(*keys).agg(F.collect_list("m").alias("ms"))
    grouped = grouped.filter(F.size("ms") > 1)
    if bucket_filter is not None:
        grouped = grouped.filter(bucket_filter(F.col("ms")))
    if max_bucket is not None:
        if observation is not None:
            over = F.size("ms") > max_bucket
            grouped = grouped.observe(
                observation,
                F.coalesce(
                    F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(F.when(over, F.size("ms")).otherwise(F.lit(0))),
                    F.lit(0),
                ).alias("dropped_members"),
            )
        grouped = grouped.filter(F.size("ms") <= max_bucket)
    from pyspark.sql.types import IntegerType, LongType

    elem_t = grouped.schema["ms"].dataType.elementType
    if isinstance(elem_t, (LongType, IntegerType)):
        # Arrow fast path for integral scalar members (the production id
        # shape): the nested slice/transform/struct pair explode below is
        # interpreted per element (no codegen inside HOF lambdas) and at
        # bench scale materializes ~4.8M structs through the interpreter;
        # numpy's triu gather emits the identical normalized (min, max)
        # pair set per bucket. Integral only — numpy min/max on strings
        # is code-point order, not Spark's UTF8 binary order.
        import numpy as np
        import pyarrow as pa

        out_field = pa.int64() if isinstance(elem_t, LongType) else pa.int32()
        out_schema = (
            "a long, b long"
            if isinstance(elem_t, LongType)
            else "a int, b int"
        )

        def _pairs(batches):
            for rb in batches:
                col = rb.column(0)
                if isinstance(col, pa.ChunkedArray):  # defensive
                    col = col.combine_chunks()
                values = col.values.to_numpy(zero_copy_only=False)
                offs = col.offsets.to_numpy()
                a_parts, b_parts = [], []
                for r in range(len(col)):
                    arr = values[offs[r]:offs[r + 1]]
                    n_m = arr.size
                    if n_m < 2:
                        continue
                    i, j = np.triu_indices(n_m, 1)
                    x, y = arr[i], arr[j]
                    a_parts.append(np.minimum(x, y))
                    b_parts.append(np.maximum(x, y))
                if not a_parts:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(a_parts), out_field),
                        pa.array(np.concatenate(b_parts), out_field),
                    ],
                    names=["a", "b"],
                )

        return grouped.select("ms").mapInArrow(_pairs, out_schema)

    n = F.size("ms")
    # all index pairs i<j (1-based element_at); least/greatest normalizes
    # since collect_list order is nondeterministic
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(F.col("ms"), i + 1, n - i),
                lambda b: F.struct(
                    F.least(F.element_at(F.col("ms"), i.cast("int")), b).alias("a"),
                    F.greatest(F.element_at(F.col("ms"), i.cast("int")), b).alias("b"),
                ),
            ),
        )
    )
    return grouped.select(F.explode(combos).alias("p")).select("p.a", "p.b")


def _bucket_pairs(
    bucketed: DataFrame,
    id_col: str,
    max_bucket: Optional[int],
    observation: Optional[Observation] = None,
) -> DataFrame:
    """(bucket keys..., id) → distinct (a_id, b_id), a_id < b_id."""
    keys = [c for c in bucketed.columns if c != id_col]
    pairs = _bucket_member_pairs(
        bucketed.select(*keys, F.col(id_col).alias("m")), keys, max_bucket,
        observation,
    )
    return (
        pairs.select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
        # duplicate input ids would otherwise surface as (x, x) self-pairs
        # after least/greatest normalization (the strict a<b self-join
        # this rewrite replaced never emitted them)
        .where(F.col("a_id") != F.col("b_id"))
        .distinct()
    )


def band_hash_array(
    bands: int, hash_mode: str = "xxhash64", minhash_col: str = "minhash"
) -> Column:
    """``array<bigint>`` of per-band bucket hashes over the ``minhash``
    signature column — the shared banding kernel of lsh_candidate_pairs
    and canonicalize.incremental_candidate_edges (identical hashes by
    construction, so an incremental run lands in EXACTLY the full run's
    buckets)."""
    rows = F.size(F.col(minhash_col)) / bands

    def _band_hash(b: Column) -> Column:
        sl = F.slice(
            F.col(minhash_col), (b * rows + 1).cast("int"), rows.cast("int")
        )
        if hash_mode == "xxhash64":
            # xxhash64 hashes the sliced array structurally — no string
            # concat needed, ~10× smaller expression tree
            return F.xxhash64(sl, b)
        # md5_60: hash "<band>,<v1>,<v2>,..." — the oracle reproduces the
        # same string with band_idx::VARCHAR || ',' || array_to_string(...)
        return content_hash64(
            F.concat_ws(
                ",",
                b.cast("string"),
                F.array_join(F.transform(sl, lambda x: x.cast("string")), ","),
            ),
            hash_mode,
        )

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_hash)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: Optional[int] = 1000,
    hash_mode: str = "xxhash64",
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Band the signature array and bucket-group on (band_idx, band_hash).

    Shuffle story: explode bands → ONE groupBy on the bucket key → in-bucket
    pair explode; a bucket that exceeds ``max_bucket`` members (a degenerate
    hot key, e.g. near-empty docs) is dropped as a whole-array size filter
    rather than letting one bucket emit O(n²) pairs — the standard cap
    answer to LSH skew, applied before pair materialization. Pass
    ``observation`` (drop_observation()) to get the dropped-bucket/member
    counts on the same job — capped recall loss is reported, never silent.
    Returns distinct (a_id, b_id) with a_id < b_id.
    """
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(band_hash_array(bands, hash_mode)).alias(
            "band_idx", "band_hash"
        ),
    )
    return _bucket_pairs(
        banded.select("band_idx", "band_hash", id_col), id_col, max_bucket,
        observation,
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    EXACT shingle-set Jaccard verification on candidates only (re-joins
    the docs). Returns (a_id, b_id, jaccard) pairs with jaccard ≥
    threshold. ``observation`` threads to the band join (drop
    accounting). ``minhash_estimate_pairs`` is the signature-only
    variant that never re-joins the documents."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, hash_mode
    )
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, hash_mode=hash_mode, observation=observation
    )
    return ngram_jaccard_pairs(
        df, cands, text_col, id_col, shingle_n, threshold, hash_mode
    )


def minhash_estimate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    threshold: float = 0.7,
    hash_mode: str = "xxhash64",
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Signature-only near-dup pairs: banded LSH candidates verified by the
    minhash Jaccard ESTIMATE (fraction of agreeing signature positions).

    Takes precomputed signatures so callers can stage the 100 TB way:
    compute signatures narrowly over the raw corpus, then every later
    shuffle/join moves only the k-int signature (~0.5 KB/doc), never the
    document text. The estimate never re-joins the documents: the verify
    join touches only the k-int signatures already in hand, cutting the
    verify-join payload ~10× at ±1/√k estimator error. (An in-bucket
    estimate — signatures riding the collect_list rows — was measured 3×
    SLOWER than this join: the deeply nested HOF over
    array<struct<id,array<bigint>>> drops out of whole-stage codegen.)

    ``sigs`` is read three times (the band join and both verify sides);
    the caller owns its blocks — persist it before the action and
    unpersist after (the ownership rule of ``serving.build_postings``)."""
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, hash_mode=hash_mode, observation=observation
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.minhash"), F.col("b.minhash"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree.cast("double") / F.size(F.col("a.minhash"))
    return (
        cands.join(a, cands["a_id"] == F.col(f"a.{id_col}"))
        .join(b, cands["b_id"] == F.col(f"b.{id_col}"))
        .withColumn("jaccard", F.round(est, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact n-gram Jaccard on given candidate pairs (array_intersect /
    array_union on shingle-hash sets). Joins are hash-equi on doc ids."""
    sh = df.select(
        F.col(id_col), tokens_lower_col(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        shingles_from_tokens(F.col("_toks"), shingle_n, hash_mode).alias("sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        pairs.join(a, pairs["a_id"] == F.col(f"a.{id_col}"))
        .join(b, pairs["b_id"] == F.col(f"b.{id_col}"))
        .select(
            "a_id",
            "b_id",
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    bits: Optional[int] = None,
) -> DataFrame:
    """SimHash via per-bit vote aggregation over token hashes — pure JVM:
    for each bit b, sum(sign(token_hash bit b)) > 0. Narrow (no shuffle).
    64 bits in xxhash64 mode; md5_60 hashes carry 60 usable bits, so that
    mode defaults to a 60-bit simhash (pass ``bits`` to override)."""
    if bits is None:
        bits = 64 if hash_mode == "xxhash64" else 60
    toks = F.filter(F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != "")
    hashes = F.transform(
        F.array_distinct(toks), lambda t: content_hash64(t, hash_mode)
    )
    # ONE aggregate over a `bits`-wide vote vector (±1 per bit per token)
    # instead of `bits` independent aggregate() passes over the token array
    # — the per-token work is a single zip_with, same semantics
    # (vote_b = Σ sign(hash bit b))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    )
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, s: a + s,
        ),
    )
    # simhash = Σ_b [vote_b > 0] << b — disjoint bits, so sum == or; the
    # assembly is `bits` tiny element_at terms over the ONE materialized
    # vote array (separate select so CollapseProject can't re-inline the
    # aggregate per term)
    with_votes = df.select(F.col(id_col), votes.alias("_votes"))
    sim = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft (not 1 << i literal): bit 63 must wrap to the sign bit
        term = F.shiftleft(F.lit(1).cast("long"), i)
        sim = sim + F.when(
            F.element_at(F.col("_votes"), i + 1) > 0, term
        ).otherwise(F.lit(0).cast("long"))
    return with_votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    max_bucket: Optional[int] = 1000,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Near-dup candidates by simhash: split the ``bits``-wide hash into
    (max_hamming+1) bands — by pigeonhole, any pair within the hamming
    radius shares at least one exact band. Equi-join per band, verify
    hamming via bit_count(xor).

    ``max_bucket`` caps degenerate band values: every empty/near-empty
    document votes to simhash 0 and boilerplate-heavy corpora collapse onto
    a handful of simhash values — at web scale a degenerate band value is a
    certainty, and without the cap all its members land in ONE grouped row
    (memory) and explode O(n²) pairs (time). Same cap semantics as
    lsh_candidate_pairs; pass ``observation`` for the dropped-bucket/member
    counts (no silent caps)."""
    bands = max_hamming + 1
    width = bits // bands
    banded = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # bucket-group via the shared pair core — members are (id, simhash)
    # structs (id first, so least/greatest order by id) and hamming is
    # computed on the paired structs
    pairs = _bucket_member_pairs(
        banded.select(
            "band_idx",
            "band_val",
            F.struct(F.col(id_col), F.col("simhash")).alias("m"),
        ),
        ["band_idx", "band_val"],
        max_bucket=max_bucket,
        observation=observation,
    )
    return (
        pairs.select(
            F.col("a")[id_col].alias("a_id"),
            F.col("b")[id_col].alias("b_id"),
            F.bit_count(
                F.col("a")["simhash"].bitwiseXOR(F.col("b")["simhash"])
            ).alias("hamming"),
        )
        .where(F.col("a_id") != F.col("b_id"))  # see _bucket_pairs note
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
    hyperplanes: Optional[List[List[float]]] = None,
    max_bucket: Optional[int] = 1000,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH bucket join, then
    exact cosine (zip_with/aggregate — JVM) on candidates. At 10^12 scale
    the bucket key keeps the self-join from being all-pairs.

    ``max_bucket`` caps hot buckets: the bucket space is only 2^planes
    values, and real embedding corpora concentrate (zero vectors, cluster
    cores, boilerplate text embedded identically) — one hot bucket turns
    the self-join into an O(n²) corner. The cap is a broadcast join against
    the tiny (≤2^planes rows) bucket-size frame, so the big side never
    shuffles for it; ``observation`` reports (dropped_buckets,
    dropped_members) on the same job (no silent caps).

    ``hyperplanes`` overrides the seeded-RNG planes — the contract query
    passes an explicit list so the DuckDB oracle can inline the identical
    literals (the planes are data, not code)."""
    if hyperplanes is None:
        dim_df = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = dim_df[0]["d"]
        import random

        rnd = random.Random(seed)
        hyperplanes = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(planes)]

    def sign_bits(vec: Column) -> Column:
        bits = None
        for i, hp in enumerate(hyperplanes):
            dot = F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(x) for x in hp]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            term = F.shiftleft(bit, i)
            bits = term if bits is None else bits.bitwiseXOR(term)
        return bits

    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col), sign_bits(F.col(vec_col)).alias("bucket")
    )
    if max_bucket is not None:
        # deliberate recompute: sizes (and each self-join side) re-evaluate
        # the sign-bit projection — a few hundred FLOPs/row — rather than
        # persisting (id, vec, bucket), which would materialize every
        # vector; at 10^12 rows the recompute is the cheaper side of that
        # trade and stays inside whole-stage codegen
        sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        if observation is not None:
            over = F.col("_bn") > max_bucket
            sizes = sizes.observe(
                observation,
                F.coalesce(
                    F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(F.when(over, F.col("_bn")).otherwise(F.lit(0))),
                    F.lit(0),
                ).alias("dropped_members"),
            )
        ok = sizes.filter(F.col("_bn") <= max_bucket).select("bucket")
        bucketed = bucketed.join(F.broadcast(ok), "bucket")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cos = _cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a_id"),
            F.col(f"r.{id_col}").alias("b_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def hash_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus content-hash membership index: (content_hash, canonical_id)
    with canonical_id = min doc id per hash. One shuffle on a uniform key
    (sha256) — no skew by construction."""
    return (
        df.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"))
    )


def incremental_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus hash index (and within
    itself) without rescanning corpus text — the daily-crawl companion of
    canonicalize_incremental.

    Returns one row per batch doc: (id, content_hash, canonical_id,
    in_corpus, is_canonical) where canonical_id is the corpus's canonical
    doc when the hash is already known, else the batch's min-id holder of
    that hash; is_canonical marks the rows a curation pipeline keeps
    (fresh content only).

    Scale shape: the batch-internal collapse is one window over the
    uniform sha256 key; the corpus probe is a left join whose RIGHT side
    is the (hash, canonical) index (``hash_index``) — clustered storage
    keeps the corpus side shuffle-free at 10^12 while only the delta
    shuffles into its bucketing. Corpus text is never read."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    w = Window.partitionBy("content_hash")
    b = (
        batch.select(F.col(id_col), h)
        .withColumn("batch_canonical", F.min(id_col).over(w))
    )
    probe = index.select(
        "content_hash", F.col("canonical_id").alias("_corpus_canonical")
    )
    return (
        b.join(probe, "content_hash", "left")
        .select(
            F.col(id_col),
            "content_hash",
            F.coalesce("_corpus_canonical", "batch_canonical").alias(
                "canonical_id"
            ),
            F.col("_corpus_canonical").isNotNull().alias("in_corpus"),
            (
                F.col("_corpus_canonical").isNull()
                & (F.col("batch_canonical") == F.col(id_col))
            ).alias("is_canonical"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_chars: int = 1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Paragraph-granularity exact dedup — the C4-style rule that fires
    far more often on webtext than whole-document dedup (boilerplate
    paragraphs recur across pages whose documents differ): split every
    doc on blank lines, hash each normalized paragraph, and mark every
    occurrence after the corpus-wide FIRST as a duplicate. Returns one
    row per paragraph occurrence:
    ``(doc_id, para_idx, para_hash, n_occurrences, is_first)`` — a
    curation pass drops ``NOT is_first`` rows (or whole docs above a
    duplicate-paragraph fraction).

    Semantics pinned for determinism: paragraphs split on ``\\n\\s*\\n``
    (one-or-more blank lines), whitespace-normalized (collapse runs,
    trim) before hashing, paragraphs shorter than ``min_chars`` after
    normalization are ignored; "first" = smallest ``(doc_id, para_idx)``
    corpus-wide, engine-portable via one groupBy-min (no window — the
    hottest boilerplate hash partial-aggregates map-side).

    Scale: one explode (posexplode keeps the in-doc index), one
    groupBy on the 64-bit hash, one equi-join back. Paragraph STRINGS
    never cross the shuffle — only their hashes do.
    """
    paras = df.select(
        F.col(doc_col).alias("_doc"),
        F.posexplode(
            F.split(F.col(text_col), r"\n\s*\n")
        ).alias("para_idx", "_p"),
    ).select(
        "_doc",
        "para_idx",
        F.trim(F.regexp_replace("_p", r"\s+", " ")).alias("_norm"),
    ).filter(F.length("_norm") >= int(min_chars))
    hashed = paras.select(
        "_doc",
        "para_idx",
        content_hash64(F.col("_norm"), hash_mode).alias("para_hash"),
    )
    stats = hashed.groupBy("para_hash").agg(
        F.count("*").alias("n_occurrences"),
        F.min(F.struct("_doc", "para_idx")).alias("_first"),
    )
    return (
        hashed.join(stats, on="para_hash")
        .select(
            F.col("_doc").alias(doc_col),
            "para_idx",
            "para_hash",
            "n_occurrences",
            (
                (F.col("_doc") == F.col("_first._doc"))
                & (F.col("para_idx") == F.col("_first.para_idx"))
            ).alias("is_first"),
        )
    )


def paragraph_dedup_sql(
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_chars: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB replay of ``paragraph_dedup`` in md5_60 mode."""
    h = "('0x' || substr(md5(norm), 1, 15))::BIGINT"
    return f"""
WITH split AS (
  SELECT {doc_col} AS doc,
         regexp_split_to_array({text_col}, '\\n\\s*\\n') AS arr
  FROM {table}
),
paras AS (
  SELECT doc, CAST(r.i - 1 AS INT) AS para_idx,
         trim(regexp_replace(arr[CAST(r.i AS INT)], '\\s+', ' ', 'g'))
           AS norm
  FROM split, unnest(range(1, len(arr) + 1)) AS r(i)
),
hashed AS (
  SELECT doc, para_idx, {h} AS para_hash
  FROM paras WHERE length(norm) >= {int(min_chars)}
),
stats AS (
  SELECT para_hash, CAST(count(*) AS BIGINT) AS n_occurrences,
         MIN(struct_pack(doc := doc, para_idx := para_idx)) AS first_occ
  FROM hashed GROUP BY 1
)
SELECT h.doc AS {doc_col}, h.para_idx, h.para_hash, s.n_occurrences,
       (h.doc = s.first_occ.doc AND h.para_idx = s.first_occ.para_idx)
         AS is_first
FROM hashed h JOIN stats s ON h.para_hash = s.para_hash
"""
