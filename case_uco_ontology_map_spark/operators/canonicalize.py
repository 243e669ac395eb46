"""Entity canonicalization: near-dup entity keys → connected components →
canonical ids (north_rule J8 — the web-scale replacement for the reference's
exact-fingerprint-only dedup, /root/reference/agents/uuid_planner.py:229-241).

Pipeline:
  entity keys → minhash over char-3-gram shingles (JVM xxhash64) →
  banded LSH self-join (candidate edges) → exact-Jaccard verify →
  connected components → canonical id = min member id per component
  (stable across runs).

Connected components has two paths, picked by the verified edge count
observed on the edge set's own checkpoint job:
  * up to ``_DRIVER_EDGES`` (2^20) edges, one Arrow collect and a
    vectorized numpy union-find on the driver (16 MB of int64 ids; the
    per-round Spark jobs of the contraction cost far more than the
    labelling itself at that size);
  * above it, alternating large-star/small-star DataFrame rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14 — converges in O(log n) rounds).
Both return the same min-id labels.

Skew handling (explicit, per north_rule):
  * LSH buckets are hash values → uniformly distributed; degenerate hot
    buckets (e.g. empty-string keys) are CAPPED at max_bucket, preventing
    one bucket from emitting O(n²) edges — and the drops are OBSERVED, not
    silent: pass ``observation=dedup.drop_observation()`` (threaded through
    candidate_edges/canonicalize_entities) and the same job that builds the
    candidate pairs reports (dropped_buckets, dropped_members).
  * The CC round min-computation is a groupBy-min (map-side partial
    combine, so a hot node's degree never concentrates in one task)
    re-joined to the symmetric edge list — AQE skew-join splits an
    oversized join partition at runtime, and large-star itself is the
    skew *reducer*: after one round every high-degree node's neighbors
    point at the component min, collapsing hub fan-out.
  * checkpointing every round truncates the lineage (iterative joins
    otherwise stack exponentially deep plans).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .barrier import materialize, release


def char_shingles(col, n: int = 3, hash_mode: str = "xxhash64"):
    """Char n-gram shingle hashes of a string key → array<bigint>."""
    from .dedup import content_hash64

    padded = F.lower(col)
    count = F.greatest(F.length(padded) - F.lit(n - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx, lambda i: content_hash64(F.substring(padded, i, n), hash_mode)
        )
    )


#: Above this many exclusion hashes the set-difference leaves the JVM:
#: ``array_except`` rebuilds a hash set of the right-hand array PER ROW
#: (measured: 10k exclusions × 80k keys ≈ 6 s vs 3.5 s Arrow-batched),
#: and even as a single array ``Literal`` the plan/analysis cost grows
#: with the list. Below it, one array literal + array_except stays fully
#: codegen'd with no Python worker round-trip.
_EXCLUDE_INLINE_MAX = 256


def _excluded_shingles(staged: DataFrame, ex_list) -> DataFrame:
    """Arrow-batched shingle exclusion for large lists: the sorted hash
    array ships ONCE per executor as a broadcast variable and each batch
    filters via vectorized searchsorted — never an expression-tree literal
    (the inline form bloats the plan and, at array_except's per-row
    hash-set rebuild, the runtime). First-occurrence dedup mirrors
    array_except's set semantics exactly (upstream char_shingles is
    already array_distinct, so this is belt-and-braces for parity)."""
    from pyspark.sql.types import ArrayType, LongType

    bc = staged.sparkSession.sparkContext.broadcast(
        np.array(ex_list, dtype=np.int64)
    )

    @F.pandas_udf(ArrayType(LongType()))
    def _diff(col: pd.Series) -> pd.Series:
        exc = bc.value

        def one(arr):
            a = np.asarray(arr, dtype=np.int64)
            if a.size:
                _, first = np.unique(a, return_index=True)
                a = a[np.sort(first)]
                pos = np.searchsorted(exc, a)
                pos[pos == exc.size] = 0
                a = a[exc[pos] != a] if exc.size else a
            return a

        return col.map(one)

    return staged.withColumn("_sh", _diff("_sh"))


def entity_minhash(
    entities: DataFrame,
    key_col: str = "entity_key",
    id_col: str = "entity_id",
    num_hashes: int = 32,
    hash_mode: str = "xxhash64",
    exclude=None,
    shingled: Optional[DataFrame] = None,
) -> DataFrame:
    """Minhash signatures over char-3-gram shingles of the entity key,
    folded by the Arrow-batched numpy kernel (dedup.minhash_fold_arrow).

    ``exclude``: shingle hashes dropped before signing (see
    common_shingles — the hot-domain shared-prefix defuse). Signatures of
    a key whose every shingle is excluded degrade to the empty-set
    sentinel (never collides). Small lists inline as ONE array literal
    (array_except, pure codegen); past _EXCLUDE_INLINE_MAX the list ships
    as a broadcast variable consulted by an Arrow-batched set-difference,
    so plan size and analysis time stay flat no matter how aggressive
    drop_common_df gets (long keys + df_fraction→0 can push the list to
    10^4+ hashes).

    ``shingled``: optional precomputed ``(id_col, key_col, _sh)`` frame
    (raw char-shingle hashes, PRE-exclusion) — callers that also need the
    shingles for a DF census or an exact verify pass it (usually cached)
    so the interpreted shingle hashing runs once per job instead of once
    per consumer. Exclusion is applied here either way; values identical
    (``array_except`` after staging ≡ composed before staging)."""
    from .dedup import _hash_params, minhash_fold_arrow

    params = _hash_params(num_hashes, seed=17)
    ex_list = sorted({int(x) for x in exclude}) if exclude else []
    if shingled is not None:
        staged = shingled.select(F.col(id_col), F.col(key_col), F.col("_sh"))
        if ex_list and len(ex_list) <= _EXCLUDE_INLINE_MAX:
            staged = staged.withColumn(
                "_sh",
                F.array_except("_sh", F.lit(ex_list).cast("array<long>")),
            )
    else:
        sh = char_shingles(F.col(key_col), hash_mode=hash_mode)
        if ex_list and len(ex_list) <= _EXCLUDE_INLINE_MAX:
            sh = F.array_except(sh, F.lit(ex_list).cast("array<long>"))
        staged = entities.select(
            F.col(id_col),
            F.col(key_col),
            sh.alias("_sh"),
        )
    if len(ex_list) > _EXCLUDE_INLINE_MAX:
        staged = _excluded_shingles(staged, ex_list)
    return minhash_fold_arrow(staged, params).select(
        F.col(id_col), F.col(key_col), F.col("minhash")
    )


def common_shingles(
    entities: DataFrame,
    key_col: str = "entity_key",
    df_fraction: float = 0.05,
    hash_mode: str = "xxhash64",
    sample_fraction: Optional[float] = None,
):
    """Corpus-common char-shingle hashes: shingles whose document frequency
    exceeds ``df_fraction`` of entities. THE scale-invariant hot-domain
    defuse: structurally-similar keys (same-host urls) share a long prefix
    whose shingles dominate every minhash, flooding LSH buckets with
    cross-doc collisions — and a fixed absolute bucket cap cannot save
    recall, because bucket occupancy grows linearly with corpus size until
    every bucket (including those holding true pairs) is over any cap.
    Dropping high-DF shingles BEFORE signing removes the shared prefix
    from the signatures entirely: candidates are driven by each key's
    DISTINCTIVE shingles, so buckets stay small at ANY corpus size, while
    verification still runs on the FULL shingle sets (edge semantics
    unchanged — the filter only shapes candidate recall, which the
    distinctive shingles preserve).

    One extra aggregation: explode shingles → groupBy(hash) → count —
    partial-aggregated map-side, shuffling only (hash, count). At 10^12
    keys pass ``sample_fraction`` (e.g. 0.01): DF *fractions* of genuinely
    common shingles concentrate, so a uniform sample estimates them with
    tight error while cutting the aggregation 100×. Returns a Python list
    (broadcast-size by construction: only shingles in ≥df_fraction of all
    keys can qualify, so at most 1/df_fraction × shingles-per-key entries)."""
    from .dedup import high_df_hashes

    return high_df_hashes(
        entities,
        lambda b: b.select(
            char_shingles(F.col(key_col), hash_mode=hash_mode).alias("_sh")
        ),
        df_fraction,
        sample_fraction,
    )


def candidate_edges(
    signatures: DataFrame,
    id_col: str = "entity_id",
    bands: int = 8,
    max_bucket: int = 500,
    hash_mode: str = "xxhash64",
    observation=None,
) -> DataFrame:
    """Banded self-join → undirected candidate edges (a < b). Pass
    ``observation`` (dedup.drop_observation()) to surface the hot-bucket
    drop counts on the candidate-building job."""
    from .dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        signatures, id_col=id_col, bands=bands, max_bucket=max_bucket,
        hash_mode=hash_mode, observation=observation,
    ).selectExpr("a_id AS src", "b_id AS dst")


def _large_star(pairs: DataFrame, dedup: bool = True) -> DataFrame:
    """Large-star (Kiveris et al. SOCC'14 §3): for every node u, connect all
    strictly-larger neighbors to m = min(Γ(u) ∪ {u}).

    The per-node min is a groupBy aggregate re-joined onto the symmetric
    edge list — deliberately NOT a window min: a window partition cannot be
    split, so a hub node's entire adjacency (a hot domain can reach 10^8
    edges) would sort in ONE task. The groupBy min partial-aggregates
    map-side (a hub contributes one row per input partition to the
    shuffle), and the mins⋈edges join is AQE territory — broadcast when the
    node-min table is small, skew-split when a join partition oversizes.

    ``dedup=False`` skips the output distinct (one exchange per round):
    the alternating loop feeds this straight into _small_star, whose
    groupBy-min is duplicate-insensitive and whose own output distinct
    collapses any duplicate-driven join fan-out — pre-distinct volume is
    bounded by |E| (one row per oriented input edge) either way. Output is
    always strictly oriented (a > b); distinct only when dedup=True."""
    sym = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
    out = (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("a"),
            F.least(F.col("a"), F.col("mb")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
    )
    return out.distinct() if dedup else out


def _small_star(pairs: DataFrame, oriented: bool = False) -> DataFrame:
    """Small-star: orient each edge (hi → lo); for every node u, connect u
    and all its smaller neighbors to m = min of those neighbors.

    Same groupBy-min + join formulation as _large_star (hub-safe partial
    aggregation; AQE handles the join side) — the (u, m) arm comes straight
    from the aggregate (one row per node), only the (neighbor, m) arm needs
    the join back.

    ``oriented=True`` skips the defensive orient+distinct pass — the
    alternating loop always feeds _large_star output, which is already
    strictly a > b (possibly with duplicates when large-star ran with
    dedup=False: harmless — the groupBy-min ignores them and the output
    distinct collapses the join fan-out), so re-orienting costs a full
    shuffle per round for nothing."""
    if oriented:
        directed = pairs
    else:
        directed = (
            pairs.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    return (
        directed.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _fingerprint_metrics():
    """Order-independent edge-set fingerprint as aggregate expressions:
    (row count, decimal sum of per-row xxhash64), observed on each CC
    round's barrier. The decimal accumulator keeps the sum exact under
    ANSI mode (a bigint sum would overflow-error)."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s"),
    ]


#: Edge sets up to this many rows are labelled on the driver. 2^20 edges
#: of int64 ids are 16 MB of Arrow, and ``_label_on_driver`` labels them
#: in 0.14-0.89 s (star, chain, random and shuffled chain graphs on a
#: 4-core host), while each alternating star round costs ~8 Spark jobs
#: whose scheduling, not their data, dominates at that size.
_DRIVER_EDGES = 1 << 20


def _min_roots(k: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union-find over ``k`` dense node ranks and the edges ``a[i]–b[i]``:
    returns each node's root, the smallest rank of its component. Every
    pass hooks the larger root of each cross-tree edge under the smallest
    root it meets (``np.minimum.at``), then pointer-jumps every node to
    its root; roots only ever decrease, so the forest stays acyclic, and
    each pass at least halves the trees still joined by an edge."""
    parent = np.arange(k)
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            return parent
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _label_on_driver(table):
    """Arrow ``(src, dst)`` edges → Arrow ``(id, component)``, component =
    min id of the component. Ids are dense-ranked by Arrow's sort order,
    which is Spark's for longs and (UTF-8 byte order) strings, so the
    smallest rank is the smallest id. A null id ranks last and keeps one
    ``(null, null)`` row; an edge with a null end adds its other node but
    no connectivity — as in the rounds, where ``greatest``/``least`` turn
    it into a self-loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pa.chunked_array(
        table["src"].chunks + table["dst"].chunks, table.schema.field("src").type
    )
    rank = pc.rank(ids, tiebreaker="dense").to_numpy().astype(np.int64) - 1
    k = int(rank.max()) + 1 if rank.size else 0
    first = np.empty(k, np.int64)
    first[rank] = np.arange(rank.size)
    uniq = ids.take(first)
    a, b = rank[: table.num_rows], rank[table.num_rows :]
    if ids.null_count:
        keep = (a != k - 1) & (b != k - 1)
        a, b = a[keep], b[keep]
    return pa.table({"id": uniq, "component": uniq.take(_min_roots(k, a, b))})


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """(src, dst) edges → (id, component) with component = min reachable id.

    The edge set is checkpointed once, and that job also counts it. Up to
    ``_DRIVER_EDGES`` edges (2^20: 16 MB of int64 ids, labelled in well
    under a second) are collected in one ``toArrow`` and labelled on the
    driver by ``_label_on_driver``; the result is a local relation and
    the checkpoint is released, so this path leaves no persisted blocks.

    Only above the bound do the rounds run: true alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14): each round halves the longest
    root-path, so convergence is O(log d) rounds in the component
    diameter d — a 10^6-long chain converges in ~20 rounds where plain
    min-label propagation would need 10^6. Each round is two
    groupBy-min aggregates, two AQE-managed joins back, and two output
    distincts (the mins⋈edges joins broadcast when the node-min side is
    small, skew-split when a partition oversizes — see _large_star); a
    barrier after each round truncates lineage so round k does not
    replan k rounds of joins, and releases the round it superseded.

    Convergence is detected by edge-set fingerprint stability, observed
    on each round's barrier — ONE action per round, no separate
    fingerprint pass. If the loop exhausts ``max_iterations`` without
    converging a RuntimeError is raised rather than silently returning
    split components (the reference's exact-fingerprint dedup,
    uuid_planner.py:229-241, never under-merges; neither may we).
    """
    # materialize the RAW edge frame ONCE before deriving nodes and
    # pairs from it: both derivations need a full pass, and without this
    # the (possibly expensive) upstream chain — in canonicalize_entities
    # that is the whole signature → LSH → verify pipeline — executed
    # TWICE (measured ~5 s per extra pass at bench scale). The same job
    # counts the edges, which picks the path.
    edges, (n_edges,) = materialize(edges, F.count(F.lit(1)))
    ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    if n_edges <= _DRIVER_EDGES:
        # the union's id field: the rounds' output types and nullability
        field = ids.schema["id"]
        t = field.dataType
        table = edges.select(F.col("src").cast(t), F.col("dst").cast(t)).toArrow()
        release(edges)
        return edges.sparkSession.createDataFrame(
            _label_on_driver(table),
            StructType([field, StructField("component", t, field.nullable)]),
        )
    # canonical undirected pair set, self-loops dropped (they only add
    # nodes, handled below); node universe preserved from the raw input
    nodes = ids.distinct()
    pairs = (
        edges.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # nodes and pairs are INDEPENDENT derivations of the materialized edge
    # frame — overlap their barrier jobs from two driver threads (the
    # spam_mass pattern) instead of paying two sequential barriers
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_nodes = pool.submit(inheritable_thread_target(materialize), nodes)
        f_pairs = pool.submit(
            inheritable_thread_target(materialize),
            pairs,
            *_fingerprint_metrics(),
        )
        nodes, _ = f_nodes.result()
        pairs, fp = f_pairs.result()
    release(edges)
    converged = False
    for _ in range(max_iterations):
        # large-star output is strictly oriented (a > b) and distinct —
        # small-star can skip its defensive re-orientation shuffle
        # large-star skips its distinct (dedup=False): small-star's
        # aggregate is duplicate-insensitive and its output distinct
        # dedupes — saves one full exchange per round
        nxt, new_fp = materialize(
            _small_star(_large_star(pairs, dedup=False), oriented=True),
            *_fingerprint_metrics(),
        )
        # without the release, iterative CC leaks one edge-set copy per
        # round into the block manager (measured: repeated in-session runs
        # degrade 24s → 50s as eviction pressure mounts)
        release(pairs)
        pairs = nxt
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged and fp[0] > 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "alternating star rounds — raise max_iterations (components "
            "should converge in O(log diameter) rounds; non-convergence "
            "here indicates a pathological graph or a bug)"
        )

    # converged edge set is a star forest: every non-root points at its
    # component min; groupBy-min is belt-and-braces, roots + isolated
    # nodes label themselves
    stars = pairs.groupBy("a").agg(F.min("b").alias("component")).select(
        F.col("a").alias("id"), "component"
    )
    return nodes.join(stars, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def _exact_jaccard_edges(
    cands: DataFrame, keys: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Candidate ``(src, dst)`` pairs whose exact Jaccard over the
    ``(id_col, sh)`` shingle sets in ``keys`` reaches ``threshold`` (0.0
    for two empty sets). ``keys`` feeds both aliased join sides, so
    callers pass it cached."""
    a, b = keys.alias("a"), keys.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        cands.join(a, cands["src"] == F.col(f"a.{id_col}"))
        .join(b, cands["dst"] == F.col(f"b.{id_col}"))
        .filter(jac >= threshold)
        .select("src", "dst")
    )


def canonicalize_entities(
    entities: DataFrame,
    key_col: str = "entity_key",
    id_col: str = "entity_id",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    hash_mode: str = "xxhash64",
    verify: str = "exact",
    max_bucket: int = 500,
    observation=None,
    drop_common_df: Optional[float] = None,
) -> DataFrame:
    """Full canonicalization: LSH candidates → exact-Jaccard edge filter →
    connected components → (entity_id, entity_key, canonical_id).
    Singletons keep themselves as canonical.

    ``verify="estimate"`` replaces the exact char-shingle verify with the
    minhash-estimate Jaccard (fraction of agreeing signature positions) —
    the 100 TB mode, mirroring dedup.minhash_estimate_pairs: the verify
    join touches only the k-int signatures already in hand, never re-joins
    the entity keys, at ±1/√k estimator error. Default "exact".

    ``max_bucket``/``observation``: LSH hot-bucket cap and its
    dropped-bucket/member metrics (see dedup.drop_observation) — drops are
    reported on the candidate-building job, never silent.

    ``drop_common_df`` (e.g. 0.05): drop shingles present in more than
    this fraction of entities BEFORE minhash signing (common_shingles) —
    the scale-invariant hot-domain defuse. Candidates then come from each
    key's distinctive shingles (no shared-prefix bucket floods at any
    corpus size). The exact VERIFY still computes Jaccard on the FULL
    shingle sets (edge threshold semantics unchanged); estimate-mode
    verify measures agreement of the FILTERED signatures — on a hot shape
    that is the safer estimator (shared-prefix agreement no longer inflates
    cross-doc similarity toward the threshold)."""
    # ONE interpreted char-shingle pass serves every consumer that needs
    # the raw shingle sets — the DF census (drop_common_df), the minhash
    # staging, and the exact verify. Without sharing, the hot path hashed
    # every key THREE times (census explode, signature staging, verify
    # cache — ~1 s each at bench scale on ~100-shingle hot keys).
    shingled = None
    if drop_common_df is not None or verify != "estimate":
        shingled = entities.select(
            F.col(id_col),
            F.col(key_col),
            char_shingles(F.col(key_col), hash_mode=hash_mode).alias("_sh"),
        ).cache()
    exclude = None
    if drop_common_df is not None:
        from .dedup import high_df_hashes

        exclude = high_df_hashes(
            shingled, lambda b: b.select(F.col("_sh")), drop_common_df
        )
    sigs = entity_minhash(
        entities, key_col, id_col, num_hashes, hash_mode, exclude=exclude,
        shingled=shingled,
    )
    cached_sigs = None
    if verify == "estimate":
        # the estimate path references sigs from THREE joins (band
        # candidates + both aliased sides of the agree-count) — without a
        # cache the shingle→fold chain re-executes per reference (the
        # same three reads as dedup.minhash_estimate_pairs). Unpersisted after
        # the CC edge set is checkpointed (blocking=False — safe because
        # connected_components materializes every round eagerly).
        cached_sigs = sigs = sigs.cache()
    cands = candidate_edges(
        sigs, id_col, bands, max_bucket=max_bucket, hash_mode=hash_mode,
        observation=observation,
    )
    if verify == "estimate":
        sa, sb = sigs.alias("sa"), sigs.alias("sb")
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("sa.minhash"), F.col("sb.minhash"), lambda x, y: x == y
                ),
                lambda eq: eq,
            )
        )
        est = agree.cast("double") / F.size(F.col("sa.minhash"))
        edges = (
            cands.join(sa, cands["src"] == F.col(f"sa.{id_col}"))
            .join(sb, cands["dst"] == F.col(f"sb.{id_col}"))
            .filter(est >= jaccard_threshold)
            .select("src", "dst")
        )
    else:
        # verify candidates with exact char-shingle Jaccard before
        # clustering — on the FULL (pre-exclusion) shingle sets, read from
        # the SHARED cached shingle frame (it feeds both aliased join
        # sides and was already filled by the census/signature jobs).
        keys = shingled.select(F.col(id_col), F.col("_sh").alias("sh"))
        edges = _exact_jaccard_edges(cands, keys, id_col, jaccard_threshold)

    comps = connected_components(edges)
    if cached_sigs is not None:
        # connected_components eagerly checkpointed the edge set, so every
        # plan that referenced the signatures has already run — drop the
        # cache instead of leaking it for the session's lifetime
        cached_sigs.unpersist(blocking=False)
    if shingled is not None:
        shingled.unpersist(blocking=False)  # same lifecycle as the sigs
    return (
        entities.join(comps, entities[id_col] == comps["id"], "left")
        .select(
            F.col(id_col),
            F.col(key_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
    )


def incremental_candidate_edges(
    flagged_sigs: DataFrame,
    id_col: str = "entity_id",
    is_new_col: str = "_is_new",
    bands: int = 8,
    max_bucket: int = 500,
    hash_mode: str = "xxhash64",
    observation=None,
) -> DataFrame:
    """LSH candidate edges restricted to pairs touching ≥1 NEW entity.

    Bands with the SAME kernel as the full run (dedup.band_hash_array), so
    an incremental batch lands in exactly the buckets a full recompute
    would build — then two delta filters make the mature-corpus case
    cheap:

    - whole buckets with zero new members are dropped BEFORE the pair
      explode (an ``exists`` over the grouped member array — on a mature
      corpus that is almost every bucket, and no prior-prior pair ever
      materializes);
    - within mixed buckets, prior-prior pairs are filtered after the
      explode (bounded by max_bucket² per bucket either way).

    Returns distinct (src, dst), src ≠ dst, each touching a new entity.
    """
    from .dedup import _bucket_member_pairs, band_hash_array

    banded = flagged_sigs.select(
        F.struct(
            F.col(id_col).alias("id"), F.col(is_new_col).alias("is_new")
        ).alias("m"),
        F.posexplode(band_hash_array(bands, hash_mode)).alias(
            "band_idx", "band_hash"
        ),
    )
    pairs = _bucket_member_pairs(
        banded.select("band_idx", "band_hash", "m"),
        ["band_idx", "band_hash"],
        max_bucket,
        observation,
        bucket_filter=lambda ms: F.exists(ms, lambda m: m["is_new"]),
    )
    return (
        pairs.where(F.col("a.is_new") | F.col("b.is_new"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def canonicalize_incremental(
    prior: DataFrame,
    new_entities: DataFrame,
    key_col: str = "entity_key",
    id_col: str = "entity_id",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    hash_mode: str = "xxhash64",
    max_bucket: int = 500,
    observation=None,
    drop_common_df: Optional[float] = None,
) -> DataFrame:
    """Fold a NEW batch of entities into a prior canonicalization WITHOUT
    re-clustering the whole corpus — the daily-increment path at 10^12
    docs, where full canonicalize_entities would re-pair and re-CC
    everything for a <1% delta.

    ``prior``: the previous run's (id, key, canonical_id) assignment
    (canonical_id = min entity id of each component, as
    canonicalize_entities emits). ``new_entities``: (id, key), ids
    disjoint from prior. Returns the merged (id, key, canonical_id)
    covering prior ∪ new.

    How it stays sub-linear in the prior corpus:

    1. Signatures ARE recomputed over the union (one linear, embarrassingly
       parallel scan — signatures are per-row functions, so prior rows hash
       to byte-identical signatures), but every super-linear stage sees
       only the delta: bucket pairing skips all-prior buckets wholesale
       (incremental_candidate_edges), the exact-Jaccard verify join runs
       on new-touching candidates only, and connected components runs on
       the TOUCHED subgraph.
    2. Prior connectivity is injected as (member → canonical_id) star
       edges, but only for components actually touched by a new edge:
       edge endpoints ⋉ prior (broadcast semi-join — the endpoint set is
       delta-sized) → touched canonical ids → their members. Untouched
       prior rows stream through unchanged; the prior table is scanned,
       never shuffled (both semi-joins broadcast the small side under
       AQE).
    3. CC input = new-touching verified edges ∪ touched star edges. Since
       the star edges have exactly the transitive closure of the prior
       run's prior-prior edges, components (and their min-id
       representatives) equal a full recompute's — the equivalence the
       contract query pins against the full-corpus DuckDB oracle.

    Exactness caveats (documented, test-pinned): equivalence to a full
    recompute holds when (a) no mixed bucket exceeds ``max_bucket`` in the
    union while its prior-run counterpart stayed under (a bucket CAN cross
    the cap as the corpus grows — then the incremental result keeps
    previously-found merges a fresh full run would drop, which is the
    better behavior anyway), and (b) ``drop_common_df`` is either None or
    accepted as recomputed over the union (document frequencies shift with
    the corpus; prior signatures were signed under the OLD exclusion set,
    so aggressive DF exclusion weakens the equivalence to "same components
    for all pairs whose buckets agree"). The contract query runs with (a)
    impossible (cap ≥ corpus) and (b) None.
    """
    prior_rows = prior.select(
        F.col(id_col), F.col(key_col), F.col("canonical_id")
    )
    all_entities = prior_rows.select(id_col, key_col).unionByName(
        new_entities.select(id_col, key_col)
    )
    exclude = None
    if drop_common_df is not None:
        exclude = common_shingles(
            all_entities, key_col, df_fraction=drop_common_df,
            hash_mode=hash_mode,
        )
    sigs = entity_minhash(
        all_entities, key_col, id_col, num_hashes, hash_mode, exclude=exclude
    )
    new_ids = new_entities.select(
        F.col(id_col), F.lit(True).alias("_is_new")
    )
    flagged = sigs.join(new_ids, id_col, "left").withColumn(
        "_is_new", F.coalesce(F.col("_is_new"), F.lit(False))
    )
    cands = incremental_candidate_edges(
        flagged, id_col, "_is_new", bands, max_bucket, hash_mode, observation
    )
    # the candidate set is DELTA-sized — materialize it once so it can
    # seed the endpoint-id semi-join below without re-running the LSH
    # banding chain
    cands, _ = materialize(cands)
    cand_ids = (
        cands.select(F.col("src").alias(id_col))
        .union(cands.select(F.col("dst").alias(id_col)))
        .distinct()
    )
    # exact-Jaccard verify on FULL shingle sets — identical edge semantics
    # to canonicalize_entities' exact path; cached for the two aliased
    # join sides. Restricted to CANDIDATE ENDPOINTS first: the verify's
    # inner joins only ever read those ids, but an unrestricted cache
    # materialized the interpreted shingle pass over the ENTIRE prior
    # corpus every fold — the one remaining full-corpus super-linear-ish
    # cost of the daily increment (a delta-sized pass now).
    keys = (
        all_entities.join(cand_ids, id_col, "leftsemi")
        .select(
            F.col(id_col),
            char_shingles(F.col(key_col), hash_mode=hash_mode).alias("sh"),
        )
        .cache()
    )
    edges = _exact_jaccard_edges(cands, keys, id_col, jaccard_threshold)
    # delta-sized edge set feeds every join below (and the returned frame,
    # through touched_canons) — materialize once so the whole LSH+verify
    # chain doesn't replan into each of the three uses
    edges, _ = materialize(edges)
    release(cands)

    endpoints = (
        edges.select(F.col("src").alias(id_col))
        .union(edges.select(F.col("dst").alias(id_col)))
        .distinct()
    )
    touched_canons = (
        prior_rows.join(endpoints, id_col, "leftsemi")
        .select("canonical_id")
        .distinct()
    )
    touched_members = prior_rows.join(
        touched_canons, "canonical_id", "leftsemi"
    )
    star_edges = touched_members.select(
        F.col(id_col).alias("src"), F.col("canonical_id").alias("dst")
    ).where(F.col("src") != F.col("dst"))

    comps = connected_components(edges.unionByName(star_edges))
    # CC materialized everything referencing the shingle cache — reclaim
    keys.unpersist(blocking=False)
    changed = (
        touched_members.select(id_col, key_col)
        .unionByName(new_entities.select(id_col, key_col))
        .join(comps, F.col(id_col) == comps["id"], "left")
        .select(
            F.col(id_col),
            F.col(key_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias(
                "canonical_id"
            ),
        )
    )
    untouched = prior_rows.join(touched_canons, "canonical_id", "left_anti")
    return untouched.select(id_col, key_col, "canonical_id").unionByName(
        changed
    )
