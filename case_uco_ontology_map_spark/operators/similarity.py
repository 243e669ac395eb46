"""Similarity search over embedding columns (array<float>).

  brute_force_topk   exact cosine top-k per query — the driver-small query
                     batch is broadcast and ONE mapInArrow pass scores every
                     vector against it, then Window top-k. One shuffle (the
                     window partition by query).
  ivf_topk           IVF-style scale path: assign every vector to its
                     nearest centroid (broadcast centroids, map-side),
                     search only the query's nprobe nearest cells.
                     At 10^12 vectors this turns a full scan into a
                     cells-touched scan; the centroid assignment is the
                     narrow stage, the candidate join is hash-equi on
                     cell id.
  centroids_kmeans   deterministic Lloyd iterations driven from the driver
                     (k small) — each iteration one groupBy(cell) mean.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .barrier import materialize, release
from .dedup import _cosine


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(c: Column) -> Column:
    """L2 norm — the EXACT subexpression _cosine uses for each side, so a
    staged norm column is bit-identical to the inline computation."""
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _staged_cosine(vec: Column, qvec: Column, vn: Column, qn: Column) -> Column:
    """``_cosine`` with the two norms taken from precomputed columns:
    identical guard, identical ``dot / (vn * qn)`` operand order, so the
    value is bit-identical — but the interpreted higher-order norm folds
    run once per VECTOR (and once per QUERY) instead of once per
    (vector, query) PAIR. At Q queries that deletes ~2/3 of the
    interpreted per-pair work (guide §1.2: per-task work; the HOF lambdas
    never enter whole-stage codegen)."""
    return F.when((vn > 0) & (qn > 0), _dot(vec, qvec) / (vn * qn)).otherwise(
        F.lit(0.0)
    )


#: brute_force_topk collects the query batch driver-side for the Arrow
#: kernel; a "batch" past this is not a serving call — the Catalyst plan
#: scores it instead.
_BRUTE_ARROW_MAX_QUERIES = 4096


def _seq_dots_norms(mat, q64, nq):
    """Per-dimension SEQUENTIAL accumulation of dot products and squared
    norms over a (rows × d) float64 matrix — the exact left-fold order
    (((0+x₀y₀)+x₁y₁)+…) of the Catalyst ``aggregate`` in ``_dot`` /
    ``_norm_col``, one IEEE multiply and one IEEE add per element, so
    every intermediate double is bit-identical to the JVM fold."""
    import numpy as np

    rows = mat.shape[0]
    d = mat.shape[1]
    dots = np.zeros((nq, rows), dtype=np.float64)
    sq = np.zeros(rows, dtype=np.float64)
    for j in range(d):
        col = mat[:, j]
        sq += col * col
        for qi in range(nq):
            dots[qi] += col * q64[qi][j]
    return dots, np.sqrt(sq)


def _top_k(
    scored: DataFrame, k: int, query_id_col: str, id_col: str,
    score_col: str = "cosine",
) -> DataFrame:
    """The ``k`` best rows per query by ``score_col`` (descending), ties
    to the smaller id, with a 1-based ``rank`` column appended."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k → ``(query_id, vec_id, cosine, rank)``, ranked by
    cosine rounded to 6 decimals with ties to the smaller id.

    The query batch is collected and scored in ONE mapInArrow pass over
    the vector table (_arrow_cell_scores with every vector in one cell),
    bit-identical to the Catalyst plan. Queries are a
    driver-small serving batch by construction; an empty batch or one
    past _BRUTE_ARROW_MAX_QUERIES runs the Catalyst plan instead
    (_brute_force_topk_catalyst) rather than collecting unbounded data."""
    q_rows = (
        queries.select(F.col(query_id_col), F.col(query_vec_col))
        .limit(_BRUTE_ARROW_MAX_QUERIES + 1)
        .collect()
    )
    if not 0 < len(q_rows) <= _BRUTE_ARROW_MAX_QUERIES:
        return _brute_force_topk_catalyst(
            vectors, queries, k, id_col, vec_col, query_id_col, query_vec_col
        )
    scored = _arrow_cell_scores(
        vectors.select(F.lit(0).alias("cell"), F.col(id_col), F.col(vec_col)),
        queries, q_rows, {0: list(range(len(q_rows)))}, k,
        id_col, vec_col, query_id_col, query_vec_col,
    )
    return _top_k(scored, k, query_id_col, id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def _brute_force_topk_catalyst(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """brute_force_topk as one Catalyst plan: crossJoin(broadcast(queries))
    → staged-norm cosine → window top-k. The cosine folds are interpreted
    per (vector, query) pair, never codegen'd; brute_force_topk runs this
    only for a query batch its Arrow kernel does not take."""
    vn = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        _norm_col(F.col(vec_col)).alias("_vn"),
    )
    qn = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        _norm_col(F.col(query_vec_col)).alias("_qn"),
    )
    return _rank_topk(
        vn.crossJoin(F.broadcast(qn)), k, id_col, vec_col,
        query_id_col, query_vec_col, vn_col="_vn", qn_col="_qn",
    )


def centroids_kmeans(
    vectors: DataFrame,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: Optional[int] = None,
) -> List[List[float]]:
    """Deterministic k-means: seeds = the k vectors with smallest ids
    (stable), then `iterations` Lloyd steps. Each step: broadcast centroids,
    map-side assignment (_assign_cells_arrow), ONE groupBy(cell)
    aggregation of per-dimension sums (posexplode → groupBy(cell, dim)
    avg). Driver holds only k×d.

    ``sample``: train on a deterministic subsample (the ``sample`` vectors
    with smallest xxhash64(id) — a seedless uniform draw, stable across
    partitionings). Standard IVF practice trains on ~64-256 points per
    cell, not the full corpus: Lloyd's update is a mean, whose estimate
    stops improving long before 100 TB of terms, while each extra training
    point costs k dot products per iteration. TakeOrderedAndProject keeps
    the sample selection a per-partition top-N + driver merge — no sort
    shuffle."""
    if sample is not None:
        # materialize the sample ONCE: the TakeOrdered over the full
        # corpus otherwise re-executes for the seed collect AND every
        # Lloyd iteration's assignment pass (3-4 full-corpus selections
        # for one 16k frame) — and a single materialization also pins
        # ONE sample across iterations instead of re-drawing it
        vectors, _ = materialize(
            vectors.orderBy(F.xxhash64(F.col(id_col))).limit(sample)
        )
    seeds = [
        [float(x) for x in r[vec_col]]
        for r in vectors.orderBy(id_col).limit(k).collect()
    ]
    centroids = seeds
    for _ in range(iterations):
        assigned = _assign_cells_arrow(vectors, centroids, vec_col)
        rows = (
            assigned.select("cell", F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .collect()
        )
        new = {r["cell"]: [float(p["m"]) for p in r["dm"]] for r in rows}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    if sample is not None:
        release(vectors)
    return centroids


def assign_cells(
    vectors: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side nearest-centroid assignment. Narrow — no shuffle.
    Centroids broadcast as array literals, argmax over k cosine folds
    rounded to 9 decimals, ties to the smaller cell — pure Catalyst, so
    the ``ivf_topk`` contract oracle replays it in DuckDB. The folds are
    interpreted (no whole-stage codegen inside the lambda), ~k x 3 x d
    ops per row: fine for queries and the oracle's k<=16; the index build
    and k-means use _assign_cells_arrow."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    scored = F.transform(
        cent_arr,
        lambda s: F.struct(
            F.round(_cosine(F.col(vec_col), s["c"]), 9).alias("score"),
            (-s["cell"]).alias("neg_cell"),
        ),
    )
    best = F.array_max(scored)
    return vectors.withColumn("cell", (-best["neg_cell"]).cast("int"))


def _assign_cells_arrow(
    vectors: DataFrame, centroids: List[List[float]], vec_col: str
) -> DataFrame:
    """Index-build assignment kernel: Arrow-batched numpy, one
    (batch x d)@(d x k) matmul over L2-normalized rows and an argmax per
    row — ~100x the Catalyst assign_cells at k=64, where the interpreted
    cosine folds cost ~k x 3 x d ops per row. np.argmax takes the FIRST
    max, matching assign_cells' ties-to-smaller-cell rule; scores differ
    from it only by BLAS summation order (no round-9 snap), so a vector
    within ~1e-12 of a two-cell boundary may land in its other
    near-equidistant cell — immaterial for an index whose recall is
    measured, not assumed (pinned equal on real vectors by test)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    cents_n = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-300
    )
    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cell", IntegerType(), False)]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mat_n = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
            )
            yield pdf.assign(cell=(mat_n @ cents_n.T).argmax(axis=1).astype("int32"))

    return vectors.mapInPandas(kernel, out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: List[List[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: vectors carry a precomputable cell id; each
    query probes its nprobe nearest cells. Join is hash-equi on cell —
    at scale, write vectors partitioned by cell so the probe is partition
    pruning, not a shuffle."""
    assigned = assign_cells(vectors, centroids, vec_col).withColumn(
        "_vn", _norm_col(F.col(vec_col))
    )
    q_cells = _probe_cells(queries, centroids, nprobe, query_vec_col).withColumn(
        "_qn", _norm_col(F.col(query_vec_col))
    )
    cands = assigned.join(F.broadcast(q_cells), "cell")
    return _rank_topk(
        cands, k, id_col, vec_col, query_id_col, query_vec_col,
        vn_col="_vn", qn_col="_qn",
    )


def _probe_cells(
    queries: DataFrame,
    centroids: List[List[float]],
    nprobe: int,
    query_vec_col: str,
) -> DataFrame:
    """queries → one row per (query, probed cell): the nprobe
    highest-cosine centroids, ties to the larger cell id. The SINGLE probe
    implementation — ivf_topk joins it directly and ivf_topk_from_index
    collects it, so both paths pick identical cells by construction (a
    numpy replica would diverge at rounding/tie boundaries: np.round is
    half-even and BLAS reorders the summation, while F.round is HALF_UP
    over a left-fold aggregate)."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return queries.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            F.transform(
                                cent_arr,
                                lambda s: F.struct(
                                    F.round(
                                        _cosine(F.col(query_vec_col), s["c"]), 9
                                    ).alias("score"),
                                    s["cell"].alias("cell"),
                                ),
                            )
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cell"],
            )
        ),
    )


def _rank_topk(
    cands, k, id_col, vec_col, query_id_col, query_vec_col, vn_col, qn_col,
):
    """``vn_col``/``qn_col``: precomputed per-side L2 norm columns (see
    _staged_cosine — staged below the join by callers so the norm folds
    run per vector/query, not per candidate pair; values bit-identical)."""
    cos = _staged_cosine(
        F.col(vec_col), F.col(query_vec_col), F.col(vn_col), F.col(qn_col)
    )
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cos, 6).alias("cosine"),
    )
    return _top_k(scored, k, query_id_col, id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def write_ivf_index(
    vectors: DataFrame,
    centroids: List[List[float]],
    path: str,
    vec_col: str = "embedding",
    files_per_cell: int = 1,
) -> str:
    """Materialize the IVF index: vectors written PARTITIONED BY cell.
    This is the 100 TB serving layout — a probe for nprobe cells becomes
    parquet partition PRUNING (the scan never opens non-probed cells'
    files), not a filter over the full corpus.

    Repartition on the partition column BEFORE partitionBy (the same sink
    rule as the triple/entity writes): without it every upstream task
    writes a sliver into every cell directory (tasks × cells tiny files);
    with it, ``files_per_cell`` right-sized files per cell. At 100 TB set
    files_per_cell so each file is ~128 MB-1 GB. Cells come from the
    vectorized _assign_cells_arrow (this is the full-corpus pass)."""
    assigned = _assign_cells_arrow(vectors, centroids, vec_col)
    n_parts = max(len(centroids) * files_per_cell, 1)
    assigned.repartition(n_parts, "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    return path


def _arrow_cell_scores(
    index_scan: DataFrame,
    queries: DataFrame,
    q_rows,
    cell_qi,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Score a ``(cell, id, vector)`` scan against the (driver-small)
    query batch ``q_rows`` in ONE mapInArrow pass → rounded ``cosine``
    candidates. ``cell_qi`` maps each cell to the positions in ``q_rows``
    of the queries that score it; each batch's rows are grouped by cell
    and scored only against those queries.

    Cosines are bit-identical to the Catalyst ``_staged_cosine``: the
    per-dimension numpy loop accumulates in the exact left-fold order of
    the ``aggregate`` in ``_dot``/``_norm_col`` (see _seq_dots_norms).
    Each (query, cell group) keeps only the rows that can still reach the
    global top k: every row with raw cosine ≥ (group k-th best − 1.1e-6).
    That is lossless under 6-decimal rounding, because a row below the
    cutoff rounds strictly below the k-th row's rounded score and loses
    regardless of id ties. Ragged/null embedding rows follow the Catalyst
    zip/guard semantics row by row: a zero norm gives 0.0, a length
    mismatch NULL."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type

    spark = index_scan.sparkSession
    qid_at = to_arrow_type(queries.schema[query_id_col].dataType)
    id_at = to_arrow_type(index_scan.schema[id_col].dataType)
    q_ids, q64, q_norms = [], [], []
    for r in q_rows:
        vec = [float(x) for x in (r[query_vec_col] or [])]
        q_ids.append(r[query_id_col])
        q64.append(np.asarray(vec, dtype=np.float64))
        # query norm: same sequential fold as _norm_col
        acc = 0.0
        for x in vec:
            acc += x * x
        q_norms.append(acc ** 0.5)
    bc = spark.sparkContext.broadcast(
        (q_ids, q64, q_norms, cell_qi, k, qid_at, id_at)
    )
    id_field = index_scan.schema[id_col].dataType.simpleString()
    qid_field = queries.schema[query_id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_field}, {id_col} {id_field}, _rawcos double"
    )

    def kernel(batches):
        import numpy as _np
        import pyarrow as _pa

        q_ids_l, q64_l, q_norms_l, cell_qi_l, kk, qid_t, id_t = bc.value
        d = q64_l[0].shape[0] if q64_l else 0
        for rb in batches:
            cells = rb.column(0).to_numpy(zero_copy_only=False)
            ids = rb.column(1)
            emb = rb.column(2)
            if isinstance(emb, _pa.ChunkedArray):  # defensive
                emb = emb.combine_chunks()
            n = len(emb)
            if n == 0:
                continue
            offs = emb.offsets.to_numpy()
            lens = offs[1:] - offs[:-1]
            out_q, out_i, out_c = [], [], []
            uniform = (
                d > 0
                and bool((lens == d).all())
                and emb.null_count == 0
                and emb.values.null_count == 0
            )
            if uniform:
                vals = emb.values.to_numpy(zero_copy_only=False)
                mat = (
                    vals[offs[0]:offs[-1]]
                    .astype(_np.float64)
                    .reshape(n, d)
                )
                ids_np = ids.to_numpy(zero_copy_only=False)
                for cell in _np.unique(cells):
                    qlist = cell_qi_l.get(int(cell), ())
                    if not qlist:
                        continue
                    ridx = _np.nonzero(cells == cell)[0]
                    sub = mat[ridx]
                    m = sub.shape[0]
                    dots, vn = _seq_dots_norms(
                        sub, [q64_l[qi] for qi in qlist], len(qlist)
                    )
                    for pos, qi in enumerate(qlist):
                        qn = q_norms_l[qi]
                        if qn > 0:
                            cos = _np.where(
                                vn > 0, dots[pos] / (vn * qn), 0.0
                            )
                        else:
                            cos = _np.zeros(m, dtype=_np.float64)
                        if m > kk:
                            kth = _np.partition(cos, m - kk)[m - kk]
                            keep = cos >= kth - 1.1e-6
                        else:
                            keep = _np.ones(m, dtype=bool)
                        sel = ridx[_np.nonzero(keep)[0]]
                        out_q.extend([q_ids_l[qi]] * sel.size)
                        out_i.extend(ids_np[sel].tolist())
                        out_c.extend(cos[_np.nonzero(keep)[0]].tolist())
            else:
                py_ids = ids.to_pylist()
                py_emb = emb.to_pylist()
                for r_i in range(n):
                    qlist = cell_qi_l.get(int(cells[r_i]), ())
                    if not qlist:
                        continue
                    vec = [float(x) for x in (py_emb[r_i] or [])]
                    acc = 0.0
                    for x in vec:
                        acc += x * x
                    vnr = acc ** 0.5
                    for qi in qlist:
                        qn = q_norms_l[qi]
                        if not (vnr > 0 and qn > 0):
                            cos = 0.0
                        elif len(vec) != q64_l[qi].shape[0]:
                            cos = None
                        else:
                            dot = 0.0
                            for xj, yj in zip(vec, q64_l[qi]):
                                dot += xj * yj
                            cos = dot / (vnr * qn)
                        out_q.append(q_ids_l[qi])
                        out_i.append(py_ids[r_i])
                        out_c.append(cos)
            if not out_q:
                continue
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(out_q, qid_t),
                    _pa.array(out_i, id_t),
                    _pa.array(out_c, _pa.float64()),
                ],
                names=[query_id_col, id_col, "_rawcos"],
            )

    return (
        index_scan.select("cell", F.col(id_col), F.col(vec_col))
        .mapInArrow(kernel, out_schema)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(F.col("_rawcos"), 6).alias("cosine"),
        )
    )


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: List[List[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k against a cell-partitioned index written by
    ``write_ivf_index``. The probed cell set is computed from the QUERY
    batch (driver-small by definition in a top-k serving path) and pushed
    into the scan as a LITERAL ``cell IN (...)`` predicate, so parquet
    partition pruning skips every unprobed cell's files — verified by the
    plan's PartitionFilters in tests. The pruned scan is scored by the
    same Arrow kernel as brute_force_topk, each probed cell's rows only
    against the queries that probe it. Results are identical to
    ``ivf_topk`` at the same (centroids, nprobe) and index cells: the
    probe cells come from collecting the SAME Spark expression ivf_topk
    joins (_probe_cells), so no numpy-vs-Spark rounding or tie divergence
    can creep in."""
    probe_rows = [
        (r[query_id_col], int(r["cell"]))
        for r in _probe_cells(queries, centroids, nprobe, query_vec_col)
        .select(query_id_col, "cell")
        .collect()
    ]
    q_rows = queries.select(
        F.col(query_id_col), F.col(query_vec_col)
    ).collect()
    qidx = {r[query_id_col]: i for i, r in enumerate(q_rows)}
    cell_qi = {}
    for qid, cell in probe_rows:
        cell_qi.setdefault(cell, []).append(qidx[qid])
    cell_qi = {c: sorted(qs) for c, qs in cell_qi.items()}
    index_scan = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(sorted(cell_qi)))  # literal IN → pruning
    )
    scored = _arrow_cell_scores(
        index_scan, queries, q_rows, cell_qi, k,
        id_col, vec_col, query_id_col, query_vec_col,
    )
    return _top_k(scored, k, query_id_col, id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Per-vector int8 scalar quantization (SQ8): store 1 byte per
    dimension plus a per-vector ``(q_min, q_scale)`` pair instead of 4-8
    bytes per dimension — the standard 4-8× scan-I/O cut for an ANN
    serving tier (faiss ``SQ8``, Lucene scalar quantization).

    ``code = floor((x - min) / scale)`` clamped to [0, 255], where
    ``scale = (max - min) / 255`` over THIS vector's values (constant
    vectors get scale 0 and all-zero codes). ``floor`` — not ``round``
    — deliberately: both engines evaluate the identical double
    expression, so the contract oracle replays codes bit-exactly with
    no rounding-mode divergence. Pure JVM, zero shuffle."""
    v = F.col(vec_col)
    qmin = F.array_min(v).cast("double")
    scale = (F.array_max(v).cast("double") - qmin) / F.lit(255.0)
    codes = F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((x.cast("double") - qmin) / scale), F.lit(255)
            )
        )
        .cast("int"),
    )
    return (
        df.withColumn("q_min", qmin)
        .withColumn("q_scale", scale)
        .withColumn(codes_col, codes)
    )


def _sq8_approx_arrow(
    quantized: DataFrame,
    queries: DataFrame,
    keep: int,
    id_col: str,
    codes_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """sq8_topk's stage-1 approx scorer: cosine against the dequantized
    vectors, rounded to 6 decimals. The Catalyst form of this fold hits
    the same interpreted-higher-order-function wall assign_cells does
    (~1 ms/row at d=64, found by measurement): it costs MORE than the
    brute float cosine it is supposed to beat, so the codes path only
    wins with a vectorized kernel. Per Arrow batch: one
    codes×queries matmul plus the closed-form dequantized norm
    ``sqrt(d·m² + 2·m·s·Σc + s²·Σc²)`` — no per-row reconstruction. A
    per-batch top-``keep`` prune bounds the emitted rows to
    batches × queries × keep before the global rank."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    qids = [r[0] for r in q_rows]
    qid_type = queries.schema[query_id_col].dataType
    out_schema = StructType(
        [
            StructField(query_id_col, qid_type, False),
            StructField(
                id_col, quantized.schema[id_col].dataType, False
            ),
            StructField("approx", DoubleType(), False),
        ]
    )
    narrow = quantized.select(id_col, "q_min", "q_scale", codes_col)

    def score(batches):
        import numpy as np
        import pandas as pd

        Q = np.array([[float(x) for x in r[1]] for r in q_rows])
        qsum = Q.sum(axis=1)
        qnorm = np.sqrt((Q * Q).sum(axis=1))
        d = Q.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(
                [np.asarray(c, dtype=np.float64) for c in pdf[codes_col]]
            )
            m = pdf["q_min"].to_numpy(dtype=np.float64)
            s = pdf["q_scale"].to_numpy(dtype=np.float64)
            dots = m[:, None] * qsum[None, :] + s[:, None] * (C @ Q.T)
            csum = C.sum(axis=1)
            c2 = (C * C).sum(axis=1)
            xnorm = np.sqrt(d * m * m + 2.0 * m * s * csum + s * s * c2)
            denom = xnorm[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, dots / denom)
            cos = np.round(cos, 6)
            ids = pdf[id_col].to_numpy()
            keep_n = min(keep, len(ids))
            out = []
            for j, qid in enumerate(qids):
                col = cos[:, j]
                top = np.argpartition(-col, keep_n - 1)[:keep_n]
                for i in top:
                    out.append((qid, ids[i], float(col[i])))
            yield pd.DataFrame(
                out, columns=[query_id_col, id_col, "approx"]
            )

    return narrow.mapInPandas(score, out_schema)


def sq8_topk(
    quantized: DataFrame,
    queries: DataFrame,
    k: int = 5,
    overfetch: int = 4,
    full_vectors: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Quantized-first top-k with exact rescoring: stage 1 ranks by
    cosine against the DEQUANTIZED vectors (reads only codes — the
    serving tier never scans full floats; scored by _sq8_approx_arrow)
    and keeps ``k * overfetch`` candidates per query; stage 2 (when
    ``full_vectors`` is given) joins just those candidates back to the
    full-precision vectors and re-ranks exactly. At 100 TB the stage-2
    join touches k·overfetch rows per query — the full-float table is
    probed, never scanned. Both stages rank by round(cosine, 6) with id
    tie-break."""
    approx = _sq8_approx_arrow(
        quantized,
        queries,
        k * overfetch,
        id_col,
        codes_col,
        query_id_col,
        query_vec_col,
    )
    cands = _top_k(
        approx, k * overfetch, query_id_col, id_col, "approx"
    ).drop("rank")
    if full_vectors is None:
        return _top_k(cands, k, query_id_col, id_col, "approx").select(
            query_id_col, id_col, "rank"
        )
    exact = (
        cands.join(
            full_vectors.select(id_col, vec_col), on=id_col
        )
        .join(F.broadcast(queries), on=query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine(F.col(vec_col), F.col(query_vec_col)), 6
            ).alias("cosine"),
        )
    )
    return _top_k(exact, k, query_id_col, id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def pool_embeddings(
    df: DataFrame,
    key_cols: "List[str] | tuple",
    vec_col: str = "embedding",
    mode: str = "mean",
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Pool many vectors per key into one — the chunk→document embedding
    rollup every retrieval corpus runs after context-window chunking
    (doc_chunks): ``mean`` (optionally weighted by ``weight_col``, e.g.
    chunk token counts) or ``sum``. → ``(key_cols..., embedding,
    n_pooled)``.

    Scale shape: posexplode to (key, dim, value) rows, ONE map-side-
    combinable sum per (key, dim), then a bounded d-element assembly per
    key — a 10^4-chunk document combines partially on every map task and
    never materializes its chunk list anywhere (collect_list touches only
    the d per-dim partials, d = the embedding width). Weighted mean
    pre-scales map-side and divides summed vector by summed weight. All
    JVM expressions; vectors under one key must share a width.
    """
    if mode not in ("mean", "sum"):
        raise ValueError(f"mode must be mean|sum, got {mode!r}")
    keys = list(key_cols)
    v = F.col(vec_col)
    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        scaled = F.transform(v, lambda x: x.cast("double") * w)
    else:
        w = F.lit(1.0)
        scaled = F.transform(v, lambda x: x.cast("double"))
    exploded = df.select(
        *keys, w.alias("_w"), F.posexplode(scaled).alias("dim", "_v")
    )
    per_dim = exploded.groupBy(*keys, "dim").agg(
        F.sum("_v").alias("_vsum"),
        F.sum("_w").alias("_wsum"),
        F.count("*").alias("_n"),
    )
    return (
        per_dim.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("dim"), F.col("_vsum"), F.col("_wsum"))
                )
            ).alias("_dims"),
            F.max("_n").alias("n_pooled"),
        )
        .select(
            *keys,
            F.transform(
                F.col("_dims"),
                lambda d: (
                    d["_vsum"] if mode == "sum" else d["_vsum"] / d["_wsum"]
                ),
            ).alias(vec_col),
            "n_pooled",
        )
    )
