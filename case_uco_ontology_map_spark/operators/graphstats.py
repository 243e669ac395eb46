"""Graph analytics over the entity/provenance edge sets the KG emits —
degree census and PageRank-style link analysis. (No reference counterpart
as code: the reference hands its JSON-LD to downstream graph stores; these
give a CASE/UCO consumer the standard "which nodes matter" queries
natively on the Spark edge frames.)

Scale shape: degree is one map-side-combined groupBy per direction joined
on node id. PageRank is the canonical BSP iteration — the edge frame is
hash-partitioned on ``src`` once and persisted, each round shuffles only
the (node, rank) frame (N rows, not E), and every iterative operator
here closes each round on the ``barrier`` primitive, which truncates
lineage (plan depth stays O(1) over any iteration count), observes the
round's scalars on the same job, and releases the round it superseded.
Rounds are fixed (power iteration), so the whole loop is ~2 shuffles x
iterations over N-row frames.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .barrier import materialize, release


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node ``(node, out_deg, in_deg)`` over a directed edge frame —
    0 (not NULL) for directions a node lacks. Exact integers; two
    map-side-combined aggregations and one full outer join on node id."""
    out_d = (
        edges.groupBy(F.col(src).alias("node"))
        .agg(F.count("*").alias("out_deg"))
    )
    in_d = (
        edges.groupBy(F.col(dst).alias("node"))
        .agg(F.count("*").alias("in_deg"))
    )
    return (
        out_d.join(in_d, on="node", how="full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def degree_sql(table: str = "e", src: str = "src", dst: str = "dst") -> str:
    """ANSI replay of ``degree_stats`` over an edge table/CTE ``table``."""
    return f"""
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(o.out_deg, 0) AS out_deg,
       COALESCE(i.in_deg, 0) AS in_deg
FROM (SELECT {src} AS node, CAST(count(*) AS BIGINT) AS out_deg
      FROM {table} GROUP BY 1) o
FULL OUTER JOIN
     (SELECT {dst} AS node, CAST(count(*) AS BIGINT) AS in_deg
      FROM {table} GROUP BY 1) i
ON o.node = i.node
"""


@contextmanager
def _ranking_graph(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: Optional[str] = None,
    seeds: Optional[DataFrame] = None,
):
    """The graph preparation behind ``pagerank`` and ``trustrank``.
    Yields ``(e, with_deg)``: the non-null edges as ``(_s, _d[, _w])``
    repartitioned on ``_s`` (weighted: only positive, non-null weights),
    and every node appearing as ``src`` or ``dst`` with its out-degree
    ``_deg`` (weighted: the summed weight; null for dangling nodes),
    plus the boolean ``_seed`` flag when ``seeds`` (a distinct ``node``
    frame, broadcast) is given. Both frames are persisted and released
    on every exit from the block, a raise included."""
    cols = [F.col(src).alias("_s"), F.col(dst).alias("_d")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    e = edges.select(*cols).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    if weight_col is not None:
        e = e.where(F.col("_w").isNotNull() & (F.col("_w") > 0))
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = e.repartition(shuffle, "_s").persist()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    if seeds is not None:
        nodes = nodes.join(
            F.broadcast(seeds.withColumn("_seed", F.lit(True))),
            on="node",
            how="left",
        ).select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
    out_deg = e.groupBy(F.col("_s").alias("node")).agg(
        (F.sum("_w") if weight_col is not None else F.count("*")).alias(
            "_deg"
        )
    )
    with_deg = nodes.join(out_deg, on="node", how="left").persist()
    try:
        yield e, with_deg
    finally:
        e.unpersist()
        with_deg.unpersist()


def _power_iteration(
    edges: DataFrame,
    with_deg: DataFrame,
    state: DataFrame,
    col: str,
    share: Column,
    update,
    iterations: int,
) -> DataFrame:
    """The one power iteration behind ``pagerank`` and ``trustrank`` (and
    so ``spam_mass``). ``state`` is ``with_deg``'s columns (``node``,
    the static out-degree ``_deg``, any per-node constants) plus the
    iterated score ``col``. Each round every node's score splits over its
    out-edges by ``share`` (``edges`` are ``(_s, _d[, _w])``), and
    ``update(recv, dangling_mass)`` gives the new score from the received
    sum and the dangling mass: the score held by nodes with no
    out-edges, observed on the previous round's barrier so it enters as
    a literal (no per-round aggregate subtree). Each caller keeps its
    exact per-row arithmetic. The state carries ``_deg``, so each round
    pays exactly two joins (state ⋈ edges, with_deg ⋈ contrib)."""
    dm_metric = F.coalesce(
        F.sum(F.when(F.col("_deg").isNull(), F.col(col))), F.lit(0.0)
    )
    state, (dm,) = materialize(state, dm_metric)
    for _ in range(iterations):
        contrib = (
            state.join(edges, on=state["node"] == edges["_s"])
            .select(F.col("_d").alias("node"), share.alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_recv"))
        )
        nxt = with_deg.join(contrib, on="node", how="left").select(
            *with_deg.columns,
            update(
                F.coalesce(F.col("_recv"), F.lit(0.0)), F.lit(float(dm))
            ).alias(col),
        )
        nxt, (dm,) = materialize(nxt, dm_metric)
        release(state)
        state = nxt
    return state


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    init_ranks: Optional[DataFrame] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Power-iteration PageRank → ``(node, rank)``; ranks sum to 1.

    ``weight_col`` names a positive edge-weight column (e.g. the
    ``n_links`` anchor multiplicity of ``host_graph``): each node's rank
    then splits over its out-edges PROPORTIONALLY to weight instead of
    evenly — the standard weighted-PageRank formulation for rolled-up
    graphs where one edge row stands for many links. Non-positive and
    null weights drop (an edge that carries nothing is no edge);
    unweighted calls keep the exact original arithmetic (existing
    results are bit-stable).

    Semantics (the classic formulation, so the unrolled-SQL oracle can
    replay it exactly): nodes are every id appearing as ``src`` or
    ``dst``; each round every node's rank splits evenly over its
    out-edges; a DANGLING node's (no out-edges) rank is redistributed
    uniformly over all nodes; then
    ``rank' = (1-d)/N + d * (received + dangling_mass/N)``.

    ``init_ranks`` (``(node, rank)``) WARM-STARTS the iteration — the
    crawl-refresh pattern: yesterday's converged ranks carry over a
    ``link_delta``'d graph, new nodes enter at the uniform 1/N, and the
    vector renormalizes to sum 1 over the CURRENT node set (priors for
    vanished nodes drop out via the join). Power iteration contracts at
    rate d per round toward the same fixed point regardless of start, so
    a warm start near the answer needs a small fraction of the cold
    iteration count — the rank-maintenance loop at web scale.

    Rounds run on ``_power_iteration``: one barrier per round (which
    also observes the dangling mass), no other per-round action.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    weighted = weight_col is not None
    with _ranking_graph(edges, src, dst, weight_col) as (e, with_deg):
        n_nodes = with_deg.count()  # one action up front; N is a scalar
        if n_nodes == 0:
            return with_deg.select("node", F.lit(0.0).alias("rank"))
        if init_ranks is not None:
            prior = init_ranks.select(
                F.col("node").alias("node"), F.col("rank").alias("_ir")
            )
            w = with_deg.join(prior, on="node", how="left").select(
                "node",
                "_deg",
                F.coalesce("_ir", F.lit(1.0 / n_nodes)).alias("_w"),
            )
            total = w.agg(F.sum("_w").alias("_tw"))
            ranks = w.crossJoin(F.broadcast(total)).select(
                "node", "_deg", (F.col("_w") / F.col("_tw")).alias("rank")
            )
        else:
            ranks = with_deg.select(
                "node", "_deg", F.lit(1.0 / n_nodes).alias("rank")
            )
        share = (
            (F.col("rank") * F.col("_w") / F.col("_deg"))
            if weighted
            else (F.col("rank") / F.col("_deg"))
        )
        ranks = _power_iteration(
            e,
            with_deg,
            ranks,
            "rank",
            share,
            lambda recv, dm: F.lit((1.0 - damping) / n_nodes)
            + F.lit(damping) * (recv + dm / F.lit(float(n_nodes))),
            iterations,
        )
        return ranks.select("node", "rank")


def pagerank_sql(
    iterations: int = 10,
    damping: float = 0.85,
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
    init: Optional[str] = None,
    weight: Optional[str] = None,
) -> str:
    """Unrolled-CTE replay of ``pagerank`` (one CTE per round — standard
    SQL forbids aggregation in a recursive term, so the oracle unrolls;
    fine for the fixed iteration counts a contract query pins). Emits a
    full query ``(node, rank)``; prepend the edge CTE ``table``.
    ``init`` names a ``(node, rank)`` table/CTE replaying the
    warm-start: missing nodes at 1/N, renormalized to sum 1.
    ``weight`` names the edge-weight column replaying the weighted
    split (callers must pre-filter non-positive weights like the
    engine, or accept the ew CTE's filter)."""
    d = float(damping)
    if weight is not None:
        # filtered+projected edge CTE mirroring the engine's weight gate
        edge_cte = (
            f"ew AS (SELECT {src}, {dst}, CAST({weight} AS DOUBLE) AS w "
            f"FROM {table} WHERE {weight} IS NOT NULL AND {weight} > 0)"
        )
        table = "ew"
    else:
        edge_cte = None
    if init is None:
        r0 = "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
        ctes_init: List[str] = [r0]
    else:
        ctes_init = [
            f"w0 AS (SELECT nodes.node, "
            f"COALESCE(i.rank, 1.0 / (SELECT n FROM nn)) AS w "
            f"FROM nodes LEFT JOIN {init} i ON nodes.node = i.node)",
            "r0 AS (SELECT node, w / (SELECT SUM(w) FROM w0) AS rank "
            "FROM w0)",
        ]
    deg_expr = (
        "SUM(w)" if weight is not None else "CAST(count(*) AS DOUBLE)"
    )
    share = "p.rank * {t}.w / od.deg" if weight is not None else (
        "p.rank / od.deg"
    )
    ctes: List[str] = [
        *([edge_cte] if edge_cte else []),
        f"nodes AS (SELECT {src} AS node FROM {table} "
        f"UNION SELECT {dst} AS node FROM {table})",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        f"od AS (SELECT {src} AS node, {deg_expr} AS deg "
        f"FROM {table} GROUP BY 1)",
        *ctes_init,
    ]
    share = share.format(t=table)
    for i in range(iterations):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(
            f"""{cur} AS (
  SELECT nodes.node,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (
             COALESCE(c.recv, 0.0)
             + (SELECT COALESCE(SUM(p.rank), 0.0) FROM {prev} p
                LEFT JOIN od ON p.node = od.node WHERE od.node IS NULL)
               / (SELECT n FROM nn)
           ) AS rank
  FROM nodes
  LEFT JOIN (
    SELECT {table}.{dst} AS node, SUM({share}) AS recv
    FROM {table}
    JOIN {prev} p ON {table}.{src} = p.node
    JOIN od ON {table}.{src} = od.node
    GROUP BY 1
  ) c ON nodes.node = c.node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{iterations}"
    )


def cooccurrence_edges(
    df: DataFrame,
    doc_col: str = "url",
    entity_col: str = "surface",
    min_count: int = 1,
    max_per_doc: int = None,
    observation=None,
) -> DataFrame:
    """Relationship-candidate generation: an undirected co-occurrence
    edge ``(a, b, n_docs)`` for every pair of entities appearing in the
    same document (``a < b`` canonical orientation), counted across the
    corpus and thresholded at ``min_count`` — the step between mention
    detection and relationship emission in a KG build.

    Scale shape: distinct → one groupBy(doc) collecting the SORTED
    distinct entity list, pair expansion as a JVM higher-order
    transform×slice flatten (no self-join — the quadratic blowup stays
    inside one row's array, never crosses a shuffle), then one
    map-side-combined pair count. A flood document (10k entities → 50M
    pairs) is the hazard, so ``max_per_doc`` caps each doc's list (first
    N in sorted order — deterministic) and, with an ``observation``
    (``dedup.drop_observation``), reports (dropped docs, dropped
    entities) as dropped_buckets/dropped_members — the same no-silent-cap
    posture as every bucketed pair generator in this repo.
    """
    per_doc = (
        df.select(F.col(doc_col).alias("_doc"), F.col(entity_col).alias("_e"))
        .distinct()
        .groupBy("_doc")
        .agg(F.sort_array(F.collect_set("_e")).alias("_ents"))
    )
    if max_per_doc is not None:
        if max_per_doc < 2:
            raise ValueError("max_per_doc must be >= 2 (pairs need two)")
        sz = F.size("_ents")
        if observation is not None:
            per_doc = per_doc.observe(
                observation,
                F.coalesce(
                    F.sum(F.when(sz > max_per_doc, 1).otherwise(0)),
                    F.lit(0),
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(F.when(sz > max_per_doc, sz - max_per_doc)),
                    F.lit(0),
                ).alias("dropped_members"),
            )
        per_doc = per_doc.withColumn(
            "_ents", F.slice("_ents", 1, max_per_doc)
        )
    ents = F.col("_ents")
    pairs = F.flatten(
        F.transform(
            ents,
            lambda x, i: F.transform(
                F.slice(ents, i + F.lit(2), F.size(ents)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        per_doc.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_count)
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_neighbors: int = None,
    observation=None,
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    UNDIRECTED simple graph: ``(node, deg, triangles, clustering)`` with
    ``clustering = 2·T / (deg·(deg−1))`` (0.0 when deg < 2) — the
    community-density census a KG consumer runs to find tightly-knit
    entity clusters (and the input to "is this merge candidate embedded
    in a clique" review heuristics).

    Exactness: deg and T are exact integers; the coefficient is one
    correctly-rounded IEEE double division of exact ints, so it is
    bit-identical on any engine — no rounding fudge for the oracle.

    Scale shape: the wedge expansion (all neighbor pairs per center)
    rides the same in-row transform×slice flatten as
    ``cooccurrence_edges`` — a hub's quadratic blowup never crosses a
    shuffle and is capped by ``max_neighbors`` with observed drops
    (degrees stay UNCAPPED — the cap bounds wedge candidates only, so a
    capped run undercounts triangles but never misstates degree).
    Wedges then semi-count against the (a<b) edge set in ONE shuffled
    equi-join on the pair key; per-center counts are map-side combined.
    """
    und = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .filter(F.col("_u") != F.col("_v"))
    )
    adj = und.unionByName(
        und.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    ).distinct()
    deg = adj.groupBy(F.col("_u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    # undirected edge set in canonical a<b orientation for the wedge probe
    ue = adj.filter(F.col("_u") < F.col("_v")).select(
        F.col("_u").alias("a"), F.col("_v").alias("b")
    )
    per_center = adj.groupBy("_u").agg(
        F.sort_array(F.collect_set("_v")).alias("_nb")
    )
    if max_neighbors is not None:
        if max_neighbors < 2:
            raise ValueError("max_neighbors must be >= 2 (wedges need two)")
        sz = F.size("_nb")
        if observation is not None:
            per_center = per_center.observe(
                observation,
                F.coalesce(
                    F.sum(F.when(sz > max_neighbors, 1).otherwise(0)),
                    F.lit(0),
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(F.when(sz > max_neighbors, sz - max_neighbors)),
                    F.lit(0),
                ).alias("dropped_members"),
            )
        per_center = per_center.withColumn(
            "_nb", F.slice("_nb", 1, max_neighbors)
        )
    nb = F.col("_nb")
    wedges = F.flatten(
        F.transform(
            nb,
            lambda x, i: F.transform(
                F.slice(nb, i + F.lit(2), F.size(nb)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    tri = (
        per_center.select(
            F.col("_u").alias("node"), F.explode(wedges).alias("_w")
        )
        .select("node", F.col("_w.a").alias("a"), F.col("_w.b").alias("b"))
        .join(ue, on=["a", "b"])
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double")
            )
            .alias("clustering"),
        )
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_neighbors: int = None,
    observation=None,
) -> DataFrame:
    """Structural link prediction / same-as candidate mining: for every
    node pair sharing ≥ ``min_common`` neighbors in the UNDIRECTED graph,
    emit ``(a, b, common, deg_a, deg_b, jaccard)`` with
    ``jaccard = common / (deg_a + deg_b - common)`` — the neighborhood
    overlap score canonicalization reviewers use to propose merges the
    text-similarity pass missed.

    Exactness: common/deg are exact integers and IEEE-754 double division
    is correctly rounded, so ``jaccard`` is bit-identical on any engine —
    no rounding fudge needed for the DuckDB oracle.

    Scale shape: pair generation is ``cooccurrence_edges`` over the
    (center → neighbor) adjacency — the hub-node quadratic blowup stays
    inside one row's sorted array, capped by ``max_neighbors`` with
    observed drops (a 10k-degree hub would otherwise emit 50M candidate
    pairs). Degrees come from one map-side-combined count joined twice;
    both joins broadcast when the degree frame is small, AQE otherwise.
    """
    und = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .filter(F.col("_u") != F.col("_v"))
    )
    adj = und.unionByName(
        und.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    ).distinct()
    # adj: (center _u, neighbor _v); degree(x) = #rows with center = x
    deg = adj.groupBy(F.col("_u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    pairs = cooccurrence_edges(
        adj,
        doc_col="_u",
        entity_col="_v",
        min_count=min_common,
        max_per_doc=max_neighbors,
        observation=observation,
    ).withColumnRenamed("n_docs", "common")
    return (
        pairs.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "deg_a"), on="a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "deg_b"), on="b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection →
    ``(node, label)`` after a FIXED number of rounds.

    Semantics pinned for determinism (and SQL replayability): the graph
    is undirected (each edge votes both ways) with self-loops dropped;
    every node starts labeled with its own id; each round EVERY node
    simultaneously adopts the most frequent label among its neighbors
    PLUS one vote for its own current label (the self-vote damps the
    synchronous 2-cycle oscillation bipartite structures otherwise
    exhibit), ties broken by the smallest label (string order). Fixed
    rounds, not convergence — callers pick the round budget (≈ graph
    diameter is plenty).

    Scale shape: the undirected edge frame is hash-partitioned on its
    probe side once and persisted; each round is (1) one equi-join of
    edges against the N-row label frame, (2) a map-side-combined
    (node, label) count, (3) the argmax as groupBy-max + semi-join +
    groupBy-min — NO window function, so a hub node's votes partial-
    aggregate map-side instead of sorting into one task (same skew
    rationale as connected components). Per-round shuffles touch N-row
    frames; each round closes on a barrier.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    )
    e = (
        und.unionByName(
            und.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
        .repartition(shuffle, "_b")
        .persist()
    )
    nodes = e.select(F.col("_a").alias("node")).distinct().persist()
    labels, _ = materialize(nodes.select("node", F.col("node").alias("label")))
    for _ in range(iterations):
        nbr = e.join(labels, on=e["_b"] == labels["node"]).select(
            F.col("_a").alias("node"), "label"
        )
        votes = (
            nbr.unionByName(labels.select("node", "label"))
            .groupBy("node", "label")
            .agg(F.count("*").alias("_c"))
        )
        # votes (the expensive edge-join + groupBy) feeds BOTH the
        # per-node max and the pick join — materialize once instead of
        # evaluating the subtree twice (same fix as hits())
        votes, _ = materialize(votes)
        top = votes.groupBy("node").agg(F.max("_c").alias("_mc"))
        picked = (
            votes.join(top, on="node")
            .where(F.col("_c") == F.col("_mc"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # isolated nodes cannot exist here (nodes come from the edge
        # frame), but a COALESCE keeps the invariant explicit if the
        # caller ever unions extra nodes in
        nxt, _ = materialize(
            labels.select("node", F.col("label").alias("_prev"))
            .join(picked, on="node", how="left")
            .select(
                "node", F.coalesce("label", F.col("_prev")).alias("label")
            )
        )
        release(labels, votes)
        labels = nxt
    e.unpersist()
    nodes.unpersist()
    return labels


def label_propagation_sql(
    iterations: int = 5,
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """Unrolled-CTE replay of ``label_propagation`` (one CTE chain per
    round — aggregation is illegal in a recursive term, and the round
    count is fixed anyway). Emits a full query ``(node, label)``;
    prepend the edge CTE ``table``."""
    ctes: List[str] = [
        f"""u AS (
  SELECT {src} AS a, {dst} AS b FROM {table} WHERE {src} <> {dst}
  UNION
  SELECT {dst} AS a, {src} AS b FROM {table} WHERE {src} <> {dst}
)""",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM u)",
    ]
    for i in range(iterations):
        prev, cur = f"l{i}", f"l{i + 1}"
        votes = f"""SELECT s.node, s.label, count(*) AS c FROM (
      SELECT u.a AS node, p.label FROM u JOIN {prev} p ON u.b = p.node
      UNION ALL SELECT node, label FROM {prev}
    ) s GROUP BY 1, 2"""
        ctes.append(
            f"""{cur} AS (
  SELECT c.node, MIN(c.label) AS label
  FROM ({votes}) c
  JOIN (
    SELECT node, MAX(c) AS mc FROM ({votes}) v GROUP BY 1
  ) m ON c.node = m.node AND c.c = m.mc
  GROUP BY c.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{iterations}"
    )


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    length: int = 4,
    salt: str = "walk",
    hash_mode: str = "xxhash64",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation for KG/graph-embedding
    training — hash-driven, not RNG-driven, for the same reason the
    samplers are (operators/sampling.py): a walk must be a pure function
    of its key so shards regenerate identically across cluster sizes,
    retries, and engines. Returns long format
    ``(start, walk, step, node)`` — ``walks_per_node`` walks from EVERY
    node, steps ``0..length``, a walk ending early at a dead end (no
    out-edges).

    Step rule: from node ``c`` at step ``s`` of walk ``(start, w)``, the
    next node is ``nbrs[H(start‖w‖s‖c‖salt) mod deg]`` over the SORTED
    distinct out-neighbor array — ``md5_60`` mode replays bit-exactly in
    DuckDB (``random_walks_sql``), ``xxhash64`` is the production mode.

    Scale shape: adjacency is built once — one groupBy collecting each
    node's sorted neighbor array — hash-partitioned on node id and
    persisted; each of the ``length`` rounds is ONE equi-join of the
    (N·walks_per_node)-row frontier against it, with the pick an in-row
    ``element_at`` (no per-neighbor explosion, no shuffle of neighbor
    lists); each step closes on a barrier, and every step is part of the
    returned corpus, so none is released. A hub's array is
    as long as its out-degree — the same bound its adjacency already
    costs anywhere else; cap out-degree upstream if hubs are degenerate.
    """
    from .dedup import content_hash64

    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    if length < 0:
        raise ValueError("length must be >= 0")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
    )
    adj = (
        e.groupBy(F.col("_s").alias("_anode"))
        .agg(F.sort_array(F.collect_set("_d")).alias("_nbrs"))
        .repartition(shuffle, "_anode")
        .persist()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    frontier = nodes.select(
        F.col("node").alias("start"),
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("_w"),
        F.col("node"),
    ).select(
        "start",
        F.col("_w").cast("long").alias("walk"),
        F.lit(0).cast("long").alias("step"),
        "node",
    )
    parts = [frontier]
    for s in range(1, length + 1):
        h = content_hash64(
            F.concat_ws(
                "\x1f",
                F.col("start").cast("string"),
                F.col("walk").cast("string"),
                F.lit(str(s)),
                F.col("node").cast("string"),
                F.lit(salt),
            ),
            hash_mode,
        )
        frontier, _ = materialize(
            frontier.join(adj, on=frontier["node"] == adj["_anode"])
            .select(
                "start",
                "walk",
                F.lit(s).cast("long").alias("step"),
                F.element_at(
                    "_nbrs",
                    (F.pmod(h, F.size("_nbrs")) + F.lit(1)).cast("int"),
                ).alias("node"),
            )
        )
        parts.append(frontier)
    # every step is materialized: nothing reads the adjacency any more
    adj.unpersist()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def random_walks_sql(
    walks_per_node: int = 2,
    length: int = 4,
    salt: str = "walk",
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """Unrolled-CTE DuckDB replay of ``random_walks`` in md5_60 mode —
    one CTE per step (the pick depends on the previous step's node, and
    the round count is fixed). Emits ``(start, walk, step, node)``."""
    q = salt.replace("'", "''")
    ctes: List[str] = [
        f"""u AS (
  SELECT DISTINCT {src} AS s, {dst} AS d FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
)""",
        "adj AS (SELECT s, list_sort(list(DISTINCT d)) AS nbrs "
        "FROM u GROUP BY 1)",
        "nodes AS (SELECT s AS node FROM u UNION SELECT d FROM u)",
        f"""w0 AS (
  SELECT node AS start, CAST(r.w AS BIGINT) AS walk,
         CAST(0 AS BIGINT) AS step, node
  FROM nodes CROSS JOIN range(0, {int(walks_per_node)}) r(w)
)""",
    ]
    for s in range(1, length + 1):
        key = (
            f"(CAST(p.start AS VARCHAR) || chr(31) || "
            f"CAST(p.walk AS VARCHAR) || chr(31) || '{s}' || chr(31) || "
            f"CAST(p.node AS VARCHAR) || chr(31) || '{q}')"
        )
        h = f"('0x' || substr(md5({key}), 1, 15))::BIGINT"
        ctes.append(
            f"""w{s} AS (
  SELECT p.start, p.walk, CAST({s} AS BIGINT) AS step,
         a.nbrs[CAST(({h} % len(a.nbrs)) + 1 AS INT)] AS node
  FROM w{s - 1} p JOIN adj a ON p.node = a.s
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM w{s}" for s in range(0, length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


def neighbor_sample(
    edges: DataFrame,
    seeds: Optional[DataFrame] = None,
    fanouts: Sequence[int] = (10, 5),
    salt: str = "gnn",
    hash_mode: str = "xxhash64",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling for GNN minibatch
    training — deterministic (hash-ranked, not RNG) like ``random_walks``
    and for the same reason: a minibatch's sampled subgraph must be a
    pure function of (graph, seeds, salt) so epochs regenerate
    identically across cluster sizes and engines. Returns the sampled
    edge frame ``(layer, u, v)``: layer ``l`` (1-based) holds up to
    ``fanouts[l-1]`` out-edges per frontier node ``u``, ranked by
    ``H(u‖v‖l‖salt)`` with ties to the smaller neighbor id; layer
    ``l``'s distinct targets become layer ``l+1``'s frontier.

    Scale shape: the pick is IN-ROW — each frontier node's neighbor
    array is hash-decorated with a Catalyst higher-order ``transform``,
    ``array_sort``-ed, and ``slice``-d to the fanout BEFORE the explode,
    so a hub contributes ``fanout`` rows to the shuffle, not ``degree``
    (no window, no per-neighbor row explosion). One adjacency build,
    one frontier equi-join per layer.
    """
    from .dedup import content_hash64

    for k in fanouts:
        if k < 1:
            raise ValueError("every fanout must be >= 1")
    if not fanouts:
        raise ValueError("fanouts must be non-empty")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
    )
    adj = (
        e.groupBy(F.col("_s").alias("_anode"))
        .agg(F.sort_array(F.collect_set("_d")).alias("_nbrs"))
        .repartition(shuffle, "_anode")
        .persist()
    )
    if seeds is None:
        frontier = e.select(F.col("_s").alias("node")).unionByName(
            e.select(F.col("_d").alias("node"))
        ).distinct()
    else:
        frontier = seeds.select(F.col(seeds.columns[0]).alias("node"))
    parts = []
    for li, k in enumerate(fanouts, start=1):
        joined = frontier.join(adj, on=frontier["node"] == adj["_anode"])
        decorated = F.transform(
            F.col("_nbrs"),
            lambda v: F.struct(
                content_hash64(
                    F.concat_ws(
                        "\x1f",
                        F.col("node").cast("string"),
                        v.cast("string"),
                        F.lit(str(li)),
                        F.lit(salt),
                    ),
                    hash_mode,
                ).alias("h"),
                v.alias("v"),
            ),
        )
        samp = joined.select(
            F.lit(li).cast("long").alias("layer"),
            F.col("node").alias("u"),
            F.explode(
                F.slice(F.array_sort(decorated), 1, int(k))
            ).alias("_p"),
        ).select("layer", "u", F.col("_p.v").alias("v"))
        parts.append(samp)
        frontier = samp.select(F.col("v").alias("node")).distinct()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def neighbor_sample_sql(
    seeds_sql: str,
    fanouts: Sequence[int] = (10, 5),
    salt: str = "gnn",
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB replay of ``neighbor_sample`` in md5_60 mode:
    ``seeds_sql`` is a query producing one column ``node`` (pass e.g.
    ``"SELECT DISTINCT src AS node FROM e UNION SELECT dst FROM e"``
    for the all-nodes default). The per-node top-k is a ROW_NUMBER over
    (hash, neighbor) — same order the engine's in-row sort uses."""
    q = salt.replace("'", "''")
    ctes: List[str] = [
        f"""u AS (
  SELECT DISTINCT {src} AS s, {dst} AS d FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
)""",
        f"f0 AS ({seeds_sql})",
    ]
    sels: List[str] = []
    for li, k in enumerate(fanouts, start=1):
        key = (
            f"(CAST(f.node AS VARCHAR) || chr(31) || "
            f"CAST(u.d AS VARCHAR) || chr(31) || '{li}' || chr(31) || "
            f"'{q}')"
        )
        h = f"('0x' || substr(md5({key}), 1, 15))::BIGINT"
        ctes.append(
            f"""s{li} AS (
  SELECT layer, u, v FROM (
    SELECT CAST({li} AS BIGINT) AS layer, f.node AS u, u.d AS v,
           ROW_NUMBER() OVER (PARTITION BY f.node
                              ORDER BY {h}, u.d) AS rk
    FROM f{li - 1} f JOIN u ON f.node = u.s
  ) r WHERE rk <= {int(k)}
)"""
        )
        ctes.append(f"f{li} AS (SELECT DISTINCT v AS node FROM s{li})")
        sels.append(f"SELECT * FROM s{li}")
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """K-core decomposition (fixed ``k``): the maximal subgraph in which
    every node keeps undirected degree ≥ ``k`` — the standard "dense
    core vs. fringe" split (spam-farm detection, entity-hub isolation,
    GNN training-subgraph selection). Returns the surviving nodes with
    their in-core degree: ``(node, core_deg)``.

    Algorithm: synchronous peeling — each round drops EVERY node whose
    degree among the current survivors is < k, simultaneously, until a
    fixed point. Simultaneous removal makes the result order-free (it
    is the unique maximal k-core regardless of peel order) and lets an
    unrolled-SQL oracle replay it: any unroll depth ≥ the convergence
    round count produces the identical set (extra rounds are no-ops at
    the fixed point). Raises after ``max_rounds`` instead of silently
    returning an unconverged set.

    Scale shape: the undirected edge frame is built once; each round is
    one map-side-combined degree count over the surviving edge set and
    two semi-joins that shrink it. Two barriers per round (the survivor
    list, observing its count, and the shrunk edge set); rounds = peel
    depth (≤ graph degeneracy ladder, typically ≪ 10 on web graphs).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    )
    e = (
        und.unionByName(
            und.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
        .repartition(shuffle, "_a")
        .persist()
    )
    cur = e
    alive = n_prev = None
    for _ in range(int(max_rounds)):
        prev_alive = alive
        # alive feeds both semi-join sides — materialize the (small) node
        # list once instead of re-running the degree aggregation per use
        alive, (n_alive,) = materialize(
            cur.groupBy(F.col("_a").alias("node"))
            .agg(F.count("*").alias("core_deg"))
            .filter(F.col("core_deg") >= k),
            F.count(F.lit(1)),
        )
        release(prev_alive)
        if n_alive == n_prev or n_alive == 0:
            release(cur)
            e.unpersist()
            return alive
        n_prev = n_alive
        keep = alive.select("node")
        keep2 = alive.select(F.col("node").alias("_n2"))
        nxt, _ = materialize(
            cur.join(keep, on=cur["_a"] == keep["node"], how="left_semi")
            .join(keep2, on=F.col("_b") == keep2["_n2"], how="left_semi")
        )
        release(cur)
        cur = nxt
    release(alive, cur)
    e.unpersist()
    raise RuntimeError(
        f"k_core did not converge in {max_rounds} rounds"
    )


def k_core_sql(
    k: int = 2,
    rounds: int = 8,
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """Unrolled-CTE replay of ``k_core``: ``rounds`` synchronous peels.
    Correct whenever the data converges within ``rounds`` (extra
    unrolled rounds are no-ops at the fixed point — the engine side
    RAISES if it needed more, so a too-shallow unroll cannot silently
    diverge)."""
    ctes: List[str] = [
        f"""u AS (
  SELECT {src} AS a, {dst} AS b FROM {table} WHERE {src} <> {dst}
  UNION
  SELECT {dst} AS a, {src} AS b FROM {table} WHERE {src} <> {dst}
)""",
        "e0 AS (SELECT a, b FROM u)",
    ]
    for i in range(1, rounds + 1):
        prev, cur = f"e{i - 1}", f"e{i}"
        # MATERIALIZED: each round references the previous CTE several
        # times — default CTE inlining would expand the tree ~3^rounds
        ctes.append(
            f"""alive{i} AS MATERIALIZED (
  SELECT a AS node FROM {prev} GROUP BY a HAVING count(*) >= {int(k)}
)"""
        )
        ctes.append(
            f"""{cur} AS MATERIALIZED (
  SELECT p.a, p.b FROM {prev} p
  WHERE p.a IN (SELECT node FROM alive{i})
    AND p.b IN (SELECT node FROM alive{i})
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg "
        f"FROM e{rounds} GROUP BY a HAVING count(*) >= {int(k)}"
    )

def hits(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Kleinberg HITS → ``(node, hub, auth)``, L1-normalized after each
    half-step (sum of hubs = sum of auths = 1 once the graph has any
    edge; isolated directions score exact 0.0, never NULL).

    Update rule (classic, so the unrolled-SQL oracle replays it
    exactly): per round, ``auth_i = Σ hub_j over edges j→i`` then
    normalize, then ``hub_j = Σ auth_i over edges j→i`` (the NEW auths)
    then normalize. Hubs initialize to 1.0.

    Scale shape mirrors ``pagerank``: the edge frame persists once;
    each round shuffles only the two N-row score frames (groupBy dst
    then groupBy src, both map-side combined). Each half-step's raw
    aggregate closes on a barrier that also observes its L1 total, so
    normalization is a literal — no per-round action besides the
    barriers.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .persist()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    hubs, _ = materialize(nodes.withColumn("hub", F.lit(1.0)))
    auths = nodes.withColumn("auth", F.lit(0.0))

    def _half_step(scores: DataFrame, col: str, join_on: str,
                   group_to: str, out: str):
        # ``raw`` (the expensive e⋈scores + groupBy) feeds BOTH the
        # normalization total and the outer join below; unmaterialized,
        # the plan evaluates the whole join+aggregate subtree twice per
        # half-step. The barrier computes it once, and the L1 total rides
        # the same job.
        raw, (tot,) = materialize(
            e.join(scores, on=e[join_on] == scores["node"])
            .groupBy(F.col(group_to).alias("node"))
            .agg(F.sum(col).alias("_v")),
            F.coalesce(F.sum("_v"), F.lit(0.0)),
        )
        tot_col = F.lit(float(tot))
        scored = nodes.join(raw, on="node", how="left").select(
            "node",
            F.when(
                tot_col != 0.0,
                F.coalesce(F.col("_v"), F.lit(0.0)) / tot_col,
            )
            .otherwise(F.lit(0.0))
            .alias(out),
        )
        return scored, raw

    # hubs/auths are cheap N-row joins over the half-steps' barriers; a
    # half-step's raw frame is superseded once the next round's half-step
    # of the same kind has materialized
    hubs_raw, auths_raw = hubs, None
    for _ in range(iterations):
        auths, nxt_auths_raw = _half_step(hubs, "hub", "_s", "_d", "auth")
        release(auths_raw)
        auths_raw = nxt_auths_raw
        hubs, nxt_hubs_raw = _half_step(auths, "auth", "_d", "_s", "hub")
        release(hubs_raw)
        hubs_raw = nxt_hubs_raw
    result = hubs.join(auths, on="node")
    e.unpersist()
    nodes.unpersist()
    return result.select("node", "hub", "auth")


def hits_sql(
    iterations: int = 10,
    table: str = "e",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """Unrolled-CTE replay of ``hits`` (two CTE pairs per round; standard
    SQL forbids aggregation in a recursive term, so the oracle unrolls —
    fine for the fixed iteration counts a contract query pins). CTEs are
    MATERIALIZED: each round references its predecessor three times
    (join + scalar-sum subquery + next round), so default inlining
    expands ~3^rounds — the same blowup ``k_core_sql`` guards against.
    Emits a full query ``(node, hub, auth)``; prepend the edge CTE
    ``table``."""
    ctes: List[str] = [
        f"nodes AS (SELECT {src} AS node FROM {table} "
        f"UNION SELECT {dst} AS node FROM {table})",
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
        "a0 AS (SELECT node, 0.0 AS auth FROM nodes)",
    ]
    for i in range(iterations):
        hp, ac, hc = f"h{i}", f"a{i + 1}", f"h{i + 1}"
        ctes.append(
            f"""{ac}r AS MATERIALIZED (
  SELECT {table}.{dst} AS node, SUM(s.hub) AS v
  FROM {table} JOIN {hp} s ON {table}.{src} = s.node GROUP BY 1
)"""
        )
        ctes.append(
            f"""{ac} AS MATERIALIZED (
  SELECT nodes.node,
         COALESCE(COALESCE(r.v, 0.0)
                  / NULLIF((SELECT SUM(v) FROM {ac}r), 0.0), 0.0) AS auth
  FROM nodes LEFT JOIN {ac}r r ON nodes.node = r.node
)"""
        )
        ctes.append(
            f"""{hc}r AS MATERIALIZED (
  SELECT {table}.{src} AS node, SUM(s.auth) AS v
  FROM {table} JOIN {ac} s ON {table}.{dst} = s.node GROUP BY 1
)"""
        )
        ctes.append(
            f"""{hc} AS MATERIALIZED (
  SELECT nodes.node,
         COALESCE(COALESCE(r.v, 0.0)
                  / NULLIF((SELECT SUM(v) FROM {hc}r), 0.0), 0.0) AS hub
  FROM nodes LEFT JOIN {hc}r r ON nodes.node = r.node
)"""
        )
    n = iterations
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT h.node, h.hub, a.auth FROM h{n} h JOIN a{n} a "
        "ON h.node = a.node"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004) →
    ``(node, trust)``; trust sums to 1.

    Personalized PageRank with the teleport vector concentrated on a
    hand-curated SEED set of trusted nodes — the standard spam-demotion
    signal on the host graph (good sites link to good sites; trust
    decays multiplicatively with link distance from the seeds, so spam
    neighborhoods that PageRank rewards for dense internal linking get
    near-zero trust). Semantics, pinned so the unrolled-SQL oracle
    replays exactly: teleport ``t(v) = 1/|S|`` for seed nodes present
    in the graph, else 0; trust initializes to ``t``; per round
    ``trust' = (1-d)·t + d·(received + dangling_mass·t)`` — dangling
    mass re-enters THROUGH the teleport vector (the personalized-PPR
    convention), not uniformly, so trust mass can never leak to
    unreachable spam.

    Scale shape is ``pagerank``'s (the same ``_power_iteration``): the
    seed flag is a broadcast join decided once, each round shuffles only
    the N-row trust frame, and the only per-round action is the barrier.
    Raises if no seed appears in the graph (an all-zero teleport would
    silently drain all mass)."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    s = seeds.select(F.col(seed_col).alias("node")).distinct()
    with _ranking_graph(edges, src, dst, seeds=s) as (e, with_deg):
        n_seeds = with_deg.where(F.col("_seed")).count()
        if n_seeds == 0:
            raise ValueError("trustrank: no seed node appears in the graph")
        teleport = F.when(
            F.col("_seed"), F.lit(1.0 / n_seeds)
        ).otherwise(F.lit(0.0))
        trust = _power_iteration(
            e,
            with_deg,
            with_deg.select(
                "node", "_seed", "_deg", teleport.alias("trust")
            ),
            "trust",
            F.col("trust") / F.col("_deg"),
            lambda recv, dm: F.lit(1.0 - damping) * teleport
            + F.lit(damping) * (recv + dm * teleport),
            iterations,
        )
        return trust.select("node", "trust")


def trustrank_sql(
    iterations: int = 10,
    damping: float = 0.85,
    table: str = "e",
    seeds: str = "s",
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> str:
    """Unrolled-CTE replay of ``trustrank`` (one CTE per round; prepend
    the edge CTE ``table`` and the seed CTE ``seeds``). Emits a full
    query ``(node, trust)``."""
    d = float(damping)
    ctes: List[str] = [
        f"nodes AS (SELECT {src} AS node FROM {table} "
        f"UNION SELECT {dst} AS node FROM {table})",
        f"sd AS (SELECT DISTINCT {seed_col} AS node FROM {seeds} "
        "WHERE node IN (SELECT node FROM nodes))",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sd)",
        """tp AS (
  SELECT nodes.node,
         CASE WHEN sd.node IS NOT NULL
              THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS t
  FROM nodes LEFT JOIN sd ON nodes.node = sd.node
)""",
        f"od AS (SELECT {src} AS node, CAST(count(*) AS DOUBLE) AS deg "
        f"FROM {table} GROUP BY 1)",
        "t0 AS (SELECT node, t AS trust FROM tp)",
    ]
    for i in range(iterations):
        prev, cur = f"t{i}", f"t{i + 1}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
  SELECT tp.node,
         (1.0 - {d}) * tp.t
         + {d} * (
             COALESCE(c.recv, 0.0)
             + (SELECT COALESCE(SUM(p.trust), 0.0) FROM {prev} p
                LEFT JOIN od ON p.node = od.node WHERE od.node IS NULL)
               * tp.t
           ) AS trust
  FROM tp
  LEFT JOIN (
    SELECT {table}.{dst} AS node, SUM(p.trust / od.deg) AS recv
    FROM {table}
    JOIN {prev} p ON {table}.{src} = p.node
    JOIN od ON {table}.{src} = od.node
    GROUP BY 1
  ) c ON tp.node = c.node
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, trust FROM t{iterations}"
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: Optional[int] = None,
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
) -> DataFrame:
    """Multi-source BFS → ``(node, dist)``: minimal hop count from ANY
    source node (sources themselves at 0). The landmark-distance
    feature extractor — link distance from a trusted core (the additive
    companion to ``trustrank``'s multiplicative decay, per Gyöngyi
    2004 §4.2), crawl-depth-from-seeds, and the per-node feature
    GraphSAGE-style samplers consume.

    Semantics pinned for the oracle: sources appear at dist 0 whether
    or not they touch the graph (a landmark is at distance 0 from
    itself); every node reachable over directed edges appears once at
    its minimal distance; unreachable nodes are ABSENT (consumers
    coalesce to their own infinity — emitting every node would force a
    full node-set join the caller may not want).

    Runs on ``graphquery.semi_naive_frontier`` (the kernel behind
    ``transitive_closure``), with state O(N) (node, dist) rather than
    O(N²) pairs: each round joins only the FRONTIER against the edges
    and anti-joins the known set, so a node is never re-derived and
    cycles terminate naturally."""
    from .graphquery import semi_naive_frontier

    return semi_naive_frontier(
        edges,
        lambda e: sources.select(F.col(source_col).alias("node"))
        .where(F.col(source_col).isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0)),
        ["node"],
        "dist",
        0,
        max_hops,
        src,
        dst,
    )


def bfs_distances_sql(
    max_hops: int,
    table: str = "e",
    sources: str = "s",
    src: str = "src",
    dst: str = "dst",
    source_col: str = "node",
) -> str:
    """Recursive-CTE replay of ``bfs_distances``. Returns a full query
    ``(node, dist)``; prepend the edge CTE ``table`` and source CTE
    ``sources``. ``max_hops`` is REQUIRED here (same caveat as
    ``closure_sql``: the UNION dedups (node, dist) pairs, so a cycle
    keeps deriving new dist values forever without a bound; the Spark
    operator's anti-join dedups on node alone and needs no bound)."""
    return f"""
WITH RECURSIVE ed AS (
  SELECT {src} AS src, {dst} AS dst FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL GROUP BY 1, 2
),
reach(node, dist) AS (
  SELECT DISTINCT {source_col} AS node, 0 FROM {sources}
  WHERE {source_col} IS NOT NULL
  UNION
  SELECT ed.dst, r.dist + 1 FROM reach r JOIN ed ON r.node = ed.src
  WHERE r.dist < {int(max_hops)}
)
SELECT node, CAST(MIN(dist) AS INTEGER) AS dist
FROM reach GROUP BY node
"""


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Relative spam mass (Gyöngyi/Berkhin/Garcia-Molina/Pedersen 2005,
    "Link Spam Detection Based on Mass Estimation") →
    ``(node, rank, trust, spam_mass)``.

    ``spam_mass = (rank - trust) / rank``: the fraction of a node's
    PageRank NOT accounted for by trust flowing from the seed core.
    Both inputs sum to 1 over the same node set (``pagerank`` and
    ``trustrank`` here), so no rescaling is needed — the paper's
    core-based estimate with the scale factor folded away. Spam farms
    score → 1 (rank earned, zero trust); the trusted core itself goes
    NEGATIVE (trust exceeds rank near the seeds) — kept raw and
    documented rather than clamped, since consumers threshold high
    values and a clamp would hide how trusted the core is.

    ``rank`` has the ``(1-d)/N`` floor, so the division is total.
    Scale shape: two INDEPENDENT power iterations (each round shuffles
    N-row score frames only) plus one N-row join. The two constituents
    share no state and are latency-bound round chains, so they run
    CONCURRENTLY from two driver threads (guide §2.6: overlap
    independent jobs — each iteration's tail backfills the other's
    idle slots); results are identical to the sequential order because
    each computation is untouched."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _pr():
        return pagerank(
            edges, iterations=iterations, damping=damping,
            src=src, dst=dst,
        )

    def _tr():
        return trustrank(
            edges, seeds, iterations=iterations, damping=damping,
            src=src, dst=dst, seed_col=seed_col,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        fr = pool.submit(inheritable_thread_target(_pr))
        ft = pool.submit(inheritable_thread_target(_tr))
        pr = fr.result()
        tr = ft.result()
    return pr.join(tr, on="node").select(
        "node",
        "rank",
        "trust",
        ((F.col("rank") - F.col("trust")) / F.col("rank")).alias(
            "spam_mass"
        ),
    )


def spam_mass_sql(
    iterations: int = 10,
    damping: float = 0.85,
    table: str = "e",
    seeds: str = "s",
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> str:
    """ANSI replay of ``spam_mass``: the two unrolled-CTE twins run as
    NESTED WITH subqueries (scoping keeps their identical internal CTE
    names apart), joined on node with the identical final expression.
    Returns a full query; prepend edge CTE ``table`` + seed CTE
    ``seeds``."""
    pr = pagerank_sql(
        iterations=iterations, damping=damping,
        table=table, src=src, dst=dst,
    )
    tr = trustrank_sql(
        iterations=iterations, damping=damping,
        table=table, seeds=seeds, src=src, dst=dst, seed_col=seed_col,
    )
    return f"""
SELECT pr.node, pr.rank, tr.trust,
       (pr.rank - tr.trust) / pr.rank AS spam_mass
FROM ({pr}) pr
JOIN ({tr}) tr ON pr.node = tr.node
"""


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: Optional[int] = None,
    src: str = "src",
    dst: str = "dst",
    landmark_col: str = "node",
) -> DataFrame:
    """Per-landmark BFS → ``(node, landmark, dist)``: minimal hop count
    from EACH landmark separately (``bfs_distances`` collapses the seed
    set to one wavefront; this keeps the source identity — the
    landmark-embedding feature vector of Potamias 2009-style distance
    sketches, and the input to harmonic/closeness centrality
    estimators).

    Semantics: every landmark at dist 0 of itself (graph member or
    not); a (node, landmark) pair appears once at its minimal distance;
    unreachable pairs are ABSENT. State is O(N × L) — landmark sets are
    deliberately small (16–64) by design; for |L| = 1..k wavefronts the
    loop runs ALL landmarks simultaneously (one frontier frame carries
    the landmark column), so rounds = max eccentricity / stride, not
    L × rounds.

    Runs on ``graphquery.semi_naive_frontier`` keyed by (landmark,
    node): each round advances the (node, landmark) frontier over the
    edges and anti-joins the known pair set — per-pair derivation
    happens exactly once and cycles terminate naturally."""
    from .graphquery import semi_naive_frontier

    return semi_naive_frontier(
        edges,
        lambda e: landmarks.select(F.col(landmark_col).alias("landmark"))
        .where(F.col(landmark_col).isNotNull())
        .distinct()
        .select(
            F.col("landmark").alias("node"), "landmark", F.lit(0).alias("dist")
        ),
        ["landmark", "node"],
        "dist",
        0,
        max_hops,
        src,
        dst,
    )


def landmark_distances_sql(
    max_hops: int,
    table: str = "e",
    landmarks: str = "s",
    src: str = "src",
    dst: str = "dst",
    landmark_col: str = "node",
) -> str:
    """Recursive-CTE replay of ``landmark_distances`` (bounded — same
    cyclic-graph caveat as ``bfs_distances_sql``). Returns a full query
    ``(node, landmark, dist)``."""
    return f"""
WITH RECURSIVE ed AS (
  SELECT {src} AS src, {dst} AS dst FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL GROUP BY 1, 2
),
reach(node, landmark, dist) AS (
  SELECT DISTINCT {landmark_col}, {landmark_col}, 0 FROM {landmarks}
  WHERE {landmark_col} IS NOT NULL
  UNION
  SELECT ed.dst, r.landmark, r.dist + 1
  FROM reach r JOIN ed ON r.node = ed.src
  WHERE r.dist < {int(max_hops)}
)
SELECT node, landmark, CAST(MIN(dist) AS INTEGER) AS dist
FROM reach GROUP BY node, landmark
"""


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 32,
    max_iterations: int = 400,
) -> DataFrame:
    """Strongly connected components of a directed graph →
    ``(node, scc_id)`` with ``scc_id`` = the MIN member id — the
    link-analysis primitive for spam-ring and redirect-cycle detection
    (a reciprocal-link farm IS a non-trivial SCC; ``resolve_redirects``
    reports cycles pairwise, this names them globally), and the
    condensation step before any DAG-only algorithm.

    Algorithm: distributed forward-backward coloring (Orzan-style —
    the standard shared-nothing SCC scheme; Tarjan's stack is
    inherently sequential). Each outer round, over the still-active
    subgraph: (1) FORWARD min-label fixpoint — ``f(v)`` = min active
    id that can reach ``v``; (2) roots are ``f(v) == v``, and every
    member of a root's SCC provably carries the root's color (any
    smaller in-SCC id would contradict rootness, any reacher of a
    member also reaches the root); (3) BACKWARD mark — nodes reaching
    their root through same-color paths, which is exactly the SCC
    (in-SCC paths never leave the color class); (4) assign + remove.
    Many colors complete per round (one SCC per color class), so
    rounds track the SCC-DAG's depth, not the SCC count. Raises after
    ``max_rounds`` outer rounds or ``max_iterations`` total inner
    fixpoint steps instead of returning a partial decomposition.

    Scale shape: every step is an equi-join on node keys over the
    shrinking active subgraph (no pair materialization, no window);
    the convergence counts inherent to fixed-point iteration ride the
    barriers that truncate lineage, and each superseded round is
    released. Self-loops drop up front (a self-loop never changes an SCC).
    """
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e_lazy = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .distinct()
        .repartition(shuffle, "src")
    )
    nodes_lazy = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    n_active = F.count(F.lit(1))
    # independent derivations of the same input — overlap their barrier
    # jobs (the connected_components init pattern)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fe = _pool.submit(inheritable_thread_target(materialize), e_lazy)
        _fn = _pool.submit(
            inheritable_thread_target(materialize), nodes_lazy, n_active
        )
        e, _ = _fe.result()
        nodes, (n_nodes,) = _fn.result()
    assigned = None
    iters = 0

    def _min_label_fixpoint(labels, lbl, edge_frame):
        """Min-label propagation WITH POINTER JUMPING to the unique
        fixpoint: per iteration, relax ``lbl`` along ``edge_frame``
        (label(dst) folds into src's candidates... direction is encoded
        by the caller's edge frame: contributions flow edge src → dst)
        and then jump ``lbl(v) ← min(lbl(v), lbl(lbl(v)))``. The jump is
        sound because the invariant "lbl(v) reaches v (resp. is reached
        from v) along the relevant paths" is transitive, and the
        FIXPOINT is the same unique min-label either way — jumping only
        halves the effective label-tree depth per round, so rounds drop
        from O(diameter) to O(log diameter) (VERDICT r5 #6). Carries any
        extra columns of ``labels`` through unchanged. The
        changed-label count rides the iteration's barrier. Returns
        ``(labels, barrier)``: the fixpoint and the checkpoint it reads,
        for the caller to release."""
        nonlocal iters
        f, ckpt = labels, None
        while True:
            iters += 1
            if iters > max_iterations:
                raise RuntimeError(
                    f"strongly_connected_components exceeded "
                    f"{max_iterations} inner fixpoint iterations"
                )
            extra = [c for c in f.columns if c not in ("node", lbl)]
            incoming = (
                edge_frame.join(
                    f.select(F.col("node").alias("src"), F.col(lbl)), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(lbl).alias("_lin"))
            )
            # materialize before the self-join below — otherwise the
            # expensive edge-join/groupBy subtree evaluates once per join
            # side
            relaxed, _ = materialize(
                f.join(incoming, "node", "left").select(
                    "node",
                    *extra,
                    F.col(lbl).alias("_l0"),
                    F.least(
                        F.col(lbl), F.coalesce("_lin", F.col(lbl))
                    ).alias("_l1"),
                )
            )
            jump = relaxed.select(
                F.col("node").alias("_jn"), F.col("_l1").alias("_jl")
            )
            l2 = F.least(F.col("_l1"), F.coalesce("_jl", F.col("_l1")))
            nxt, (changed,) = materialize(
                relaxed.join(jump, relaxed["_l1"] == jump["_jn"], "left")
                .select("node", *extra, l2.alias(lbl), (l2 < F.col("_l0")).alias("_chg")),
                F.coalesce(F.sum(F.col("_chg").cast("long")), F.lit(0)),
            )
            release(relaxed, ckpt)
            f, ckpt = nxt.drop("_chg"), nxt
            if not changed:
                return f, ckpt

    for _ in range(int(max_rounds)):
        if n_nodes == 0:
            break
        # (1) forward min-label fixpoint on the active subgraph:
        # f(v) = min active id that reaches v (contributions flow src→dst)
        f, f_ckpt = _min_label_fixpoint(
            nodes.select("node", F.col("node").alias("f")), "f", e
        )
        # (2)+(3) backward mark within color classes, reformulated as a
        # second min-label fixpoint instead of the old one-hop-per-round
        # frontier growth (which needed O(diameter) rounds of
        # union+distinct+count): over the SAME-COLOR edge subgraph,
        # b(v) = min id reachable FROM v in-class (contributions flow
        # dst→src, i.e. along reversed edges). Every in-class id is ≥ the
        # root r (r is the min reacher of each member, and v reaches v),
        # so b(v) == f(v) ⟺ v reaches its root through same-color paths —
        # exactly the old marked set.
        ec, _ = materialize(
            e.join(
                f.select(F.col("node").alias("src"), F.col("f").alias("_fs")),
                "src",
            )
            .join(
                f.select(F.col("node").alias("dst"), F.col("f").alias("_fd")),
                "dst",
            )
            .where(F.col("_fs") == F.col("_fd"))
            # reversed orientation: the fixpoint helper propagates src→dst
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        b, b_ckpt = _min_label_fixpoint(
            f.select("node", "f", F.col("node").alias("b")), "b", ec
        )
        marked, _ = materialize(
            b.where(F.col("b") == F.col("f")).select("node", "f")
        )
        release(f_ckpt, ec, b_ckpt)
        part = marked.select("node", F.col("f").alias("scc_id"))
        if assigned is None:
            assigned, assigned_ckpt = part, marked
        else:
            nxt_assigned, _ = materialize(assigned.unionByName(part))
            release(assigned_ckpt)
            assigned = assigned_ckpt = nxt_assigned
        # (4) shrink the active subgraph
        nxt_nodes, (n_nodes,) = materialize(
            nodes.join(marked, "node", "left_anti"), n_active
        )
        nxt_e, _ = materialize(
            e.join(nxt_nodes, e["src"] == nxt_nodes["node"], "left_semi")
            .join(
                nxt_nodes.select(F.col("node").alias("_n2")),
                F.col("dst") == F.col("_n2"),
                "left_semi",
            )
        )
        release(nodes, e)
        if marked is not assigned_ckpt:
            release(marked)
        nodes, e = nxt_nodes, nxt_e
    if n_nodes:
        raise RuntimeError(
            f"strongly_connected_components did not converge in "
            f"{max_rounds} rounds"
        )
    release(e)
    if assigned is None:  # edgeless input
        return nodes.select("node", F.col("node").alias("scc_id"))
    release(nodes)
    return assigned


def strongly_connected_components_sql(
    table: str = "e", src: str = "src", dst: str = "dst"
) -> str:
    """ANSI replay via pairwise reachability (recursive CTE) — fully
    independent of the coloring algorithm: ``scc_id(u)`` = min ``w``
    with ``u→w`` and ``w→u`` (identity pairs included). The node set
    comes from the raw non-null ids, so a node whose only edge is a
    self-loop is its own SCC, as in the operator."""
    return f"""
WITH RECURSIVE ed AS (
  SELECT DISTINCT {src} AS s, {dst} AS d FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL AND {src} <> {dst}
),
nd AS (
  SELECT {src} AS node FROM {table} WHERE {src} IS NOT NULL
  UNION SELECT {dst} FROM {table} WHERE {dst} IS NOT NULL
),
reach AS (
  SELECT s, d FROM ed
  UNION
  SELECT r.s, ed.d FROM reach r JOIN ed ON r.d = ed.s
),
pairs AS (
  SELECT s, d FROM reach
  UNION
  SELECT node, node FROM nd
)
SELECT p.s AS node, min(p.d) AS scc_id
FROM pairs p JOIN pairs q ON p.s = q.d AND p.d = q.s
GROUP BY p.s
"""


def condense_graph(
    assignment: DataFrame,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Condensation: collapse each SCC (from
    ``strongly_connected_components``) to one node →
    ``(src_scc, dst_scc, n_edges)`` with intra-SCC edges dropped. The
    result is a DAG by construction — the precondition for every
    level/topological algorithm — and the graph link analysis actually
    wants after naming spam rings (a 10k-page link farm becomes ONE
    node with its aggregate in/out edges).

    Two node-keyed equi-joins + one grouped count; n_edges counts the
    underlying edge rows (dedupe upstream for set semantics)."""
    a_src = assignment.select(
        F.col("node").alias(src), F.col("scc_id").alias("_cs")
    )
    a_dst = assignment.select(
        F.col("node").alias(dst), F.col("scc_id").alias("_cd")
    )
    return (
        edges.join(a_src, src)
        .join(a_dst, dst)
        .where(F.col("_cs") != F.col("_cd"))
        .groupBy(
            F.col("_cs").alias("src_scc"), F.col("_cd").alias("dst_scc")
        )
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def dag_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Longest-path layering of a DAG → ``(node, layer)``: sources at
    layer 0, every other node at 1 + max(layer of predecessors) — the
    schedule a dependency-ordered batch processor runs level by level
    (after ``condense_graph``, the crawl-refresh order of SCCs).

    Fixpoint: layer(v) = max over incoming of layer(u)+1, synchronous
    rounds; converges in DAG-depth rounds. Raises after ``max_rounds``
    — which a CYCLE always triggers (its layers grow forever), so the
    raise doubles as a not-a-DAG detector rather than looping silently.

    Scale shape: one node-keyed join + grouped max per round over the
    edge frame, closed by a barrier that also observes the round's
    changed-layer count (the convergence test)."""
    e, _ = materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    lvl, _ = materialize(nodes.select("node", F.lit(0).alias("layer")))
    for _ in range(int(max_rounds)):
        incoming = (
            e.join(lvl, e["s"] == lvl["node"])
            .groupBy(F.col("d").alias("node"))
            .agg((F.max("layer") + 1).alias("_cand"))
        )
        cand = F.coalesce("_cand", F.col("layer"))
        nxt, (changed,) = materialize(
            lvl.join(incoming, "node", "left").select(
                "node",
                F.greatest(F.col("layer"), cand).alias("layer"),
                (cand > F.col("layer")).alias("_chg"),
            ),
            F.coalesce(F.sum(F.col("_chg").cast("long")), F.lit(0)),
        )
        release(lvl)
        lvl = nxt
        if not changed:
            release(e)
            return lvl.drop("_chg")
    release(e, lvl)
    raise RuntimeError(
        f"dag_layers did not converge in {max_rounds} rounds — "
        "cyclic input or depth beyond the cap (condense first)"
    )


def dag_layers_sql(
    table: str = "e", src: str = "src", dst: str = "dst"
) -> str:
    """ANSI replay of ``dag_layers``: recursive path lengths from the
    sources, max per node — independent of the fixpoint scheme."""
    return f"""
WITH RECURSIVE ed AS (
  SELECT DISTINCT {src} AS s, {dst} AS d FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
),
nd AS (SELECT s AS node FROM ed UNION SELECT d FROM ed),
lv AS (
  SELECT node, 0 AS l FROM nd
  WHERE node NOT IN (SELECT d FROM ed)
  UNION ALL
  SELECT ed.d, lv.l + 1 FROM lv JOIN ed ON lv.node = ed.s
)
SELECT node, max(l) AS layer FROM lv GROUP BY node
"""
