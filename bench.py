"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value", "unit": "sec", "queries": {...}, "sf", ...extras}.

--slopes runs the stages at two amplification tiers, each in a fresh
``bench.py`` subprocess, and reports the per-stage data-scaling slope
(BENCH/tier2_slopes.json).

The corpus is amplified deterministically (copies with distinct urls →
distinct fingerprints) so throughput is steady-state, not session-startup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "16"))


def make_spark(cores: int):
    from pyspark.sql import SparkSession

    from perfbench.host import driver_memory_mb

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"kg-bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "5000"),
        )
        # 64 MB broadcast ceiling (default 10 MB): signature/shingle-key
        # sides of the dedup/canonicalize verify joins are tens of MB at
        # bench scale — broadcasting them removes two sort-merge exchanges
        # per verify. A 100 TB cluster with 8-32 GB executors makes the
        # same call.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST", "64m"),
        )
        # Small split bins so the staged-corpus parquet read fans out to
        # >=4 tasks/core (the staged files are a few MB each; the 128 MB
        # default would pack them into ~16 read tasks and starve local[32]).
        # A real cluster tunes the same knob against its file sizes.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "8m"),
        )
        # Throughput-batch GC: this job allocates UnsafeRows/Arrow buffers at
        # a rate proportional to core count; tunable so a timing
        # measures dataflow, not collector choice.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
        )
        .getOrCreate()
    )


def amplified_corpus(spark, sf_dir: str, copies: int):
    """Deterministic ×copies corpus: each copy gets a distinct url (and thus
    fingerprint); html/text identical. Partition count scales with input so
    every core has work."""
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.sources.corpus import web_corpus

    base = web_corpus(spark, sf_dir)
    if copies <= 1:
        return base
    dup = spark.range(copies).select(F.col("id").alias("copy"))
    return (
        base.crossJoin(F.broadcast(dup))
        .withColumn("url", F.concat(F.col("url"), F.lit("?c="), F.col("copy")))
        .drop("copy")
        # 8 tasks/core: fine granularity keeps the last wave short when a
        # shared-VM neighbor steals a core mid-job (straggler smoothing) —
        # the same reason a 1000-executor job wants 3-10x tasks/slot
        .repartition(CPUS * 8)
    )


def bench_queries(spark, sf_dir: str):
    """name → (thunk returning a row count, rows_kind). Each thunk builds its
    plan lazily; timing wraps the action."""
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.plans.pipeline import (
        extracted_pages,
        fused_page_triples,
    )

    corpus = amplified_corpus(spark, sf_dir, AMPLIFY)
    # Stage the amplified corpus to parquet and re-read it (untimed) instead
    # of .persist(): a 100 TB job reads columnar storage, not JVM-heap
    # string caches — and the heap cache is the wrong thing to measure
    # anyway (re-scanning GBs of deserialized UTF-16 strings is
    # memory-bandwidth-bound and flattens the 8→32 scaling curve, while
    # parquet decode is per-task CPU work that scales with cores).
    shared = os.environ.get("SPARK_GRAFT_SHARED_STAGE")
    if shared:
        # pre-staged corpus reuse (scripts/tier3_slopes.py): its batches
        # read ONE staged parquet corpus instead of each writing its own
        # copy — staged once up front by bench.py --stage-corpus
        stage_dir = os.path.join(shared, f"amp{AMPLIFY}")
        if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
            corpus.write.mode("overwrite").parquet(stage_dir)
    else:
        stage_dir = tempfile.mkdtemp(prefix="kgbench-corpus-")
        corpus.write.mode("overwrite").parquet(stage_dir)
    corpus = spark.read.parquet(stage_dir)
    n_docs = corpus.count()  # materialize once; not timed
    # Warm python workers (fork + pandas/pyarrow import per core) so timings
    # measure steady-state throughput, not one-time process startup.
    extracted_pages(corpus.limit(CPUS * 8)).select(
        F.sum(F.length("extracted_text"))
    ).collect()

    def q_extract():
        return (
            extracted_pages(corpus)
            .select(F.sum(F.length("extracted_text")))
            .collect()[0][0]
        )

    def q_triples():
        # per_record_meta="first": the production encoding — fingerprint/url
        # are record constants, emitted once per record instead of repeated
        # on all ~15 triple rows (~40% of Arrow transfer bytes). Semantics
        # pinned equal to the denormalized mode in test_pipeline_spark.
        return fused_page_triples(corpus, per_record_meta="first").count()

    docs = corpus.select(
        F.xxhash64("url").alias("doc_id"), F.col("text")
    )

    def q_minhash_dedup():
        """Realistic dedup staging: exact dedup FIRST collapses the ×AMPLIFY
        copies (uniform-hash shuffle), then MinHash-LSH runs on canonical
        docs only — running LSH on a corpus full of exact dups degenerates
        every band bucket into an O(copies²) pair generator.

        Document TEXT never crosses a shuffle: the exact-dedup window moves
        only (doc_id, content_hash), and the canonical-id set (small by
        construction after collapse) is BROADCAST back onto the narrow doc
        scan — signatures are then computed post-filter with no exchange.
        When the canonical side is too big to broadcast (low dup rate at
        100 TB), flip the order: minhash_signatures on the raw corpus
        (narrow), then equi-join ids against the ~0.5 KB/doc signatures —
        either way the text stays put."""
        from case_uco_ontology_map_spark.operators.dedup import (
            exact_dedup,
            minhash_estimate_pairs,
            minhash_signatures,
        )

        canon_ids = (
            exact_dedup(docs).filter(F.col("is_canonical")).select("doc_id")
        )
        canon_docs = docs.join(F.broadcast(canon_ids), "doc_id")
        sigs = minhash_signatures(canon_docs).cache()
        n = minhash_estimate_pairs(sigs, threshold=0.5).count()
        sigs.unpersist()
        return n

    def q_mentions():
        from case_uco_ontology_map_spark.operators.mentions import detect_mentions

        return detect_mentions(
            corpus.select("url", "text")
        ).count()

    def q_quality():
        from case_uco_ontology_map_spark.operators.textstats import quality_features

        return (
            quality_features(corpus.select("text"))
            .select(F.sum("n_tokens"))
            .collect()[0][0]
        )

    def q_canonicalize():
        """North-rule canonicalization stage: per-document entity keys with
        ×AMPLIFY near-identical variants (shared pseudorandom hex base +
        '-vN' suffix) that MUST cluster back to exactly one canonical id
        per document, while distinct documents stay separate (pseudorandom
        bases ⇒ cross-doc Jaccard ≈ 0 — diverse keys, the realistic shape;
        uniform structured keys like full same-host urls are the hot-domain
        degenerate case, handled separately via max_bucket caps + salting).
        Pipeline: char-shingle minhash → banded LSH → estimate verify
        (signature-only, the 100 TB mode) → alternating-star connected
        components. Returns the canonical-group count (5000 = perfect)."""
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_entities,
        )

        base = F.hex(F.xxhash64(F.regexp_replace("url", r"\?c=\d+$", "")))
        key = F.concat(
            F.lit("ent-"), base, F.lit("-v"),
            F.regexp_extract("url", r"c=(\d+)", 1),
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"), key.alias("entity_key")
        )
        return (
            canonicalize_entities(
                ents, jaccard_threshold=0.7, verify="estimate"
            )
            .agg(F.countDistinct("canonical_id"))
            .collect()[0][0]
        )

    def q_canonicalize_wide():
        """Constant-multiplicity CONTROL for q_canonicalize's tier-2
        scaling slope. Same rows, same pipeline, same thresholds — but
        the group key folds the copy number so every canonical group
        stays exactly 16 members wide and the GROUP COUNT scales with
        AMPLIFY instead of the group size. This is the realistic
        web-scale shape (more entities, fixed duplication multiplicity):
        LSH candidate pairs are O(groups × 16²) = linear in rows here,
        vs O(groups × multiplicity²) = quadratic in multiplicity for
        q_canonicalize, whose tier-2 slope >1 is therefore the
        benchmark's duplication depth growing with AMPLIFY — pair count
        per group is C(m,2) by problem definition — not an engine
        quadratic in corpus size. A ~linear slope on this control is
        the proof. Raises on a wrong group count."""
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_entities,
        )

        mult = 16
        c = F.coalesce(
            F.regexp_extract("url", r"c=(\d+)", 1).cast("long"), F.lit(0)
        )
        base = F.hex(
            F.xxhash64(
                F.concat(
                    F.regexp_replace("url", r"\?c=\d+$", ""),
                    F.lit("#g"),
                    F.floor(c / F.lit(mult)).cast("string"),
                )
            )
        )
        key = F.concat(
            F.lit("ent-"), base, F.lit("-v"), (c % mult).cast("string")
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"), key.alias("entity_key")
        )
        groups = (
            canonicalize_entities(
                ents, jaccard_threshold=0.7, verify="estimate"
            )
            .agg(F.countDistinct("canonical_id"))
            .collect()[0][0]
        )
        n_base = n_docs // max(AMPLIFY, 1)
        expected = n_base * ((max(AMPLIFY, 1) + mult - 1) // mult)
        if groups != expected:
            raise RuntimeError(
                f"wide canonicalize produced {groups} groups, "
                f"expected {expected} — recall regression"
            )
        return groups

    def q_canonicalize_hot():
        """Hot-domain DEGENERATE canonicalization shape (north_rule skew
        demand): every entity key shares one long structured prefix
        ('same-host urls') so cross-doc char-shingle Jaccard sits ~0.4 —
        far above the diverse shape's ~0 — and the LSH bands FLOOD
        (measured ~60 candidates/entity at 8k keys). Defuse, in order:
          * drop_common_df=0.05 (common_shingles): shingles present in
            >5% of keys — exactly the shared prefix — are dropped BEFORE
            minhash signing, so candidates come from each key's
            distinctive shingles and buckets stay small at ANY corpus
            size. This is THE scale lever: a fixed absolute bucket cap
            alone preserved recall at 8k keys but LOST 136 groups at 80k
            (bucket occupancy grows with the corpus until every bucket —
            including those holding true pairs — is over any cap; the
            loud group-count check below caught it). The DF filter is
            scale-invariant: measured exact recall at 8k, 32k, and 80k.
          * max_bucket=100 caps whatever residual hot buckets remain,
            with drops observed (drop_observation), never silent;
          * verify='exact': flood shapes make estimate-only verification
            UNSAFE — with k=32 signatures a 0.4-Jaccard pair sits ~3.5σ
            from the 0.7 threshold, and at ~3e5 candidates the tail
            produces tens of false edges that connected components then
            amplifies transitively (measured: 297 groups instead of 500).
            Exact Jaccard on the capped candidates never lies. The diverse
            shape keeps estimate mode — its similarity distribution is
            bimodal at {~0, ~0.95}, nowhere near the threshold.
        Raises if the group count is wrong — a skew bench that silently
        under/over-merges would be worse than no bench."""
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_entities,
        )
        from case_uco_ontology_map_spark.operators.dedup import (
            drop_metrics,
            drop_observation,
        )

        base_url = F.regexp_replace("url", r"\?c=\d+$", "")
        key = F.concat(
            F.lit("https://hot-domain.example.com/section/article/"),
            F.hex(F.xxhash64(base_url)), F.lit("/"),
            F.hex(F.xxhash64(F.concat(base_url, F.lit("x")))), F.lit("-v"),
            F.regexp_extract("url", r"c=(\d+)", 1),
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"), key.alias("entity_key")
        )
        obs = drop_observation("hot_drops")
        groups = (
            canonicalize_entities(
                ents, jaccard_threshold=0.7, verify="exact",
                max_bucket=100, observation=obs, drop_common_df=0.05,
            )
            .agg(F.countDistinct("canonical_id"))
            .collect()[0][0]
        )
        expected = n_docs // AMPLIFY
        if groups != expected:
            raise RuntimeError(
                f"hot-domain canonicalize produced {groups} groups, "
                f"expected {expected} — cap/verify recall regression"
            )
        drops = drop_metrics(obs)
        q_canonicalize_hot.last_drops = drops
        return groups

    incr_state = {}

    def _incr_prior():
        """Lazy untimed-at-steady-state setup for canonicalize_incr: the
        PRIOR corpus is every diverse-shape entity except the v1 variants
        of 1/16 of the docs (the 'yesterday's crawl' assignment, staged to
        parquet like every other bench input); the DELTA is those held-out
        variants (~n_docs/16/AMPLIFY entities). First repeat pays the
        prior build; best-of-N then measures only the incremental fold."""
        if "prior" in incr_state:
            return
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_entities,
        )

        base_url = F.regexp_replace("url", r"\?c=\d+$", "")
        base = F.hex(F.xxhash64(base_url))
        key = F.concat(
            F.lit("ent-"), base, F.lit("-v"),
            F.regexp_extract("url", r"c=(\d+)", 1),
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"),
            key.alias("entity_key"),
            (
                (F.pmod(F.xxhash64(base_url), F.lit(16)) == 0)
                & (F.regexp_extract("url", r"c=(\d+)", 1) == "1")
            ).alias("_delta"),
        )
        prior_dir = stage_dir.rstrip("/") + "-canon-prior"
        delta_dir = stage_dir.rstrip("/") + "-canon-delta"
        canonicalize_entities(
            ents.filter(~F.col("_delta")).drop("_delta"),
            jaccard_threshold=0.7, verify="estimate",
        ).write.mode("overwrite").parquet(prior_dir)
        ents.filter(F.col("_delta")).drop("_delta").write.mode(
            "overwrite"
        ).parquet(delta_dir)
        incr_state["prior"] = spark.read.parquet(prior_dir)
        incr_state["delta"] = spark.read.parquet(delta_dir)

    def q_canonicalize_incr():
        """Incremental canonicalization of a small delta against the prior
        assignment (operators/canonicalize.canonicalize_incremental) — the
        daily-increment path the north rule's resumable pipeline implies:
        all-prior LSH buckets are skipped pre-explode, the exact verify
        touches only new-touching candidates, CC runs on the ~1/16 of
        components the delta actually touches, and untouched assignments
        stream through. The group-count check is the same loud recall
        guard as the full stages: the merged corpus must land on exactly
        n_docs/AMPLIFY groups."""
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_incremental,
        )

        _incr_prior()
        groups = (
            canonicalize_incremental(
                incr_state["prior"], incr_state["delta"],
                jaccard_threshold=0.7,
            )
            .agg(F.countDistinct("canonical_id"))
            .collect()[0][0]
        )
        expected = n_docs // AMPLIFY
        if groups != expected:
            raise RuntimeError(
                f"incremental canonicalize produced {groups} groups, "
                f"expected {expected} — delta fold-in recall regression"
            )
        return groups

    def _incr3_dirs():
        return [
            stage_dir.rstrip("/") + f"-canon-incr3-{i}" for i in range(3)
        ]

    def q_canonicalize_incr3():
        """THREE consecutive daily deltas folded into the standing
        assignment (VERDICT r4 item #7 — the real daily-increment
        operating mode, not the single-fold proof): the held-out delta is
        split into 3 disjoint days by entity hash; each fold runs
        canonicalize_incremental against the PREVIOUS fold's materialized
        assignment and lands durable parquet (exactly the nightly cycle:
        read yesterday's table, fold today's crawl, write today's table).
        Per-fold wall seconds recorded for the report; per-fold
        group-count recall guard inline; per-fold PARTITION-exactness vs
        a from-scratch recompute audited untimed in post_metrics."""
        from case_uco_ontology_map_spark.operators.canonicalize import (
            canonicalize_incremental,
        )

        _incr_prior()
        day = F.pmod(F.xxhash64("entity_key"), F.lit(3))
        folds = [
            incr_state["delta"].filter(day == i) for i in range(3)
        ]
        expected = n_docs // AMPLIFY
        assign = incr_state["prior"]
        fold_secs = []
        for i, d in enumerate(folds):
            t0 = time.perf_counter()
            out_dir = _incr3_dirs()[i]
            canonicalize_incremental(
                assign, d, jaccard_threshold=0.7
            ).write.mode("overwrite").parquet(out_dir)
            assign = spark.read.parquet(out_dir)
            groups = assign.agg(
                F.countDistinct("canonical_id")
            ).collect()[0][0]
            fold_secs.append(round(time.perf_counter() - t0, 3))
            if groups != expected:
                raise RuntimeError(
                    f"incr3 fold {i}: {groups} groups, expected "
                    f"{expected} — consecutive fold-in recall regression"
                )
        q_canonicalize_incr3.fold_secs = fold_secs
        q_canonicalize_incr3.folds = folds
        return expected

    def q_graph_closure():
        """Transitive closure (SPARQL derivedFrom+) over the provenance
        forest on all n_docs nodes (heap-parent edges, depth ~log2 N) —
        the iterative-fixed-point stress: ~17 semi-naive rounds at 80k
        nodes, per-round shuffle only the shrinking frontier. Loud guard:
        the deepest pair must sit at exactly floor(log2(n_docs)) hops
        (heap depth), so a truncated iteration can't pass silently."""
        import math

        from case_uco_ontology_map_spark.operators.graphquery import (
            transitive_closure,
        )

        edges = (
            spark.range(1, n_docs)
            .select(
                F.col("id").alias("src"),
                F.expr("(id - 1) DIV 2").alias("dst"),
            )
        )
        closure = transitive_closure(edges)
        stats = closure.agg(
            F.count("*").alias("pairs"), F.max("hops").alias("deepest")
        ).collect()[0]
        expected_depth = int(math.log2(n_docs))
        if stats["deepest"] != expected_depth:
            raise RuntimeError(
                f"closure deepest hop {stats['deepest']} != heap depth "
                f"{expected_depth} — iteration truncated"
            )
        q_graph_closure.last_pairs = stats["pairs"]
        return stats["pairs"]

    def q_graph_scc():
        """Strongly connected components (forward-backward coloring)
        over the heap-parent + modular-link graph on all n_docs nodes —
        the spam-ring naming stress. The (7d+3) mod N link edges fuse
        the whole graph into ONE giant SCC, so the stage exercises the
        worst case: a forward min-label fixpoint that must touch every
        node (~graph diameter rounds) plus a full backward mark. Guard:
        the decomposition must assign every node, and node 0's SCC
        (id 0 — the global min) must hold ≥90% of the graph (measured:
        100% at 80k nodes, 98% at 500 — a truncated fixpoint leaves
        far more stragglers)."""
        from case_uco_ontology_map_spark.operators.graphstats import (
            strongly_connected_components,
        )

        tree = spark.range(1, n_docs).select(
            F.col("id").alias("src"),
            F.expr("(id - 1) DIV 2").alias("dst"),
        )
        link = spark.range(n_docs).select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        out = strongly_connected_components(
            tree.unionByName(link), max_rounds=48, max_iterations=2000
        )
        stats = out.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("scc_id") == 0, 1).otherwise(0)).alias(
                "in_giant"
            ),
        ).collect()[0]
        if stats["n"] != n_docs or stats["in_giant"] < 0.9 * n_docs:
            raise RuntimeError(
                f"graph_scc assigned {stats['n']}/{n_docs} nodes, "
                f"giant SCC {stats['in_giant']} — truncated fixpoint"
            )
        return stats["n"]

    def q_graph_pagerank():
        """PageRank (5 BSP rounds, d=0.85) over the doc graph (heap-parent
        + functional link edge, 2N-1 edges, cycles, varied in-degree) —
        the iterative-link-analysis stress. Guard: total rank mass must
        stay 1 to 1e-6 (a dropped dangling term or lost node shows up as
        mass leakage)."""
        from case_uco_ontology_map_spark.operators.graphstats import pagerank

        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        ranks = pagerank(tree.unionByName(link), iterations=5)
        mass = ranks.agg(F.sum("rank")).collect()[0][0]
        if abs(mass - 1.0) > 1e-6:
            raise RuntimeError(f"pagerank mass leaked: sum(rank)={mass}")
        return mass

    def q_graph_walks():
        """Random-walk corpus generation (DeepWalk, hash-driven) over the
        doc graph — 2 walks × 8 steps from every node, xxhash64
        production mode: 8 frontier equi-joins against the persisted
        adjacency. Guard: every node must start exactly 2 walks (step-0
        census), so a dropped frontier can't pass silently."""
        from case_uco_ontology_map_spark.operators.graphstats import (
            random_walks,
        )

        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        walks = random_walks(
            tree.unionByName(link), walks_per_node=2, length=8
        )
        starts = walks.filter(F.col("step") == 0).count()
        if starts != 2 * n_docs:
            raise RuntimeError(
                f"walk starts {starts} != 2*{n_docs} — frontier dropped"
            )
        return starts

    def q_graph_hits():
        """HITS (3 rounds) over the doc graph — the hub/authority
        complement to the PageRank stress, same edge frame (2N-1 edges)
        so the two stages are directly comparable. Guard: both score
        vectors must stay L1-normalized to 1e-6 (a lost node or a
        dropped normalization term shows up as mass leakage exactly as
        in pagerank)."""
        from case_uco_ontology_map_spark.operators.graphstats import hits

        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        scores = hits(tree.unionByName(link), iterations=3)
        sums = scores.agg(
            F.sum("hub").alias("h"), F.sum("auth").alias("a")
        ).collect()[0]
        if abs(sums["h"] - 1.0) > 1e-6 or abs(sums["a"] - 1.0) > 1e-6:
            raise RuntimeError(
                f"hits mass leaked: sum(hub)={sums['h']} "
                f"sum(auth)={sums['a']}"
            )
        return sums["h"]

    def q_graph_trustrank():
        """TrustRank (4 rounds) over the doc graph with every 64th node
        seeded — the spam-demotion complement to the pagerank stage on
        the same edge frame. Guard: trust mass must stay exactly 1 to
        1e-6 (the teleport vector sums to 1 and dangling mass re-enters
        through it, so any leak is a bug, not a convention)."""
        from case_uco_ontology_map_spark.operators.graphstats import (
            trustrank,
        )

        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        seeds = ids.filter(F.col("id") % 64 == 0).select(
            F.col("id").alias("node")
        )
        trust = trustrank(tree.unionByName(link), seeds, iterations=4)
        mass = trust.agg(F.sum("trust")).collect()[0][0]
        if abs(mass - 1.0) > 1e-6:
            raise RuntimeError(f"trustrank mass leaked: sum={mass}")
        return mass

    def q_host_rollup():
        """Host-graph aggregation at corpus scale: the link_extract page
        shape (3 anchors per page — two same-host, one to the external
        x.test) extracted and rolled up to (src_host, dst_host) — the
        table crawl policy runs on. Guards are exact: internal links
        must total 2×docs, external 1×docs (a normalization bug that
        splits a host family breaks the sums loudly)."""
        from case_uco_ontology_map_spark.functions.links import (
            extract_links,
            host_graph,
        )

        pages = corpus.select(
            "url",
            F.concat(
                F.lit(
                    '<a href="/l1">one</a>'
                    '<a href="https://x.test/2">two</a>'
                    '<a href="l3.html">three</a>'
                ),
                F.col("html").cast("string"),
            ).alias("html"),
        )
        hg = host_graph(extract_links(pages))
        sums = hg.groupBy("internal").agg(
            F.sum("n_links").alias("n")
        ).collect()
        got = {r["internal"]: r["n"] for r in sums}
        if got.get(True, 0) != 2 * n_docs or got.get(False, 0) != n_docs:
            raise RuntimeError(
                f"host_rollup: internal/external sums {got} != "
                f"{{True: {2 * n_docs}, False: {n_docs}}}"
            )
        return got[True] + got[False]

    def q_graph_spam_mass():
        """Relative spam mass (Gyöngyi 2005) over the doc graph: the
        4-round pagerank + trustrank pair over the SAME edge frame
        joined on node — the full spam-demotion signal a host-graph
        consumer actually thresholds. Guards exact: both score masses
        sum to 1 to 1e-6 and every node appears exactly once."""
        from case_uco_ontology_map_spark.operators.graphstats import (
            spam_mass,
        )

        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        seeds = ids.filter(F.col("id") % 64 == 0).select(
            F.col("id").alias("node")
        )
        sm = spam_mass(tree.unionByName(link), seeds, iterations=4)
        agg = sm.agg(
            F.sum("rank").alias("r"),
            F.sum("trust").alias("t"),
            F.count("*").alias("n"),
        ).collect()[0]
        if (
            abs(agg["r"] - 1.0) > 1e-6
            or abs(agg["t"] - 1.0) > 1e-6
            or agg["n"] != n_docs
        ):
            raise RuntimeError(
                f"spam_mass guards: rank={agg['r']} trust={agg['t']} "
                f"rows={agg['n']}/{n_docs}"
            )
        return agg["n"]

    def q_graph_bfs():
        """Multi-source BFS to the fixed point over the REVERSED doc
        graph from the root: reversed parent edges alone make every
        node reachable from 0 (heap numbering walks to the root), so
        coverage is exact by construction — the guard demands ALL
        n_docs nodes and a max distance no deeper than the parent-chain
        bound (the reversed link edges can only shorten paths).
        Rounds = graph depth ≈ log2(n_docs); each round joins only the
        frontier."""
        import math

        from case_uco_ontology_map_spark.operators.graphstats import (
            bfs_distances,
        )

        ids = spark.range(0, n_docs)
        rev_tree = ids.filter(F.col("id") > 0).select(
            F.expr("(id - 1) DIV 2").alias("src"), F.col("id").alias("dst")
        )
        rev_link = ids.select(
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("src"),
            F.col("id").alias("dst"),
        )
        sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
        d = bfs_distances(rev_tree.unionByName(rev_link), sources)
        agg = d.agg(
            F.count("*").alias("n"), F.max("dist").alias("m")
        ).collect()[0]
        depth_bound = int(math.ceil(math.log2(max(n_docs, 2)))) + 1
        if agg["n"] != n_docs or agg["m"] > depth_bound:
            raise RuntimeError(
                f"graph_bfs guards: reached {agg['n']}/{n_docs}, "
                f"max dist {agg['m']} > bound {depth_bound}"
            )
        return agg["n"]

    def q_domain_rollup():
        """The full web-graph ladder page → host → registered domain:
        link extraction over every corpus page (3-anchor shape, one
        subdomained external target per page so the domain cut
        collapses real hosts), host_graph rollup, then domain_graph.
        Guard exact: total n_links conserved through the domain rollup
        (a domain-cut bug that splits or merges families breaks the
        sum loudly)."""
        from case_uco_ontology_map_spark.functions.links import (
            domain_graph,
            extract_links,
            host_graph,
        )

        pages = corpus.select(
            "url",
            F.concat(
                F.lit('<a href="/l1">one</a><a href="https://s'),
                F.pmod(F.xxhash64("url"), F.lit(97)).cast("string"),
                F.lit('.x.test/2">two</a><a href="l3.html">three</a>'),
            ).alias("html"),
        )
        hg = host_graph(extract_links(pages))
        dg = domain_graph(hg)
        sums = (
            hg.agg(F.sum("n_links")).collect()[0][0],
            dg.agg(F.sum("n_links")).collect()[0][0],
        )
        if sums[0] != sums[1] or sums[0] != 3 * n_docs:
            raise RuntimeError(
                f"domain_rollup: link mass {sums} != {3 * n_docs}"
            )
        return sums[1]

    def q_kg_entailment():
        """rdfs9 type entailment at corpus scale: four typed nodes per
        page (the structural emission's class shape) close over the
        8-edge CASE/UCO upper hierarchy — broadcast closure join +
        union + one distinct over ~4×n_docs type triples. Guard exact:
        every typed node gains exactly its 3 superclasses (all ids
        distinct), so |out| = 4·n_docs·4."""
        from case_uco_ontology_map_spark.operators.triples import (
            rdfs_infer_types,
        )

        hierarchy = spark.createDataFrame(
            [
                ("uco-observable:URL", "uco-observable:ObservableObject"),
                ("uco-observable:ObservableObject", "uco-core:UcoObject"),
                ("uco-core:UcoObject", "uco-core:UcoThing"),
                ("uco-observable:URLFacet", "uco-core:Facet"),
                ("uco-observable:ContentDataFacet", "uco-core:Facet"),
                ("uco-observable:WebPageExtensionFacet", "uco-core:Facet"),
                ("uco-core:Facet",
                 "uco-core:UcoInherentCharacterizationThing"),
                ("uco-core:UcoInherentCharacterizationThing",
                 "uco-core:UcoThing"),
            ],
            "sub string, sup string",
        )
        base = corpus.select(F.md5("url").alias("h"))
        parts = []
        for slug, cls in (
            ("url", "uco-observable:URL"),
            ("urlfacet", "uco-observable:URLFacet"),
            ("contentdatafacet", "uco-observable:ContentDataFacet"),
            ("webpageextensionfacet",
             "uco-observable:WebPageExtensionFacet"),
        ):
            parts.append(
                base.select(
                    F.concat(F.lit(f"kb:{slug}-"), F.col("h")).alias(
                        "subj"
                    ),
                    F.lit("rdf:type").alias("pred"),
                    F.lit(cls).alias("obj"),
                    F.lit(True).alias("obj_is_iri"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                )
            )
        t = parts[0]
        for p in parts[1:]:
            t = t.unionByName(p)
        n = rdfs_infer_types(t, hierarchy).count()
        expect = 4 * n_docs * 4
        if n != expect:
            raise RuntimeError(
                f"kg_entailment: {n} closed triples != expected {expect}"
            )
        return n

    def q_boilerplate():
        """Per-domain boilerplate detection + in-row strip over every
        corpus page: urls keyed into 97 hash-mod domain families, each
        page wrapped with its family's nav header and copyright footer
        (so each family shares 2 template lines across n_docs/97 pages).
        Detection shuffles (domain, md5(line)) digests once; the strip
        is a broadcast array probe with zero Python. Guards exact: one
        output row per page and ZERO pages still carrying the nav
        marker after the strip."""
        from case_uco_ontology_map_spark.operators.textstats import (
            boilerplate_lines,
            strip_boilerplate,
        )

        fam = F.pmod(F.xxhash64("url"), F.lit(97)).cast("string")
        pages = corpus.select(
            F.concat(
                F.lit("https://d"), fam, F.lit(".test/p/"),
                F.monotonically_increasing_id().cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("NAV home d"), fam, F.lit("\n"),
                F.col("text"),
                F.lit("\n(c) footer d"), fam,
            ).alias("text"),
        )
        bl = boilerplate_lines(pages, min_docs=3)
        out = strip_boilerplate(pages, bl)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("text_clean").startswith("NAV home").cast("long")
            ).alias("leftover"),
        ).collect()[0]
        if agg["n"] != n_docs or agg["leftover"] != 0:
            raise RuntimeError(
                f"boilerplate: {agg['n']}/{n_docs} rows, "
                f"{agg['leftover']} pages kept their nav header"
            )
        return agg["n"]

    def q_wat_export():
        """WAT metadata assembly over every corpus page (same 3-anchor
        shape): in-row link extraction + JSON string concat, zero
        shuffle — the export cost a Common Crawl-style sidecar adds to
        a crawl job. Guard: one record per page and every payload
        carries a non-empty Links array (prefix check is a cheap JVM
        filter, no JSON parse)."""
        from case_uco_ontology_map_spark.sources.warc import (
            documents_to_wat,
        )

        pages = corpus.select(
            "url",
            F.concat(
                F.lit(
                    '<a href="/l1">one</a>'
                    '<a href="https://x.test/2">two</a>'
                    '<a href="l3.html">three</a>'
                ),
                F.col("html").cast("string"),
            ).alias("html"),
        )
        wat = documents_to_wat(pages)
        n_ok = wat.where(
            F.decode(F.col("payload"), "UTF-8").contains('"Links":[{')
        ).count()
        if n_ok != n_docs:
            raise RuntimeError(
                f"wat_export: {n_ok} records with links != {n_docs}"
            )
        return n_ok

    # ---- ANN serving path at bench scale (stress stages) ---------------
    # sf0.1 ships 2k dim-64 embeddings; amplify ×EMB_AMPLIFY (default 512
    # → 1.02M vectors) the same way the corpus is amplified: deterministic
    # copies, each copy distinct (one dimension scaled by a copy-indexed
    # factor) so the index has real work and recall is measured against a
    # non-degenerate neighborhood structure. Staged to parquet like the
    # corpus (an index build reads storage, not heap cache). The corpus
    # must be big enough that the O(N·Q) brute scan actually hurts —
    # at 128k vectors the codegen'd crossJoin finished before IVF's fixed
    # costs (driver probe action + partitioned-file listing) amortized,
    # which inverts the comparison the stage exists to show.
    emb_stage = stage_dir.rstrip("/") + "-emb"
    ivf_path = stage_dir.rstrip("/") + "-ivf"
    sq8_path = stage_dir.rstrip("/") + "-sq8"
    ann_state = {}

    def _ann_stage():
        """Lazy (BENCH_ONLY may skip every ANN stage): amplify + stage the
        embeddings and fix the query batch. The queries are the 8
        lowest-id base vectors — driver-small, as in any top-k serving
        path — fixed so brute and IVF score the same batch."""
        if "emb" in ann_state:
            return
        emb_base = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        n_emb_base = emb_base.count()
        emb_amp = int(os.environ.get("SPARK_GRAFT_EMB_AMPLIFY", "512"))
        dup_e = spark.range(emb_amp).select(
            F.col("id").cast("int").alias("copy")
        )
        (
            emb_base.crossJoin(F.broadcast(dup_e))
            .select(
                (F.col("vec_id") + F.col("copy") * F.lit(n_emb_base)).alias(
                    "vec_id"
                ),
                F.transform(
                    "embedding",
                    lambda v, i: F.when(
                        i == F.pmod(F.col("copy"), F.lit(64)),
                        v * (F.lit(1.0) + (F.col("copy") + 1) * F.lit(0.001)),
                    ).otherwise(v.cast("double")),
                )
                .cast("array<float>")
                .alias("embedding"),
            )
            .repartition(CPUS * 2)
            .write.mode("overwrite")
            .parquet(emb_stage)
        )
        ann_state["emb"] = spark.read.parquet(emb_stage)
        ann_state["n_vecs"] = ann_state["emb"].count()
        ann_state["queries"] = ann_state["emb"].filter(
            F.col("vec_id") < 8
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    def _ann_build():
        """Train + materialize the IVF index — the offline pipeline a
        100 TB corpus runs nightly: deterministic k-means (k=64 cells,
        3 Lloyd steps, each ONE groupBy) trained on a 16k deterministic
        subsample (≈256 points/cell — the mean estimate stops improving
        long before the full corpus, while each extra point costs k dot
        products/iteration), then ONE vectorized full-corpus assignment
        pass (Arrow-batched numpy matmul — the Catalyst assign_cells the
        contract oracle replays is ~100× slower at k=64) into the
        cell-partitioned parquet write."""
        from case_uco_ontology_map_spark.operators.similarity import (
            centroids_kmeans,
            write_ivf_index,
        )

        _ann_stage()
        ann_state["centroids"] = centroids_kmeans(
            ann_state["emb"], k=64, iterations=3, sample=16384
        )
        write_ivf_index(ann_state["emb"], ann_state["centroids"], ivf_path)
        return len(ann_state["centroids"])

    def q_ann_index_build():
        return _ann_build()

    def q_ann_brute_topk():
        """Exact cosine top-5 for the query batch over ALL vectors — the
        recall oracle and the O(N·Q) cost IVF must beat."""
        from case_uco_ontology_map_spark.operators.similarity import (
            brute_force_topk,
        )

        _ann_stage()
        return brute_force_topk(ann_state["emb"], ann_state["queries"], k=5).count()

    def q_ann_ivf_topk():
        """Approximate top-5 against the cell-partitioned index: probe 8
        of 64 cells per query → the scan opens only probed cells' files
        (parquet partition pruning — the 100 TB serving read)."""
        from case_uco_ontology_map_spark.operators.similarity import (
            ivf_topk_from_index,
        )

        if "centroids" not in ann_state:  # BENCH_ONLY may skip the build
            _ann_build()
        return ivf_topk_from_index(
            spark, ivf_path, ann_state["queries"], ann_state["centroids"],
            k=5, nprobe=8,
        ).count()

    def q_ann_sq8_topk():
        """SQ8 quantized serving path: the 1-byte/dim codes table is
        staged once (untimed — it's the serving tier a nightly job
        materializes), then the timed query is approx top-20 over the
        codes plus an exact rescore that PROBES only those k×overfetch
        candidates in the full-float table. Same query batch as
        brute/IVF, so the three serving strategies are comparable."""
        from case_uco_ontology_map_spark.operators.similarity import (
            quantize_embeddings,
            sq8_topk,
        )

        _ann_stage()
        if "sq8" not in ann_state:
            (
                quantize_embeddings(ann_state["emb"])
                .select("vec_id", "q_min", "q_scale", "codes")
                .write.mode("overwrite")
                .parquet(sq8_path)
            )
            ann_state["sq8"] = spark.read.parquet(sq8_path)
        return sq8_topk(
            ann_state["sq8"],
            ann_state["queries"],
            k=5,
            overfetch=4,
            full_vectors=ann_state["emb"],
        ).count()

    def q_link_extract():
        """Hyperlink-extraction throughput: the one-regex anchor scan +
        CASE resolution over every corpus page (each page augmented
        with 3 synthetic anchors — one per resolution family — so the
        exact edge count is a guard: 3 × docs). Zero-shuffle JVM scan;
        measures the regex engine, the honest cost center of link
        extraction at 100 TB."""
        from case_uco_ontology_map_spark.functions.links import (
            extract_links,
        )

        pages = corpus.select(
            "url",
            F.concat(
                F.lit(
                    '<a href="/l1">one</a>'
                    '<a href="https://x.test/2">two</a>'
                    '<a href="l3.html">three</a>'
                ),
                F.col("html").cast("string"),
            ).alias("html"),
        )
        n = extract_links(pages).count()
        if n != 3 * n_docs:
            raise RuntimeError(f"link_extract: {n} != {3 * n_docs} edges")
        return n

    def q_structured_extract():
        """On-page structured-data throughput (the WDC layer): every
        corpus page augmented with one JSON-LD block, two meta tags, a
        flat microdata item, and a header-keyed table, then the FULL
        extraction family runs — jsonld_triples (regexp block scan +
        from_json), meta_triples, microdata_triples, table_triples —
        and the union is counted. Exact-count guard: 4 jsonld + 2 meta
        + 3 microdata + 2 table triples per page. All four extractors
        are zero-shuffle JVM scans; this measures the regexp + JSON
        parse cost, the honest center of annotation extraction at
        100 TB."""
        from case_uco_ontology_map_spark.operators.structured import (
            jsonld_blocks,
            jsonld_triples,
            meta_tags,
            meta_triples,
            microdata_triples,
            table_triples,
            html_tables,
        )

        snippet = (
            '<meta property="og:title" content="T">'
            '<meta name="author" content="W">'
            '<script type="application/ld+json">'
            '{"@type":"Product","name":"E","rank":3,'
            '"brand":{"@id":"https://ex.org/b"}}</script>'
            '<div itemscope itemtype="https://schema.org/Thing">'
            '<meta itemprop="sku" content="S">'
            '<span itemprop="color">blue</span></div>'
            "<table><tr><th>K</th><th>V</th></tr>"
            "<tr><td>a</td><td>1</td></tr></table>"
        )
        pages = corpus.select(
            "url",
            F.concat(F.lit(snippet), F.col("html").cast("string")).alias(
                "html"
            ),
        )
        trip = (
            jsonld_triples(jsonld_blocks(pages))
            .unionByName(meta_triples(meta_tags(pages)))
            .unionByName(microdata_triples(pages))
            .unionByName(table_triples(html_tables(pages)))
        )
        n = trip.count()
        if n != 11 * n_docs:
            raise RuntimeError(
                f"structured_extract: {n} != {11 * n_docs} triples"
            )
        return n

    def q_frontier_sched():
        """Frontier gate + politeness scheduling at corpus scale: every
        corpus url through the robots broadcast LIKE/argmax fold (one
        host family fully closed), survivors wave-scheduled ≤64 per
        host per wave. Guard: the gate drops exactly the closed host's
        urls (expected count computed from the corpus itself)."""
        from case_uco_ontology_map_spark.functions.robots import (
            fetch_waves,
            robots_filter,
            robots_like_pattern,
        )
        from case_uco_ontology_map_spark.functions.urls import url_host

        urls = corpus.select("url")
        rules = [
            ("src1.example.org", "/", False),
            ("src2.example.org", "/doc/1", False),
        ]
        rdf = spark.createDataFrame(
            [
                (h, p, a, robots_like_pattern(p), len(p))
                for h, p, a in rules
            ],
            "host string, pattern string, is_allow boolean, "
            "like_pat string, rlen int",
        )
        expected = (
            urls.where(url_host(F.col("url")) != "src1.example.org")
            .where(
                ~(
                    (url_host(F.col("url")) == "src2.example.org")
                    & F.col("url").rlike(r"://[^/]*/doc/1")
                )
            )
            .count()
        )
        waves = fetch_waves(robots_filter(urls, rdf), per_wave=64)
        n = waves.count()
        if n != expected:
            raise RuntimeError(f"frontier_sched: {n} != {expected}")
        return n

    def post_metrics():
        """Untimed post-pass: metrics the timed counts can't carry —
        IVF recall@5 vs the exact oracle, partition-pruning evidence
        (cells/files probed vs total, counted on disk against the probe
        set), and the hot-domain canonicalization drop audit."""
        extras = {}
        drops = getattr(q_canonicalize_hot, "last_drops", None)
        if drops is not None:
            extras["canonicalize_hot_drops"] = drops
        store_pruning = getattr(q_triple_store, "pruning", None)
        if store_pruning is not None:
            extras.update(store_pruning)
        fold_secs = getattr(q_canonicalize_incr3, "fold_secs", None)
        if fold_secs is not None:
            # PARTITION exactness per fold (untimed audit): fold k's
            # materialized assignment must induce the SAME grouping as a
            # from-scratch canonicalize over prior ∪ deltas[0..k] — reps
            # normalized to min(entity_id) per group, mismatches counted
            # by an equi-join on entity_id
            from case_uco_ontology_map_spark.operators.canonicalize import (
                canonicalize_entities,
            )

            def _norm(assign):
                reps = assign.groupBy("canonical_id").agg(
                    F.min("entity_id").alias("rep")
                )
                return assign.join(reps, "canonical_id").select(
                    "entity_id", "rep"
                )

            folds = q_canonicalize_incr3.folds
            cum = incr_state["prior"].select("entity_id", "entity_key")
            exact = []
            for i in range(3):
                cum = cum.unionByName(folds[i])
                full = canonicalize_entities(
                    cum, jaccard_threshold=0.7, verify="estimate"
                )
                inc = spark.read.parquet(_incr3_dirs()[i])
                mism = (
                    _norm(inc)
                    .withColumnRenamed("rep", "rep_inc")
                    .join(_norm(full), "entity_id", "full_outer")
                    .filter(
                        F.col("rep_inc").isNull()
                        | F.col("rep").isNull()
                        | (F.col("rep_inc") != F.col("rep"))
                    )
                    .count()
                )
                exact.append(mism == 0)
                if mism:
                    raise RuntimeError(
                        f"incr3 fold {i}: {mism} entities grouped "
                        "differently than a full recompute"
                    )
            extras["canonicalize_incr3_fold_secs"] = fold_secs
            extras["canonicalize_incr3_exact_folds"] = exact
        if "centroids" in ann_state:
            from case_uco_ontology_map_spark.operators.similarity import (
                _probe_cells,
                brute_force_topk,
                ivf_topk_from_index,
            )

            brute = brute_force_topk(
                ann_state["emb"], ann_state["queries"], k=5
            )
            ivf = ivf_topk_from_index(
                spark, ivf_path, ann_state["queries"], ann_state["centroids"],
                k=5, nprobe=8,
            )
            hits = ivf.join(
                brute, ["query_id", "vec_id"], "left_semi"
            ).count()
            denom = brute.count()
            probe_rows = (
                _probe_cells(
                    ann_state["queries"], ann_state["centroids"], 8,
                    "query_vec",
                )
                .select("query_id", "cell")
                .collect()
            )
            per_query = {}
            for r in probe_rows:
                per_query.setdefault(r["query_id"], set()).add(int(r["cell"]))
            probed = sorted(set().union(*per_query.values()))
            cell_dirs = [
                d
                for d in os.listdir(ivf_path)
                if d.startswith("cell=")
            ]

            def n_files(d):
                return sum(
                    1
                    for f in os.listdir(os.path.join(ivf_path, d))
                    if f.endswith(".parquet")
                )

            cell_files = {int(d.split("=")[1]): n_files(d) for d in cell_dirs}
            files_total = sum(cell_files.values())
            files_probed = sum(cell_files.get(c, 0) for c in probed)
            # per-QUERY pruning is the serving-path number: the batch
            # union grows toward all cells as the batch widens, but each
            # individual query's scan opens only its nprobe cells' files
            files_per_query = [
                sum(cell_files.get(c, 0) for c in cells)
                for cells in per_query.values()
            ]
            extras.update(
                ann_recall_at5=round(hits / denom, 4) if denom else None,
                ann_vectors=ann_state["n_vecs"],
                ann_cells_probed=len(probed),
                ann_cells_total=len(cell_dirs),
                ann_files_scanned=files_probed,
                ann_files_total=files_total,
                ann_files_per_query=round(
                    sum(files_per_query) / len(files_per_query), 1
                )
                if files_per_query
                else None,
            )
        if "sq8" in ann_state:
            # untimed: SQ8 end-to-end recall vs the exact oracle (1.0
            # expected — rescoring only misses when a true neighbor
            # falls outside the k×overfetch approx candidates)
            from case_uco_ontology_map_spark.operators.similarity import (
                brute_force_topk,
                quantize_embeddings,
                sq8_topk,
            )

            brute_q = brute_force_topk(
                ann_state["emb"], ann_state["queries"], k=5
            )
            sq = sq8_topk(
                ann_state["sq8"],
                ann_state["queries"],
                k=5,
                overfetch=4,
                full_vectors=ann_state["emb"],
            )
            d = brute_q.count()
            extras["sq8_recall_at5"] = (
                round(
                    sq.join(
                        brute_q, ["query_id", "vec_id"], "left_semi"
                    ).count()
                    / d,
                    4,
                )
                if d
                else None
            )
            # the standard mitigation, measured: on the amplified
            # (quantization-adversarial) corpus overfetch=4 misses
            # copies separated by less than the SQ8 step; widening the
            # candidate pool recovers them (measured 0.925 → 1.0 at
            # 256k vectors) — the recall/cost knob a serving tier tunes
            sq16 = sq8_topk(
                ann_state["sq8"],
                ann_state["queries"],
                k=5,
                overfetch=16,
                full_vectors=ann_state["emb"],
            )
            extras["sq8_recall_at5_of16"] = (
                round(
                    sq16.join(
                        brute_q, ["query_id", "vec_id"], "left_semi"
                    ).count()
                    / d,
                    4,
                )
                if d
                else None
            )
            # control: the same measurement on the UNAMPLIFIED base
            # embeddings — the amplified corpus is adversarial for SQ8
            # by construction (copies separated by ~1e-3 of the value
            # range vs a 1/255 ≈ 4e-3 quantization step, so the approx
            # stage cannot order near-identical vectors); the base
            # corpus has real neighbor separation
            emb_base = spark.read.parquet(
                os.path.join(sf_dir, "embeddings.parquet")
            ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
            q_base = emb_base.orderBy("vec_id").limit(8).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            brute_b = brute_force_topk(emb_base, q_base, k=5)
            sq_b = sq8_topk(
                quantize_embeddings(emb_base),
                q_base,
                k=5,
                overfetch=4,
                full_vectors=emb_base,
            )
            db = brute_b.count()
            extras["sq8_recall_at5_base"] = (
                round(
                    sq_b.join(
                        brute_b, ["query_id", "vec_id"], "left_semi"
                    ).count()
                    / db,
                    4,
                )
                if db
                else None
            )
        return extras

    def q_materialize():
        """north-rule 4th stage: graph MATERIALIZE — write the triple
        stream as bucket-partitioned parquet (the resume/lineage layout
        run_pipeline uses) and count what landed. Measures kernel + sink
        throughput end to end."""
        # sibling tempdir, NOT inside stage_dir: a non-partition directory
        # under the staged-corpus root would poison any later
        # read.parquet(stage_dir) listing with schema/partition conflicts
        out = stage_dir.rstrip("/") + "-triples-out"
        (
            fused_page_triples(corpus, per_record_meta="first")
            .withColumn(
                "bucket", F.pmod(F.xxhash64("record_uuid"), F.lit(64))
            )
            # repartition on the partition column BEFORE partitionBy:
            # without it every upstream task writes a file into every
            # bucket directory (tasks × buckets tiny files — measured
            # 8k files / 2.5× slower); with it, one right-sized file per
            # bucket. At 100 TB: repartition(buckets × files_per_bucket).
            .repartition(64, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        return spark.read.parquet(out).count()

    def q_sparql_query():
        """Consumer-side SPARQL at bench scale: a pasted text query
        (2-hop BGP + OPTIONAL + FILTER) over the MATERIALIZED
        bucket-partitioned triple table q_materialize wrote — measures
        the query engine's join tree on the real serving layout, pruned
        scans included. Guard: every corpus record must come back
        exactly once in the record census."""
        from case_uco_ontology_map_spark.operators.sparql import (
            sparql_query,
        )

        out = stage_dir.rstrip("/") + "-triples-out"
        if not os.path.isdir(out):
            q_materialize()  # stage ordering guard: needs the sink
        t = spark.read.parquet(out)
        q = """
        SELECT ?rec (COUNT(*) AS ?n_facets)
               (COUNT(DISTINCT ?t) AS ?n_types)
        WHERE { ?rec a uco-observable:URL .
                ?rec uco-core:hasFacet ?f .
                ?f a ?t . }
        GROUP BY ?rec
        """
        n = sparql_query(t, q).count()
        expected = n_docs  # one record node per doc
        if n != expected:
            raise RuntimeError(
                f"sparql record census {n} != {expected} docs"
            )
        return n

    def q_triple_store():
        """Vertically-partitioned triple store (SW-Store layout): write
        the fused triple stream as pred=<v>/sbkt=<b> parquet (the
        nightly serving materialization), then the two serving reads
        the layout exists for — a constant-predicate pattern scan and a
        subject point lookup. Guards: the predicate scan must return
        exactly that predicate's triple count, and the point lookup is
        measured for ACTUAL pruning via input_file_name(): it may touch
        only the files of ONE (pred, sbkt) leaf, recorded in extras as
        the files-opened ratio (the number that transfers to 100 TB,
        same philosophy as the IVF 8/64 story)."""
        from case_uco_ontology_map_spark.operators.triplestore import (
            read_triple_store,
            scan_pattern,
            write_triple_store,
        )

        out = stage_dir.rstrip("/") + "-tstore"
        trip = fused_page_triples(corpus, per_record_meta="first")
        # xxhash64 mode: the JVM production router (md5_60 is the
        # oracle-portable mode the contract row pins)
        write_triple_store(
            trip, out, subj_buckets=16, hash_mode="xxhash64"
        )
        store = read_triple_store(spark, out)
        n_facet = scan_pattern(store, pred="uco-core:hasFacet").count()
        expected = trip.filter(
            F.col("pred") == "uco-core:hasFacet"
        ).count()
        if n_facet != expected:
            raise RuntimeError(
                f"triple_store pred scan {n_facet} != {expected}"
            )
        probe_subj = store.filter(
            F.col("pred") == "rdf:type"
        ).agg(F.min("subj")).collect()[0][0]
        n_hits = scan_pattern(
            store, subj=probe_subj, subj_buckets=16,
            hash_mode="xxhash64",
        ).count()
        if n_hits < 1:
            raise RuntimeError("triple_store point lookup found no rows")
        # pruning evidence counted ON DISK (input_file_name would only
        # show files with SURVIVING rows): the lookup's partition filter
        # is sbkt = hash(subj), so the scan lists exactly the files under
        # */sbkt=<b>/ — one leaf (= one file) per predicate dir vs the
        # full store
        from case_uco_ontology_map_spark.operators.triplestore import (
            subject_bucket,
        )

        b = spark.range(1).select(
            subject_bucket(F.lit(probe_subj), 16, "xxhash64")
        ).collect()[0][0]
        files_total = 0
        files_opened = 0
        for root, _dirs, files in os.walk(out):
            n_parq = sum(1 for f in files if f.endswith(".parquet"))
            files_total += n_parq
            if os.path.basename(root) == f"sbkt={b}":
                files_opened += n_parq
        n_preds = store.select("pred").distinct().count()
        if files_opened > n_preds:
            raise RuntimeError(
                f"triple_store lookup opens {files_opened} files > "
                f"{n_preds} predicate dirs — bucket pruning failed"
            )
        q_triple_store.pruning = dict(
            store_files_total=files_total,
            store_files_lookup=files_opened,
            store_preds=n_preds,
        )
        return n_facet

    def q_warc_ingest():
        """Crawl-archive ingestion: parse WARC files (one task per file,
        gzip members, Content-Length-delimited records) and strip the
        HTTP envelope down to the (url, html) frame the pipeline
        consumes — the step upstream of extract_text on a real crawl.
        Setup (untimed, once): export the corpus via documents_to_warc +
        write_warc into CPUS*2 archives. Guard: every doc comes back.
        Uses the FUSED single-crossing reader (read_warc_documents) —
        a two-stage plan (read_warc, then an envelope-strip pass) ships
        payload bytes through Arrow twice and measured slope 1.81 at
        tier 2."""
        from case_uco_ontology_map_spark.sources.warc import (
            documents_to_warc,
            read_warc_documents,
        )

        out = stage_dir.rstrip("/") + "-warc"
        if not os.path.isdir(out) or not os.listdir(out):
            write_n = documents_to_warc(
                corpus, ts_col="warc_ts"
            ).repartition(CPUS * 2)
            from case_uco_ontology_map_spark.sources.warc import write_warc

            write_warc(write_n, out)
        n = (
            read_warc_documents(spark, os.path.join(out, "*.warc.gz"))
            .where(F.length("html") > 0)
            .count()
        )
        if n != n_docs:
            raise RuntimeError(f"warc ingest returned {n} != {n_docs} docs")
        return n

    def q_text_index():
        """Batch BM25 retrieval over the amplified corpus: build the
        inverted index from scratch (the dominant cost at 100 TB — one
        (term, doc) shuffle with map-side partials), derive the 1-row
        corpus stats, then score 8 two-term queries in ONE pass
        through the matched postings. Guard: every query returns
        exactly k rows (the synthetic vocabulary guarantees ≥k matching
        docs per probed term)."""
        from case_uco_ontology_map_spark.operators.serving import (
            bm25_topk,
            build_postings,
            posting_stats,
        )

        postings = build_postings(corpus, id_col="url", text_col="text")
        stats = posting_stats(postings)
        qterms = [
            ("q1", "spark"), ("q1", "window"),
            ("q2", "hash"), ("q2", "merge"),
            ("q3", "vector"), ("q3", "customer"),
            ("q4", "table"), ("q4", "scan"),
            ("q5", "join"), ("q5", "filter"),
            ("q6", "batch"), ("q6", "row"),
            ("q7", "sort"), ("q7", "group"),
            ("q8", "key"), ("q8", "value"),
        ]
        queries = spark.createDataFrame(
            qterms, "query_id string, term string"
        )
        n = bm25_topk(postings, stats, queries, k=10).count()
        postings.unpersist()
        if n != 8 * 10:
            raise RuntimeError(f"bm25 returned {n} != 80 rows")
        return n

    def q_entity_linking():
        """Commonness-prior entity linking at corpus scale: anchor
        votes synthesized per page (8 surface families over 64 targets,
        xxhash64-derived so the distribution is deterministic), the
        alias-dictionary build (two key-compatible vote shuffles +
        bounded ranking window), then the rank-1 dictionary joins back
        over EVERY corpus url as a mention. Guards: exactly one output
        row per mention (left join), and the confident slice is
        non-empty (the priors actually decide something)."""
        from case_uco_ontology_map_spark.functions.links import (
            alias_priors,
            link_by_prior,
        )

        h = F.abs(F.xxhash64("url"))
        tnum = h % 64
        # 7/8 of anchors are ALIGNED (surface s names targets ≡ s mod 8,
        # which all map to entity E<s>), 1/8 are noise — so the rank-1
        # entity holds ≥7/8 of each surface's votes and the confidence
        # test actually fires, while the noise keeps the argmax honest.
        noise = (h / 13).cast("long") % 8 == 0
        links = corpus.select(
            F.col("url").alias("src"),
            F.concat(F.lit("t"), tnum.cast("string")).alias("dst"),
            F.when(
                noise,
                F.concat(
                    F.lit("Name"),
                    ((h / 7).cast("long") % 8).cast("string"),
                ),
            ).otherwise(
                F.concat(F.lit("Name"), (tnum % 8).cast("string"))
            ).alias("anchor"),
        )
        pe = corpus.select(
            F.concat(F.lit("t"), tnum.cast("string")).alias("url"),
            F.concat(F.lit("E"), (tnum % 8).cast("string")).alias(
                "entity"
            ),
        )
        mentions = corpus.select(
            F.col("url").alias("doc"),
            F.concat(
                F.lit("Name"), ((h / 11).cast("long") % 9).cast("string")
            ).alias("surface"),
        )
        out = link_by_prior(mentions, alias_priors(links, pe))
        agg = out.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("confident").cast("long")).alias("n_conf"),
        ).collect()[0]
        if agg["n"] != n_docs:
            raise RuntimeError(
                f"linking returned {agg['n']} != {n_docs} mentions"
            )
        if not agg["n_conf"]:
            raise RuntimeError("no confident links — priors undecided")
        return agg["n"]

    return stage_dir, n_docs, {
        "extract_text": q_extract,
        "kg_triples": q_triples,
        "minhash_dedup": q_minhash_dedup,
        "mention_detect": q_mentions,
        "quality_score": q_quality,
        "canonicalize": q_canonicalize,
        "canonicalize_wide": q_canonicalize_wide,
        "canonicalize_hot": q_canonicalize_hot,
        "canonicalize_incr": q_canonicalize_incr,
        "canonicalize_incr3": q_canonicalize_incr3,
        "graph_closure": q_graph_closure,
        "graph_scc": q_graph_scc,
        "graph_pagerank": q_graph_pagerank,
        "graph_walks": q_graph_walks,
        "graph_hits": q_graph_hits,
        "graph_trustrank": q_graph_trustrank,
        "host_rollup": q_host_rollup,
        "graph_spam_mass": q_graph_spam_mass,
        "graph_bfs": q_graph_bfs,
        "domain_rollup": q_domain_rollup,
        "boilerplate": q_boilerplate,
        "kg_entailment": q_kg_entailment,
        "wat_export": q_wat_export,
        "sparql_query": q_sparql_query,
        "ann_index_build": q_ann_index_build,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_sq8_topk": q_ann_sq8_topk,
        "warc_ingest": q_warc_ingest,
        "triple_store": q_triple_store,
        "link_extract": q_link_extract,
        "structured_extract": q_structured_extract,
        "text_index": q_text_index,
        "entity_linking": q_entity_linking,
        "frontier_sched": q_frontier_sched,
        "materialize": q_materialize,
    }, post_metrics


# North-rule pipeline stages (the headline total the driver compares
# round-over-round) vs stress stages (skew/ANN studies added in r3/r4 —
# real work, but adding them to "value" made r3's total read as an 88%
# regression; VERDICT r3 next-round #6).
HEADLINE_STAGES = (
    "extract_text",
    "kg_triples",
    "minhash_dedup",
    "mention_detect",
    "quality_score",
    "canonicalize",
    "materialize",
)


def run_once(cores: int, sf_dir: str, repeats: int = None):
    """Best-of-N steady-state timing per query (cold JVM/codegen effects and
    GC pauses otherwise dominate a seconds-scale job). SPARK_GRAFT_BENCH_ONLY
    (comma list) restricts the query set — the slopes mode uses it to time
    a batch of stages per tier."""
    if repeats is None:
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    spark = make_spark(cores)
    stage_dir = None
    try:
        stage_dir, n_docs, qs, post = bench_queries(spark, sf_dir)
        if only:
            names = {n.strip() for n in only.split(",")}
            qs = {k: v for k, v in qs.items() if k in names}
        timings = {}
        counts = {}
        for name, fn in qs.items():
            fn()  # untimed warmup: JIT/codegen compile — a 100 TB job runs
            # for hours, so steady-state throughput is the honest metric
            best = None
            for _ in range(repeats):
                t0 = time.perf_counter()
                counts[name] = fn()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        extras = post()  # untimed: recall / pruning / drop-audit metrics
        return n_docs, timings, counts, extras
    finally:
        spark.stop()
        if stage_dir:
            suffixes = (
                "", "-triples-out", "-emb", "-ivf", "-sq8",
                "-canon-prior", "-canon-delta",
                "-canon-incr3-0", "-canon-incr3-1", "-canon-incr3-2",
                "-warc", "-tstore",
            )
            if os.environ.get("SPARK_GRAFT_SHARED_STAGE"):
                suffixes = (  # keep the corpus
                    "-triples-out", "-emb", "-ivf", "-sq8",
                    "-canon-prior", "-canon-delta",
                    "-canon-incr3-0", "-canon-incr3-1", "-canon-incr3-2",
                    "-warc", "-tstore",
                )
            for suffix in suffixes:
                shutil.rmtree(
                    stage_dir.rstrip("/") + suffix, ignore_errors=True
                )


def main():
    if "--stage-corpus" in sys.argv:
        # pre-stage the amplified corpus into SPARK_GRAFT_SHARED_STAGE so
        # scripts/tier3_slopes.py's batches read one staged copy (run
        # with the SAME SPARK_GRAFT_AMPLIFY the batches use)
        spark = make_spark(CPUS)
        try:
            _, n_docs, _, _ = bench_queries(spark, SF_DIR)
            print(json.dumps({"staged_docs": n_docs, "amplify": AMPLIFY}))
        finally:
            spark.stop()
        return
    if "--slopes" in sys.argv:
        report_slopes()
        return
    n_docs, timings, counts, extras = run_once(CPUS, SF_DIR)
    headline = {k: timings[k] for k in HEADLINE_STAGES if k in timings}
    stress = {k: v for k, v in timings.items() if k not in headline}
    # value = the NORTH-RULE pipeline total (headline stages only) so the
    # driver's round-over-round comparison tracks the pipeline, not the
    # growing stress suite (VERDICT r3 #6: r3's total read as +88% purely
    # from adding the hot-domain stage)
    total = round(sum(headline.values()), 3)
    # apples-to-apples vs round-1 records: canonicalize + materialize were
    # added in round 2
    total_r1_stages = round(
        sum(
            v
            for k, v in headline.items()
            if k not in ("canonicalize", "materialize")
        ),
        3,
    )
    # ...and vs round-3 records: r3's total = headline + canonicalize_hot
    total_r3_stages = round(total + timings.get("canonicalize_hot", 0.0), 3)
    triple_rate = (
        round(counts["kg_triples"] / timings["kg_triples"], 1)
        if timings.get("kg_triples")
        else None
    )
    doc_rate = (
        round(n_docs / timings["kg_triples"], 1) if timings.get("kg_triples") else None
    )
    print(
        json.dumps(
            {
                "metric": "kg_construction_total",
                "value": total,
                "unit": "sec",
                "r1_comparable_subtotal": total_r1_stages,
                "r3_comparable_subtotal": total_r3_stages,
                "queries": headline,
                "stress": {**stress, **extras},
                "sf": SF_DIR,
                "docs": n_docs,
                "triples": counts.get("kg_triples"),
                "docs_per_sec": doc_rate,
                "triples_per_sec": triple_rate,
                "cpus": CPUS,
                "amplify": AMPLIFY,
            }
        )
    )


TIER2_STAGES = (
    "extract_text", "kg_triples", "minhash_dedup", "mention_detect",
    "quality_score", "canonicalize", "canonicalize_wide", "materialize",
    "canonicalize_incr", "graph_closure", "graph_pagerank",
    "ann_index_build", "ann_brute_topk", "ann_ivf_topk",
    "ann_sq8_topk", "warc_ingest", "graph_hits", "graph_trustrank",
    "host_rollup", "wat_export", "graph_spam_mass", "graph_bfs",
    "domain_rollup", "boilerplate", "kg_entailment",
    "structured_extract", "text_index", "triple_store", "graph_scc",
    "link_extract", "entity_linking", "frontier_sched", "sparql_query",
    "graph_walks",
)


def report_slopes():
    """Tier-2 per-stage scaling slopes (VERDICT r4 item #1): nearly every
    stress stage is fixed-cost bound at the 80k-row tier, so the 100×
    claims otherwise rest on design argument plus plan shape. This mode
    MEASURES the data-scaling exponent: the same stages run at AMPLIFY
    (tier 1) and 8×AMPLIFY (tier 2) — fresh JVM per tier, steady-state
    (warmup + best-of-repeats) — and slope = (t_hi / t_lo) / 8 is the
    per-stage cost growth per row-growth: 1.0 = perfectly linear,
    <1 = fixed-cost amortizing, >1 = super-linear (gets a named cause in
    BENCH/BASELINE.md). The ANN corpus scales with the same 8× via
    SPARK_GRAFT_EMB_AMPLIFY. Iterative stages (closure, CC) are expected
    mildly super-linear in ROWS on this corpus because rounds = diameter
    = log2(N) grows with N — slope ≈ (8·log(8N)/log N)/8; the named-cause
    rule distinguishes that from an accidental quadratic.

    Measurement hygiene (learned in r5 session 9): stages in one tier leg
    share a JVM, and a LONG batch accumulates heap/GC pressure that can
    inflate later stages several-fold (a 14-stage leg read kg_entailment
    at 92 s tier-2; standalone it is 10.7 s). Measure in batches of ≤5
    stages via SPARK_GRAFT_TIER2_STAGES (results merge into the artifact);
    treat any surprising slope as unconfirmed until re-measured in a small
    batch."""
    import subprocess

    stages = os.environ.get(
        "SPARK_GRAFT_TIER2_STAGES", ",".join(TIER2_STAGES)
    )
    emb_lo = int(os.environ.get("SPARK_GRAFT_EMB_AMPLIFY", "512"))
    factor = int(os.environ.get("SPARK_GRAFT_TIER2_FACTOR", "8"))

    def run_tier(amp: int, emb_amp: int) -> dict:
        env = dict(
            os.environ,
            SPARK_GRAFT_AMPLIFY=str(amp),
            SPARK_GRAFT_EMB_AMPLIFY=str(emb_amp),
            SPARK_GRAFT_BENCH_ONLY=stages,
            SPARK_GRAFT_BENCH_REPEATS=os.environ.get(
                "SPARK_GRAFT_BENCH_REPEATS", "1"
            ),
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            capture_output=True, text=True, env=env,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"tier subprocess rc={proc.returncode}:\n"
                + proc.stderr[-2000:]
            )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    lo = run_tier(AMPLIFY, emb_lo)
    hi = run_tier(AMPLIFY * factor, emb_lo * factor)

    def stage_times(d: dict) -> dict:
        out = dict(d.get("queries", {}))
        out.update(
            {
                k: v
                for k, v in d.get("stress", {}).items()
                if isinstance(v, (int, float)) and k in stages
            }
        )
        return out

    t_lo, t_hi = stage_times(lo), stage_times(hi)
    extras = {
        k: v
        for k, v in hi.get("stress", {}).items()
        if not isinstance(v, (int, float)) or k not in stages
    }
    # A partial-stage run (SPARK_GRAFT_TIER2_STAGES subset) MERGES into
    # the existing artifact so one expensive stage can be (re)measured
    # without re-running the whole matrix; stages measured now win.
    prior_path = "BENCH/tier2_slopes.json"
    if os.path.exists(prior_path):
        with open(prior_path) as fh:
            prior = json.load(fh)
        if prior.get("factor") == factor:
            t_lo = {**prior.get("tier1_sec", {}), **t_lo}
            t_hi = {**prior.get("tier2_sec", {}), **t_hi}
            extras = {**prior.get("tier2_extras", {}), **extras}
    slopes = {
        k: round((t_hi[k] / t_lo[k]) / factor, 3)
        for k in t_lo
        if k in t_hi and t_lo[k] > 0
    }
    out = {
        "metric": "tier2_scaling_slopes",
        "value": round(
            sum(slopes.values()) / len(slopes), 3
        ) if slopes else None,
        "unit": "slope (1.0 = linear in rows)",
        "factor": factor,
        "docs_lo": lo.get("docs"),
        "docs_hi": hi.get("docs"),
        "tier1_sec": t_lo,
        "tier2_sec": t_hi,
        "slopes": slopes,
        "tier2_extras": extras,
        "sf": SF_DIR,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/tier2_slopes.json", "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
