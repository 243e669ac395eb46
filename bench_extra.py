"""Extra benchmarks for optimization work (guide §1): phase-level
breakdowns with noop sinks and labeled jobs. NOT the driver's bench —
bench.py stays frozen; numbers here are cited in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py canonicalize   # phase breakdown of q_canonicalize
  python bench_extra.py graphs         # per-operator iterative-graph timings
  python bench_extra.py ann            # brute/ivf breakdown
  python bench_extra.py headline       # headline stage timings (bench twin)
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


def make_spark():
    import bench

    return bench.make_spark(CPUS)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, repeats=2):
    """Warmup + best-of-N, like bench.py's protocol."""
    fn()
    best = None
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def staged_corpus(spark):
    import bench
    from pyspark.sql import functions as F

    corpus = bench.amplified_corpus(spark, SF_DIR, AMPLIFY)
    stage_dir = tempfile.mkdtemp(prefix="kgbenchx-corpus-")
    corpus.write.mode("overwrite").parquet(stage_dir)
    corpus = spark.read.parquet(stage_dir)
    return stage_dir, corpus


def canonicalize_breakdown():
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.operators.canonicalize import (
        candidate_edges,
        canonicalize_entities,
        connected_components,
        entity_minhash,
    )

    spark = make_spark()
    stage_dir, corpus = staged_corpus(spark)
    try:
        base = F.hex(F.xxhash64(F.regexp_replace("url", r"\?c=\d+$", "")))
        key = F.concat(
            F.lit("ent-"), base, F.lit("-v"),
            F.regexp_extract("url", r"c=(\d+)", 1),
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"), key.alias("entity_key")
        )
        out = {}
        # phase 1: signatures only
        out["sigs_noop"] = timed(
            spark, "canon: sigs", lambda: noop(entity_minhash(ents, "entity_key", "entity_id"))
        )
        # phase 2: sigs + LSH candidates
        def cands_only():
            sigs = entity_minhash(ents, "entity_key", "entity_id").cache()
            try:
                noop(candidate_edges(sigs, "entity_id", 8, max_bucket=500))
            finally:
                sigs.unpersist(blocking=False)

        out["cands_noop"] = timed(spark, "canon: sigs+cands", cands_only)

        # phase 3: sigs + cands + estimate verify (edges)
        def edges_only():
            sigs = entity_minhash(ents, "entity_key", "entity_id").cache()
            try:
                cands = candidate_edges(sigs, "entity_id", 8, max_bucket=500)
                sa, sb = sigs.alias("sa"), sigs.alias("sb")
                agree = F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sa.minhash"), F.col("sb.minhash"),
                            lambda x, y: x == y,
                        ),
                        lambda eq: eq,
                    )
                )
                est = agree.cast("double") / F.size(F.col("sa.minhash"))
                edges = (
                    cands.join(sa, cands["src"] == F.col("sa.entity_id"))
                    .join(sb, cands["dst"] == F.col("sb.entity_id"))
                    .filter(est >= 0.7)
                    .select("src", "dst")
                )
                noop(edges)
            finally:
                sigs.unpersist(blocking=False)

        out["edges_noop"] = timed(spark, "canon: sigs+cands+verify", edges_only)

        # phase 4: full canonicalize (count action like bench)
        out["full"] = timed(
            spark,
            "canon: full",
            lambda: canonicalize_entities(
                ents, jaccard_threshold=0.7, verify="estimate"
            )
            .agg(F.countDistinct("canonical_id"))
            .collect(),
        )
        print(json.dumps({"canonicalize_phases": out}))
    finally:
        spark.stop()
        shutil.rmtree(stage_dir, ignore_errors=True)


def graphs_breakdown(only=None):
    import math

    from pyspark.sql import functions as F

    spark = make_spark()
    stage_dir, corpus = staged_corpus(spark)
    n_docs = corpus.count()
    try:
        ids = spark.range(0, n_docs)
        tree = ids.filter(F.col("id") > 0).select(
            F.col("id").alias("src"), F.expr("(id - 1) DIV 2").alias("dst")
        )
        link = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(n_docs)).alias("dst"),
        )
        edges = tree.unionByName(link)
        out = {}

        from case_uco_ontology_map_spark.operators.graphquery import (
            transitive_closure,
        )
        from case_uco_ontology_map_spark.operators.graphstats import (
            hits,
            pagerank,
            spam_mass,
            strongly_connected_components,
            trustrank,
        )

        tree_edges = spark.range(1, n_docs).select(
            F.col("id").alias("src"),
            F.expr("(id - 1) DIV 2").alias("dst"),
        )
        seeds = ids.filter(F.col("id") % 64 == 0).select(
            F.col("id").alias("node")
        )
        thunks = {
            "closure": lambda: transitive_closure(tree_edges)
            .agg(F.count("*"), F.max("hops"))
            .collect(),
            "hits": lambda: hits(edges, iterations=3)
            .agg(F.sum("hub"), F.sum("auth"))
            .collect(),
            "pagerank": lambda: pagerank(edges, iterations=5)
            .agg(F.sum("rank"))
            .collect(),
            "trustrank": lambda: trustrank(edges, seeds, iterations=4)
            .agg(F.sum("trust"))
            .collect(),
            "spam_mass": lambda: spam_mass(edges, seeds, iterations=4)
            .agg(F.sum("rank"), F.sum("trust"), F.count("*"))
            .collect(),
            "scc": lambda: strongly_connected_components(
                edges, max_rounds=48, max_iterations=2000
            )
            .agg(F.count("*"))
            .collect(),
        }
        for name, fn in thunks.items():
            if only and name not in only:
                continue
            out[name] = timed(spark, name, fn, repeats=1)
        print(json.dumps({"graphs": out, "n_docs": n_docs}))
    finally:
        spark.stop()
        shutil.rmtree(stage_dir, ignore_errors=True)


def cc_breakdown():
    """Time connected_components ALONE on a pre-materialized edge set of
    the q_canonicalize shape, then time its first rounds step by step
    (perfbench's traced ``canon.cc_jobs`` reports the CC job count)."""
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.operators import canonicalize as cz
    from case_uco_ontology_map_spark.operators.barrier import materialize

    spark = make_spark()
    stage_dir, corpus = staged_corpus(spark)
    try:
        base = F.hex(F.xxhash64(F.regexp_replace("url", r"\?c=\d+$", "")))
        key = F.concat(
            F.lit("ent-"), base, F.lit("-v"),
            F.regexp_extract("url", r"c=(\d+)", 1),
        )
        ents = corpus.select(
            F.xxhash64("url").alias("entity_id"), key.alias("entity_key")
        )
        sigs = cz.entity_minhash(ents, "entity_key", "entity_id").cache()
        cands = cz.candidate_edges(sigs, "entity_id", 8, max_bucket=500)
        sa, sb = sigs.alias("sa"), sigs.alias("sb")
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("sa.minhash"), F.col("sb.minhash"),
                    lambda x, y: x == y,
                ),
                lambda eq: eq,
            )
        )
        est = agree.cast("double") / F.size(F.col("sa.minhash"))
        edges = (
            cands.join(sa, cands["src"] == F.col("sa.entity_id"))
            .join(sb, cands["dst"] == F.col("sb.entity_id"))
            .filter(est >= 0.7)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        out = {"n_edges": n_edges}
        out["cc"] = timed(
            spark,
            "cc only",
            lambda: cz.connected_components(edges).count(),
        )

        def barrier(pairs):
            return materialize(pairs, *cz._fingerprint_metrics())

        # inline micro-timing of the CC loop steps (single run, no warmup)
        detail = {}
        t0 = time.perf_counter()
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        detail["nodes_ckpt"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        pairs = (
            edges.select(
                F.greatest("src", "dst").alias("a"),
                F.least("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        pairs, fp = barrier(pairs)
        detail["pairs_ckpt"] = round(time.perf_counter() - t0, 3)
        for rno in (1, 2, 3):
            t0 = time.perf_counter()
            ls = cz._large_star(pairs, dedup=False)
            ls = ls.localCheckpoint(eager=True)
            detail[f"r{rno}_large"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            pairs2 = cz._small_star(ls, oriented=True)
            pairs2, fp2 = barrier(pairs2)
            detail[f"r{rno}_small"] = round(time.perf_counter() - t0, 3)
            pairs = pairs2
            if fp2 == fp:
                break
            fp = fp2
        t0 = time.perf_counter()
        stars = pairs.groupBy("a").agg(F.min("b").alias("component")).select(
            F.col("a").alias("id"), "component"
        )
        n = nodes.join(stars, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        ).count()
        detail["collapse_join_count"] = round(time.perf_counter() - t0, 3)
        detail["n_components_rows"] = n
        print(json.dumps({"cc_phases": out, "cc_detail": detail}))
    finally:
        spark.stop()
        shutil.rmtree(stage_dir, ignore_errors=True)


def entailment_breakdown():
    """q_kg_entailment twin: the rdfs9 closure + broadcast join + distinct
    over 4·n_docs type triples (same synthetic hierarchy as bench.py)."""
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.operators.triples import (
        rdfs_infer_types,
    )

    spark = make_spark()
    stage_dir, corpus = staged_corpus(spark)
    n_docs = corpus.count()
    try:
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
                    F.concat(F.lit(f"kb:{slug}-"), F.col("h")).alias("subj"),
                    F.lit("rdf:type").alias("pred"),
                    F.lit(cls).alias("obj"),
                    F.lit(True).alias("obj_is_iri"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                )
            )
        t = parts[0]
        for p in parts[1:]:
            t = t.unionByName(p)
        out = {
            "entailment": timed(
                spark, "kg_entailment",
                lambda: rdfs_infer_types(t, hierarchy).count(), repeats=2,
            ),
            "n_docs": n_docs,
        }
        print(json.dumps({"entailment": out}))
    finally:
        spark.stop()
        shutil.rmtree(stage_dir, ignore_errors=True)


def text_index_breakdown():
    """q_text_index twin: postings build + stats + 8-query bm25."""
    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.operators.serving import (
        bm25_topk,
        build_postings,
        posting_stats,
    )

    spark = make_spark()
    stage_dir, corpus = staged_corpus(spark)
    try:
        qterms = [
            ("q1", "spark"), ("q1", "window"), ("q2", "hash"),
            ("q2", "merge"), ("q3", "vector"), ("q3", "customer"),
            ("q4", "table"), ("q4", "scan"), ("q5", "join"),
            ("q5", "filter"), ("q6", "batch"), ("q6", "row"),
            ("q7", "sort"), ("q7", "group"), ("q8", "key"), ("q8", "value"),
        ]
        queries = spark.createDataFrame(qterms, "query_id string, term string")

        def run():
            postings = build_postings(corpus, id_col="url", text_col="text")
            stats = posting_stats(postings)
            n = bm25_topk(postings, stats, queries, k=10).count()
            postings.unpersist()
            return n

        out = {"text_index": timed(spark, "text_index", run, repeats=2)}
        print(json.dumps({"text_index": out}))
    finally:
        spark.stop()
        shutil.rmtree(stage_dir, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "canonicalize"
    if mode == "canonicalize":
        canonicalize_breakdown()
    elif mode == "graphs":
        graphs_breakdown(only=set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None)
    elif mode == "cc":
        cc_breakdown()
    elif mode == "entailment":
        entailment_breakdown()
    elif mode == "text_index":
        text_index_breakdown()
    else:
        raise SystemExit(f"unknown mode {mode}")
