"""Pipeline-level resume + TTL sink tests (BASELINE.md resume-correctness
row: identical final triple set after interruption; unchanged records keep
identical IRIs)."""

import os

from pyspark.sql import functions as F

from case_uco_ontology_map_spark.plans.pipeline import (
    PAGE_SHARED_METADATA,
    extracted_pages,
    fused_page_triples,
    page_records,
    web_ontology_map,
)
from case_uco_ontology_map_spark.sources.corpus import web_corpus
from case_uco_ontology_map_spark.streaming import resume


def test_pipeline_resume_end_to_end(spark, sf_dir, tmp_path):
    """Run on half the corpus → checkpoint; run on the full corpus with the
    manifest → only new records compute; union(prior output, fresh output)
    == full recompute exactly."""
    corpus = web_corpus(spark, sf_dir).cache()
    first_half = corpus.filter(F.xxhash64("url") % 2 == 0)

    t1 = fused_page_triples(first_half).cache()
    manifest_path = str(tmp_path / "manifest")
    resume.write_manifest(
        t1.select("fingerprint", "record_uuid").distinct(), manifest_path
    )

    # resume over the FULL corpus
    cp = resume.read_manifest(spark, manifest_path)
    records = page_records(extracted_pages(corpus)).drop("extracted_text")
    split = resume.split_resume(
        records, cp, shared=dict(PAGE_SHARED_METADATA)
    ).cache()
    n_total = corpus.count()
    n_first = first_half.count()
    assert split.filter("reused").count() == n_first
    assert split.filter("NOT reused").count() == n_total - n_first

    # recompute only the new records; union with prior output
    new_urls = [r["url"] for r in split.filter("NOT reused").select("url").collect()]
    fresh = fused_page_triples(corpus.filter(F.col("url").isin(new_urls)))
    resumed = t1.unionByName(fresh)

    full = fused_page_triples(corpus)
    key_cols = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid"]
    resumed_set = {tuple(r) for r in resumed.select(*key_cols).collect()}
    full_set = {tuple(r) for r in full.select(*key_cols).collect()}
    assert resumed_set == full_set  # ST1: byte-identical final triple set

    t1.unpersist(); split.unpersist(); corpus.unpersist()


def test_run_pipeline_materialization(spark, sf_dir, tmp_path):
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, sf_dir, out_dir=str(tmp_path / "out"))
    triples = spark.read.parquet(str(tmp_path / "out" / "triples"))
    assert triples.count() > 0
    assert "bucket" in triples.columns
    manifest = spark.read.parquet(str(tmp_path / "out" / "manifest"))
    assert manifest.count() == 500
    assert "lineage" in out
    lin = out["lineage"].collect()
    assert sum(r["records"] for r in lin) == 500
    assert all(r["triples"] > 0 for r in lin)


def test_run_pipeline_with_mentions(spark, sf_dir):
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, sf_dir, with_mentions=True)
    triples = out["triples"]
    kinds = {
        r["obj"]
        for r in triples.filter(F.col("pred") == "uco-core:kindOfRelationship")
        .select("obj")
        .distinct()
        .collect()
    }
    assert "references" in kinds
    ents = out["entities"]
    assert ents.count() > 0
    assert set(ents.columns) == {"entity_id", "entity_key", "canonical_id"}


def test_extension_facet_ttl():
    from case_uco_ontology_map_spark.operators.triples import extension_facet_ttl

    ttl = extension_facet_ttl(
        web_ontology_map(),
        {"lang": "str", "warc_time": "str", "url": "str", "n_chars": "int"},
        "Web Page",
    )
    assert "dfc-ext:WebPageExtensionFacet" in ttl
    assert "rdfs:subClassOf uco-core:Facet" in ttl
    assert "dfc-ext:lang" in ttl and "dfc-ext:warcTime" in ttl
    # mapped/explicit fields excluded
    assert "dfc-ext:url\n" not in ttl and "dfc-ext:nChars" not in ttl


def test_observed_metrics(spark, sf_dir):
    """observe() metrics ride the action — no extra job (ST3/A7)."""
    from case_uco_ontology_map_spark.plans.pipeline import (
        fused_page_triples,
        observed_triples,
    )

    corpus = web_corpus(spark, sf_dir).limit(40)
    df, obs = observed_triples(fused_page_triples(corpus))
    n = df.count()
    metrics = obs.get
    assert metrics["triples"] == n
    assert abs(metrics["records"] - 40) <= 2  # HLL approx
    assert metrics["obj_bytes"] > 0


def test_run_pipeline_mentions_linked(spark, sf_dir):
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, sf_dir, with_mentions=True)
    mentions = out["mentions"]
    assert "linked_class" in mentions.columns
    row = mentions.limit(1).collect()
    if row:
        assert row[0]["link_score"] is not None


def test_entity_table_materialized_partitioned(spark, sf_dir, tmp_path):
    """north_rule: materialization writes BOTH partitioned tables — triples
    (bucketed on record_uuid) and entities (bucketed on canonical_id) —
    and the entity table round-trips with its canonical groups intact."""
    import os

    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    out_dir = str(tmp_path / "kg")
    out = run_pipeline(spark, sf_dir, with_mentions=True, out_dir=out_dir)
    ents_dir = os.path.join(out_dir, "entities")
    buckets = [d for d in os.listdir(ents_dir) if d.startswith("bucket=")]
    assert buckets, "entity table must be written partitioned by bucket"
    written = spark.read.parquet(ents_dir)
    assert set(written.columns) >= {"entity_id", "entity_key", "canonical_id"}
    live = out["entities"].count()
    assert written.count() == live


def test_run_pipeline_drop_metrics_on_degenerate_corpus(spark, tmp_path):
    """No silent caps in the PRODUCTION entry point: a degenerate corpus
    (every gazetteer surface packed into a few docs → hundreds of distinct
    entity keys) with a tight bucket cap must surface non-None
    canonicalization drop metrics in run_pipeline's output AND in the
    on-disk run report — the audit posture the north_rule demands at
    100 TB, not a test-harness-only observation."""
    import json
    import os

    from case_uco_ontology_map_spark.operators.dedup import drop_metrics
    from case_uco_ontology_map_spark.operators.mentions import build_gazetteer
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    surfaces = sorted(build_gazetteer().keys())
    per_doc = 12
    rows = [
        (
            i,
            ". ".join(f"the {s} artifact" for s in surfaces[i : i + per_doc])
            + ".",
            "en",
            "degenerate",
            0,
        )
        for i in range(0, len(surfaces), per_doc)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    out_dir = str(tmp_path / "kg")
    out = run_pipeline(
        spark, sf, with_mentions=True, out_dir=out_dir,
        canonicalize_opts={"max_bucket": 2},
    )
    drops = out["canonicalize_drops"]
    assert drops is not None, "cap drops must be observed, not silent"
    assert drops["dropped_buckets"] > 0
    assert drops["dropped_members"] > drops["dropped_buckets"]
    with open(os.path.join(out_dir, "run_report.json")) as fh:
        report = json.load(fh)
    assert report["canonicalize_drops"] == drops
    assert report["canonicalize_opts"] == {"max_bucket": 2}

    # lazy path (no out_dir): the caller's own first action on the
    # entities frame fires the same observation
    lazy = run_pipeline(
        spark, sf, with_mentions=True, canonicalize_opts={"max_bucket": 2}
    )
    assert "canonicalize_drops" not in lazy
    lazy["entities"].count()
    lazy_drops = drop_metrics(lazy["drop_observation"])
    assert lazy_drops is not None and lazy_drops["dropped_buckets"] > 0


def test_first_meta_materialization_same_manifest(spark, sf_dir, tmp_path):
    """per_record_meta="first" through run_pipeline's materialization: the
    isNotNull manifest filter must yield the SAME (fingerprint →
    record_uuid) manifest the denormalized mode writes, and the stored
    triple set must match modulo the meta columns."""
    import os

    from pyspark.sql import functions as F

    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline
    from case_uco_ontology_map_spark.streaming.resume import read_manifest

    out_all = str(tmp_path / "all")
    out_first = str(tmp_path / "first")
    run_pipeline(spark, sf_dir, out_dir=out_all, per_record_meta="all")
    run_pipeline(spark, sf_dir, out_dir=out_first, per_record_meta="first")

    m_all = {
        (r["fingerprint"], r["record_uuid"])
        for r in read_manifest(spark, os.path.join(out_all, "manifest")).collect()
    }
    m_first = {
        (r["fingerprint"], r["record_uuid"])
        for r in read_manifest(spark, os.path.join(out_first, "manifest")).collect()
    }
    assert m_all == m_first and m_all

    core = lambda p: {
        tuple(r)
        for r in spark.read.parquet(p)
        .select("subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid")
        .collect()
    }
    assert core(os.path.join(out_all, "triples")) == core(
        os.path.join(out_first, "triples")
    )
    # "first" mode: exactly one non-null meta row per record on disk
    t = spark.read.parquet(os.path.join(out_first, "triples"))
    per_rec = (
        t.groupBy("record_uuid")
        .agg(F.sum(F.col("fingerprint").isNotNull().cast("int")).alias("n"))
        .select(F.min("n"), F.max("n"))
        .first()
    )
    assert per_rec == (1, 1)


def test_run_pipeline_canonicalizes_once(spark, sf_dir, tmp_path, monkeypatch):
    """with_mentions + out_dir runs ONE canonicalize — over the written
    triple table — and its entity table equals, row for row, the entities
    of the same call without out_dir. Both bucket tables hold exactly one
    parquet file per bucket directory."""
    from case_uco_ontology_map_spark.operators import canonicalize
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    calls = []
    real_cc = canonicalize.connected_components

    def counting_cc(*args, **kwargs):
        calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(canonicalize, "connected_components", counting_cc)
    out_dir = str(tmp_path / "kg")
    run_pipeline(spark, sf_dir, with_mentions=True, out_dir=out_dir)
    assert len(calls) == 1

    cols = ["entity_id", "entity_key", "canonical_id"]
    lazy = run_pipeline(spark, sf_dir, with_mentions=True)["entities"]
    want = sorted(tuple(r) for r in lazy.select(*cols).collect())
    written = spark.read.parquet(os.path.join(out_dir, "entities"))
    got = sorted(tuple(r) for r in written.select(*cols).collect())
    assert got == want and got

    for table, n_buckets in (("triples", 64), ("entities", 16)):
        root = os.path.join(out_dir, table)
        buckets = [d for d in os.listdir(root) if d.startswith("bucket=")]
        assert 0 < len(buckets) <= n_buckets
        for d in buckets:
            files = [
                f for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (table, d, files)
