"""End-to-end Spark tests: corpus build, byte-identical extraction, triple
emission parity between the mapInPandas kernel and the refmap oracle."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators.triples import emit_triples
from case_uco_ontology_map_spark.plans.pipeline import (
    PAGE_SHARED_METADATA,
    extracted_pages,
    page_records,
    page_triples,
    web_ontology_map,
)
from case_uco_ontology_map_spark.refmap import extract_records, extract_text
from case_uco_ontology_map_spark.refmap.graph import build_graph, nodes_to_triples
from case_uco_ontology_map_spark.sources.corpus import web_corpus


def test_extraction_byte_identity(spark, sf_dir):
    """BASELINE.md row 2: per-url extracted text must be byte-identical
    between the pipeline UDF and the pinned pure-Python oracle."""
    corpus = web_corpus(spark, sf_dir).limit(200).cache()
    rows = corpus.select("url", "html", "text").collect()
    assert len(rows) > 0
    for r in rows:
        assert extract_text(r["html"]) == r["text"], r["url"]
    # and the in-plan UDF agrees (same function, but prove the Arrow path)
    mismatches = (
        extracted_pages(corpus)
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert mismatches == 0
    corpus.unpersist()


def test_page_triples_match_refmap_oracle(spark, sf_dir):
    """Spark mapInPandas kernel ≡ pure-Python oracle on the same records:
    triple sets identical (P/R = 1.0)."""
    corpus = web_corpus(spark, sf_dir).limit(50)
    records_df = page_records(extracted_pages(corpus)).cache()
    triples_df = page_triples(records_df)
    got = {
        tuple(r)
        for r in triples_df.select(
            "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid"
        ).collect()
    }

    pdf = records_df.drop("extracted_text").toPandas()
    payload_records = []
    for rec in pdf.to_dict("records"):
        r = dict(PAGE_SHARED_METADATA)
        r.update({k: (int(v) if isinstance(v, (int,)) and not isinstance(v, bool) else v)
                  for k, v in rec.items() if v is not None})
        # normalize numpy ints
        r = {k: (int(v) if type(v).__module__ == "numpy" and "int" in type(v).__name__ else v)
             for k, v in r.items()}
        payload_records.append(r)

    from case_uco_ontology_map_spark.operators.triples import (
        extend_ontology_map_for_schema,
    )

    field_types = {
        "url": "str", "warc_time": "str", "lang": "str", "n_chars": "int",
        "content_sha256": "str", "host": "str", "mime_type": "str",
    }
    omap = extend_ontology_map_for_schema(
        web_ontology_map(), field_types, "Web Page"
    )
    expected = set()
    graph = build_graph(payload_records, omap)
    # regroup per record: oracle flattens with its own record_uuid below
    from case_uco_ontology_map_spark.refmap.planner import OntologyContext, plan_record
    from case_uco_ontology_map_spark.refmap.graph import (
        build_record_nodes,
        enforce_property_placement,
    )

    ctx = OntologyContext(omap)
    for rec in payload_records:
        plan = plan_record(rec, ctx)
        nodes = build_record_nodes(plan, kb_ids=True)
        nodes = enforce_property_placement(nodes, omap)
        expected.update(nodes_to_triples(nodes, plan["record_uuid"]))

    assert got == expected
    records_df.unpersist()


def test_triples_shape_and_contracts(spark, sf_dir):
    corpus = web_corpus(spark, sf_dir).limit(100)
    triples = page_triples(page_records(extracted_pages(corpus))).cache()
    n_records = 100

    # every record yields exactly one URL-typed object node
    url_nodes = triples.filter(
        (F.col("pred") == "rdf:type") & (F.col("obj") == "uco-observable:URL")
    )
    assert url_nodes.count() == n_records

    # URLFacet carries fullValue = the url (propertyFieldMap J4 routing)
    fv = triples.filter(F.col("pred") == "uco-observable:fullValue")
    assert fv.count() == n_records
    bad = fv.filter(F.col("obj") != F.col("url")).count()
    assert bad == 0

    # no-null contract: no empty objects anywhere
    assert triples.filter(F.col("obj").isNull() | (F.col("obj") == "")).count() == 0

    # extension facet captured the unmapped lang field
    lang_triples = triples.filter(F.col("pred") == "dfc-ext:lang")
    assert lang_triples.count() == n_records
    triples.unpersist()


def test_emit_triples_no_shuffle(spark, sf_dir):
    """Scale guard: the emission plan must contain no Exchange (shuffle)."""
    corpus = web_corpus(spark, sf_dir)
    triples = page_triples(page_records(extracted_pages(corpus)))
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_fingerprint_stability_across_runs(spark, sf_dir):
    """Same input → identical record_uuids (determinism / resume contract)."""
    corpus = web_corpus(spark, sf_dir).limit(20)
    t1 = page_triples(page_records(extracted_pages(corpus)))
    t2 = page_triples(page_records(extracted_pages(corpus)))
    ids1 = {r[0] for r in t1.select("record_uuid").distinct().collect()}
    ids2 = {r[0] for r in t2.select("record_uuid").distinct().collect()}
    assert ids1 == ids2 and len(ids1) == 20


def test_fused_equals_staged(spark, sf_dir):
    """fused_page_triples (one Python crossing) must emit exactly the same
    triple set as the staged extract→records→emit path — including on a
    page with NULL html (pinned policy: null html extracts to "")."""
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples

    base = web_corpus(spark, sf_dir).limit(60)
    null_row = spark.createDataFrame(
        [("https://nullhtml.example.org/x", None)],
        "url string, html binary",
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-01-02 03:04:05")).alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    corpus = base.unionByName(null_row.select(*base.columns)).cache()
    staged = {
        tuple(r)
        for r in page_triples(page_records(extracted_pages(corpus))).collect()
    }
    fused = {tuple(r) for r in fused_page_triples(corpus).collect()}
    assert fused == staged
    # the null-html page produced triples on both paths (n_chars drops as a
    # null/empty literal, but the record exists with a stable fingerprint)
    assert any("nullhtml.example.org" in t[-1] for t in fused)
    corpus.unpersist()


def test_fused_first_meta_equals_all(spark, sf_dir):
    """per_record_meta="first" (production encoding: fingerprint/url once
    per record, null elsewhere) must carry the SAME triple semantics as the
    denormalized default — identical (subj..record_uuid) set, exactly one
    non-null (fingerprint, url) pair per record, and the same
    (fingerprint → record_uuid) manifest."""
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples

    corpus = web_corpus(spark, sf_dir).limit(40).cache()
    full = fused_page_triples(corpus).collect()
    slim = fused_page_triples(corpus, per_record_meta="first").collect()
    assert {tuple(r)[:6] for r in full} == {tuple(r)[:6] for r in slim}
    manifest_full = {(r["fingerprint"], r["record_uuid"]) for r in full}
    meta_rows = [r for r in slim if r["fingerprint"] is not None]
    assert {(r["fingerprint"], r["record_uuid"]) for r in meta_rows} == manifest_full
    assert len(meta_rows) == len(manifest_full)  # exactly one per record
    assert all(
        (r["url"] is None) == (r["fingerprint"] is None) for r in slim
    )
    corpus.unpersist()


def test_fused_mentions_one_scan_no_shuffle(spark, sf_dir):
    """Scale guard (round-2): the with_mentions triples plan must stay ONE
    corpus scan with zero Exchanges — mention triples are emitted by the
    same fused kernel, not unioned from a second extraction pass."""
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples

    corpus = web_corpus(spark, sf_dir)
    triples = fused_page_triples(corpus, mentions=True)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("Scan parquet") <= 1, plan


def _staged_mentions(corpus):
    """The mention stream the fused kernel must reproduce, built from the
    staged operators: detect_mentions over the extracted pages, each
    page's record_uuid taken from the staged extract→records→emit
    triples."""
    from case_uco_ontology_map_spark.operators.mentions import detect_mentions

    pages = extracted_pages(corpus)
    uuids = (
        page_triples(page_records(pages))
        .where(F.col("url").isNotNull())
        .select("url", "record_uuid")
        .distinct()
    )
    text = pages.select("url", F.col("extracted_text").alias("text")).join(
        uuids, "url"
    )
    return detect_mentions(text, record_uuid_col="record_uuid")


def test_fused_mentions_match_operators(spark, sf_dir):
    """Fused mention-triple emission must equal the staged reference:
    detect_mentions over the same records, each mention minted through
    the shared pure helper mention_triple_rows."""
    from case_uco_ontology_map_spark.operators.mentions import (
        mention_triple_rows,
    )
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples

    corpus = web_corpus(spark, sf_dir).limit(50).cache()
    fused = fused_page_triples(corpus, mentions=True)
    page_only = {tuple(r) for r in fused_page_triples(corpus).collect()}
    fused_set = {tuple(r) for r in fused.collect()}
    fused_mention_part = {
        t[:6] for t in fused_set - page_only
    }

    staged_mentions = {
        t
        for r in _staged_mentions(corpus).collect()
        if r["record_uuid"] is not None
        for t in mention_triple_rows(
            r["record_uuid"], r["surface"], r["entity_class"], r["n_mentions"]
        )
    }
    assert fused_mention_part == staged_mentions
    assert len(staged_mentions) > 0
    corpus.unpersist()


def test_surface_markers_lossless_single_scan(spark, sf_dir):
    """Single-scan with_mentions (round-3): the per-surface audit markers
    emitted by the fused kernel must reconstruct the 5-col mention stream
    EXACTLY (mentions_from_triples ≡ the staged detect_mentions), markers must be
    manifest-invisible (fingerprint NULL) and strippable, and the derived
    stream's plan must contain exactly ONE Python kernel node."""
    import re

    from case_uco_ontology_map_spark.operators.mentions import (
        MENTION_MARKER_PRED,
        mentions_from_triples,
        strip_mention_markers,
    )
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples

    corpus = web_corpus(spark, sf_dir).limit(60).cache()
    with_markers = fused_page_triples(
        corpus, mentions=True, surface_markers=True
    )
    derived = {
        tuple(r) for r in mentions_from_triples(with_markers).collect()
    }
    direct = {tuple(r) for r in _staged_mentions(corpus).collect()}
    assert derived == direct and derived

    rows = with_markers.collect()
    markers = [r for r in rows if r["pred"] == MENTION_MARKER_PRED]
    assert markers, "marker rows must be emitted"
    assert all(r["fingerprint"] is None for r in markers)
    assert all(r["url"] is not None for r in markers)
    # stripping the markers recovers the plain mentions=True stream
    stripped = {
        tuple(r) for r in strip_mention_markers(with_markers).collect()
    }
    plain = {
        tuple(r) for r in fused_page_triples(corpus, mentions=True).collect()
    }
    assert stripped == plain

    # "first" meta mode: markers still carry url, never break the one-fp-
    # per-record invariant
    first = fused_page_triples(
        corpus, mentions=True, surface_markers=True, per_record_meta="first"
    )
    fp_rows = first.filter(F.col("fingerprint").isNotNull())
    assert fp_rows.count() == 60
    derived_first = {
        tuple(r) for r in mentions_from_triples(first).collect()
    }
    assert derived_first == direct

    plan = mentions_from_triples(with_markers)._jdf.queryExecution().executedPlan().toString()
    py_nodes = len(
        re.findall(r"ArrowEvalPython|PythonMapInArrow|MapInPandas", plan)
    )
    assert py_nodes == 1, plan
    corpus.unpersist()


def test_run_pipeline_mentions_from_sink_no_kernel(spark, sf_dir, tmp_path):
    """Materialized with_mentions: out["mentions"] reads the WRITTEN triple
    sink (pred-filtered pruned scan + link scoring) — no extraction kernel
    in its plan — and equals the kernel-derived stream."""
    from case_uco_ontology_map_spark.plans.pipeline import run_pipeline

    out = run_pipeline(
        spark, sf_dir, out_dir=str(tmp_path / "kg"), with_mentions=True
    )
    plan = out["mentions"]._jdf.queryExecution().executedPlan().toString()
    # link_mentions is one mapInPandas; extraction would add a second node
    assert "extract" not in plan.lower()
    got = {
        (r["url"], r["record_uuid"], r["surface"], r["entity_class"], r["n_mentions"])
        for r in out["mentions"].collect()
    }
    direct = {
        tuple(r) for r in _staged_mentions(web_corpus(spark, sf_dir)).collect()
    }
    assert got == direct and got
