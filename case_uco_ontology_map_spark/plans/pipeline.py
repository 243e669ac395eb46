"""End-to-end web-scale KG construction pipeline.

documents/web corpus → HTML→text extraction (Arrow UDF, byte-identical) →
per-page artifact records → deterministic uuid5 planning + ontology mapping →
(subj, pred, obj) triples — the Spark re-expression of the reference's
supervisor graph deterministic path (/root/reference/graph.py:172-210,
SURVEY.md §3.1), with the LLM stages replaced by the broadcast ontology
dictionary + gazetteer per BASELINE.json north_star.

Plan shape (narrow until the sink):
  scan(parquet, pruned cols) → filter(lang) [pushed to scan] →
  extract_text pandas UDF → projections (JVM) → mapInPandas triple kernel.
  No shuffle anywhere on the emission path; canonicalization and rendering
  are separate, explicitly-partitioned jobs (operators/canonicalize.py).
"""

from __future__ import annotations

import os
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import extract_text_udf, sha256_utf8_udf
from ..operators.triples import emit_triples
from ..refmap.ontology import load_dictionary, ontology_map_for_classes
from ..sources.corpus import web_corpus

PAGE_SHARED_METADATA = {
    "artifact_type": "Web Page",
    "description": "Crawled web page artifact records",
    "source": "common-crawl-style corpus",
}


def web_ontology_map() -> Dict[str, Any]:
    """Ontology map for web-page artifacts, compiled from the broadcast
    dictionary (deterministic replacement for the LLM research/synthesis
    stages — SURVEY.md §2.9) plus explicit propertyFieldMap rows (J4)."""
    dictionary = load_dictionary()
    omap = ontology_map_for_classes(dictionary, ["URL", "ContentDataFacet"])
    omap["artifacts"] = ["Web Page"]
    omap["additional_details"] = {
        "propertyFieldMap": {
            "URLFacet": {"fullValue": ["url"], "host": ["host"]},
            "ContentDataFacet": {
                "sizeInBytes": ["n_chars"],
                "hash": ["content_sha256"],
                "mimeType": ["mime_type"],
            },
        }
    }
    return omap


def extracted_pages(
    corpus: DataFrame, lang: Optional[str] = None, validate_extraction: bool = False
) -> DataFrame:
    """corpus (url, warc_ts, html, text, lang) → + extracted_text.

    The lang filter sits BEFORE the UDF so Catalyst pushes it into the scan
    (never decode pages we won't keep). When validate_extraction is set the
    golden ``text`` column is checked for byte-identity in-plan (cheap JVM
    comparison; any mismatch kills the job rather than silently drifting).
    """
    df = corpus
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    df = df.withColumn("extracted_text", extract_text_udf(F.col("html")))
    if validate_extraction and "text" in df.columns:
        df = df.withColumn(
            "extracted_text",
            F.when(
                F.col("extracted_text") == F.col("text"), F.col("extracted_text")
            ).otherwise(
                F.raise_error(
                    F.concat(F.lit("extraction drift for url="), F.col("url"))
                )
            ),
        )
    return df


def page_records(pages: DataFrame) -> DataFrame:
    """Per-page artifact record columns (all JSON-native scalar types so the
    canonical fingerprint is well-defined)."""
    return pages.select(
        F.col("url"),
        F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_time"),
        F.col("lang"),
        F.length(F.col("extracted_text")).alias("n_chars"),
        sha256_utf8_udf(F.col("extracted_text")).alias("content_sha256"),
        F.substring_index(F.substring_index(F.col("url"), "/", 3), "//", -1).alias("host"),
        F.lit("text/html").alias("mime_type"),
        F.col("extracted_text"),
    )


def page_triples(
    records: DataFrame,
    ontology_map: Optional[Dict[str, Any]] = None,
    shared: Optional[Dict[str, Any]] = None,
) -> DataFrame:
    """records → triples; record fields exclude the free-text body (the
    reference fingerprints structured records, not raw evidence bytes)."""
    return emit_triples(
        records.drop("extracted_text"),
        ontology_map or web_ontology_map(),
        shared=dict(PAGE_SHARED_METADATA if shared is None else shared),
        passthrough_cols=("url",),
    )


def _page_record(url, warc_time, html, lg, shared):
    """Build the per-page artifact record (+ extracted text) — the single
    shared implementation for every fused kernel, so triple and mention
    paths cannot drift on extraction/normalization policy.

    Null-html policy (pinned, tested): null html extracts to the EMPTY
    STRING — same as the staged path's extract_text_udf — so n_chars=0 and
    content_sha256 = sha256(\"\") and the fingerprint is identical on both
    paths."""
    import hashlib as _hashlib

    from ..refmap.extract import extract_text as _extract

    text = _extract(html) if html is not None else ""
    rec = dict(shared)
    rec.update(
        url=url,
        warc_time=warc_time,
        lang=lg,
        n_chars=len(text),
        content_sha256=_hashlib.sha256(text.encode("utf-8")).hexdigest(),
        host=url.split("//", 1)[-1].split("/", 1)[0],
        mime_type="text/html",
    )
    return rec, text


def _fused_input(corpus: DataFrame, lang: Optional[str]) -> DataFrame:
    df = corpus
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", "warc_ts", "html", "lang")


def _batch_page_fields(rb):
    """Decode one input RecordBatch into python lists (url, warc_time,
    html, lang) with the pinned timestamp rendering."""
    import pyarrow as _pa
    import pyarrow.compute as _pc

    urls = rb.column("url").to_pylist()
    # cast to second resolution first — pyarrow strftime renders %S
    # with fractional digits on timestamp[us] columns
    warcs = _pc.strftime(
        rb.column("warc_ts").cast(_pa.timestamp("s", tz="UTC")),
        format="%Y-%m-%dT%H:%M:%SZ",
    ).to_pylist()
    htmls = rb.column("html").to_pylist()
    langs = rb.column("lang").to_pylist()
    return zip(urls, warcs, htmls, langs)


def fused_page_triples(
    corpus: DataFrame,
    ontology_map: Optional[Dict[str, Any]] = None,
    lang: Optional[str] = None,
    mentions: bool = False,
    gazetteer: Optional[Dict[str, str]] = None,
    per_record_meta: str = "all",
    surface_markers: bool = False,
) -> DataFrame:
    """Fused fast path: (url, warc_ts, html, lang) → triples in ONE
    mapInPandas crossing.

    ``per_record_meta`` controls the fingerprint/url columns, which are
    constants of the RECORD, not the triple:
      - "all" (default): repeated on every triple row — the denormalized
        shape the contract queries and the staged-equality test pin.
      - "first": emitted on the record's first triple row only, null on the
        rest — the normalized production encoding. fingerprint (64 hex
        chars) + url are ~40% of the Arrow transfer bytes per row; at
        100 TB that repetition is pure memory-bandwidth burn on a value the
        manifest needs once per record. Nulls RLE away in parquet; every
        consumer is null-safe (manifest filters isNotNull, lineage
        min/max ignore nulls, bucketing keys on record_uuid which stays
        per-row). test_pipeline_spark pins first-mode ≡ all-mode after
        normalization.

    Semantically identical to extracted_pages → page_records → page_triples
    (tests pin equality) but crosses the JVM↔Python Arrow boundary once
    instead of three times — at 100 TB the crossing cost dominates the
    actual Python work (extraction is ~50k docs/s/core; each extra Arrow
    roundtrip re-ships the batch), so the production plan is:
    scan(pruned cols) → [filter lang, pushed down] → one kernel. No shuffle.

    With ``mentions=True`` the SAME kernel also runs the broadcast-gazetteer
    scan on the already-extracted text and emits the mention entity +
    relationship triples (operators/mentions.mention_triple_rows) inline —
    mention triples carry the page's fingerprint and url, so the resume
    manifest and bucket partitioning see one uniform 8-column stream and the
    whole with_mentions graph stays ONE corpus scan with zero shuffles
    (previously: 3 extraction passes + a distinct + a join + a driver
    collect).

    ``surface_markers=True`` (requires mentions) additionally emits one
    audit marker row per (record, surface, class) in the triple schema
    (operators/mentions.mention_marker_row) — fingerprint NULL (never in
    the manifest), url carried — so the 5-column mention stream is
    derivable from this ONE kernel's output (mentions_from_triples) and
    with_mentions needs no second extraction pass."""
    if per_record_meta not in ("all", "first"):
        raise ValueError(f"per_record_meta must be 'all'|'first', got {per_record_meta!r}")
    if surface_markers and not mentions:
        raise ValueError("surface_markers requires mentions=True")
    meta_all = per_record_meta == "all"
    from typing import Iterator as _Iterator

    import pyarrow as _pa

    from ..operators.mentions import (
        build_gazetteer,
        build_prefix_index,
        mention_marker_row,
        mention_triple_rows,
        scan_mentions,
    )
    from ..operators.triples import extend_ontology_map_for_schema
    from ..refmap.emitter import TripleEmitter

    field_types = {
        "url": "str", "warc_time": "str", "lang": "str", "n_chars": "int",
        "content_sha256": "str", "host": "str", "mime_type": "str",
    }
    omap = extend_ontology_map_for_schema(
        ontology_map or web_ontology_map(), field_types, PAGE_SHARED_METADATA["artifact_type"]
    )
    df = _fused_input(corpus, lang)
    spark = df.sparkSession
    gaz = (gazetteer or build_gazetteer()) if mentions else None
    bc = spark.sparkContext.broadcast(
        {
            "map": omap,
            "shared": dict(PAGE_SHARED_METADATA),
            "gaz": gaz,
            "prefixes": build_prefix_index(gaz) if gaz else None,
        }
    )

    out_schema = (
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string, fingerprint string, url string"
    )
    out_names = [
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype",
        "record_uuid", "fingerprint", "url",
    ]

    # mapInArrow rather than mapInPandas: RecordBatches in/out skip the
    # pandas object-array conversion on both sides (~8% end-to-end on the
    # 320k-doc bench; everything else equal — test_fused_equals_staged pins
    # exact output equality with the staged pandas path).
    def kernel(batches: "_Iterator[_pa.RecordBatch]") -> "_Iterator[_pa.RecordBatch]":
        cfg = bc.value
        sh = cfg["shared"]
        gazd, prefixes = cfg["gaz"], cfg["prefixes"]
        # Shape-compiled emitter (refmap/emitter.py): structural planning
        # runs once per record SHAPE, not once per record — per-record work
        # is extraction + fingerprint + uuid5 chain + string assembly. The
        # emitter self-verifies its first record per shape against the
        # generic path and falls back permanently on any mismatch.
        emitter = TripleEmitter(cfg["map"])
        for rb in batches:
            cols = [[], [], [], [], [], [], [], []]
            for url, warc_time, html, lg in _batch_page_fields(rb):
                rec, text = _page_record(url, warc_time, html, lg, sh)
                fp, ruuid, rows = emitter.rows_for(rec)
                markers = []
                if gazd is not None:
                    for (surface, cls), c in sorted(
                        scan_mentions(text, gazd, prefixes).items()
                    ):
                        rows.extend(mention_triple_rows(ruuid, surface, cls, c))
                        if surface_markers:
                            markers.append(
                                mention_marker_row(ruuid, surface, cls, c)
                            )
                for t in rows:
                    cols[0].append(t[0]); cols[1].append(t[1])
                    cols[2].append(t[2]); cols[3].append(t[3])
                    cols[4].append(t[4]); cols[5].append(t[5])
                n = len(rows)
                if meta_all:
                    cols[6].extend([fp] * n); cols[7].extend([url] * n)
                elif n:
                    cols[6].append(fp); cols[6].extend([None] * (n - 1))
                    cols[7].append(url); cols[7].extend([None] * (n - 1))
                for t in markers:
                    # audit rows: fingerprint NULL (manifest-invisible in
                    # BOTH meta modes), url carried for the mention stream
                    cols[0].append(t[0]); cols[1].append(t[1])
                    cols[2].append(t[2]); cols[3].append(t[3])
                    cols[4].append(t[4]); cols[5].append(t[5])
                    cols[6].append(None); cols[7].append(url)
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(cols[0], _pa.string()),
                    _pa.array(cols[1], _pa.string()),
                    _pa.array(cols[2], _pa.string()),
                    _pa.array(cols[3], _pa.bool_()),
                    _pa.array(cols[4], _pa.string()),
                    _pa.array(cols[5], _pa.string()),
                    _pa.array(cols[6], _pa.string()),
                    _pa.array(cols[7], _pa.string()),
                ],
                names=out_names,
            )

    return df.mapInArrow(kernel, schema=out_schema)


def observed_triples(triples: DataFrame, name: str = "kg_metrics"):
    """Attach in-flight metrics (ST3/A7 equivalent of the reference's SSE
    progress events): triple count, distinct-ish record volume proxy, bytes.
    Returns (df, Observation) — read ``observation.get`` after any action,
    no extra job. Free at scale: observe() piggybacks on the action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    df = triples.observe(
        obs,
        F.count(F.lit(1)).alias("triples"),
        F.sum(F.length("obj")).alias("obj_bytes"),
        # observe() forbids distinct aggregates; the HLL sketch is the
        # observable version (exact record counts come from lineage())
        F.approx_count_distinct("record_uuid").alias("records"),
    )
    return df, obs


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    lang: Optional[str] = None,
    out_dir: Optional[str] = None,
    with_mentions: bool = False,
    checkpoint_dir: Optional[str] = None,
    per_record_meta: str = "all",
    canonicalize_opts: Optional[Dict[str, Any]] = None,
) -> Dict[str, DataFrame]:
    """Full batch: corpus → triples [+ mention triples + canonical entities]
    (+ optional materialization + checkpoint manifest + lineage).

    Returns lazy DataFrames {corpus, pages, records, triples[, mentions,
    entities, lineage]}. Materialization partitions triples by
    pmod(xxhash64(record_uuid), 64) so entity-keyed work downstream
    co-locates without re-shuffling small files; the manifest enables ST1
    exact resume (streaming/resume.py).

    ``canonicalize_opts`` forwards tuning knobs (max_bucket, bands,
    jaccard_threshold, drop_common_df, …) to canonicalize_entities.

    Drop accounting (no silent caps at 100 TB): the canonicalization LSH
    bucket cap reports (dropped_buckets, dropped_members) on the same job
    that builds the candidate pairs. With ``out_dir`` the metrics ride the
    entities write and land in ``out["canonicalize_drops"]`` AND in
    ``out_dir/run_report.json`` next to the lineage rows; without
    ``out_dir`` nothing is written, so ``out["drop_observation"]``
    carries the Observation — read ``dedup.drop_metrics(obs)`` after your
    own first action on ``out["entities"]``. None (never a fake zero)
    means the metrics node was pruned (see dedup.drop_metrics).
    """
    from ..operators.mentions import build_gazetteer

    corpus = web_corpus(spark, sf_dir)
    pages = extracted_pages(corpus, lang=lang)
    records = page_records(pages)
    # page triples [+ mention triples + per-surface audit markers] from ONE
    # fused kernel, built once — one corpus scan, zero shuffles. The markers
    # (operators/mentions.mention_marker_row) make the 5-col mention stream
    # derivable from the triple stream, so out["mentions"] is a filter +
    # from_json over the triples (once materialized, a pred-filtered pruned
    # scan of the written sink), never a second kernel. Markers carry
    # fingerprint NULL so resume manifests exclude them by construction;
    # render/validation consumers drop them via strip_mention_markers.
    gaz = build_gazetteer() if with_mentions else None
    triples = fused_page_triples(
        corpus, lang=lang, mentions=with_mentions, gazetteer=gaz,
        per_record_meta=per_record_meta, surface_markers=with_mentions,
    )
    out: Dict[str, DataFrame] = {
        "corpus": corpus,
        "pages": pages,
        "records": records,
        "triples": triples,
    }

    if out_dir:
        from ..streaming.resume import lineage, write_manifest

        triples_path = os.path.join(out_dir, "triples")
        (
            triples
            .withColumn("bucket", F.pmod(F.xxhash64("record_uuid"), F.lit(64)))
            # hash-partition on the partition column before partitionBy:
            # each bucket lands in exactly one task → one file per bucket
            # (without it every kernel task writes into every bucket)
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(triples_path)
        )
        # from here on `triples` is the WRITTEN parquet: mentions, entities,
        # manifest and lineage scan it, not the logical plan — otherwise the
        # extraction kernel runs once per consumer. One kernel pass total;
        # every derived job reads back pruned columns from columnar storage.
        triples = spark.read.parquet(triples_path)

    canon_kw = dict(canonicalize_opts or {})
    if with_mentions:
        from ..operators.canonicalize import canonicalize_entities
        from ..operators.dedup import drop_metrics, drop_observation
        from ..operators.mentions import (
            class_centroids,
            gazetteer_classes,
            link_mentions,
            mentions_from_triples,
        )

        # embedding link-scoring (north_star: gazetteer + embedding). The
        # class universe is STATIC (gazetteer values) — no data-dependent
        # collect; centroids come from class-labeled embedding vectors where
        # the table has them, else the deterministic class-name trigram
        # embedding (operators/mentions.class_centroids).
        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        emb = spark.read.parquet(emb_path) if os.path.exists(emb_path) else None
        centroids = class_centroids(emb, gazetteer_classes(gaz))
        mentions = mentions_from_triples(triples)
        out["mentions"] = link_mentions(mentions, centroids)
        # link scoring is 1:1 and adds columns only, so entities read the
        # unlinked stream: canonicalize scans its input several times and
        # none of them need the scoring kernel's JVM↔Python crossing
        entities = mentions.select(
            F.xxhash64("surface", "entity_class").alias("entity_id"),
            F.concat_ws("|", "entity_class", "surface").alias("entity_key"),
        ).distinct()
        obs = drop_observation("canonicalize_drops")
        out["entities"] = canonicalize_entities(
            entities, observation=obs, **canon_kw
        )
        out["drop_observation"] = obs

    if out_dir:
        write_manifest(
            # isNotNull: no-op in "all" mode, selects the one meta-carrying
            # row per record in "first" mode (same manifest either way)
            triples.filter(F.col("fingerprint").isNotNull())
            .select("fingerprint", "record_uuid")
            .distinct(),
            os.path.join(checkpoint_dir or out_dir, "manifest"),
        )
        out["lineage"] = lineage(triples)
        if "entities" in out:
            # north_rule: partitioned TRIPLE AND ENTITY tables. Entities
            # bucket on the canonical id so all members of one canonical
            # group land in one partition — downstream group-level reads
            # (merge review, per-entity exports) prune to a single bucket.
            (
                out["entities"]
                .withColumn(
                    "bucket", F.pmod(F.xxhash64("canonical_id"), F.lit(16))
                )
                .repartition("bucket")  # one file per bucket (see above)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(out_dir, "entities"))
            )
            # the write IS the entities plan's action — the cap-drop
            # metrics observed on the candidate job are now available and
            # belong in the run's audit trail next to the lineage rows
            # (no silent caps: a 100 TB operator reads dropped_buckets in
            # the run report, not in a test harness)
            out["canonicalize_drops"] = drop_metrics(obs)
            import json as _json

            with open(os.path.join(out_dir, "run_report.json"), "w") as fh:
                _json.dump(
                    {
                        "canonicalize_drops": out["canonicalize_drops"],
                        "canonicalize_opts": canon_kw,
                        "sf_dir": sf_dir,
                        "tables": ["triples", "entities"],
                    },
                    fh,
                    indent=2,
                    sort_keys=True,
                )
    return out
