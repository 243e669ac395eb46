"""Golden end-to-end through the Spark kernel: MFT records (test.json) and
Windows Prefetch (array-valued field, a committed synthetic fixture of the
FIXTURES.md §2b schema) — the triple P/R ≥ 0.95 gate of BASELINE.md,
measured exactly."""

import json
import os

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators.triples import emit_triples
from case_uco_ontology_map_spark.refmap import extract_records
from case_uco_ontology_map_spark.refmap.graph import (
    build_record_nodes,
    enforce_property_placement,
    nodes_to_triples,
)
from case_uco_ontology_map_spark.refmap.planner import OntologyContext, plan_record

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _oracle_triples(records, omap):
    ctx = OntologyContext(omap)
    out = set()
    for rec in records:
        plan = plan_record(rec, ctx)
        nodes = enforce_property_placement(
            build_record_nodes(plan, kb_ids=True), omap
        )
        out.update(nodes_to_triples(nodes, plan["record_uuid"]))
    return out


def _pr(got, expected):
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    return precision, recall


def test_mft_golden_pr(spark, mft_payload, mft_ontology_map):
    """MFT fixture through the Spark kernel vs the refmap oracle replay of
    the reference's deterministic path — P/R must be 1.0 (≥0.95 required)."""
    records = extract_records(mft_payload)
    shared = {k: v for k, v in mft_payload.items() if k != "records"}
    df = spark.createDataFrame(
        [{k: v for k, v in r.items() if k not in shared} for r in records]
    )
    triples = emit_triples(
        df,
        mft_ontology_map,
        shared=shared,
        auto_extension_facet=False,
    )
    got = {
        tuple(r)
        for r in triples.select(
            "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid"
        ).collect()
    }
    expected = _oracle_triples(records, mft_ontology_map)
    precision, recall = _pr(got, expected)
    assert precision == 1.0 and recall == 1.0

    # golden IRIs from FIXTURES.md §3b appear as subjects
    subjects = {t[0] for t in got}
    assert "kb:file-db5e7156-888f-535a-b5b3-344cea1d2035" in subjects
    assert "kb:mftrecordfacet-698de7fe-5555-5b66-b4e0-2f4699d9bd92" in subjects


def test_prefetch_golden_with_array_field(spark):
    """Prefetch fixture: array-valued ReferencedPaths must survive the
    Arrow round-trip and fingerprint identically to the pure-Python path."""
    with open(os.path.join(FIXTURES, "windows_prefetch.json")) as fh:
        prefetch = json.load(fh)
    payload = {
        "artifact_type": "Windows Prefetch",
        "description": "Prefetch execution evidence",
        "source": "PECmd output",
        "records": prefetch,
    }
    omap = {
        "classes": ["WindowsPrefetch"],
        "facets": ["WindowsPrefetchFacet"],
        "properties": {
            "WindowsPrefetchFacet": [
                "applicationFileName",
                "firstRun",
                "lastRun",
                "prefetchHash",
                "timesExecuted",
                "volume",
            ],
        },
        "relationships": [],
        "additional_details": {
            "propertyFieldMap": {
                "WindowsPrefetchFacet": {
                    "applicationFileName": ["ExecutableName"],
                    "lastRun": ["LastRunTime"],
                    "prefetchHash": ["PrefetchHash"],
                    "timesExecuted": ["RunCount"],
                }
            }
        },
    }
    records = extract_records(payload)
    shared = {k: v for k, v in payload.items() if k != "records"}
    rows = [{k: v for k, v in r.items() if k not in shared} for r in records]
    df = spark.createDataFrame(rows)
    triples = emit_triples(df, omap, shared=shared, auto_extension_facet=True)
    got = {
        tuple(r)
        for r in triples.select(
            "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid"
        ).collect()
    }
    from case_uco_ontology_map_spark.operators.triples import (
        extend_ontology_map_for_schema,
    )

    field_types = {
        "SourceFilename": "str", "ExecutableName": "str", "PrefetchHash": "str",
        "RunCount": "int", "LastRunTime": "str", "FileCreatedTime": "str",
        "FileModifiedTime": "str", "VolumeSerialNumber": "str",
        "ReferencedPaths": "str",
    }
    ext_map = extend_ontology_map_for_schema(omap, field_types, "Windows Prefetch")
    expected = _oracle_triples(records, ext_map)
    precision, recall = _pr(got, expected)
    assert precision == 1.0 and recall == 1.0, (
        sorted(got - expected)[:5],
        sorted(expected - got)[:5],
    )
    # the array-valued field landed as one row per element
    paths = [t for t in got if t[1] == "dfc-ext:referencedpaths"]
    assert len(paths) == 4  # 2 records × 2 paths


def test_jsonld_render_roundtrip(spark, mft_payload, mft_ontology_map):
    """Triples → JSON-LD render reproduces the refmap graph node-for-node
    (S5 sink semantics)."""
    from case_uco_ontology_map_spark.operators.render import render_graph_document
    from case_uco_ontology_map_spark.refmap.graph import build_graph

    records = extract_records(mft_payload)
    shared = {k: v for k, v in mft_payload.items() if k != "records"}
    df = spark.createDataFrame(
        [{k: v for k, v in r.items() if k not in shared} for r in records]
    )
    triples = emit_triples(
        df, mft_ontology_map, shared=shared, auto_extension_facet=False
    )
    doc = render_graph_document(triples)
    oracle = build_graph(records, mft_ontology_map)

    assert doc["@context"] == oracle["@context"]
    got_nodes = {n["@id"]: n for n in doc["@graph"]}
    exp_nodes = {n["@id"]: n for n in oracle["@graph"]}
    assert set(got_nodes) == set(exp_nodes)
    for nid, exp in exp_nodes.items():
        got = got_nodes[nid]
        assert got["@type"] == exp["@type"], nid
        # every property value matches (int/bool round-tripped; facet ref
        # lists compared as sets)
        for k, v in exp.items():
            if k in ("@id", "@type"):
                continue
            if k == "uco-core:hasFacet":
                assert {r["@id"] for r in got[k]} == {r["@id"] for r in v}
            else:
                assert got[k] == v, (nid, k, got.get(k), v)


def test_triples_full_golden_rows(spark):
    """Round-3 pin for the rows-only contract query `triples_full` (uuid5
    ids are sha1-based, so DuckDB cannot hash-oracle them; the STRUCTURE is
    oracled via `triples_structural`). These literal rows — including the
    uuid5 node ids, record_uuid, and fingerprint — were generated once and
    frozen: any regression in the fingerprint → record_uuid → slot-uuid
    identity chain fails loudly here instead of surfacing only as a count
    drift."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spark_entry_golden", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    full = entry.q_triples_full(spark, "/root/testdata/sf0.001")
    url0 = "https://src0.example.org/doc/0"
    got = sorted(
        tuple(r) for r in full.filter(F.col("url") == url0).collect()
    )
    ru = "3918c555-4759-5e47-8865-b59192677abc"
    fp = "7ec11b423c24890cafce25461ea9eb8272287f05eb7c67dcd0590395aa70aac1"
    cdf = "kb:contentdatafacet-21c5919c-26db-57e4-a278-88cd8b76abd6"
    urlnode = "kb:url-f0ac65fb-a086-53f3-a680-8075f67db974"
    urlf = "kb:urlfacet-670090a2-2168-593f-865d-c0a048cb4045"
    ext = "kb:webpageextensionfacet-28ea7a64-084f-58eb-865b-2297aa47e75f"
    expected = sorted(
        [
            (cdf, "rdf:type", "uco-observable:ContentDataFacet", True, None, ru, fp, url0),
            (cdf, "uco-observable:dataPayloadReferenceURL", url0, False, None, ru, fp, url0),
            (cdf, "uco-observable:hash",
             "7a1b2a61d9e9b74f5f0accb73a613de4b6e5f3f2e9fb2563540fb5f13e1b6961",
             False, None, ru, fp, url0),
            (cdf, "uco-observable:mimeType", "text/html", False, None, ru, fp, url0),
            (cdf, "uco-observable:sizeInBytes", "128", False, "xsd:integer", ru, fp, url0),
            (urlnode, "rdf:type", "uco-observable:URL", True, None, ru, fp, url0),
            (urlnode, "uco-core:hasFacet", cdf, True, None, ru, fp, url0),
            (urlnode, "uco-core:hasFacet", urlf, True, None, ru, fp, url0),
            (urlnode, "uco-core:hasFacet", ext, True, None, ru, fp, url0),
            (urlf, "rdf:type", "uco-observable:URLFacet", True, None, ru, fp, url0),
            (urlf, "uco-observable:fullValue", url0, False, None, ru, fp, url0),
            (urlf, "uco-observable:host", "src0.example.org", False, None, ru, fp, url0),
            (ext, "dfc-ext:lang", "es", False, None, ru, fp, url0),
            (ext, "dfc-ext:warcTime", "2025-01-01T00:00:00Z", False, None, ru, fp, url0),
            (ext, "rdf:type", "uco-observable:WebPageExtensionFacet", True, None, ru, fp, url0),
        ]
    )
    assert got == expected

    # second record: identity chain spot-pin (different lang/ts/content)
    url100 = "https://src0.example.org/doc/100"
    ids = (
        full.filter(F.col("url") == url100)
        .select("record_uuid", "fingerprint")
        .distinct()
        .collect()
    )
    assert len(ids) == 1
    assert ids[0]["record_uuid"] == "f730ee5c-0eb2-5737-8237-0aebbee3043b"
    assert ids[0]["fingerprint"] == (
        "e5734b3d7a67d9d2f3c72262375d4be5291d03966da81c8193fc30476daf61cb"
    )


def test_mention_detection_golden_rows(spark):
    """Round-3 pin for the `mention_detection` query (DuckDB-oracled with
    md5-surrogate record ids since r5): exact (url, record_uuid, surface,
    class, count) rows for fixed docs — the sequential longest-match
    consumption semantics frozen as literals, record_uuid = md5(url)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spark_entry_golden2", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    md = entry.q_mention_detection(spark, "/root/testdata/sf0.001")
    got = sorted(
        tuple(r)
        for r in md.filter(
            F.col("url").isin("doc:0", "doc:1", "doc:2", "doc:3")
        ).collect()
    )
    assert got == [
        ("doc:0", "8a1bc988245673b48b9c90d8d62a84e5", "hash", "Hash", 1),
        ("doc:2", "fd5ec15decc6f46138ebd2f73b620e7f", "hash", "Hash", 2),
        ("doc:3", "daf0a65fb0ef6e3ba176027dd96c73e6", "hash", "Hash", 2),
    ]


def test_ntriples_lines(spark):
    """N-Triples sink: CURIE expansion through the emitter prefix table,
    W3C ECHAR literal escaping, datatype tags, absolute-IRI and
    unknown-prefix passthrough — one line per triple row."""
    from case_uco_ontology_map_spark.operators.render import ntriples_lines

    rows = [
        ("kb:url-1", "rdf:type", "uco-observable:URL", True, None),
        ("kb:url-1", "uco-observable:fullValue",
         'he said "hi"\\there\n\tend', False, None),
        ("kb:url-1", "uco-observable:sizeInBytes", "42", False,
         "xsd:integer"),
        ("kb:url-1", "rdfs:seeAlso", "https://example.com/x", True, None),
        ("mystery:z", "rdf:type", "mystery:T", True, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string",
    )
    lines = [r.line for r in ntriples_lines(df).collect()]
    KB = "http://example.org/kb/"
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    OBS = "https://ontology.unifiedcyberontology.org/uco/observable/"
    XSD = "http://www.w3.org/2001/XMLSchema#"
    assert lines[0] == f"<{KB}url-1> <{RDF}type> <{OBS}URL> ."
    assert lines[1] == (
        f'<{KB}url-1> <{OBS}fullValue> '
        '"he said \\"hi\\"\\\\there\\n\\tend" .'
    )
    assert lines[2] == f'<{KB}url-1> <{OBS}sizeInBytes> "42"^^<{XSD}integer> .'
    # absolute IRI objects and unknown prefixes pass through verbatim
    assert lines[3] == f"<{KB}url-1> <{RDFS}seeAlso> <https://example.com/x> ."
    assert lines[4] == "<mystery:z> <{}type> <mystery:T> .".format(RDF)


def test_turtle_lines_blocks(spark):
    """Canonical Turtle: one block per subject, predicates sorted by
    CURIE (rdf:type rendered as `a`), objects sorted + comma-grouped,
    declared prefixes stay CURIEs, unknown prefixes wrap in <>, ECHAR
    escapes + datatype tags. DuckDB twin rebuilds the identical
    blocks."""
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.operators.render import (
        turtle_lines,
        turtle_lines_sql,
    )

    rows = [
        ("kb:a", "rdf:type", "uco-observable:URL", True, None),
        ("kb:a", "uco-observable:hash", 'x"y\n', False, "xsd:string"),
        ("kb:a", "uco-observable:hash", "abc", False, "xsd:string"),
        ("kb:a", "rdfs:seeAlso", "https://example.com/x", True, None),
        ("mystery:b", "mystery:p", "5", False, "mystery:int"),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string",
    )
    got = {r.subj: r.block for r in turtle_lines(df).collect()}
    # preds sort by CURIE: rdf:type < rdfs:seeAlso < uco-observable:hash
    assert got["kb:a"] == (
        "kb:a a uco-observable:URL ;\n"
        "    rdfs:seeAlso <https://example.com/x> ;\n"
        '    uco-observable:hash "abc"^^xsd:string, '
        '"x\\"y\\n"^^xsd:string .'
    )
    assert got["mystery:b"] == (
        '<mystery:b> <mystery:p> "5"^^<mystery:int> .'
    )
    con = duckdb.connect()
    con.register("t_src", pd.DataFrame(
        rows,
        columns=["subj", "pred", "obj", "obj_is_iri", "obj_datatype"],
    ))
    want = dict(con.execute(
        "WITH t AS (SELECT * FROM t_src) " + turtle_lines_sql()
    ).fetchall())
    assert got == want


def test_read_turtle_roundtrip_and_strictness(spark):
    """Turtle import: read_turtle(turtle_lines(t)) ≡ t including the
    comma-inside-literal and prefixed/wrapped-term cases; malformed
    blocks (no terminal dot, unterminated literal, empty object list,
    trailing junk after a literal) raise loudly instead of losing rows."""
    import pytest

    from case_uco_ontology_map_spark.operators.render import (
        read_turtle,
        turtle_lines,
    )

    rows = [
        ("kb:a", "rdf:type", "uco-observable:URL", True, None),
        ("kb:a", "uco-observable:hash", 'x"y\n', False, "xsd:string"),
        ("kb:a", "uco-observable:hash", "a, b", False, "xsd:string"),
        ("kb:a", "rdfs:seeAlso", "https://example.com/x", True, None),
        ("mystery:b", "mystery:p", "5", False, "mystery:int"),
        ("mystery:b", "mystery:p", "plain", False, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string",
    )
    back = read_turtle(turtle_lines(df)).collect()
    got = sorted(
        (r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype)
        for r in back
    )
    assert got == sorted(rows)

    for bad in [
        "kb:a kb:p kb:x",          # missing terminal ' .'
        'kb:a kb:p "unterminated .',  # literal never closes
        "kb:a  .",                 # empty object list
        'kb:a kb:p "x" junk" .',   # junk after a literal term
    ]:
        bdf = spark.createDataFrame([(bad,)], "block string")
        with pytest.raises(Exception, match="malformed Turtle"):
            read_turtle(bdf).collect()
