"""Mention detection + entity linking tests."""

import os

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import mentions as M


def test_build_gazetteer():
    gaz = M.build_gazetteer()
    assert gaz["file"] == "File"
    assert gaz["domain name"] == "DomainName"
    assert "filefacet" not in gaz  # facets excluded
    assert len(gaz) > 200


def test_detect_mentions(spark):
    docs = spark.createDataFrame(
        [
            ("u1", "the file was moved to another file system disk"),
            ("u2", "a domain name points to the hostname of the host"),
            ("u3", "nothing relevant here whatsoever"),
        ],
        "url string, text string",
    )
    out = M.detect_mentions(docs).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], {})[r["surface"]] = (
            r["entity_class"],
            r["n_mentions"],
        )
    # longest-match-first: "file system" is itself a class surface, so the
    # second "file" is consumed by it — one bare "file", one "file system"
    assert by_url["u1"]["file"] == ("File", 1)
    assert by_url["u1"]["file system"] == ("FileSystem", 1)
    assert by_url["u1"]["disk"] == ("Disk", 1)
    # longest-match-first: "domain name" wins over "domain"
    assert by_url["u2"]["domain name"] == ("DomainName", 1)
    assert "domain" not in by_url["u2"]
    assert by_url["u2"]["hostname"] == ("Hostname", 1)
    assert "u3" not in by_url


def test_detect_mentions_deterministic(spark):
    docs = spark.createDataFrame(
        [("u1", "file disk file account message")], "url string, text string"
    )
    a = sorted(map(tuple, M.detect_mentions(docs).collect()))
    b = sorted(map(tuple, M.detect_mentions(docs).collect()))
    assert a == b and len(a) == 4


def test_link_mentions(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    docs = spark.createDataFrame(
        [("u1", "the file and the disk and the account")],
        "url string, text string",
    )
    found = M.detect_mentions(docs)
    cents = M.class_centroids(emb, classes=["File", "Disk", "Account"])
    linked = M.link_mentions(found, cents).collect()
    assert len(linked) == 3
    for r in linked:
        assert r["linked_class"] in {"File", "Disk", "Account"}
        assert -1.0 <= r["link_score"] <= 1.0
        assert r["link_margin"] >= 0


def test_link_mentions_classname_centroids(spark):
    """With class-NAME trigram centroids the argmax is meaningful: an
    unambiguous surface links to its own gazetteer class with cosine ~1."""
    docs = spark.createDataFrame(
        [("u1", "the domain name and the hostname and the disk")],
        "url string, text string",
    )
    found = M.detect_mentions(docs)
    cents = M.class_centroids(
        None, classes=["DomainName", "Hostname", "Disk", "File", "Account"]
    )
    linked = M.link_mentions(found, cents).collect()
    assert len(linked) == 3
    for r in linked:
        assert r["linked_class"] == r["entity_class"], r
        assert r["link_score"] > 0.99


def test_class_centroids_label_equality(spark):
    """Centroids match classes by LABEL EQUALITY; unmatched classes fall
    back to the class-name trigram centroid (never index-mod binding)."""
    emb = spark.createDataFrame(
        [("File", [1.0, 0.0, 0.0, 0.0]), ("File", [1.0, 0.0, 0.0, 0.0]),
         ("Disk", [0.0, 1.0, 0.0, 0.0])],
        "label string, embedding array<float>",
    )
    cents = M.class_centroids(emb, classes=["File", "Disk", "Account"])
    assert cents["File"] == [1.0, 0.0, 0.0, 0.0]
    assert cents["Disk"] == [0.0, 1.0, 0.0, 0.0]
    # fallback lives in the table's dimension and is the class-name embed
    assert len(cents["Account"]) == 4
    import numpy as np
    expected = M._trigram_embed(M.class_surface_form("Account"), 4)
    assert np.allclose(cents["Account"], expected)


def test_mention_triples(spark):
    docs = spark.createDataFrame(
        [("u1", "ruuid-1", "the file was a file")],
        "url string, record_uuid string, text string",
    )
    found = M.detect_mentions(docs, record_uuid_col="record_uuid").collect()
    triples = [
        dict(zip(("subj", "pred", "obj", "obj_is_iri", "obj_datatype"), t))
        for r in found
        for t in M.mention_triple_rows(
            r["record_uuid"], r["surface"], r["entity_class"], r["n_mentions"]
        )
    ]
    preds = {r["pred"] for r in triples}
    assert preds == {
        "rdf:type",
        "uco-core:name",
        "uco-observable:source",
        "uco-observable:target",
        "uco-core:kindOfRelationship",
        "drafting:mentionCount",
    }
    type_objs = {r["obj"] for r in triples if r["pred"] == "rdf:type"}
    assert type_objs == {
        "uco-observable:File",
        "uco-observable:ObservableRelationship",
    }
    count = [r for r in triples if r["pred"] == "drafting:mentionCount"][0]
    assert count["obj"] == "2" and count["obj_datatype"] == "xsd:integer"
