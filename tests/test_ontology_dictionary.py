"""Ontology dictionary compile regression tests (S3/A6/SET2)."""

import json
import os

import pytest

from case_uco_ontology_map_spark.refmap.ontology import (
    DEFAULT_TTL_DIR,
    load_dictionary,
    ontology_map_for_classes,
    write_dictionary,
)


def test_compile_matches_committed_dictionary(tmp_path):
    """Regenerating through write_dictionary (the writer of the committed
    artifact) lands the same classes, shapes and facets."""
    if not os.path.isdir(DEFAULT_TTL_DIR):
        pytest.skip(
            f"TTL ontology directory {DEFAULT_TTL_DIR} is absent; the "
            "committed ontology_dictionary.json is the artifact"
        )
    out = write_dictionary(str(tmp_path / "ontology_dictionary.json"))
    with open(out, encoding="utf-8") as fh:
        fresh = json.load(fh)
    committed = load_dictionary()
    assert fresh["classes"].keys() == committed["classes"].keys()
    assert fresh["shapes"].keys() == committed["shapes"].keys()
    assert fresh["facets"] == committed["facets"]


def test_dictionary_shape_goldens():
    d = load_dictionary()
    assert len(d["classes"]) >= 400
    assert len(d["shapes"]) >= 180
    assert len(d["facets"]) >= 140
    mft = d["shapes"]["MftRecordFacet"]
    assert mft["mftFileID"] == {
        "datatype": "xsd:integer", "class": None, "minCount": None,
        "maxCount": 1, "nodeKind": "Literal", "isObjectProp": False,
        "hasValue": None,
    }
    supers = d["classes"]["File"]["superclasses"]
    # closure order: direct parents first, then ancestors
    assert supers[0] == "FileSystemObject"
    assert "ObservableObject" in supers and "UcoObject" in supers
    assert "MftRecordFacet" in d["facets"]
    assert d["common_inherited"] == [
        "createdBy", "description", "hasFacet", "name", "tag",
        "externalReference",
    ]


def test_ontology_map_for_classes():
    d = load_dictionary()
    m = ontology_map_for_classes(d, ["File", "MftRecordFacet"])
    assert m["classes"] == ["File"]
    assert m["facets"] == ["FileFacet", "MftRecordFacet"]
    assert "filePath" in m["properties"]["FileFacet"]


def test_semantic_property_ownership():
    """case_uco.py:451-466: a property whose rdfs:comment mentions the
    class name is a 'semantic' property of that class unless a shape on
    the class/ancestors(+Facets) or the common-inherited set owns it."""
    d = load_dictionary()
    # pin one stable example: 'file' appears in many property comments
    sem = d["classes"]["File"].get("semantic_properties", [])
    assert "accessedFile" in sem
    # never overlaps shape-owned or common-inherited props
    owned = set(d["shapes"].get("File", {})) | set(
        d["shapes"].get("FileFacet", {})
    ) | set(d["common_inherited"])
    for anc in d["classes"]["File"]["superclasses"]:
        owned |= set(d["shapes"].get(anc, {}))
        owned |= set(d["shapes"].get(f"{anc}Facet", {}))
    assert not set(sem) & owned
    # descriptions captured for classes and properties
    assert "description" in d["classes"]["File"]
    assert any("description" in p for p in d["properties"].values())


def test_ontology_map_semantic_opt_in():
    d = load_dictionary()
    base = ontology_map_for_classes(d, ["Account"])
    with_sem = ontology_map_for_classes(d, ["Account"], include_semantic=True)
    sem = set(d["classes"]["Account"].get("semantic_properties", []))
    assert sem and sem <= set(with_sem["properties"]["Account"])
    # default stays unchanged (existing maps keep their field matching)
    assert sem - set(base["properties"].get("Account", []))


def test_research_query_surface():
    """W2/W3 research API parity (case_uco.py:476-1019)."""
    from case_uco_ontology_map_spark.refmap import research as R

    all_classes = R.list_all_classes()
    assert len(all_classes) >= 400
    assert all_classes == sorted(all_classes, key=lambda x: x["name"])

    hits = R.search_classes("domain")
    names = [h["name"] for h in hits]
    assert "DomainName" in names
    assert all(h["match_type"] in ("name", "description") for h in hits)

    rep = R.class_property_report("File")
    assert "fileName" in rep["facet"] or "filePath" in rep["facet"]
    assert set(rep["facet"]).isdisjoint(rep["inherited"])
    assert set(rep["semantic"]).isdisjoint(rep["facet"])

    s = R.get_class_summary("File")
    assert s["has_facet_pattern"] and s["property_counts"]["total"] > 0
    assert "ObservableObject" in s["superclasses"]
    assert "error" in R.get_class_summary("NoSuchClass")

    p = R.get_property_details("fileName")
    assert p["name"] == "fileName" and p["type"] == "DatatypeProperty"
    assert "error" in R.get_property_details("noSuchProp")

    rf = R.relevant_facets("File")
    assert 0 < len(rf) <= 10
    assert "FileFacet" in rf


def test_research_hierarchy_and_reports():
    """Round-3 research surface: class hierarchy, facet/relationship
    census, class comparison, markdown report (case_uco.py:167-194,
    655-684, 754-845, 802-830, 941-982)."""
    from case_uco_ontology_map_spark.refmap import research as R

    # pinned chain: most-general-first, self last
    h = R.class_hierarchy("URL")
    assert h[-1] == "URL"
    assert h.index("UcoThing") < h.index("UcoObject") < h.index("ObservableObject")
    assert h[0] in ("Thing", "UcoThing")  # roots have no superclasses
    assert R.class_hierarchy("NoSuchClass") == []

    fa = R.analyze_facets()
    assert fa["total_facets"] == len(fa["facet_list"]) >= 100
    assert "FileFacet" in fa["facet_list"]
    assert fa["facet_list"] == sorted(fa["facet_list"])

    ar = R.analyze_relationships()
    assert "ObservableRelationship" in (
        ar["general_relationships"] + ar["observable_relationships"]
    )
    assert ar["total_relationship_types"] == len(
        ar["observable_relationships"]
    ) + len(ar["general_relationships"])

    cmp = R.compare_classes("File", "URL", "NoSuchClass")
    assert set(cmp["classes"]) == {"File", "URL"}
    assert len(cmp["summary_table"]) == 2
    assert {r["class"] for r in cmp["summary_table"]} == {"File", "URL"}

    # pinned report: header, superclass section, CASE-format table,
    # facet-pattern footer
    md = R.export_class_markdown("File")
    assert md.startswith("# File")
    assert "**URI:** `https://ontology.unifiedcyberontology.org" in md
    assert "## Superclasses" in md and "## Property Shapes" in md
    assert "| PROPERTY | PROPERTY TYPE | DESCRIPTION |" in md
    assert "| **FileFacet** |" in md and "| fileName |" in md
    assert "hasFacet' property to link to FileFacet" in md
    assert "Error:" in R.export_class_markdown("NoSuchClass")


def test_research_structured_profile_and_duck_typing():
    """Round-5 research-surface close-out (case_uco.py:535-603, 913-939,
    1006-1019): structured property profile routing, duck-typing facet
    suggestion, relationship-pattern discovery."""
    from case_uco_ontology_map_spark.refmap import research as R

    # non-facet class: own properties arrive grouped under "{name}Facet"
    p = R.get_structured_property_profile("File")
    assert p["class_name"] == "File"
    assert "FileFacet" in p["facet_properties"]
    names = {d["name"] for d in p["facet_properties"]["FileFacet"]}
    assert "fileName" in names or "filePath" in names
    for d in p["facet_properties"]["FileFacet"]:
        assert set(d) == {
            "name", "type", "description", "min_count", "max_count",
            "local_range", "global_range",
        }
    # inherited entries carry their named source
    assert all("source" in d for d in p["inherited_properties"])
    assert p["property_counts"]["total"] > 0

    # facet class: the XFacetFacet -> XFacet normalization makes its own
    # properties DIRECT (the reference's special case)
    fp = R.get_structured_property_profile("FileFacet")
    assert fp["direct_properties"], "facet class must own direct props"
    assert {d["name"] for d in fp["direct_properties"]} >= {"fileName"}

    assert "error" in R.get_structured_property_profile("NoSuchClass")

    cf = R.get_compatible_facets("File")
    assert cf["class_name"] == "File"
    assert cf["total_available_facets"] >= 100
    assert "FileFacet" in cf["relevant_facets"]
    assert cf["usage_example"].startswith("File + ")
    assert cf["duck_typing_principle"] == (
        "Any rational combination of facets can be applied"
    )
    assert "error" in R.get_compatible_facets("NoSuchClass")

    # shipped ontologies: EMPTY by ground truth — every relation/link-
    # named property in the reference TTLs is a DatatypeProperty, so the
    # reference tool's rdflib walk returns [] as well
    assert R.common_relationship_patterns() == []
    # filter logic pinned on a synthetic dictionary
    synth = {
        "classes": {},
        "properties": {
            "connectedTo": {"type": "ObjectProperty"},
            "hasRelationshipWith": {"type": "ObjectProperty"},
            "linkCount": {"type": "DatatypeProperty"},  # wrong type
            "li": {"type": "ObjectProperty"},           # too short (len <= 2)
            "zlinkTarget": {"type": "ObjectProperty"},
        },
    }
    got = R.common_relationship_patterns(synth)
    assert got == ["connectedTo", "hasRelationshipWith", "zlinkTarget"]


def test_research_shacl_shapes_merge():
    """get_shacl_property_shapes (case_uco.py:278-341): facet props carry
    sourceClass f"{cls}Facet", inherited the named ancestor, semantic
    'Semantic'; unknown class -> {}."""
    from case_uco_ontology_map_spark.refmap import research as R

    s = R.get_shacl_property_shapes("File")
    assert s, "File must have shapes"
    assert any(v["sourceClass"] == "FileFacet" for v in s.values())
    srcs = {v["sourceClass"] for v in s.values()}
    assert "Semantic" in srcs or "Inherited" in srcs
    for v in s.values():
        assert set(v) == {
            "sourceClass", "propertyType", "description", "minCount",
            "maxCount", "localRange", "globalRange",
        }
    assert R.get_shacl_property_shapes("NoSuchClass") == {}
