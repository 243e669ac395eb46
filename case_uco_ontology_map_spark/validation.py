"""SHACL-lite validation over the triples table.

The reference validates in two layers (SURVEY.md §2.9):
  L1: programmatic property-placement check + external SHACL conformance
      (/root/reference/agents/validator.py:42-96)
  L2: hallucination check — every emitted literal must trace to a source
      field value (/root/reference/agents/hallucination_checker.py:73-117;
      fail-closed)

Spark re-expression: each rule is one DataFrame predicate/aggregate over
the triples table, driven by the broadcast ontology dictionary. All checks
return violation DataFrames — empty == clean (validator.py:88 is_clean).
Shuffle story: placement/datatype checks are narrow; maxCount is one
groupBy(subj, pred).
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SKELETON_PREDS = ("rdf:type", "uco-core:hasFacet")


def _local(col):
    return F.substring_index(col, ":", -1)


def check_placement(triples: DataFrame, ontology_map: Dict[str, Any]) -> DataFrame:
    """J7/L1 placement: a facet-owned property may only sit on a subject
    whose rdf:type is that facet (validator.py:42-67). Implemented as a
    broadcast map lookup + join of property triples against type triples."""
    prop_to_facet = {}
    for owner, props in (ontology_map.get("properties") or {}).items():
        if owner.endswith("Facet"):
            for p in props:
                prop_to_facet[p] = owner
    if not prop_to_facet:
        return triples.limit(0).select(
            "subj", "pred", F.lit("").alias("violation")
        )
    mapping = F.create_map(
        *[F.lit(x) for kv in prop_to_facet.items() for x in kv]
    )
    types = triples.filter(F.col("pred") == "rdf:type").select(
        F.col("subj").alias("t_subj"), F.col("obj").alias("node_type")
    )
    props = (
        triples.filter(~F.col("pred").isin(*_SKELETON_PREDS))
        .withColumn("owner_facet", mapping[_local(F.col("pred"))])
        .filter(F.col("owner_facet").isNotNull())
    )
    return (
        props.join(types, props["subj"] == types["t_subj"])
        .filter(_local(F.col("node_type")) != F.col("owner_facet"))
        .select(
            "subj",
            "pred",
            F.concat(
                F.lit("property "),
                F.col("pred"),
                F.lit(" belongs on facet "),
                F.col("owner_facet"),
                F.lit(" but sits on "),
                F.col("node_type"),
            ).alias("violation"),
        )
    )


def _subject_types(triples: DataFrame) -> DataFrame:
    """subj → local class name of its rdf:type (one row per typed subject)."""
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .select(F.col("subj").alias("t_subj"), _local(F.col("obj")).alias("cls"))
        .distinct()
    )


def _shape_rows(dictionary: Dict[str, Any], field: str):
    """(class, prop, value) rows for a given shape constraint field."""
    rows = []
    for cls, shape in (dictionary.get("shapes") or {}).items():
        for prop, meta in shape.items():
            if meta.get(field) is not None:
                rows.append((cls, prop, meta[field]))
    return rows


def check_max_count(triples: DataFrame, dictionary: Dict[str, Any]) -> DataFrame:
    """SHACL sh:maxCount scoped by the SUBJECT'S CLASS — groupBy(subj, pred)
    count joined against (class, prop) → limit via the subject's rdf:type
    (case_uco.py:253-276 shapes). Scoping matters: a property constrained
    maxCount 1 on FacetA but 3 on FacetB must still fire on FacetA subjects
    (a global max-across-shapes silently passes them). The shape table is
    a few hundred rows — broadcast join."""
    rows = [(c, p, int(v)) for c, p, v in _shape_rows(dictionary, "maxCount")]
    if not rows:
        return triples.limit(0).select(
            "subj", "pred", F.lit(0).alias("n"), F.lit(0).alias("max_count")
        )
    spark = triples.sparkSession
    limits = spark.createDataFrame(rows, "cls string, prop string, max_count int")
    counted = (
        triples.filter(~F.col("pred").isin(*_SKELETON_PREDS))
        .groupBy("subj", "pred")
        .agg(F.count("*").alias("n"))
        .withColumn("prop", _local(F.col("pred")))
    )
    return (
        counted.join(_subject_types(triples), counted["subj"] == F.col("t_subj"))
        .join(F.broadcast(limits), ["cls", "prop"])
        .filter(F.col("n") > F.col("max_count"))
        .select("subj", "pred", "n", "max_count")
    )


def check_min_count(triples: DataFrame, dictionary: Dict[str, Any]) -> DataFrame:
    """SHACL sh:minCount scoped by the subject's class: every subject typed
    C must carry ≥ minCount values of each required property of C's shape.
    typed-subjects ⨝ broadcast(required props by class), left-joined
    against observed counts; missing or under-count → violation."""
    rows = [
        (c, p, int(v)) for c, p, v in _shape_rows(dictionary, "minCount") if int(v) > 0
    ]
    if not rows:
        return triples.limit(0).select(
            "subj",
            F.lit("").alias("prop"),
            F.lit(0).alias("n"),
            F.lit(0).alias("min_count"),
        )
    spark = triples.sparkSession
    required = spark.createDataFrame(rows, "cls string, prop string, min_count int")
    typed = _subject_types(triples)
    expected = typed.join(F.broadcast(required), "cls")
    counted = (
        triples.filter(~F.col("pred").isin(*_SKELETON_PREDS))
        .groupBy("subj", _local(F.col("pred")).alias("prop"))
        .agg(F.count("*").alias("n"))
    )
    return (
        expected.join(
            counted,
            (expected["t_subj"] == counted["subj"]) & (expected["prop"] == counted["prop"]),
            "left",
        )
        .filter(F.coalesce(F.col("n"), F.lit(0)) < F.col("min_count"))
        .select(
            F.col("t_subj").alias("subj"),
            expected["prop"].alias("prop"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "min_count",
        )
    )


def check_has_value(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """SHACL sh:hasValue scoped by the subject's class: every subject
    typed C must carry at least one assertion of the constrained property
    whose object EQUALS the required value (e.g. every
    observable:Observation needs core:name = "observe"; the four marking
    classes need their fixed definitionType strings). Literal required
    values compare against the emitted lexical form; IRI values (kept as
    CURIEs by the compiler, e.g. rdf:nil) compare against IRI objects the
    same way. typed-subjects ⨝ broadcast(shape rows), one anti-join
    against matching assertions — same scale shape as check_min_count."""
    rows = _shape_rows(dictionary, "hasValue")
    if not rows:
        return triples.limit(0).select(
            "subj", F.lit("").alias("prop"), F.lit("").alias("required")
        )
    spark = triples.sparkSession
    required = spark.createDataFrame(
        rows, "cls string, prop string, required string"
    )
    expected = _subject_types(triples).join(F.broadcast(required), "cls")
    hits = triples.select(
        F.col("subj").alias("o_subj"),
        _local(F.col("pred")).alias("o_prop"),
        F.col("obj").alias("o_obj"),
    )
    return (
        expected.join(
            hits,
            (expected["t_subj"] == hits["o_subj"])
            & (expected["prop"] == hits["o_prop"])
            & (expected["required"] == hits["o_obj"]),
            "left_anti",
        )
        .select(F.col("t_subj").alias("subj"), "prop", "required")
    )


def check_node_kind(
    triples: DataFrame, dictionary: Dict[str, Any], strict: bool = False
) -> DataFrame:
    """SHACL sh:nodeKind scoped by the subject's class: Literal-kinded
    properties must not carry IRI objects (a structural error). With
    ``strict=True`` IRI-kinded properties carrying literals are also
    flagged — off by default because the reference's own deterministic
    mapper assigns source values directly (e.g. URLFacet host, Content-
    DataFacet hash are sh:nodeKind IRI in CASE 1.4.0 but emitted as
    literal strings), and reference parity is the primary contract."""
    rows = [(c, p, str(v)) for c, p, v in _shape_rows(dictionary, "nodeKind")]
    if not rows:
        return triples.limit(0).select(
            "subj", "pred", "obj", F.lit("").alias("kind")
        )
    spark = triples.sparkSession
    kinds = spark.createDataFrame(rows, "cls string, prop string, kind string")
    props = triples.filter(~F.col("pred").isin(*_SKELETON_PREDS)).withColumn(
        "prop", _local(F.col("pred"))
    )
    joined = props.join(
        _subject_types(triples), props["subj"] == F.col("t_subj")
    ).join(F.broadcast(kinds), ["cls", "prop"])
    bad = (F.col("kind") == "Literal") & F.col("obj_is_iri")
    if strict:
        bad = bad | ((F.col("kind") == "IRI") & ~F.col("obj_is_iri"))
    return joined.filter(bad).select("subj", "pred", "obj", "kind")


def check_object_class(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """SHACL sh:class scoped by the subject's class: an object property
    whose shape declares ``class: C`` must point at a node whose rdf:type
    is C or a subclass of C (admissibility = the dictionary's superclass
    closure, a broadcast table of (object_class, admissible_required)
    pairs). Untyped/external refs are not flagged here — check_dangling_refs
    owns absence; this rule owns TYPE MISMATCH of resolvable refs."""
    rows = [(c, p, str(v)) for c, p, v in _shape_rows(dictionary, "class")]
    if not rows:
        return triples.limit(0).select(
            "subj", "pred", "obj", F.lit("").alias("required_class"),
            F.lit("").alias("object_class"),
        )
    spark = triples.sparkSession
    required = spark.createDataFrame(
        rows, "cls string, prop string, required_class string"
    )
    admissible_rows = []
    for name, meta in (dictionary.get("classes") or {}).items():
        admissible_rows.append((name, name))
        for sup in meta.get("superclasses") or []:
            admissible_rows.append((name, sup))
    admissible = spark.createDataFrame(
        admissible_rows, "object_class string, required_class string"
    ).distinct()

    types = _subject_types(triples)
    refs = (
        triples.filter(F.col("obj_is_iri") & (F.col("pred") != "rdf:type"))
        .withColumn("prop", _local(F.col("pred")))
        .join(types, F.col("subj") == F.col("t_subj"))
        .join(F.broadcast(required), ["cls", "prop"])
        .drop("t_subj")
    )
    obj_types = types.select(
        F.col("t_subj").alias("obj_node"), F.col("cls").alias("object_class")
    )
    resolved = refs.join(obj_types, refs["obj"] == F.col("obj_node"))
    # sh:class conformance is per VALUE NODE, not per (node, type) row: a
    # multi-typed object conforms when ANY of its types is admissible, so
    # aggregate the type rows per (ref, constraint) and flag only when no
    # type joined to an admissible pair. object_class reports the node's
    # full (sorted) type set for the violation record.
    marked = resolved.join(
        F.broadcast(admissible.withColumn("_adm", F.lit(1))),
        ["object_class", "required_class"],
        "left",
    )
    return (
        marked.groupBy("subj", "pred", "obj", "required_class")
        .agg(
            F.max("_adm").alias("_any_adm"),
            F.array_join(
                F.array_sort(F.collect_set("object_class")), ","
            ).alias("object_class"),
        )
        .filter(F.col("_any_adm").isNull())
        .select("subj", "pred", "obj", "required_class", "object_class")
    )


def check_datatypes(triples: DataFrame, dictionary: Dict[str, Any]) -> DataFrame:
    """Literal objects must parse as their declared xsd datatype
    (integer/boolean/decimal/dateTime checked syntactically)."""
    dt_map: Dict[str, str] = {}
    for cls, shape in (dictionary.get("shapes") or {}).items():
        for prop, meta in shape.items():
            if meta.get("datatype"):
                dt_map.setdefault(prop, meta["datatype"])
    if not dt_map:
        return triples.limit(0).select("subj", "pred", "obj")
    mapping = F.create_map(*[F.lit(x) for kv in dt_map.items() for x in kv])
    lits = (
        triples.filter(~F.col("obj_is_iri"))
        .withColumn("decl", mapping[_local(F.col("pred"))])
        .filter(F.col("decl").isNotNull())
    )
    ok = (
        F.when(F.col("decl") == "xsd:integer", F.col("obj").rlike(r"^-?\d+$"))
        .when(F.col("decl") == "xsd:boolean", F.col("obj").isin("true", "false"))
        .when(F.col("decl") == "xsd:decimal", F.col("obj").rlike(r"^-?\d+(\.\d+)?$"))
        .when(
            F.col("decl") == "xsd:dateTime",
            F.col("obj").rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"),
        )
        .otherwise(F.lit(True))
    )
    return lits.filter(~ok).select("subj", "pred", "obj", "decl")


def check_dangling_refs(triples: DataFrame) -> DataFrame:
    """Every IRI object that points into the kb: namespace must resolve to a
    subject with an rdf:type — left-anti join (P2 scrub correctness)."""
    refs = triples.filter(
        F.col("obj_is_iri") & F.col("obj").startswith("kb:")
    ).select("subj", "pred", F.col("obj").alias("ref"))
    typed = triples.filter(F.col("pred") == "rdf:type").select(
        F.col("subj").alias("target")
    ).distinct()
    return refs.join(typed, refs["ref"] == typed["target"], "left_anti")


def check_no_nulls(triples: DataFrame) -> DataFrame:
    """P1 no-null contract: no null/empty objects (config.py:345-349)."""
    return triples.filter(F.col("obj").isNull() | (F.col("obj") == "")).select(
        "subj", "pred"
    )


def check_vocabulary(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """sh:in vocabulary membership — the UCO ``*-in-shape`` PropertyShapes
    (e.g. observable:AccountFacet-accountType-in-shape restricts
    accountType to {ldap, nis, ...}). A literal on a vocab-constrained
    (class, property) slot whose value is not in the list is flagged with
    the shape's declared severity (UCO marks these Info — open
    vocabularies — so validate_all reports them separately from hard
    violations, matching case_utils' conformance report which lists
    sh:Info results without failing conformance)."""
    rows = []
    for cls, shape in (dictionary.get("shapes") or {}).items():
        for prop, meta in shape.items():
            for v in meta.get("vocab") or []:
                rows.append((cls, prop, v, meta.get("vocabSeverity") or "Violation"))
    if not rows:
        return triples.limit(0).select(
            "subj", "pred", "obj", F.lit("").alias("cls"),
            F.lit("").alias("severity"),
        )
    spark = triples.sparkSession
    vocab = spark.createDataFrame(
        rows, "cls string, prop string, allowed string, severity string"
    )
    vocab_props = vocab.select("cls", "prop", "severity").distinct()
    # separate frame (not a re-selection of `vocab`) for the anti join —
    # lits descends from vocab via vocab_props, and a self-join against an
    # ancestor frame makes column refs ambiguous
    allowed = spark.createDataFrame(
        [(c, p, a) for c, p, a, _ in rows],
        "a_cls string, a_prop string, allowed string",
    )
    types = _subject_types(triples)
    lits = (
        triples.filter(~F.col("obj_is_iri"))
        .withColumn("prop", _local(F.col("pred")))
        .join(types, F.col("subj") == F.col("t_subj"))
        .join(F.broadcast(vocab_props), ["cls", "prop"])
    )
    return lits.join(
        F.broadcast(allowed),
        (F.col("cls") == F.col("a_cls"))
        & (F.col("prop") == F.col("a_prop"))
        & (F.col("obj") == F.col("allowed")),
        "left_anti",
    ).select("subj", "pred", "obj", "cls", "severity")




def _ucothing_descendants(dictionary: Dict[str, Any]):
    """Local names of every dictionary class that is UcoThing or descends
    from it — the target set of the two UcoThing sh:SPARQLConstraints
    (``$this a/rdfs:subClassOf* core:UcoThing``)."""
    return sorted(
        name
        for name, meta in (dictionary.get("classes") or {}).items()
        if name == "UcoThing" or "UcoThing" in meta.get("superclasses", [])
    )


def check_ucothing_not_blank(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """sh:SPARQLConstraint "UcoThings are required to not be blank nodes"
    (/root/reference/ttl/uco-core.ttl:492-506; the reference evaluates it
    via full pySHACL at tools.py:357-390): every node typed as a
    UcoThing-descendant whose identifier is a blank node (``_:`` prefix
    in the triple frame's string encoding) is a hard violation. The
    engine's own emission mints ``kb:`` uuid5 IRIs, so a non-empty result
    here always indicates foreign/imported data.

    Scale: one filtered scan of the rdf:type slice — zero joins beyond
    the broadcast class set, no shuffle."""
    targets = _ucothing_descendants(dictionary)
    if not targets:
        return triples.limit(0).select("subj", F.lit("").alias("rule"))
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .filter(_local(F.col("obj")).isin(*targets))
        .filter(F.col("subj").startswith("_:"))
        .select("subj", F.lit("ucothing_not_blank").alias("rule"))
        .distinct()
    )


def check_ucothing_uuid_suffix(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """sh:SPARQLConstraint "UcoThings are suggested to end with a UUID"
    (uco-core.ttl:508-534) — sh:severity **sh:Info**, advisory only (the
    shape even carries a deactivation note): UcoThing-descendant nodes
    whose IRI does not end in an RFC-4122 uuid. Reported under an
    ``*_info`` key by validate_all, so it never breaks conformance —
    the same treatment the reference's pySHACL report gives sh:Info
    results. Zero-join scan like the blank-node rule."""
    targets = _ucothing_descendants(dictionary)
    if not targets:
        return triples.limit(0).select("subj", F.lit("").alias("rule"))
    uuid_re = (
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-5][0-9a-fA-F]{3}"
        "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
    )
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .filter(_local(F.col("obj")).isin(*targets))
        .filter(~F.col("subj").rlike(uuid_re))
        .select("subj", F.lit("ucothing_uuid_suffix").alias("rule"))
        .distinct()
    )


def check_facet_single_owner(triples: DataFrame) -> DataFrame:
    """sh:SPARQLConstraint "hasFacet must not be used to link two objects
    to one Facet" (uco-core.ttl:646-666): for every facet node with two
    DISTINCT owners not linked by a DIRECT ``owl:sameAs`` (either
    direction — the SPARQL checks one hop, not the transitive closure),
    emit (facet, owner) exactly as the constraint's ``($this, ?value)``
    projection. The pipeline emits one facet node per record, so its own
    output never triggers this; imported graphs can.

    Scale: the hasFacet slice self-joins on the facet id — per-facet
    owner fan-in is the quadratic driver, exactly as in the SPARQL rule
    itself; owners-per-facet is 1 in conformant data, so the join output
    is empty or tiny. The sameAs exception is a left-anti against the
    symmetrized (tiny) sameAs edge list."""
    owners = (
        triples.filter(F.col("pred") == "uco-core:hasFacet")
        .select(F.col("obj").alias("facet"), F.col("subj").alias("owner"))
        .distinct()
    )
    o2 = owners.select(
        F.col("facet"), F.col("owner").alias("other")
    )
    pairs = owners.join(o2, on="facet").filter(
        F.col("owner") != F.col("other")
    )
    sa = triples.filter(F.col("pred") == "owl:sameAs").select(
        F.col("subj").alias("owner"), F.col("obj").alias("other")
    )
    sym = sa.unionByName(
        sa.select(F.col("other").alias("owner"), F.col("owner").alias("other"))
    ).distinct()
    return (
        pairs.join(sym, on=["owner", "other"], how="left_anti")
        .select("facet", "owner")
        .distinct()
    )




def check_class_disjointness(
    triples: DataFrame, dictionary: Dict[str, Any]
) -> DataFrame:
    """sh:not disjointness shape
    "core:UcoInherentCharacterizationThing-disjointWith-UcoObject-shape"
    (uco-core.ttl:394-403, sh:severity **sh:Warning** — "will be an error
    in UCO 2.0.0"): a node typed into BOTH hierarchies (a facet class AND
    a UcoObject class) is flagged. The one sh:not combinator use whose
    target the emission surface actually populates — every facet node is
    a UcoInherentCharacterizationThing descendant. Reported under an
    ``*_info`` key (Warning does not break pySHACL conformance).

    Scale: the rdf:type slice aggregated once per subject with two
    broadcast class-set membership flags — one shuffle on subj."""
    classes = dictionary.get("classes") or {}

    def side(root: str):
        return sorted(
            c
            for c, m in classes.items()
            if c == root or root in m.get("superclasses", [])
        )

    inherent = side("UcoInherentCharacterizationThing")
    ucoobj = side("UcoObject")
    if not inherent or not ucoobj:
        return triples.limit(0).select("subj", F.lit("").alias("rule"))
    typed = triples.filter(F.col("pred") == "rdf:type").select(
        "subj", _local(F.col("obj")).alias("cls")
    )
    return (
        typed.groupBy("subj")
        .agg(
            F.max(F.col("cls").isin(*inherent)).alias("_inh"),
            F.max(F.col("cls").isin(*ucoobj)).alias("_uco"),
        )
        .filter(F.col("_inh") & F.col("_uco"))
        .select("subj", F.lit("class_disjointness").alias("rule"))
    )


def validate_all(
    triples: DataFrame,
    ontology_map: Dict[str, Any],
    dictionary: Optional[Dict[str, Any]] = None,
) -> Dict[str, int]:
    """Run every rule; returns {rule → violation count} (is_clean == all 0,
    validator.py:88). ``vocabulary`` counts only severity=Violation rows as
    hard failures; Info/Warning rows (UCO open vocabularies) are reported
    under ``vocabulary_info`` — the same split case_utils' SHACL report
    makes, where sh:Info results do not break conformance. Use
    ``is_conformant`` on the result — a bare all-zero check would wrongly
    fail on Info tallies. Engine-internal audit marker rows
    (drafting:mentionSurface, emitted by surface_markers=True pipelines)
    are excluded up front: they are not ontology triples and every rule
    would otherwise flag them."""
    from .operators.mentions import strip_mention_markers

    triples = strip_mention_markers(triples)
    out = {
        "placement": check_placement(triples, ontology_map).count(),
        "no_nulls": check_no_nulls(triples).count(),
        "dangling_refs": check_dangling_refs(triples).count(),
    }
    if dictionary is not None:
        out["max_count"] = check_max_count(triples, dictionary).count()
        out["min_count"] = check_min_count(triples, dictionary).count()
        out["node_kind"] = check_node_kind(triples, dictionary).count()
        out["object_class"] = check_object_class(triples, dictionary).count()
        out["datatypes"] = check_datatypes(triples, dictionary).count()
        out["has_value"] = check_has_value(triples, dictionary).count()
        out["ucothing_not_blank"] = check_ucothing_not_blank(
            triples, dictionary
        ).count()
        out["ucothing_uuid_info"] = check_ucothing_uuid_suffix(
            triples, dictionary
        ).count()
        out["facet_single_owner"] = check_facet_single_owner(triples).count()
        out["class_disjointness_info"] = check_class_disjointness(
            triples, dictionary
        ).count()
        vocab = check_vocabulary(triples, dictionary).cache()
        out["vocabulary"] = vocab.filter(
            F.col("severity") == "Violation"
        ).count()
        out["vocabulary_info"] = vocab.filter(
            F.col("severity") != "Violation"
        ).count()
        vocab.unpersist(blocking=False)
    return out


def is_conformant(violations: Dict[str, int]) -> bool:
    """case_utils conformance verdict over a ``validate_all`` result:
    hard rules must be zero; tallies reported under ``*_info`` keys
    (sh:Info/Warning severities — UCO open vocabularies) do NOT break
    conformance, exactly as a pySHACL report with only Info results still
    conforms."""
    return all(
        v == 0 for k, v in violations.items() if not k.endswith("_info")
    )
