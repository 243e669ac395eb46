"""Triple emission: records DataFrame → flat triples DataFrame.

The whole reference pipeline's deterministic half (uuid planning →
property mapping → graph composition → pruning → placement —
/root/reference/agents/uuid_planner.py + agents/graph_generator.py) is
record-local, so it compiles to ONE narrow mapInPandas stage: zero
shuffles, linear scaling with input splits. The ontology map rides along
as a Spark broadcast; the per-executor OntologyContext is memoized.

Scale notes (100 TB):
  * no groupBy/join anywhere in this operator — throughput is bounded by
    scan + Arrow transfer + the Python kernel, all embarrassingly parallel;
  * the Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch)
    is the only knob — default 10k rows is right for ~10-field records;
  * output is written partitioned by pmod(xxhash64(record_uuid), N) so
    downstream entity joins can bucket on the same key.
"""

from __future__ import annotations

import json
import re
from typing import Any, Dict, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..refmap.facets import RESERVED_FIELDS, generate_extension_facet_name, to_camel_case
from ..refmap.graph import build_record_nodes, enforce_property_placement, nodes_to_triples
from ..refmap.identity import normalize_key, pyify
from ..refmap.matching import match_property
from ..refmap.planner import OntologyContext, plan_record

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_datatype string, record_uuid string, fingerprint string"
)

_SPARK_TYPE_TAG = {
    "boolean": "bool",
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
}


def extend_ontology_map_for_schema(
    ontology_map: Dict[str, Any],
    field_types: Dict[str, str],
    artifact_type: Optional[str],
) -> Dict[str, Any]:
    """Statically derive the auto extension facet from the record SCHEMA.

    Mirrors the reference's custom-facet merge (custom_facet.py:455-473):
    fields that match no ontology property get a dfc-ext:<camelCase> property
    on a {ArtifactType}ExtensionFacet, appended to facets/properties, with an
    explicit propertyFieldMap row so values route per record (J4 precedence).
    Where the reference inferred xsd datatypes from one sample record's
    Python types, we read them off the DataFrame schema — same result,
    schema-stable across 10^12 records.

    field_types: {field_name → spark simpleString type, e.g. "bigint"}.
    """
    ctx = OntologyContext(ontology_map)
    explicit_fields = {
        f
        for prop_map in ctx.property_field_map.values()
        for fields in (prop_map or {}).values()
        for f in (fields or [])
    }
    unmapped = []
    for field in field_types:
        if field in RESERVED_FIELDS or field in explicit_fields:
            continue
        owner, prop = match_property(normalize_key(field), ctx.property_index)
        if prop is None:
            unmapped.append(field)
    if not unmapped:
        return ontology_map

    base_name = generate_extension_facet_name(artifact_type)
    existing = set(ontology_map.get("facets", []) or [])
    facet_name = base_name
    suffix = 2
    while facet_name in existing:
        facet_name = f"{base_name}{suffix}"
        suffix += 1

    extended = json.loads(json.dumps(ontology_map))  # deep copy
    extended.setdefault("facets", []).append(facet_name)
    props = extended.setdefault("properties", {})
    prop_names = [f"dfc-ext:{to_camel_case(f)}" for f in unmapped]
    props[facet_name] = list(prop_names)
    additional = extended.setdefault("additional_details", {}) or {}
    extended["additional_details"] = additional
    field_map = additional.setdefault("propertyFieldMap", {})
    field_map[facet_name] = {
        prop: [field] for prop, field in zip(prop_names, unmapped)
    }
    return extended


_TYPE_TAG_SAMPLE = {"bool": True, "int": 0, "float": 0.0}


def extension_facet_ttl(
    ontology_map: Dict[str, Any],
    field_types: Dict[str, str],
    artifact_type: Optional[str],
) -> str:
    """S7 TTL sink: Turtle stubs for the schema-derived extension facet
    (custom_facet.py:206-215 semantics, driven by the DataFrame schema the
    way extend_ontology_map_for_schema is). Empty string when every field
    maps. Driver-side — the TTL is ontology metadata, not data."""
    from ..refmap.facets import auto_generate_custom_facets
    from ..refmap.matching import match_property
    from ..refmap.planner import OntologyContext

    ctx = OntologyContext(ontology_map)
    explicit_fields = {
        f
        for prop_map in ctx.property_field_map.values()
        for fields in (prop_map or {}).values()
        for f in (fields or [])
    }
    details = []
    for field, tag in field_types.items():
        if field in RESERVED_FIELDS or field in explicit_fields:
            continue
        _, prop = match_property(normalize_key(field), ctx.property_index)
        if prop is None:
            details.append(
                {
                    "field": field,
                    "sampleValue": _TYPE_TAG_SAMPLE.get(tag, "sample"),
                    "valueType": tag,
                }
            )
    _, ttl = auto_generate_custom_facets(
        details, None, artifact_type, ontology_map.get("facets", []) or []
    )
    return ttl


def _records_from_pdf(
    pdf: pd.DataFrame,
    record_cols: Sequence[str],
    shared: Optional[Dict[str, Any]],
) -> List[Dict[str, Any]]:
    """Arrow batch → flat record dicts: numpy scalars → Python natives,
    None/NaN treated as absent (the JSON absent-key convention), shared
    metadata merged first (uuid_planner.py:40-49)."""
    out: List[Dict[str, Any]] = []
    cols = [pdf[c] for c in record_cols]
    for values in zip(*cols) if cols else []:
        rec: Dict[str, Any] = dict(shared) if shared else {}
        for name, value in zip(record_cols, values):
            if value is None:
                continue
            if isinstance(value, float) and pd.isna(value):
                continue
            rec[name] = pyify(value)
        out.append(rec)
    return out


def emit_triples(
    df: DataFrame,
    ontology_map: Dict[str, Any],
    record_cols: Optional[Sequence[str]] = None,
    shared: Optional[Dict[str, Any]] = None,
    kb_ids: bool = True,
    auto_extension_facet: bool = True,
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """records DataFrame → triples DataFrame (TRIPLE_SCHEMA + passthrough).

    shared: constant payload metadata (artifact_type/description/source)
    flattened into every record exactly like the reference's fan-out
    (uuid_planner.py:30-66). record_cols defaults to all non-passthrough
    columns. One narrow stage; no shuffle.
    """
    spark = df.sparkSession
    # passthrough columns may overlap record fields (e.g. url is both the
    # lineage key and a record field)
    record_cols = list(record_cols if record_cols is not None else df.columns)
    shared = dict(shared or {})

    if auto_extension_facet:
        type_by_field = {
            f.name: _SPARK_TYPE_TAG.get(f.dataType.simpleString(), "str")
            for f in df.schema.fields
            if f.name in record_cols
        }
        for k, v in shared.items():
            type_by_field.setdefault(k, type(v).__name__)
        ontology_map = extend_ontology_map_for_schema(
            ontology_map, type_by_field, shared.get("artifact_type")
        )

    bc = spark.sparkContext.broadcast(
        {"map": ontology_map, "shared": shared, "record_cols": record_cols, "kb": kb_ids}
    )
    out_schema = TRIPLE_SCHEMA + "".join(
        f", {c} {dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[c]}"
        for c in passthrough_cols
    )
    passthrough = list(passthrough_cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = bc.value
        ctx = OntologyContext(cfg["map"])
        omap = cfg["map"]
        kb = cfg["kb"]
        sh = cfg["shared"]
        rcols = cfg["record_cols"]
        for pdf in batches:
            records = _records_from_pdf(pdf, rcols, sh)
            rows: List[tuple] = []
            for i, record in enumerate(records):
                plan = plan_record(record, ctx)
                nodes = build_record_nodes(plan, kb_ids=kb)
                nodes = enforce_property_placement(nodes, omap)
                pt = tuple(pdf[c].iloc[i] for c in passthrough)
                for t in nodes_to_triples(nodes, plan["record_uuid"]):
                    rows.append(t + (plan["fingerprint"],) + pt)
            yield pd.DataFrame(
                rows,
                columns=[
                    "subj",
                    "pred",
                    "obj",
                    "obj_is_iri",
                    "obj_datatype",
                    "record_uuid",
                    "fingerprint",
                ]
                + passthrough,
            )

    return df.mapInPandas(kernel, schema=out_schema)


def plan_manifest(
    df: DataFrame,
    record_cols: Optional[Sequence[str]] = None,
    shared: Optional[Dict[str, Any]] = None,
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """records → (fingerprint, record_uuid [, passthrough]) checkpoint
    manifest rows — the Spark form of the reference's recordFingerprints/
    uuidPlan reuse keys (uuid_planner.py:229-241). Used by
    streaming/resume.py for ST1 resume. Narrow stage, no shuffle."""
    spark = df.sparkSession
    record_cols = list(record_cols if record_cols is not None else df.columns)
    shared = dict(shared or {})
    passthrough = list(passthrough_cols)
    bc = spark.sparkContext.broadcast({"shared": shared, "record_cols": record_cols})
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = "fingerprint string, record_uuid string" + "".join(
        f", {c} {types[c]}" for c in passthrough
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..refmap.identity import fingerprint_record, record_uuid_for

        cfg = bc.value
        for pdf in batches:
            records = _records_from_pdf(pdf, cfg["record_cols"], cfg["shared"])
            fps = [fingerprint_record(r) for r in records]
            out = pd.DataFrame(
                {"fingerprint": fps, "record_uuid": [record_uuid_for(f) for f in fps]}
            )
            for c in passthrough:
                out[c] = pdf[c].values
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def rewrite_canonical(
    triples: DataFrame,
    mapping: DataFrame,
    from_col: str = "from_iri",
    to_col: str = "to_iri",
    subj_col: str = "subj",
    obj_col: str = "obj",
    obj_is_iri_col: "str | None" = None,
    broadcast: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """Rewrite the triple graph through an entity-canonicalization
    assignment — the KG-construction step AFTER canonicalize_entities:
    every subject (and object, guarded by ``obj_is_iri_col`` when the
    schema distinguishes literals) whose IRI appears in ``mapping`` is
    replaced by its canonical IRI, merging the duplicate nodes into one;
    ``distinct=True`` then collapses the now-identical triples (RDF graphs
    are sets — two aliases asserting the same fact become one assertion).

    Scale shape: the mapping is one row per NON-canonical alias — tiny
    relative to the triple table (dup fraction × entities) — so both
    rewrite joins broadcast by default and the only shuffle is the final
    distinct (skip it via ``distinct=False`` when a downstream aggregate
    dedups anyway). Identity rows are dropped from the mapping up front
    so the broadcast carries only real rewrites. Literals are never
    touched: without ``obj_is_iri_col`` the object join still only
    rewrites exact IRI matches; with it, even a literal that collides
    textually with an alias IRI is left alone.
    """
    m = (
        mapping.select(
            F.col(from_col).alias("_from"), F.col(to_col).alias("_to")
        )
        .filter(F.col("_from") != F.col("_to"))
        .distinct()
    )
    ms = F.broadcast(m) if broadcast else m
    out = (
        triples.join(ms, triples[subj_col] == ms["_from"], "left")
        .withColumn(subj_col, F.coalesce("_to", subj_col))
        .drop("_from", "_to")
    )
    mo = F.broadcast(m) if broadcast else m
    out = out.join(mo, out[obj_col] == mo["_from"], "left")
    if obj_is_iri_col is not None:
        new_obj = F.when(
            F.col(obj_is_iri_col) & F.col("_to").isNotNull(), F.col("_to")
        ).otherwise(F.col(obj_col))
    else:
        new_obj = F.coalesce("_to", F.col(obj_col))
    out = out.withColumn(obj_col, new_obj).drop("_from", "_to")
    return out.distinct() if distinct else out


def diff_graphs(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str] = ("subj", "pred", "obj"),
) -> DataFrame:
    """Snapshot diff between two triple-graph versions → the rows that
    changed, tagged ``change ∈ {'added', 'removed'}`` — what a KG
    consumer audits between pipeline runs (and the minimal update set an
    incremental downstream index needs). RDF graphs are SETS: rows are
    compared on ``key_cols`` after DISTINCT, so assertion multiplicity
    never produces phantom diffs.

    Scale shape: two anti-joins on the key columns (each one shuffle,
    AQE-managed — at 10^12 triples both sides bucket-partition on the
    same key so the exchanges co-locate) and a union; no window, no
    driver state. Output carries only ``key_cols`` + ``change``.
    """
    keys = list(key_cols)
    o = old.select(*keys).distinct()
    n = new.select(*keys).distinct()
    added = n.join(o, on=keys, how="left_anti").withColumn(
        "change", F.lit("added")
    )
    removed = o.join(n, on=keys, how="left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


def sameas_smush(
    triples: DataFrame,
    sameas_pred: str = "owl:sameAs",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: Optional[str] = "obj_is_iri",
    max_iterations: int = 20,
    broadcast: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """``owl:sameAs`` smushing — the classic Linked-Open-Data identity
    collapse a KG consumer runs after ingesting graphs that assert
    equivalences: sameAs links form equivalence CLASSES (sameAs is
    symmetric and transitive even when asserted one-way), every member
    rewrites to the class's canonical IRI (the lexicographic MIN — the
    same deterministic pick ``canonicalize_entities`` uses), the merged
    node inherits the union of every alias's triples, and the sameAs
    assertions themselves disappear (they are exactly the information
    the rewrite consumed).

    Composition, not new machinery: the equivalence classes come from
    ``canonicalize.connected_components`` (up to 2^20 sameAs links, one
    Arrow collect and a union-find on the driver; above that,
    alternating-star contraction in O(log diameter) rounds, with
    ``max_iterations`` bounding them) and the rewrite is
    ``rewrite_canonical`` (broadcast alias map, literals guarded by
    ``obj_is_iri_col``). Scale shape: the sameAs subset is tiny relative
    to the triple table (dup fraction × entities), so CC usually labels
    it on the driver and the rewrite broadcasts; the only full-table
    shuffle is the final distinct.
    """
    from .canonicalize import connected_components

    sa = triples.filter(F.col(pred_col) == sameas_pred)
    if obj_is_iri_col is not None:
        sa = sa.filter(F.col(obj_is_iri_col))
    edges = sa.select(
        F.col(subj_col).alias("src"), F.col(obj_col).alias("dst")
    )
    mapping = connected_components(edges, max_iterations=max_iterations)
    rest = triples.filter(F.col(pred_col) != sameas_pred)
    return rewrite_canonical(
        rest,
        mapping,
        from_col="id",
        to_col="component",
        subj_col=subj_col,
        obj_col=obj_col,
        obj_is_iri_col=obj_is_iri_col,
        broadcast=broadcast,
        distinct=distinct,
    )


def sameas_smush_sql(
    table: str = "t",
    sameas_pred: str = "owl:sameAs",
    cols: Sequence[str] = (
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype",
    ),
) -> str:
    """Recursive-CTE replay of ``sameas_smush``: symmetrized+reflexive
    closure over the sameAs edge set, MIN-label components, broadcast-map
    rewrite of subject and IRI objects, DISTINCT. ``cols[0]``/``cols[2]``
    must be the subject/object columns and ``cols[3]`` the IRI flag;
    remaining columns pass through into the distinct."""
    subj, pred, obj, iri = cols[0], cols[1], cols[2], cols[3]
    passthru = ", ".join(cols[4:])
    passthru = (", " + passthru) if passthru else ""
    return f"""
WITH RECURSIVE
sa AS (
  SELECT {subj} AS a, {obj} AS b FROM {table}
  WHERE {pred} = '{sameas_pred}' AND {iri}
),
sym AS (
  SELECT a, b FROM sa
  UNION SELECT b, a FROM sa
  UNION SELECT a, a FROM sa
  UNION SELECT b, b FROM sa
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cmap AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a)
SELECT DISTINCT
  COALESCE(ms.component, {subj}) AS {subj},
  {pred},
  CASE WHEN {iri} THEN COALESCE(mo.component, {obj}) ELSE {obj} END
    AS {obj},
  {iri}{passthru}
FROM {table}
LEFT JOIN cmap ms ON {subj} = ms.id
LEFT JOIN cmap mo ON {obj} = mo.id AND {iri}
WHERE {pred} <> '{sameas_pred}'
"""


def kg_census(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    type_pred: str = "rdf:type",
) -> DataFrame:
    """VoID-style dataset statistics → ``(kind, name, n_triples,
    n_subjects, n_objects)``: one ``dataset`` row (global totals — the
    void:triples / void:distinctSubjects / void:distinctObjects summary),
    one ``property`` row per predicate (void:propertyPartition), and one
    ``class`` row per ``rdf:type`` object (void:classPartition, where
    ``n_subjects`` is the instance count). The first report any KG
    publisher or consumer generates against a freshly-materialized graph.

    Scale shape: three map-side-combined groupBys over the triple table
    (two-phase distinct counts — exact, not sketches); output is
    O(|predicates| + |classes|) rows, broadcastable anywhere.
    """
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    props = triples.groupBy(p.alias("name")).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct(s).alias("n_subjects"),
        F.countDistinct(o).alias("n_objects"),
    ).select(F.lit("property").alias("kind"), "name", "n_triples",
             "n_subjects", "n_objects")
    classes = (
        triples.filter(p == type_pred)
        .groupBy(o.alias("name"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct(s).alias("n_subjects"),
        )
        .select(F.lit("class").alias("kind"), "name", "n_triples",
                "n_subjects", F.lit(1).cast("long").alias("n_objects"))
    )
    dataset = triples.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct(s).alias("n_subjects"),
        F.countDistinct(o).alias("n_objects"),
    ).select(F.lit("dataset").alias("kind"),
             F.lit("").alias("name"), "n_triples", "n_subjects",
             "n_objects")
    return dataset.unionByName(props).unionByName(classes)


def kg_census_sql(
    table: str = "t",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    type_pred: str = "rdf:type",
) -> str:
    """ANSI replay of ``kg_census`` over a triple table/CTE."""
    s, p, o = subj_col, pred_col, obj_col
    return f"""
SELECT 'dataset' AS kind, '' AS name,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT {s}) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT {o}) AS BIGINT) AS n_objects
FROM {table}
UNION ALL
SELECT 'property', {p},
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT {s}) AS BIGINT),
       CAST(count(DISTINCT {o}) AS BIGINT)
FROM {table} GROUP BY {p}
UNION ALL
SELECT 'class', {o},
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT {s}) AS BIGINT),
       CAST(1 AS BIGINT)
FROM {table} WHERE {p} = '{type_pred}' GROUP BY {o}
"""


def unresolved_refs(
    triples: DataFrame,
    namespace: Optional[str] = "kb:",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: Optional[str] = "obj_is_iri",
) -> DataFrame:
    """Dangling-reference report → ``(iri, n_refs)``: every IRI that
    appears as an OBJECT but never as a SUBJECT — the broken-edge QA
    check a KG consumer runs after materialization (a facet id whose
    node was dropped, a relationship target that never emitted, a
    sameAs alias pointing outside the graph). ``namespace`` restricts
    the check to instance IRIs (default the emitter's ``kb:`` space) so
    vocabulary terms — classes, datatypes, external ontology IRIs,
    which are object-only by design — don't flood the report; pass
    ``None`` to audit everything.

    Scale shape: one map-side-combined groupBy over the (filtered)
    object column plus one left-anti join against the distinct subject
    set — both shuffle only IRI strings, never full triples. An empty
    result IS the pass condition."""
    o = F.col(obj_col)
    refs = triples
    if obj_is_iri_col is not None:
        refs = refs.filter(F.col(obj_is_iri_col))
    if namespace is not None:
        refs = refs.filter(o.startswith(namespace))
    counted = refs.groupBy(o.alias("iri")).agg(
        F.count(F.lit(1)).alias("n_refs")
    )
    subjects = triples.select(F.col(subj_col).alias("iri")).distinct()
    return counted.join(subjects, on="iri", how="left_anti")


def unresolved_refs_sql(
    table: str = "t",
    namespace: Optional[str] = "kb:",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: Optional[str] = "obj_is_iri",
) -> str:
    """ANSI replay of ``unresolved_refs``."""
    conds = []
    if obj_is_iri_col is not None:
        conds.append(obj_is_iri_col)
    if namespace is not None:
        conds.append(f"{obj_col} LIKE '{namespace}%'")
    where = ("WHERE " + " AND ".join(conds)) if conds else ""
    return f"""
SELECT {obj_col} AS iri, CAST(count(*) AS BIGINT) AS n_refs
FROM {table} {where}
GROUP BY {obj_col}
HAVING {obj_col} NOT IN (SELECT DISTINCT {subj_col} FROM {table})
"""


def latest_assertions(
    triples: DataFrame,
    ts_col: str = "ts",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Latest-wins assertion refresh → ``(subj, pred, obj, ts)``: for
    each (subject, predicate) keep the assertion from the NEWEST
    observation, ties broken by MIN object (deterministic under
    re-crawls landing in the same snapshot) — how a KG built from
    repeated crawls of the same pages stays current: yesterday's title
    is superseded, not accumulated. Functional-property semantics by
    construction (one object survives per key); multi-valued predicates
    should bypass this operator.

    Scale shape: the window-free argmax discipline (hub subjects never
    serialize through one window partition) — one groupBy-max for the
    winning timestamp, one co-partitioned join back, one groupBy-min
    for the tie break; object strings cross a shuffle once."""
    s, p, o, t = (
        F.col(subj_col), F.col(pred_col), F.col(obj_col), F.col(ts_col)
    )
    latest = triples.groupBy(
        s.alias("subj"), p.alias("pred")
    ).agg(F.max(t).alias("ts"))
    cand = triples.select(
        s.alias("subj"), p.alias("pred"), o.alias("obj"), t.alias("ts")
    ).join(latest, on=["subj", "pred", "ts"])
    return cand.groupBy("subj", "pred", "ts").agg(
        F.min("obj").alias("obj")
    ).select("subj", "pred", "obj", "ts")


def latest_assertions_sql(
    table: str = "t",
    ts_col: str = "ts",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """ANSI replay of ``latest_assertions``."""
    return f"""
SELECT c.{subj_col} AS subj, c.{pred_col} AS pred,
       MIN(c.{obj_col}) AS obj, c.{ts_col} AS ts
FROM {table} c
JOIN (
  SELECT {subj_col}, {pred_col}, MAX({ts_col}) AS mts
  FROM {table} GROUP BY {subj_col}, {pred_col}
) w ON c.{subj_col} = w.{subj_col} AND c.{pred_col} = w.{pred_col}
   AND c.{ts_col} = w.mts
GROUP BY c.{subj_col}, c.{pred_col}, c.{ts_col}
"""


_ONTOLOGY_CLOSURE_MAX = 20000


def _coalesce_overparallelized(
    df: DataFrame,
    size_hint: Optional[int] = None,
    per_task_bytes: int = 32 << 20,
):
    """Cap a wide aggregation's map-side task count when its input is
    grossly over-parallelized for its VOLUME (many near-empty partitions
    — e.g. a K-branch union over a small-split scan inherits K× the scan
    task count; measured in the bench's entailment stage: a 1024-task
    partial-aggregate map side over 1.28M rows spent ~8 s on per-task
    setup where 64 tasks need 1.6 s).

    Scale-adaptive (guide §2.2 "fewer, larger map tasks"), never a
    constant: the target count derives from the optimizer's size estimate
    (ceil(size / 32 MB)), floored at 2× the session's default parallelism
    so local runs stay busy. At 100 TB the derived target exceeds the
    input's partitioning and this is a no-op; unknown stats (sentinel
    estimates) disable the cap. ``coalesce`` (not ``repartition``):
    merging narrow partitions must not buy an extra exchange.

    ``size_hint``: caller-supplied byte estimate for plans whose own
    Catalyst estimate is unusable (a broadcast join's cardinality
    estimate MULTIPLIES the sides — ~10^26 for the entailment union —
    so the caller passes input-side stats × the driver-known closure
    fan-out instead)."""
    import math

    try:
        size = (
            int(size_hint)
            if size_hint is not None
            else int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
        n_cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if size <= 0 or size > (1 << 50):
        return df
    floor_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    n_target = max(floor_parts, math.ceil(size / per_task_bytes))
    if n_cur > n_target * 2:
        return df.coalesce(n_target)
    return df


def _py_transitive_closure(edge_list, max_hops=None):
    """Driver-side BFS closure over a SMALL (ontology-scale) edge list —
    the exact pair set ``graphquery.transitive_closure`` computes
    (reachability via 1..max_hops directed hops; BFS levels are minimal
    hop counts, so bounding the level bounds the minimal hop exactly like
    the semi-naive loop). Cycles terminate via the per-source visited set.
    Returns sorted (src, dst) tuples. Pinned equal to the distributed
    closure by test_rdfs_small_closure_matches_distributed."""
    adj = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
    out = []
    for start, nbrs in adj.items():
        frontier = set(nbrs)
        seen = set(frontier)
        h = 1
        while frontier and (max_hops is None or h < max_hops):
            nxt = set()
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.add(v)
            frontier = nxt
            h += 1
        out.extend((start, v) for v in seen)
    return sorted(out)


def rdfs_infer_types(
    triples: DataFrame,
    subclass_edges: DataFrame,
    type_pred: str = "rdf:type",
    sub_col: str = "sub",
    sup_col: str = "sup",
    max_hops: Optional[int] = None,
    broadcast: bool = True,
) -> DataFrame:
    """RDFS type-entailment materialization (rule **rdfs9**): from
    instance triples and an ``rdfs:subClassOf`` edge set, every
    ``(x, rdf:type, C)`` with ``C subClassOf+ D`` additionally asserts
    ``(x, rdf:type, D)`` — the standard forward-chaining step that makes
    a materialized KG answer superclass queries (``?x a core:UcoObject``)
    without query-time closure. Input schema is the 5-column core frame
    ``(subj, pred, obj, obj_is_iri, obj_datatype)``; inferred rows carry
    ``obj_is_iri=true`` / null datatype, and the result is the input ∪
    entailments DISTINCT (set semantics — re-asserting an explicit type
    is a no-op).

    Scale shape: the subclass closure runs on the ONTOLOGY graph
    (thousands of classes, not instances) via the frontier-iterating
    ``transitive_closure``; the closure then broadcasts into one hash
    join against the type-triple subset — instance rows shuffle only for
    the final distinct. Cites the reference's superclass handling
    (ontology_parser builds the subclass maps the dictionary compiles;
    SURVEY §2 SET2) — this operator applies the same closure to
    INSTANCE data instead of dictionary lookups."""
    from .graphquery import transitive_closure

    closure = None
    cl_pairs = None
    if broadcast:
        # The subclass graph is ONTOLOGY-scale (classes, not instances) —
        # the broadcast path already assumes it fits on the driver, so
        # compute the closure driver-side (guide §1.2: the distributed
        # fixpoint pays repartition+persist plus one checkpointed action
        # per stride round, ~seconds of pure scheduling for a graph of a
        # few thousand edges). Bounded collect: at most
        # _ONTOLOGY_CLOSURE_MAX+1 rows ever reach the driver (the same
        # class of bounded probe as the broadcast ontology dictionary);
        # larger graphs fall back to the distributed frontier loop.
        base = (
            subclass_edges.select(
                F.col(sub_col).alias("_sub"), F.col(sup_col).alias("_sup")
            )
            .where(F.col(sub_col).isNotNull() & F.col(sup_col).isNotNull())
            .distinct()
        )
        sample = base.limit(_ONTOLOGY_CLOSURE_MAX + 1).collect()
        if len(sample) <= _ONTOLOGY_CLOSURE_MAX:
            cl_pairs = _py_transitive_closure(
                [(r["_sub"], r["_sup"]) for r in sample], max_hops
            )
            closure = triples.sparkSession.createDataFrame(
                cl_pairs, schema=base.schema
            )
    if closure is None:
        closure = transitive_closure(
            subclass_edges.select(
                F.col(sub_col).alias("src"), F.col(sup_col).alias("dst")
            ),
            max_hops=max_hops,
        ).select(F.col("src").alias("_sub"), F.col("dst").alias("_sup"))
    cl = F.broadcast(closure) if broadcast else closure
    types = triples.filter(F.col("pred") == type_pred)
    inferred = (
        types.join(cl, on=types["obj"] == cl["_sub"])
        .select(
            "subj",
            F.lit(type_pred).alias("pred"),
            F.col("_sup").alias("obj"),
            F.lit(True).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
        )
    )
    core = triples.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
    )
    # union ∪ inferred references the input scan twice — over a
    # small-split source that doubles an already-multiplied map-side task
    # count; right-size it from input-side stats × the closure fan-out
    # before the distinct (the union's own estimate rides the join's
    # multiplied cardinality and is unusable)
    return _coalesce_overparallelized(
        core.unionByName(inferred), size_hint=_entail_size_hint(core, cl_pairs)
    ).distinct()


def _entail_size_hint(core: DataFrame, cl_pairs) -> Optional[int]:
    """Byte estimate for core ∪ inferred: input-side Catalyst stats scaled
    by (1 + max closure pairs per sub) — an upper bound (only type/pred
    rows expand). None (no hint) when the closure ran distributed."""
    if cl_pairs is None:
        return None
    try:
        core_size = int(
            core._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    fan = {}
    for s, _ in cl_pairs:
        fan[s] = fan.get(s, 0) + 1
    return core_size * (1 + max(fan.values(), default=0))


def rdfs_infer_types_sql(
    table: str = "t",
    subclass: str = "sc",
    type_pred: str = "rdf:type",
    sub_col: str = "sub",
    sup_col: str = "sup",
) -> str:
    """Recursive-CTE replay of ``rdfs_infer_types``."""
    return f"""
WITH RECURSIVE
closure({sub_col}, {sup_col}) AS (
  SELECT {sub_col}, {sup_col} FROM {subclass}
  WHERE {sub_col} IS NOT NULL AND {sup_col} IS NOT NULL
  UNION
  SELECT c.{sub_col}, s.{sup_col}
  FROM closure c JOIN {subclass} s ON c.{sup_col} = s.{sub_col}
)
SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype FROM (
  SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {table}
  UNION ALL
  SELECT t.subj, '{type_pred}', c.{sup_col}, TRUE, NULL::VARCHAR
  FROM {table} t JOIN closure c ON t.obj = c.{sub_col}
  WHERE t.pred = '{type_pred}'
) z
"""


def infer_transitive(
    triples: DataFrame,
    pred: str,
    max_hops: Optional[int] = None,
) -> DataFrame:
    """owl:TransitiveProperty materialization: close ONE predicate's edge
    set (``containedWithin``, ``derivedFrom``, partOf-style hierarchies)
    and assert every implied pair as an explicit triple — the
    materialized twin of the SPARQL ``p+`` path, for consumers that read
    the dump without a path-capable engine. Result = input ∪ inferred
    DISTINCT on the 5-column core frame; only IRI-object rows of
    ``pred`` participate (a literal can't be a path step).

    Scale shape: ``transitive_closure`` on the single-predicate subset
    (frontier-iterating, edges partitioned once); the caution from
    VERDICT r4 applies — output is O(N·diameter) pairs by definition, so
    ``max_hops`` should be set for deep chains."""
    from .graphquery import transitive_closure

    edges = triples.filter(
        (F.col("pred") == pred) & F.col("obj_is_iri")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    closed = transitive_closure(edges, max_hops=max_hops).select(
        F.col("src").alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("dst").alias("obj"),
        F.lit(True).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_datatype"),
    )
    core = triples.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
    )
    return core.unionByName(closed).distinct()


def infer_transitive_sql(
    pred: str,
    table: str = "t",
    max_hops: Optional[int] = None,
) -> str:
    """Recursive-CTE replay of ``infer_transitive`` (bounded when
    ``max_hops`` is given, mirroring the engine's cap)."""
    guard = (
        f"WHERE r.hops < {int(max_hops)}" if max_hops is not None else ""
    )
    return f"""
WITH RECURSIVE
pe AS (
  SELECT subj AS src, obj AS dst FROM {table}
  WHERE pred = '{pred}' AND obj_is_iri
),
reach(src, dst, hops) AS (
  SELECT src, dst, 1 AS hops FROM pe
  UNION
  SELECT r.src, pe.dst, r.hops + 1
  FROM reach r JOIN pe ON r.dst = pe.src
  {guard}
)
SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype FROM (
  SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {table}
  UNION ALL
  SELECT src, '{pred}', dst, TRUE, NULL::VARCHAR FROM reach
) z
"""


def infer_subproperties(
    triples: DataFrame,
    subprop_edges: DataFrame,
    sub_col: str = "sub",
    sup_col: str = "sup",
    max_hops: Optional[int] = None,
    broadcast: bool = True,
) -> DataFrame:
    """RDFS sub-property entailment (rule **rdfs7**): from instance
    triples and an ``rdfs:subPropertyOf`` edge set, every ``(s, p, o)``
    with ``p subPropertyOf+ q`` additionally asserts ``(s, q, o)`` — the
    property-axis twin of :func:`rdfs_infer_types` (rdfs9), completing
    the RDFS entailment pair a materialized web KG needs (query
    ``?s core:hasFacet ?o`` and see rows asserted through any
    specialised sub-property). Inferred rows keep the source row's
    ``obj_is_iri`` / ``obj_datatype`` — the OBJECT is unchanged, only
    the predicate generalises (a literal-valued triple entails a
    literal-valued triple). Result = input ∪ entailments DISTINCT.

    Scale shape: identical to rdfs9 — the subPropertyOf closure runs on
    the ONTOLOGY graph (hundreds of properties) via the
    frontier-iterating ``transitive_closure``, then broadcasts into one
    hash join against the instance frame keyed on ``pred`` (no
    instance-side shuffle before the final distinct). Cites the
    reference's property-hierarchy handling (ontology_parser collects
    ``rdfs:subPropertyOf`` into the dictionary; SURVEY §2 SET2) —
    applied to instance data instead of dictionary lookups."""
    from .graphquery import transitive_closure

    closure = None
    cl_pairs = None
    if broadcast:
        # same driver-side fast path as rdfs_infer_types: the
        # subPropertyOf graph is ontology-scale; bounded collect with a
        # distributed fallback past _ONTOLOGY_CLOSURE_MAX edges
        base = (
            subprop_edges.select(
                F.col(sub_col).alias("_sub"), F.col(sup_col).alias("_sup")
            )
            .where(F.col(sub_col).isNotNull() & F.col(sup_col).isNotNull())
            .distinct()
        )
        sample = base.limit(_ONTOLOGY_CLOSURE_MAX + 1).collect()
        if len(sample) <= _ONTOLOGY_CLOSURE_MAX:
            cl_pairs = _py_transitive_closure(
                [(r["_sub"], r["_sup"]) for r in sample], max_hops
            )
            closure = triples.sparkSession.createDataFrame(
                cl_pairs, schema=base.schema
            )
    if closure is None:
        closure = transitive_closure(
            subprop_edges.select(
                F.col(sub_col).alias("src"), F.col(sup_col).alias("dst")
            ),
            max_hops=max_hops,
        ).select(F.col("src").alias("_sub"), F.col("dst").alias("_sup"))
    cl = F.broadcast(closure) if broadcast else closure
    inferred = triples.join(
        cl, on=triples["pred"] == cl["_sub"]
    ).select(
        "subj",
        F.col("_sup").alias("pred"),
        "obj",
        "obj_is_iri",
        "obj_datatype",
    )
    core = triples.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
    )
    # same right-sizing as rdfs_infer_types (input stats × closure fan)
    return _coalesce_overparallelized(
        core.unionByName(inferred), size_hint=_entail_size_hint(core, cl_pairs)
    ).distinct()


def infer_subproperties_sql(
    table: str = "t",
    subprop: str = "sp",
    sub_col: str = "sub",
    sup_col: str = "sup",
) -> str:
    """Recursive-CTE replay of ``infer_subproperties``."""
    return f"""
WITH RECURSIVE
pclosure({sub_col}, {sup_col}) AS (
  SELECT {sub_col}, {sup_col} FROM {subprop}
  WHERE {sub_col} IS NOT NULL AND {sup_col} IS NOT NULL
  UNION
  SELECT c.{sub_col}, s.{sup_col}
  FROM pclosure c JOIN {subprop} s ON c.{sup_col} = s.{sub_col}
)
SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype FROM (
  SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {table}
  UNION ALL
  SELECT t.subj, c.{sup_col}, t.obj, t.obj_is_iri, t.obj_datatype
  FROM {table} t JOIN pclosure c ON t.pred = c.{sub_col}
) z
"""


def infer_inverse(
    triples: DataFrame,
    inverse_pairs: Sequence = (),
    symmetric_preds: Sequence[str] = (),
    broadcast: bool = True,
) -> DataFrame:
    """owl:inverseOf / owl:SymmetricProperty materialization: for each
    axiom ``p owl:inverseOf q``, ``(s, p, o) ⇒ (o, q, s)`` AND
    ``(s, q, o) ⇒ (o, p, s)`` (the axiom is bidirectional); for each
    symmetric ``p``, ``(s, p, o) ⇒ (o, p, s)`` — i.e. symmetry is the
    ``p inverseOf p`` special case, and both compile to ONE rule table.
    Only IRI-object rows participate (a literal cannot become a
    subject). Result = input ∪ entailments DISTINCT on the 5-column
    core frame. This is the rule that makes a web KG queryable from
    either end (``linkTo``/``linkFrom``, ``parentOf``/``childOf``)
    without every query writing ``^p`` paths.

    ``inverse_pairs``: ``[(p, q), ...]`` (each expanded to both
    directions); ``symmetric_preds``: ``[p, ...]``. Either may be a
    DataFrame with columns ``(p, q)`` already expanded — then it is
    used verbatim as the rule table.

    Scale shape: the rule table is axiom-sized (ontology, not
    instance) and broadcasts into one hash join keyed on ``pred``; the
    swap is a projection; one distinct at the end. No instance-side
    shuffle before the distinct."""
    if isinstance(inverse_pairs, DataFrame):
        rules = inverse_pairs.select(
            F.col("p").cast("string"), F.col("q").cast("string")
        )
    else:
        rows = [(str(p), str(q)) for p, q in inverse_pairs]
        rows += [(str(q), str(p)) for p, q in inverse_pairs]
        rows += [(str(p), str(p)) for p in symmetric_preds]
        if not rows:
            raise ValueError(
                "infer_inverse needs at least one inverse pair or "
                "symmetric predicate"
            )
        rules = triples.sparkSession.createDataFrame(
            sorted(set(rows)), "p string, q string"
        )
    r = F.broadcast(rules) if broadcast else rules
    swapped = (
        triples.filter(F.col("obj_is_iri"))
        .join(r, on=triples["pred"] == r["p"])
        .select(
            F.col("obj").alias("subj"),
            F.col("q").alias("pred"),
            F.col("subj").alias("obj"),
            F.lit(True).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_datatype"),
        )
    )
    core = triples.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
    )
    return core.unionByName(swapped).distinct()


def infer_inverse_sql(
    inverse_pairs: Sequence = (),
    symmetric_preds: Sequence[str] = (),
    table: str = "t",
) -> str:
    """ANSI replay of ``infer_inverse`` — the expanded rule table as an
    inline VALUES join (same both-directions expansion)."""
    rows = [(str(p), str(q)) for p, q in inverse_pairs]
    rows += [(str(q), str(p)) for p, q in inverse_pairs]
    rows += [(str(p), str(p)) for p in symmetric_preds]
    if not rows:
        raise ValueError("infer_inverse_sql needs at least one rule")
    values = ", ".join(f"('{p}', '{q}')" for p, q in sorted(set(rows)))
    return f"""
SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype FROM (
  SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {table}
  UNION ALL
  SELECT t.obj, r.q, t.subj, TRUE, NULL::VARCHAR
  FROM {table} t JOIN (VALUES {values}) AS r(p, q) ON t.pred = r.p
  WHERE t.obj_is_iri
) z
"""


def void_summary(
    triples: DataFrame,
    type_pred: str = "rdf:type",
) -> DataFrame:
    """VoID-style dataset description (the W3C *Vocabulary of
    Interlinked Datasets* statistics a published web KG ships next to
    its dump): one tall frame
    ``(scope, key, n_triples, n_subjects, n_objects, n_preds)`` with
    three scopes — ``dataset`` (key ``''``: void:triples /
    void:distinctSubjects / void:distinctObjects / void:properties),
    ``property`` (one row per predicate — void:propertyPartition), and
    ``class`` (one row per class — void:classPartition: the stats of
    the sub-dataset whose SUBJECTS are instances of the class; a
    multi-typed subject's triples count in every class it bears, per
    the VoID definition). ``n_objects`` counts distinct IRI objects
    (void:distinctObjects over resources — literals profile via
    ``literal_stats``).

    Relation to :func:`kg_census`: the census is the CHEAP first report
    (its class row counts only the rdf:type triples themselves — no
    join), for when instance counts suffice. This operator is the
    spec-faithful VoID partition — its class scope covers ALL triples
    of each class's subjects (hence the subj join), plus IRI-only
    object counts and per-scope predicate counts. Publish this one;
    monitor with the census.

    Scale shape: dataset + property scopes are two grouped passes over
    the core frame (map-side partials; property keys are
    vocabulary-bounded). The class scope joins the instance frame to
    the distinct (subj, class) map on ``subj`` — the one instance-sized
    shuffle, unavoidable by definition (class membership is a property
    of the subject, not the row). Output is statistics-sized:
    |preds| + |classes| + 1 rows."""
    core = triples.select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
    )
    iri_obj = F.when(F.col("obj_is_iri"), F.col("obj"))
    dataset = core.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct(iri_obj).alias("n_objects"),
        F.countDistinct("pred").alias("n_preds"),
    ).select(
        F.lit("dataset").alias("scope"), F.lit("").alias("key"),
        "n_triples", "n_subjects", "n_objects", "n_preds",
    )
    by_prop = core.groupBy(F.col("pred").alias("key")).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct(iri_obj).alias("n_objects"),
    ).select(
        F.lit("property").alias("scope"), "key",
        "n_triples", "n_subjects", "n_objects",
        F.lit(1).cast("long").alias("n_preds"),
    )
    classes = (
        core.filter(F.col("pred") == type_pred)
        .select("subj", F.col("obj").alias("_cls"))
        .distinct()
    )
    by_class = (
        core.join(classes, on="subj")
        .groupBy(F.col("_cls").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct(iri_obj).alias("n_objects"),
            F.countDistinct("pred").alias("n_preds"),
        )
        .select(
            F.lit("class").alias("scope"), "key",
            "n_triples", "n_subjects", "n_objects", "n_preds",
        )
    )
    return dataset.unionByName(by_prop).unionByName(by_class)


def void_summary_sql(
    table: str = "t",
    type_pred: str = "rdf:type",
) -> str:
    """ANSI replay of ``void_summary`` (DuckDB writes its own grouped
    passes; the class partition re-joins the distinct type map)."""
    return f"""
SELECT 'dataset' AS scope, '' AS key,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT CASE WHEN obj_is_iri THEN obj END)
            AS BIGINT) AS n_objects,
       CAST(count(DISTINCT pred) AS BIGINT) AS n_preds
FROM {table}
UNION ALL
SELECT 'property', pred,
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT subj) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN obj_is_iri THEN obj END)
            AS BIGINT),
       1
FROM {table} GROUP BY pred
UNION ALL
SELECT 'class', c.cls,
       CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT t.subj) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN t.obj_is_iri THEN t.obj END)
            AS BIGINT),
       CAST(count(DISTINCT t.pred) AS BIGINT)
FROM {table} t
JOIN (SELECT DISTINCT subj, obj AS cls FROM {table}
      WHERE pred = '{type_pred}') c ON t.subj = c.subj
GROUP BY c.cls
"""


def apply_diff(
    base: DataFrame,
    diff: DataFrame,
    key_cols: Sequence[str] = ("subj", "pred", "obj"),
) -> DataFrame:
    """Apply a ``diff_graphs`` patch to a snapshot → the updated triple
    SET (``key_cols`` only): removed rows anti-join away, added rows
    union in — the consumer side of the snapshot-diff lifecycle
    (``new ≡ apply_diff(old, diff_graphs(old, new))``), and how an
    incremental downstream index ingests a day's KG change without
    re-reading the full graph.

    Scale shape: one anti-join against the (small, day-sized) removed
    set plus a union — the base scans once; with both sides bucketed on
    the key columns the exchange co-locates. Output is DISTINCT by
    construction (the diff is computed on sets)."""
    keys = list(key_cols)
    removed = diff.filter(F.col("change") == "removed").select(*keys)
    added = diff.filter(F.col("change") == "added").select(*keys)
    return (
        base.select(*keys)
        .distinct()
        .join(removed, on=keys, how="left_anti")
        .unionByName(added)
    )


def kg_fingerprint(
    triples: DataFrame,
    cols: Sequence[str] = ("subj", "pred", "obj", "obj_is_iri",
                           "obj_datatype"),
) -> DataFrame:
    """Order-insensitive graph digest → ONE row ``(n_triples, digest)``:
    each DISTINCT triple hashes to a 60-bit integer (md5 over a
    null-sentineled unit-separator row encoding) and the digests
    XOR-combine — a commutative, associative fold, so the result is
    partition-, order-, and engine-invariant with NO global sort and NO
    driver-side state. The equality check two 100 TB replicas (or a
    resume vs a from-scratch run) compare in one map-side-combined scan;
    any single-triple difference flips the digest.

    XOR cancels duplicate rows, which is why the fold runs on the
    DISTINCT set (RDF graphs are sets; multiplicity is not part of graph
    identity)."""
    enc = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in cols]
    )
    h = F.conv(F.substring(F.md5(enc), 1, 15), 16, 10).cast("long")
    return (
        triples.select(*cols)
        .distinct()
        .select(h.alias("_h"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.expr("bit_xor(_h)").alias("digest"),
        )
    )


def kg_fingerprint_sql(
    table: str = "t",
    cols: Sequence[str] = ("subj", "pred", "obj", "obj_is_iri",
                           "obj_datatype"),
) -> str:
    """DuckDB replay of ``kg_fingerprint`` — same row encoding (booleans
    render 'true'/'false' on both engines), same 60-bit md5 slice, same
    XOR fold."""
    enc = " || '\x1f' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0))" for c in cols
    )
    sel = ", ".join(cols)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_triples,
       bit_xor(CAST(('0x' || substr(md5({enc}), 1, 15)) AS BIGINT))
         AS digest
FROM (SELECT DISTINCT {sel} FROM {table}) z
"""


def property_graph_nodes(
    triples: DataFrame,
    type_pred: str = "rdf:type",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: str = "obj_is_iri",
) -> DataFrame:
    """RDF → property-graph node table ``(id, types, props)`` — the
    bridge to GraphX/GraphFrames/Neo4j-style consumers, which want one
    ROW per node with its labels and scalar properties rather than a
    triple soup: ``types`` is the sorted array of ``rdf:type`` objects,
    ``props`` the sorted array of ``pred=value`` strings for LITERAL
    objects (IRI objects are the edges).
    Sorted arrays (not maps) keep the projection deterministic and
    hash-comparable across engines; multi-valued predicates simply
    contribute multiple entries.

    Scale shape: ONE groupBy on the subject — per-node arrays are
    bounded by that node's property count (the emission is ~15/node),
    never by graph size; conditional collects fold map-side."""
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    is_type = p == type_pred
    is_prop = (~F.col(obj_is_iri_col)) & ~is_type
    return triples.groupBy(s.alias("id")).agg(
        F.sort_array(
            F.collect_list(F.when(is_type, o))
        ).alias("types"),
        F.sort_array(
            F.collect_list(F.when(is_prop, F.concat(p, F.lit("="), o)))
        ).alias("props"),
    )


def property_graph_nodes_sql(
    table: str = "t",
    type_pred: str = "rdf:type",
) -> str:
    """DuckDB replay of ``property_graph_nodes`` (FILTERed list
    aggregates + list_sort)."""
    return f"""
SELECT subj AS id,
       list_sort(COALESCE(
         list(obj) FILTER (WHERE pred = '{type_pred}'), [])) AS types,
       list_sort(COALESCE(
         list(pred || '=' || obj)
           FILTER (WHERE NOT obj_is_iri AND pred <> '{type_pred}'),
         [])) AS props
FROM {table} GROUP BY subj
"""


def kg_as_of(
    log: DataFrame,
    as_of,
    op_col: str = "op",
    ts_col: str = "ts",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Point-in-time KG reconstruction from an assertion log — the
    time-travel read the snapshot/patch lifecycle implies
    (``diff_graphs``/``apply_diff`` move the graph forward; this
    answers "what did the graph say at T?"): over rows
    ``(subj, pred, obj, op ∈ {'add','del'}, ts)``, a triple is IN the
    graph as of ``as_of`` iff its latest operation at or before that
    time is an add → ``(subj, pred, obj, ts)`` with ``ts`` = that
    winning operation's time. Ties at the same timestamp resolve
    delete-wins (MAX over the op string — 'del' > 'add'): a
    delete and re-add landing in one snapshot reads as absent, the
    conservative answer for an auditable store.

    Scale shape: the ``ts <= as_of`` filter is pushed to the scan — on
    a date-partitioned log it prunes whole partitions, the natural
    layout for an append-only assertion log; one groupBy on the triple
    key takes ``max(struct(ts, op))`` (map-side partials, single
    shuffle, window-free), and the add/del verdict is a filter on the
    struct — no join back, the struct carries everything."""
    valid = F.col(op_col).isin("add", "del")
    filtered = log.where((F.col(ts_col) <= F.lit(as_of)) & valid)
    return (
        filtered.groupBy(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
        )
        .agg(
            F.max(
                F.struct(F.col(ts_col).alias("ts"),
                         F.col(op_col).alias("op"))
            ).alias("_last")
        )
        .where(F.col("_last.op") == "add")
        .select("subj", "pred", "obj", F.col("_last.ts").alias("ts"))
    )


def kg_completeness(
    triples: DataFrame,
    schema: DataFrame,
    type_pred: str = "rdf:type",
    class_col: str = "cls",
    prop_col: str = "prop",
) -> DataFrame:
    """Schema-completeness census — the RECALL side of KG QA (the
    functional/IFP rules audit precision; this answers "how much of
    what the schema promises did extraction actually fill?"): for every
    (class, expected property) row of ``schema``, the number of typed
    instances carrying ≥1 assertion of that property →
    ``(cls, prop, n_filled, n_instances)``. Exact integers — the fill
    RATE is the caller's division (house rule). Instances typed into a
    class with zero filled rows still report (n_filled = 0), which is
    the whole point of a completeness audit.

    Scale shape: ``schema`` is the broadcast dimension (classes ×
    expected props — thousands of rows); the type slice and the
    distinct (subj, pred) projection each shuffle on subject, so the
    instance⋈property join co-partitions; counts group on the
    (cls, prop) pair with map-side partials. No window, no per-entity
    state."""
    types = (
        triples.where(F.col("pred") == type_pred)
        .select(F.col("subj"), F.col("obj").alias("cls"))
        .distinct()
    )
    sch = schema.select(
        F.col(class_col).alias("cls"), F.col(prop_col).alias("prop")
    ).distinct()
    props = (
        triples.where(F.col("pred") != type_pred)
        .select("subj", F.col("pred").alias("prop"))
        .distinct()
    )
    expected = types.join(F.broadcast(sch), "cls")
    filled = (
        expected.join(props, ["subj", "prop"], "left_semi")
        .groupBy("cls", "prop")
        .agg(F.count(F.lit(1)).alias("n_filled"))
    )
    instances = types.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_instances")
    )
    return (
        sch.join(instances, "cls")
        .join(filled, ["cls", "prop"], "left")
        .select(
            "cls", "prop",
            F.coalesce("n_filled", F.lit(0)).alias("n_filled"),
            "n_instances",
        )
    )


def schema_graph(
    triples: DataFrame,
    type_pred: str = "rdf:type",
    untyped: str = "__untyped__",
) -> DataFrame:
    """Class-level schema summary of an instance graph — the
    "ontology usage graph" a KG constructor reads before trusting a
    crawl-extracted schema: every IRI-object triple rolls up to
    ``(subj_cls, pred, obj_cls, n_edges)``, counting DISTINCT
    instance edges between each class pair per predicate. Nodes
    without a type contribute under the ``untyped`` sentinel (at web
    scale the untyped mass IS the signal — it says which extractor
    channel is dropping class assertions). Multi-typed nodes
    contribute to every class they carry (standard rollup semantics —
    the summary is a projection, not a partition).

    Scale shape: the type map shuffles once on subject; the edge slice
    joins it twice (subject side, then object side) on co-partitioned
    keys; the final count groups the class-pair key with map-side
    partials. Output is |classes|²·|preds| at most — dashboard-sized,
    never corpus-sized."""
    types = (
        triples.where(F.col("pred") == type_pred)
        .select(F.col("subj").alias("_n"), F.col("obj").alias("_cls"))
        .distinct()
    )
    edges = (
        triples.where(
            (F.col("pred") != type_pred) & F.col("obj_is_iri")
        )
        .select("subj", "pred", "obj")
        .distinct()
    )
    st = types.withColumnRenamed("_cls", "subj_cls")
    ot = types.withColumnRenamed("_cls", "obj_cls")
    return (
        edges.join(st, edges["subj"] == st["_n"], "left")
        .drop("_n")
        .join(ot, edges["obj"] == ot["_n"], "left")
        .drop("_n")
        .select(
            F.coalesce("subj_cls", F.lit(untyped)).alias("subj_cls"),
            "pred",
            F.coalesce("obj_cls", F.lit(untyped)).alias("obj_cls"),
        )
        .groupBy("subj_cls", "pred", "obj_cls")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def characteristic_sets(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    sep: str = " ",
) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): partition
    subjects by their exact set of DISTINCT predicates →
    ``(cset, n_preds, n_subjects, n_triples)`` with ``cset`` the
    ``sep``-joined sorted predicate list. This is the classic RDF
    cardinality-estimation statistic — star-join selectivities come
    from counting subjects whose predicate set is a superset of the
    query star — and doubles as the entity-shape census (how many
    subjects look like a URL record, a facet, a relationship node).

    Determinism: the set is sorted before joining, so the key is
    partitioning/engine-invariant; predicates are IRIs/CURIEs, which
    cannot contain whitespace, so the default separator is unambiguous.

    Scale shape: one groupBy on subject (bounded fan-in — a subject's
    predicate count is its out-degree, ~15 in the emission), then one
    groupBy on the set key with map-side partials. Output is
    |distinct shapes| rows — statistics-sized, never corpus-sized; no
    window, no explode, nothing leaves the JVM."""
    per_subj = triples.groupBy(F.col(subj_col).alias("_s")).agg(
        F.array_join(
            F.sort_array(F.collect_set(pred_col)), sep
        ).alias("cset"),
        F.size(F.collect_set(pred_col)).alias("n_preds"),
        F.count(F.lit(1)).alias("_nt"),
    )
    return (
        per_subj.groupBy("cset", "n_preds")
        .agg(
            F.count(F.lit(1)).alias("n_subjects"),
            F.sum("_nt").alias("n_triples"),
        )
        .select("cset", "n_preds", "n_subjects", "n_triples")
    )


def characteristic_sets_sql(
    table: str = "t",
    subj_col: str = "subj",
    pred_col: str = "pred",
    sep: str = " ",
) -> str:
    """ANSI replay of ``characteristic_sets`` (DuckDB list/list_sort —
    independently-written aggregation, not shared SQL). The per-subject
    pass is an inline subquery, not a CTE, so callers can wrap this in
    their own ``WITH t AS (...)`` without a double-WITH collision."""
    return f"""
SELECT cset, n_preds,
       CAST(count(*) AS BIGINT) AS n_subjects,
       CAST(SUM(nt) AS BIGINT) AS n_triples
FROM (
  SELECT {subj_col} AS s,
         array_to_string(list_sort(list(DISTINCT {pred_col})), '{sep}')
           AS cset,
         CAST(count(DISTINCT {pred_col}) AS INT) AS n_preds,
         count(*) AS nt
  FROM {table}
  GROUP BY {subj_col}
) per_subj
GROUP BY cset, n_preds
"""


def star_cardinality(
    csets: DataFrame,
    star_preds: Sequence[str],
    sep: str = " ",
) -> DataFrame:
    """Star-query cardinality from the characteristic-set statistic
    (Neumann & Moerkotte, ICDE 2011 — the statistic's actual use): the
    number of subjects that bind a star of DISTINCT predicates
    ``{p1..pk}`` equals the sum of ``n_subjects`` over the
    characteristic sets that are SUPERSETS of the star. For
    distinct-predicate stars this is EXACT, not an estimate — the sets
    partition the subjects — which is why an RDF optimizer keeps this
    table instead of sampling. Returns one row
    ``(n_star_preds, n_matching_csets, n_subjects)``.

    Scale shape: runs on the STATISTIC (|distinct shapes| rows — KB
    not TB), never the corpus; the superset probe is an in-row
    array_contains fold over the split set key; one global sum. This
    is the whole point: a 100 TB graph answers the cardinality question
    from a broadcast-sized summary."""
    preds = sorted(set(star_preds))
    if not preds:
        raise ValueError("star_cardinality needs at least one predicate")
    arr = F.split(F.col("cset"), re.escape(sep))
    cond = F.lit(True)
    for p in preds:
        cond = cond & F.array_contains(arr, p)
    return csets.filter(cond).agg(
        F.lit(len(preds)).cast("int").alias("n_star_preds"),
        F.count(F.lit(1)).alias("n_matching_csets"),
        F.coalesce(F.sum("n_subjects"), F.lit(0)).alias("n_subjects"),
    )


def star_cardinality_sql(
    star_preds: Sequence[str],
    csets: str = "cs",
    sep: str = " ",
) -> str:
    """ANSI replay of ``star_cardinality`` (DuckDB list_contains over
    the split set key)."""
    preds = sorted(set(star_preds))
    if not preds:
        raise ValueError("star_cardinality_sql needs ≥1 predicate")
    conds = " AND ".join(
        "list_contains(str_split(cset, '{}'), '{}')".format(sep, p)
        for p in preds
    )
    return f"""
SELECT CAST({len(preds)} AS INT) AS n_star_preds,
       CAST(count(*) AS BIGINT) AS n_matching_csets,
       COALESCE(SUM(n_subjects), 0) AS n_subjects
FROM {csets}
WHERE {conds}
"""


def compact_log(
    log: DataFrame,
    horizon,
    op_col: str = "op",
    ts_col: str = "ts",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Assertion-log compaction — the retention/maintenance pass of
    the time-travel store (``kg_as_of``): replace everything at or
    before ``horizon`` with ONE synthetic ``('add', horizon)`` row per
    triple alive at the horizon (tombstones and overwritten history
    prune away), keep every later op verbatim. The compacted log is
    as-of-EQUIVALENT to the original for every ``t >= horizon`` —
    pinned by test — while history before the horizon is deliberately
    gone (that is the retention contract; archive the raw log first
    if audits need it).

    Scale shape: exactly ``kg_as_of``'s one grouped max(struct) pass
    over the cold slice (the ``ts <= horizon`` filter prunes the
    date-partitioned log) plus a pass-through filter for the hot
    slice — union, no joins, no window."""
    hot = log.where(F.col(ts_col) > F.lit(horizon)).select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
        F.col(op_col).alias("op"),
        F.col(ts_col).alias("ts"),
    )
    state = kg_as_of(
        log, horizon, op_col=op_col, ts_col=ts_col,
        subj_col=subj_col, pred_col=pred_col, obj_col=obj_col,
    ).select(
        "subj", "pred", "obj",
        F.lit("add").alias("op"),
        F.lit(horizon).cast("long").alias("ts"),
    )
    return state.unionByName(hot)


def literal_stats(
    triples: DataFrame,
    int_pattern: str = "^-?[0-9]{1,18}$",
) -> DataFrame:
    """Per-predicate numeric-literal profile — the value-distribution
    QA a crawl-extracted KG needs before anyone trusts a ``price`` or
    ``rank`` column: over NON-IRI objects whose lexical form is a
    plain integer (``int_pattern`` — bounded at 18 digits so the cast
    stays in BIGINT), per predicate: ``(pred, n_int, n_nonint,
    min_value, max_value, sum_value)``. Exact BIGINTs end to end —
    mean/variance are the caller's division. ``n_nonint`` counts the
    literals that did NOT parse: the malformed-value rate IS the QA
    signal.

    Scale shape: one regexp gate + one grouped pass with map-side
    partials; predicates are the low-cardinality dimension so the
    output is dashboard-sized. The pattern is Java∩RE2-portable
    (links.py policy) and replayed verbatim by the oracle."""
    lits = triples.where(~F.col("obj_is_iri")).select(
        "pred", F.col("obj").alias("v")
    )
    is_int = F.col("v").rlike(int_pattern)
    tagged = lits.select(
        "pred",
        F.when(is_int, F.col("v").cast("long")).alias("iv"),
    )
    return tagged.groupBy("pred").agg(
        F.count("iv").alias("n_int"),
        (F.count(F.lit(1)) - F.count("iv")).alias("n_nonint"),
        F.min("iv").alias("min_value"),
        F.max("iv").alias("max_value"),
        F.sum("iv").alias("sum_value"),
    )


def infer_types_by_neighbors(
    triples: DataFrame,
    type_pred: str = "rdf:type",
    min_votes: int = 2,
) -> DataFrame:
    """Soft type inference for UNTYPED nodes — the deterministic
    variant of SDType (Paulheim & Bizer, ISWC'13): learn each
    predicate's dominant subject type (domain) and object type (range)
    from the TYPED part of the graph, then let every incident edge of
    an untyped node cast one vote (its predicate's domain if the node
    is the subject, its range if the object); majority wins, min-type
    tie-break, and a node needs ``min_votes`` agreeing votes to be
    typed at all. Returns ``(node, inferred_type, votes, n_signals)``
    — votes = winner's count, n_signals = total votes cast. Votes are
    per assertion ROW: dedupe the frame upstream if it may carry exact
    duplicate rows (the SQL twin mirrors the same convention).

    Extraction leaves most web-KG nodes untyped (markup rarely states
    classes); this is the standard completion pass between extraction
    and validation, and its output feeds ``shape_conformance`` /
    ``kg_completeness`` which are class-scoped and silently skip
    untyped nodes. Exact integers; no float ever decides a type.

    Scale shape: domain/range induction joins the instance frame to
    the type map on co-keyed node columns, output is schema-sized
    (pred × type) and BROADCASTS back into the edge stream; the vote
    count groups on (node, type) with map-side partials. No window,
    no Python, no pair materialization."""
    typed = (
        triples.filter(
            (F.col("pred") == type_pred) & F.col("obj_is_iri")
        )
        .select("subj", F.col("obj").alias("_ty"))
        .distinct()
    )
    inst = triples.filter(F.col("pred") != type_pred)

    def dominant(votes: DataFrame, key: str) -> DataFrame:
        """argmax type per pred: groupBy-max + join + min tie-break."""
        best = votes.groupBy("pred").agg(F.max("_n").alias("_n"))
        return (
            votes.join(best, ["pred", "_n"])
            .groupBy("pred")
            .agg(F.min("_ty").alias(key))
        )

    dom = dominant(
        inst.join(typed, "subj")
        .groupBy("pred", "_ty")
        .agg(F.count(F.lit(1)).alias("_n")),
        "_dom",
    )
    rng = dominant(
        inst.filter(F.col("obj_is_iri"))
        .join(typed.withColumnRenamed("subj", "obj"), "obj")
        .groupBy("pred", "_ty")
        .agg(F.count(F.lit(1)).alias("_n")),
        "_rng",
    )
    typed_nodes = typed.select(F.col("subj").alias("node")).distinct()
    sub_votes = (
        inst.join(F.broadcast(dom), "pred")
        .select(F.col("subj").alias("node"), F.col("_dom").alias("_v"))
        .join(typed_nodes, "node", "left_anti")
    )
    obj_votes = (
        inst.filter(F.col("obj_is_iri"))
        .join(F.broadcast(rng), "pred")
        .select(F.col("obj").alias("node"), F.col("_rng").alias("_v"))
        .join(typed_nodes, "node", "left_anti")
    )
    counts = (
        sub_votes.unionByName(obj_votes)
        .groupBy("node", "_v")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    totals = counts.groupBy("node").agg(
        F.sum("votes").alias("n_signals")
    )
    best = counts.groupBy("node").agg(F.max("votes").alias("votes"))
    return (
        counts.join(best, ["node", "votes"])
        .groupBy("node", "votes")
        .agg(F.min("_v").alias("inferred_type"))
        .filter(F.col("votes") >= min_votes)
        .join(totals, "node")
        .select(
            "node",
            "inferred_type",
            "votes",
            F.col("n_signals").cast("long").alias("n_signals"),
        )
    )


def infer_types_by_neighbors_sql(
    table: str = "t",
    type_pred: str = "rdf:type",
    min_votes: int = 2,
) -> str:
    """ANSI replay of ``infer_types_by_neighbors``."""
    return f"""
WITH typed AS (
  SELECT DISTINCT subj, obj AS ty FROM {table}
  WHERE pred = '{type_pred}' AND obj_is_iri
),
ins AS (SELECT * FROM {table} WHERE pred <> '{type_pred}'),
domv AS (
  SELECT i.pred, ty.ty, count(*) AS n
  FROM ins i JOIN typed ty ON i.subj = ty.subj
  GROUP BY i.pred, ty.ty
),
dom AS (
  SELECT d.pred, min(d.ty) AS dom FROM domv d
  JOIN (SELECT pred, max(n) AS n FROM domv GROUP BY pred) m
    ON d.pred = m.pred AND d.n = m.n
  GROUP BY d.pred
),
rngv AS (
  SELECT i.pred, ty.ty, count(*) AS n
  FROM ins i JOIN typed ty ON i.obj = ty.subj
  WHERE i.obj_is_iri
  GROUP BY i.pred, ty.ty
),
rng AS (
  SELECT r.pred, min(r.ty) AS rng FROM rngv r
  JOIN (SELECT pred, max(n) AS n FROM rngv GROUP BY pred) m
    ON r.pred = m.pred AND r.n = m.n
  GROUP BY r.pred
),
tn AS (SELECT DISTINCT subj AS node FROM typed),
vote AS (
  SELECT i.subj AS node, d.dom AS v FROM ins i
  JOIN dom d ON i.pred = d.pred
  WHERE i.subj NOT IN (SELECT node FROM tn)
  UNION ALL
  SELECT i.obj, r.rng FROM ins i
  JOIN rng r ON i.pred = r.pred
  WHERE i.obj_is_iri AND i.obj NOT IN (SELECT node FROM tn)
),
cnt AS (SELECT node, v, count(*) AS votes FROM vote GROUP BY node, v),
tot AS (SELECT node, sum(votes) AS n_signals FROM cnt GROUP BY node),
win AS (
  SELECT c.node, c.votes, min(c.v) AS inferred_type FROM cnt c
  JOIN (SELECT node, max(votes) AS votes FROM cnt GROUP BY node) b
    ON c.node = b.node AND c.votes = b.votes
  GROUP BY c.node, c.votes
)
SELECT w.node, w.inferred_type, w.votes, t.n_signals::BIGINT AS n_signals
FROM win w JOIN tot t ON w.node = t.node
WHERE w.votes >= {min_votes}
"""
