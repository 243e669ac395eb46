"""Knowledge fusion: corroboration, truth discovery, schema alignment.

Extraction (operators/structured.py) produces triples from four
independent on-page channels (JSON-LD, microdata, meta tags, tables)
and from many crawl sources. Before those assertions enter the KG they
need the fusion layer every web-scale constructor runs (the Knowledge
Vault recipe: Dong et al., KDD 2014):

* ``extractor_corroboration`` — how many independent extractors assert
  the same (page, property, value)? Agreement is the strongest
  precision signal available without human labels.
* ``fuse_assertions`` — trust-weighted truth discovery: one winning
  object per (subj, pred) by source-trust vote, deterministic
  tie-break. Integer weights so no float ever decides a fact.
* ``align_predicates`` — schema alignment: map extracted property
  names onto an ontology vocabulary by token overlap (the distributed
  counterpart of the reference's property matcher,
  uuid_planner.py:104-127 — same tokenization, set-overlap argmax; the
  tie-break here is lexicographic (owner, prop) because a distributed
  argmax has no "insertion order").
* ``rewrite_predicates`` — apply an alignment: broadcast predicate
  rewrite into ontology-qualified names, bridging the WDC layer into
  the CASE/UCO graph.

Scale notes: every aggregation groups on (subj, pred[, obj]) — the
three shuffles in ``fuse_assertions`` are key-compatible, so AQE/
co-partitioning reuses the exchange. Trust tables and vocabularies are
broadcast dimensions. No Python anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import tokenize_col

# Local name of a predicate in any of its spellings:
# 'https://schema.org/name' / 'uco-observable:hash' / 'og:title'.
_LOCAL_RE = r"([^#/:]+)$"


def pred_local(col: Column) -> Column:
    """Predicate → local name (text after the last '#', '/' or ':')."""
    return F.regexp_extract(col, _LOCAL_RE, 1)


def extractor_corroboration(
    triples: DataFrame,
    url_col: str = "url",
    extractor_col: str = "extractor",
) -> DataFrame:
    """Per (url, property local name, value): how many distinct
    extractors assert it, and which (sorted, comma-joined — a stable
    cross-engine encoding).

    ONE shuffle on the group key; collect_set stays bounded by the
    number of extraction channels (≤ a handful), never by corpus size.
    Predicates with an empty local name (separator-terminated
    artifacts) group under their FULL spelling rather than a shared
    empty key.
    """
    local = pred_local(F.col("pred"))
    return (
        triples.select(
            F.col(url_col).alias("url"),
            F.when(local == "", F.col("pred")).otherwise(local).alias(
                "prop"
            ),
            F.col("obj"),
            F.col(extractor_col).alias("_ex"),
        )
        .groupBy("url", "prop", "obj")
        .agg(
            F.count_distinct("_ex").alias("n_extractors"),
            F.array_join(
                F.sort_array(F.collect_set("_ex")), ","
            ).alias("extractors"),
        )
    )


def fuse_assertions(
    assertions: DataFrame,
    trust: DataFrame = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    source_col: str = "source",
) -> DataFrame:
    """Truth discovery: one object per (subj, pred) by source-trust
    vote — ``(subj, pred, obj, score, n_sources)``.

    ``trust`` is an optional small ``(source, weight:int)`` dimension
    (broadcast); absent, every source votes 1. With a trust table,
    assertions from sources NOT in the table are dropped (inner join —
    an unknown source has no standing to vote; give it weight 1
    explicitly to include it). A source votes each fact AT MOST ONCE:
    duplicate (subj, pred, obj, source) rows collapse before weighting,
    so a source re-asserting the same value across many pages cannot
    multiply its own vote. The winner is the
    max-score object; score ties break to the lexicographically
    smallest object (engine/partition-invariant). Window-free argmax:
    vote groupBy → per-key max join → min-object collapse → one join
    back for the winner's counts — all shuffles on co-partitioned
    (subj, pred[, obj]) keys; a hot subject never ships its assertion
    list anywhere.
    """
    a = assertions.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
        F.col(source_col).alias("_src"),
    ).distinct()
    if trust is not None:
        a = a.join(
            F.broadcast(
                trust.select(
                    F.col("source").alias("_src"),
                    F.col("weight").cast("long").alias("_w"),
                )
            ),
            "_src",
        )
    else:
        a = a.withColumn("_w", F.lit(1).cast("long"))
    votes = a.groupBy("subj", "pred", "obj").agg(
        F.sum("_w").alias("score"),
        F.count_distinct("_src").alias("n_sources"),
    )
    best = votes.groupBy("subj", "pred").agg(F.max("score").alias("score"))
    tied = votes.join(best, ["subj", "pred", "score"])
    winner = tied.groupBy("subj", "pred", "score").agg(
        F.min("obj").alias("obj")
    )
    return winner.join(
        votes.select("subj", "pred", "obj", "n_sources"),
        ["subj", "pred", "obj"],
    ).select("subj", "pred", "obj", "score", "n_sources")


def align_predicates(
    props: DataFrame,
    vocab: DataFrame,
    prop_col: str = "prop",
    owner_col: str = "owner",
    vocab_prop_col: str = "prop_name",
) -> DataFrame:
    """Schema alignment by token overlap: for every extracted property
    name, the vocabulary property sharing the most name tokens —
    ``(prop, owner, prop_name, score)``; unmatched props are absent.

    Both sides tokenize with the engine's camelCase/separator splitter
    (functions/columns.py::tokenize_col — the JVM twin of the
    reference's tokenize, uuid_planner.py:86-89); overlap is SET
    semantics (array_distinct before explode). The vocabulary is a
    broadcast dimension, so scoring is one broadcast join on token +
    one groupBy; ties break to the lexicographically smallest
    (owner, prop_name). ``props`` should already be distinct property
    names (aggregate upstream — at web scale distinct props are ~1e5,
    not corpus-sized)."""
    p = props.select(
        F.col(prop_col).alias("prop"),
        F.explode(
            F.array_distinct(tokenize_col(F.col(prop_col)))
        ).alias("_tok"),
    )
    v = vocab.select(
        F.col(owner_col).alias("owner"),
        F.col(vocab_prop_col).alias("prop_name"),
        F.explode(
            F.array_distinct(tokenize_col(F.col(vocab_prop_col)))
        ).alias("_tok"),
    )
    scored = (
        p.join(F.broadcast(v), "_tok")
        .groupBy("prop", "owner", "prop_name")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    best = scored.groupBy("prop").agg(F.max("score").alias("score"))
    tied = scored.join(best, ["prop", "score"])
    return (
        tied.groupBy("prop", "score")
        .agg(
            F.min(F.struct("owner", "prop_name")).alias("_win")
        )
        .select(
            "prop",
            F.col("_win.owner").alias("owner"),
            F.col("_win.prop_name").alias("prop_name"),
            "score",
        )
    )


def property_profile(triples: DataFrame) -> DataFrame:
    """Schema discovery over an extracted KG: per predicate —
    ``(pred, n_assertions, n_subjects, n_objects, max_objs_per_subj,
    max_subjs_per_obj, is_functional, is_inverse_functional)``.

    The profile every web-KG constructor computes before committing a
    schema: a predicate whose every subject has exactly one object is a
    functional-property candidate (``owl:FunctionalProperty``); one
    whose every object has one subject is inverse-functional (an
    IDENTIFIER — the strongest entity-resolution key markup can give
    you, e.g. sku/isbn). Exact integers end to end; set semantics
    (duplicate assertions collapse first). All aggregations group on
    predicate-prefixed keys — map-side partials everywhere, and the
    per-subject/per-object counts shuffle (pred, subj)/(pred, obj)
    pairs, never assertion lists."""
    pairs = triples.select("subj", "pred", "obj").distinct()
    per_subj = (
        pairs.groupBy("pred", "subj")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("pred")
        .agg(
            F.max("_n").alias("max_objs_per_subj"),
            F.count(F.lit(1)).alias("n_subjects"),
            F.sum("_n").alias("n_assertions"),
        )
    )
    per_obj = (
        pairs.groupBy("pred", "obj")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("pred")
        .agg(
            F.max("_n").alias("max_subjs_per_obj"),
            F.count(F.lit(1)).alias("n_objects"),
        )
    )
    return per_subj.join(per_obj, "pred").select(
        "pred",
        "n_assertions",
        "n_subjects",
        "n_objects",
        "max_objs_per_subj",
        "max_subjs_per_obj",
        (F.col("max_objs_per_subj") == 1).alias("is_functional"),
        (F.col("max_subjs_per_obj") == 1).alias("is_inverse_functional"),
    )


def rewrite_predicates(
    triples: DataFrame,
    alignment: DataFrame,
    default_prefix: str = "uco-observable:",
    protected: Sequence[str] = ("rdf:type",),
) -> DataFrame:
    """Apply a schema alignment to extracted triples: predicates whose
    local name is aligned rewrite to ``<prefix><prop_name>``; unaligned
    predicates pass through unchanged. Broadcast left join — the triple
    stream never shuffles.

    ``protected`` predicates are exempt from rewriting regardless of
    alignment — by default ``rdf:type``, whose local name ('type') is a
    common extracted prop and must never be remapped (it would destroy
    every class assertion in the bridged graph). Predicates with an
    empty local name (separator-terminated artifacts) also pass
    through."""
    aligned = alignment.select(
        F.col("prop").alias("_prop"),
        F.concat(F.lit(default_prefix), F.col("prop_name")).alias(
            "_mapped"
        ),
    )
    local = pred_local(F.col("pred"))
    key = F.when(
        F.col("pred").isin(*protected) | (local == ""), F.lit(None)
    ).otherwise(local)
    out = triples.withColumn("_prop", key)
    return (
        out.join(F.broadcast(aligned), "_prop", "left")
        .withColumn("pred", F.coalesce(F.col("_mapped"), F.col("pred")))
        .drop("_prop", "_mapped")
    )


def functional_violations(
    triples: DataFrame,
    functional_preds: Sequence[str],
    sample_k: int = 3,
) -> DataFrame:
    """Functional-property QA: subjects asserting MORE than one distinct
    object for a declared (or ``property_profile``-mined)
    ``owl:FunctionalProperty`` → ``(pred, subj, n_objects, objects)``,
    where ``objects`` is the ``|``-joined first ``sample_k`` objects in
    lexicographic order (a bounded, deterministic evidence sample — the
    violating group itself may be huge and must never be fully
    collected).

    This is the fusion layer's post-commit audit: ``fuse_assertions``
    picks one winner per key at write time, but assertions arriving
    through paths that bypass fusion (imports, entailment, patches) can
    re-introduce multi-values; a web-KG runs this rule nightly over the
    functional slice. (The reference reaches the same class of rule via
    pySHACL ``sh:maxCount 1`` shapes, tools.py:357-390 — here it is a
    set-semantics groupBy over the declared predicate slice.)

    Scale shape: the ``isin`` filter on a handful of predicate IRIs is
    pushed to the scan (dictionary-encoded parquet column — row-group
    skippable); distinct pairs collapse duplicates before any
    per-subject state exists; the one real shuffle groups
    ``(pred, subj)``. ``sort_array(collect_set)`` keeps at most the
    group's distinct objects per key — bounded further upstream by
    fusion; the emitted sample is sliced to ``sample_k``."""
    if not functional_preds:
        raise ValueError("functional_violations needs >=1 predicate")
    pairs = (
        triples.where(F.col("pred").isin(*functional_preds))
        .select("pred", "subj", "obj")
        .distinct()
    )
    return (
        pairs.groupBy("pred", "subj")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.concat_ws(
                "|",
                F.slice(F.sort_array(F.collect_set("obj")), 1, sample_k),
            ).alias("objects"),
        )
        .where(F.col("n_objects") > 1)
    )


def ifp_sameas_candidates(
    triples: DataFrame,
    ifp_preds: Sequence[str],
    max_group: int = 64,
) -> DataFrame:
    """Inverse-functional identity resolution: two nodes asserting the
    SAME value for an inverse-functional predicate (isbn, sku, email —
    the identifier keys ``property_profile`` flags) denote the same
    entity, so each shared key value yields ``owl:sameAs`` candidates →
    ``(pred, key, subj, canonical, group_size)`` — one row per member of
    every multi-subject key group, ``canonical`` = the group's MIN
    subject. This is the OWL-semantics twin of the LSH blocking step in
    ``operators/canonicalize.py``: candidates feed the same
    connected-components pass (star edges subj→canonical), and the
    markup-given key is the highest-precision block any web KG gets.

    Star emission keeps output LINEAR in group size (never C(n,2)
    pairs). Groups larger than ``max_group`` are dropped — a key value
    shared by thousands of subjects is a junk identifier (empty string,
    "N/A", a parked-domain phone number), exactly the capped-bucket
    discipline of the LSH path; drops are observable via the
    ``group_size`` column of a pre-cap run or the census below.

    Scale shape: predicate isin pushed to scan; distinct
    (pred, obj, subj) collapses re-assertions; one groupBy on
    (pred, obj) computes (min, count) — window-free, hub-safe; the
    join back is on the same key, so the exchange is reused."""
    if not ifp_preds:
        raise ValueError("ifp_sameas_candidates needs >=1 predicate")
    pairs = (
        triples.where(F.col("pred").isin(*ifp_preds))
        .select("pred", F.col("obj").alias("key"), "subj")
        .distinct()
    )
    groups = (
        pairs.groupBy("pred", "key")
        .agg(
            F.min("subj").alias("canonical"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(
            (F.col("group_size") > 1)
            & (F.col("group_size") <= max_group)
        )
    )
    return pairs.join(groups, ["pred", "key"]).select(
        "pred", "key", "subj", "canonical", "group_size"
    )


def induce_shapes(
    triples: DataFrame, type_pred: str = "rdf:type"
) -> DataFrame:
    """SHACL shape induction — the INVERSE of the engine's validation
    layer: mine per-class property shapes from instance data instead of
    enforcing authored ones. For every (class, predicate) observed on
    that class's subjects:

    ``(cls, pred, n_class_subjects, n_subjects, n_values, min_count,
    max_count, nodekind, datatype)``

    - ``min_count`` is 1 iff EVERY subject of the class asserts the
      predicate (the sh:minCount 1 candidate), else 0.
    - ``max_count`` is the max distinct objects any subject asserts
      (``== 1`` → the sh:maxCount 1 / functional candidate — the
      class-scoped refinement of ``property_profile``'s global flag).
    - ``nodekind`` is ``IRI`` / ``Literal`` / ``Mixed`` (sh:nodeKind).
    - ``datatype`` is the single datatype iff the predicate is
      all-literal and every value carries that one tag (sh:datatype),
      else null — plain literals mixed with typed ones yield null
      rather than a shape that would immediately violate.

    Exact integers end to end; set semantics (duplicate assertions
    collapse before counting). Scale shape: the subject-keyed
    instance-to-type join is forced by the definition of a class scope
    (same as ``void_summary``); everything after groups on
    (class, pred)-prefixed keys with map-side partials, and outputs are
    schema-sized. Reference surface: the induced rows are exactly the
    constraint kinds ``validation.py`` enforces from the authored
    CASE/UCO dictionary (maxCount/datatype/nodeKind), so
    induce-then-validate closes the loop on an unmapped corpus."""
    types = (
        triples.filter(
            (F.col("pred") == type_pred) & F.col("obj_is_iri")
        )
        .select("subj", F.col("obj").alias("cls"))
        .distinct()
    )
    class_totals = types.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_class_subjects")
    )
    inst = (
        triples.filter(F.col("pred") != type_pred)
        .select("subj", "pred", "obj", "obj_is_iri", "obj_datatype")
        .distinct()
        .join(types, "subj")
    )
    # ONE aggregation chain, not two scans of the joined frame: the
    # value-level stats fold through the per-subject level (sums
    # compose; datatype distincts ride a vocabulary-bounded collect_set
    # flattened at rollup — never more elements than there are XSD
    # types), so the instance-sized type join is shuffled exactly once.
    stats = (
        inst.groupBy("cls", "pred", "subj")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.when(F.col("obj_is_iri"), 1).otherwise(0)).alias(
                "_s_iri"
            ),
            F.sum(F.when(~F.col("obj_is_iri"), 1).otherwise(0)).alias(
                "_s_lit"
            ),
            F.sum(
                F.when(
                    ~F.col("obj_is_iri")
                    & F.col("obj_datatype").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("_s_typed"),
            F.collect_set("obj_datatype").alias("_dts"),
        )
        .groupBy("cls", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_subjects"),
            F.sum("_n").alias("n_values"),
            F.max("_n").alias("max_count"),
            F.sum("_s_iri").alias("_n_iri"),
            F.sum("_s_lit").alias("_n_lit"),
            F.sum("_s_typed").alias("_n_typed"),
            F.array_distinct(F.flatten(F.collect_set("_dts"))).alias(
                "_dtall"
            ),
        )
        .withColumn("_n_dt", F.size("_dtall"))
        .withColumn("_dt_one", F.array_min("_dtall"))
    )
    return (
        stats
        # class totals are schema-sized (one row per class) — broadcast
        .join(F.broadcast(class_totals), "cls")
        .select(
            "cls",
            "pred",
            "n_class_subjects",
            "n_subjects",
            F.col("n_values").cast("long").alias("n_values"),
            F.when(
                F.col("n_subjects") == F.col("n_class_subjects"), 1
            )
            .otherwise(0)
            .alias("min_count"),
            F.col("max_count").cast("long").alias("max_count"),
            F.when(F.col("_n_lit") == 0, "IRI")
            .when(F.col("_n_iri") == 0, "Literal")
            .otherwise("Mixed")
            .alias("nodekind"),
            F.when(
                (F.col("_n_iri") == 0)
                & (F.col("_n_dt") == 1)
                & (F.col("_n_typed") == F.col("_n_lit")),
                F.col("_dt_one"),
            ).alias("datatype"),
        )
    )


def induce_shapes_sql(
    table: str = "t", type_pred: str = "rdf:type"
) -> str:
    """ANSI replay of ``induce_shapes`` for the contract oracle."""
    return f"""
WITH types AS (
  SELECT DISTINCT subj, obj AS cls FROM {table}
  WHERE pred = '{type_pred}' AND obj_is_iri
),
class_totals AS (
  SELECT cls, count(*) AS n_class_subjects FROM types GROUP BY cls
),
inst AS (
  SELECT DISTINCT i.subj, i.pred, i.obj, i.obj_is_iri,
         i.obj_datatype, ty.cls
  FROM (SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype
        FROM {table} WHERE pred <> '{type_pred}') i
  JOIN types ty ON i.subj = ty.subj
),
per_subj AS (
  SELECT cls, pred, count(*) AS n_subjects, sum(n) AS n_values,
         max(n) AS max_count
  FROM (SELECT cls, pred, subj, count(*) AS n FROM inst
        GROUP BY cls, pred, subj) z
  GROUP BY cls, pred
),
per_value AS (
  SELECT cls, pred,
         sum(CASE WHEN obj_is_iri THEN 1 ELSE 0 END) AS n_iri,
         sum(CASE WHEN NOT obj_is_iri THEN 1 ELSE 0 END) AS n_lit,
         sum(CASE WHEN NOT obj_is_iri AND obj_datatype IS NOT NULL
             THEN 1 ELSE 0 END) AS n_typed,
         count(DISTINCT obj_datatype) AS n_dt,
         min(obj_datatype) AS dt_one
  FROM inst GROUP BY cls, pred
)
SELECT s.cls, s.pred, c.n_class_subjects, s.n_subjects,
       s.n_values::BIGINT AS n_values,
       CASE WHEN s.n_subjects = c.n_class_subjects THEN 1 ELSE 0 END
         AS min_count,
       s.max_count::BIGINT AS max_count,
       CASE WHEN v.n_lit = 0 THEN 'IRI'
            WHEN v.n_iri = 0 THEN 'Literal'
            ELSE 'Mixed' END AS nodekind,
       CASE WHEN v.n_iri = 0 AND v.n_dt = 1 AND v.n_typed = v.n_lit
            THEN v.dt_one END AS datatype
FROM per_subj s
JOIN per_value v ON s.cls = v.cls AND s.pred = v.pred
JOIN class_totals c ON s.cls = c.cls
"""


def shape_triples(shapes: DataFrame) -> DataFrame:
    """Induced shape rows → SHACL triples ``(subj, pred, obj,
    obj_is_iri, obj_datatype)`` — the emission making
    ``induce_shapes`` output a publishable graph (render with
    ``render.turtle_lines`` under a ``sh:`` prefix for standard SHACL
    Turtle any validator can load).

    Deterministic IRIs instead of blank nodes (house rule — blank
    nodes don't survive distributed set comparison): node shape
    ``kb:shp-<cls>``, property shape ``kb:shp-<cls>-<pred>`` with
    ``:``→``_`` so the local names stay CURIE-safe. Constraints
    emitted: sh:targetClass, sh:path, sh:minCount (only when 1),
    sh:maxCount (only when 1 — an unbounded max is no constraint),
    sh:nodeKind (sh:IRI/sh:Literal unless Mixed), sh:datatype (when
    single). In-row array build + one explode — zero shuffle beyond
    what built the shapes frame."""
    node = F.concat(
        F.lit("kb:shp-"), F.replace(F.col("cls"), F.lit(":"), F.lit("_"))
    )
    prop = F.concat(
        node, F.lit("-"), F.replace(F.col("pred"), F.lit(":"), F.lit("_"))
    )

    def t(s, p, o, iri, dt):
        return F.struct(
            s.alias("subj"),
            F.lit(p).alias("pred"),
            o.alias("obj"),
            F.lit(iri).alias("obj_is_iri"),
            (F.lit(dt) if dt else F.lit(None).cast("string")).alias(
                "obj_datatype"
            ),
        )

    rows = F.array(
        t(node, "rdf:type", F.lit("sh:NodeShape"), True, None),
        t(node, "sh:targetClass", F.col("cls"), True, None),
        t(node, "sh:property", prop, True, None),
        t(prop, "sh:path", F.col("pred"), True, None),
        t(
            prop,
            "sh:minCount",
            F.col("min_count").cast("string"),
            False,
            "xsd:integer",
        ),
        t(
            prop,
            "sh:maxCount",
            F.col("max_count").cast("string"),
            False,
            "xsd:integer",
        ),
        t(
            prop,
            "sh:nodeKind",
            F.when(F.col("nodekind") == "IRI", "sh:IRI").otherwise(
                "sh:Literal"
            ),
            True,
            None,
        ),
        t(prop, "sh:datatype", F.col("datatype"), True, None),
    )
    keep = (
        (F.col("_t.pred") != "sh:minCount")
        | (F.col("min_count") == 1)
    ) & (
        (F.col("_t.pred") != "sh:maxCount")
        | (F.col("max_count") == 1)
    ) & (
        (F.col("_t.pred") != "sh:nodeKind")
        | (F.col("nodekind") != "Mixed")
    ) & (
        (F.col("_t.pred") != "sh:datatype")
        | F.col("datatype").isNotNull()
    )
    return (
        shapes.select(
            "min_count", "max_count", "nodekind", "datatype",
            F.explode(rows).alias("_t"),
        )
        .filter(keep)
        .select("_t.*")
        .distinct()
    )


def shape_triples_sql(shapes_cte: str = "shp") -> str:
    """ANSI replay of ``shape_triples`` over an induced-shapes CTE —
    one SELECT per constraint kind, UNION ALL, DISTINCT (node-level
    rows repeat per predicate row by construction)."""
    node = "('kb:shp-' || replace(cls, ':', '_'))"
    prop = f"({node} || '-' || replace(pred, ':', '_'))"
    return f"""
SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype FROM (
  SELECT {node} AS subj, 'rdf:type' AS pred, 'sh:NodeShape' AS obj,
         TRUE AS obj_is_iri, NULL::VARCHAR AS obj_datatype
  FROM {shapes_cte}
  UNION ALL
  SELECT {node}, 'sh:targetClass', cls, TRUE, NULL FROM {shapes_cte}
  UNION ALL
  SELECT {node}, 'sh:property', {prop}, TRUE, NULL FROM {shapes_cte}
  UNION ALL
  SELECT {prop}, 'sh:path', pred, TRUE, NULL FROM {shapes_cte}
  UNION ALL
  SELECT {prop}, 'sh:minCount', min_count::VARCHAR, FALSE,
         'xsd:integer'
  FROM {shapes_cte} WHERE min_count = 1
  UNION ALL
  SELECT {prop}, 'sh:maxCount', max_count::VARCHAR, FALSE,
         'xsd:integer'
  FROM {shapes_cte} WHERE max_count = 1
  UNION ALL
  SELECT {prop}, 'sh:nodeKind',
         CASE WHEN nodekind = 'IRI' THEN 'sh:IRI'
              ELSE 'sh:Literal' END, TRUE, NULL
  FROM {shapes_cte} WHERE nodekind <> 'Mixed'
  UNION ALL
  SELECT {prop}, 'sh:datatype', datatype, TRUE, NULL
  FROM {shapes_cte} WHERE datatype IS NOT NULL
) u
"""


def shape_conformance(
    triples: DataFrame,
    shapes: DataFrame,
    type_pred: str = "rdf:type",
) -> DataFrame:
    """Validate an instance graph against (induced or authored) shape
    rows — the enforcement half of the induce→validate loop:
    ``induce_shapes`` on a trusted snapshot, ``shape_conformance`` on
    the next crawl's graph, and schema drift surfaces as violations.

    One row per (subj, cls, pred, constraint) with the observed
    evidence (SHACL-style open-world: predicates/classes without a
    shape row pass silently):

    - ``min_count`` — class subject asserts NOTHING for a
      min_count=1 predicate (observed '0').
    - ``max_count`` — more distinct objects than a max_count=1 shape
      allows (observed = the count).
    - ``node_kind`` — a literal under an IRI shape or vice versa
      (observed = the min offending value — deterministic witness).
    - ``datatype`` — a literal whose tag differs from (or lacks) the
      shape's single datatype (observed = min offending value).

    Scale shape: shapes are schema-sized → broadcast into the value
    stream; the one instance-sized shuffle is the subject-keyed type
    join every class-scoped rule pays; min_count's candidate grid is
    types × that class's shape rows (in-row via the broadcast join,
    never a cross join) anti-joined against assertions."""
    types = (
        triples.filter(
            (F.col("pred") == type_pred) & F.col("obj_is_iri")
        )
        .select("subj", F.col("obj").alias("cls"))
        .distinct()
    )
    inst = (
        triples.filter(F.col("pred") != type_pred)
        .select("subj", "pred", "obj", "obj_is_iri", "obj_datatype")
        .distinct()
        .join(types, "subj")
    )
    shp = shapes.select(
        "cls", "pred", "min_count", "max_count", "nodekind", "datatype"
    )
    val = inst.join(
        F.broadcast(shp.withColumnRenamed("datatype", "_want_dt")),
        ["cls", "pred"],
    )
    # ONE grouped pass computes every value-level family (the three
    # checks share the (cls, pred, subj) grouping, so splitting them
    # into union branches would re-run the instance join per branch);
    # violations then fan out via an in-row array + explode.
    kind_bad = (
        (F.col("nodekind") == "IRI") & ~F.col("obj_is_iri")
    ) | ((F.col("nodekind") == "Literal") & F.col("obj_is_iri"))
    dt_bad = (
        F.col("_want_dt").isNotNull()
        & ~F.col("obj_is_iri")
        & (
            F.col("obj_datatype").isNull()
            | (F.col("obj_datatype") != F.col("_want_dt"))
        )
    )
    stats = val.groupBy(
        "cls", "pred", "subj", "max_count"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.when(kind_bad, F.col("obj"))).alias("_kv"),
        F.min(F.when(dt_bad, F.col("obj"))).alias("_dv"),
    )

    def mk(cond, constraint, observed):
        return F.when(
            cond,
            F.struct(
                F.lit(constraint).alias("constraint"),
                observed.alias("observed"),
            ),
        )

    viol = (
        stats.select(
            "subj",
            "cls",
            "pred",
            F.explode(
                F.array(
                    mk(
                        (F.col("max_count") == 1) & (F.col("_n") > 1),
                        "max_count",
                        F.col("_n").cast("string"),
                    ),
                    mk(F.col("_kv").isNotNull(), "node_kind", F.col("_kv")),
                    mk(F.col("_dv").isNotNull(), "datatype", F.col("_dv")),
                )
            ).alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .select("subj", "cls", "pred", "_v.constraint", "_v.observed")
    )
    # min_count anti-joins the AGGREGATED stats (already one row per
    # (cls, pred, subj)) — the instance frame is never scanned twice
    v_min = (
        types.join(
            F.broadcast(
                shp.filter(F.col("min_count") == 1).select("cls", "pred")
            ),
            "cls",
        )
        .join(
            stats.select("subj", "cls", "pred"),
            ["subj", "cls", "pred"],
            "left_anti",
        )
        .select(
            "subj",
            "cls",
            "pred",
            F.lit("min_count").alias("constraint"),
            F.lit("0").alias("observed"),
        )
    )
    return viol.unionByName(v_min)


def shape_conformance_sql(
    table: str = "t",
    shapes_sql: str = "SELECT * FROM shp",
    type_pred: str = "rdf:type",
    extra_ctes: str = "",
) -> str:
    """ANSI replay of ``shape_conformance`` for the contract oracle.
    ``shapes_sql`` is a full SELECT producing the shape rows (e.g.
    ``induce_shapes_sql(...)``) — inlined as a CTE so this emits one
    self-contained WITH block. ``extra_ctes`` (e.g.
    ``"t AS (...), d AS (...), "``) is spliced at the head of the WITH
    list so callers can stage the input tables without nesting WITH."""
    return f"""
WITH {extra_ctes}shpx AS ({shapes_sql}),
ty AS (
  SELECT DISTINCT subj, obj AS cls FROM {table}
  WHERE pred = '{type_pred}' AND obj_is_iri
),
ins AS (
  SELECT DISTINCT i.subj, i.pred, i.obj, i.obj_is_iri,
         i.obj_datatype, ty.cls
  FROM (SELECT DISTINCT subj, pred, obj, obj_is_iri, obj_datatype
        FROM {table} WHERE pred <> '{type_pred}') i
  JOIN ty ON i.subj = ty.subj
),
vv AS (
  SELECT ins.*, s.min_count, s.max_count, s.nodekind,
         s.datatype AS want_dt
  FROM ins JOIN shpx s
    ON ins.cls = s.cls AND ins.pred = s.pred
)
SELECT subj, cls, pred, 'max_count' AS "constraint", n::VARCHAR AS observed
FROM (SELECT cls, pred, subj, max_count, count(*) AS n FROM vv
      GROUP BY cls, pred, subj, max_count) z
WHERE max_count = 1 AND n > 1
UNION ALL
SELECT subj, cls, pred, 'node_kind', min(obj)
FROM vv
WHERE (nodekind = 'IRI' AND NOT obj_is_iri)
   OR (nodekind = 'Literal' AND obj_is_iri)
GROUP BY cls, pred, subj
UNION ALL
SELECT subj, cls, pred, 'datatype', min(obj)
FROM vv
WHERE want_dt IS NOT NULL AND NOT obj_is_iri
  AND (obj_datatype IS NULL OR obj_datatype <> want_dt)
GROUP BY cls, pred, subj
UNION ALL
SELECT g.subj, g.cls, g.pred, 'min_count', '0'
FROM (SELECT ty.subj, ty.cls, s.pred FROM ty
      JOIN shpx s ON ty.cls = s.cls WHERE s.min_count = 1) g
LEFT JOIN (SELECT DISTINCT subj, cls, pred FROM ins) a
  ON g.subj = a.subj AND g.cls = a.cls AND g.pred = a.pred
WHERE a.subj IS NULL
"""
