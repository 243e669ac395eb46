"""JSON-LD rendering sink: triples table → {@context, @graph} documents.

The reference's output model (SURVEY.md §1.4): storage is the columnar
triples table; JSON-LD is a RENDER, not the storage model. One
groupBy(subj) to assemble nodes (the only shuffle), then either a whole
graph document (driver-side, small results) or per-record JSON-LD lines
(distributed, for 10^12-scale export).

Node assembly reproduces graph_generator.py's node shapes:
  rdf:type       → "@type"
  uco-core:hasFacet (IRI objs) → [{"@id": ...}, ...]
  literal w/ datatype → {"@type": "xsd:...", "@value": ...}
  plain literal  → scalar (int/bool re-typed from obj_datatype)
"""

from __future__ import annotations

import json
from typing import Any, Dict, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..refmap.graph import DEFAULT_CONTEXT, HAS_FACET, RDF_TYPE


def _value_for(obj: str, is_iri: bool, datatype: Optional[str]) -> Any:
    if is_iri:
        return {"@id": obj}
    if datatype == "xsd:integer":
        try:
            return int(obj)
        except ValueError:
            return obj
    if datatype == "xsd:boolean":
        return obj == "true"
    if datatype is not None:
        return {"@type": datatype, "@value": obj}
    return obj


def _assemble_node(subj: str, rows: List[tuple]) -> Dict[str, Any]:
    node: Dict[str, Any] = {"@id": subj}
    multi: Dict[str, List[Any]] = {}
    for pred, obj, is_iri, datatype in rows:
        if pred == RDF_TYPE:
            node["@type"] = obj
            continue
        value = _value_for(obj, is_iri, datatype)
        multi.setdefault(pred, []).append(value)
    for pred, values in multi.items():
        if pred == HAS_FACET:
            node[pred] = values
        else:
            node[pred] = values[0] if len(values) == 1 else values
    return node


def jsonld_nodes(triples: DataFrame) -> DataFrame:
    """triples → (subj, record_uuid, node_json): one JSON-LD node per
    subject, assembled per group after ONE groupBy(subj) shuffle. Output
    stays distributed — suitable for a partitioned export sink."""
    grouped = (
        triples.groupBy("subj")
        .agg(
            F.first("record_uuid").alias("record_uuid"),
            F.collect_list(
                F.struct("pred", "obj", "obj_is_iri", "obj_datatype")
            ).alias("po"),
        )
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for subj, ruuid, po in zip(pdf["subj"], pdf["record_uuid"], pdf["po"]):
                rows = [
                    (p["pred"], p["obj"], p["obj_is_iri"], p["obj_datatype"])
                    for p in po
                ]
                # deterministic intra-node order: hasFacet/props sorted by
                # (pred, obj) so renders are stable across shuffles
                rows.sort(key=lambda r: (r[0], r[1]))
                node = _assemble_node(subj, rows)
                out.append((subj, ruuid, json.dumps(node, sort_keys=True)))
            yield pd.DataFrame(out, columns=["subj", "record_uuid", "node_json"])

    return grouped.mapInPandas(
        kernel, schema="subj string, record_uuid string, node_json string"
    )


def render_graph_document(
    triples: DataFrame, context: Optional[Dict[str, str]] = None
) -> Dict[str, Any]:
    """Small-result sink: collect every node into one {@context, @graph}
    dict (the reference's final jsonldGraph shape, graph_generator.py:217).
    Driver-side by design — use jsonld_nodes for large exports."""
    nodes = [
        json.loads(r["node_json"])
        for r in jsonld_nodes(triples).orderBy("subj").collect()
    ]
    return {"@context": dict(context or DEFAULT_CONTEXT), "@graph": nodes}


# N-Triples prefix table: the JSON-LD context plus the uco-* prefix
# spellings the emitter actually uses in triple rows (graph.py emits
# "uco-core:hasFacet" / "uco-observable:URL"; the context names the same
# namespaces "core" / "observable" — both spellings expand identically).
NT_PREFIXES: Dict[str, str] = {
    **DEFAULT_CONTEXT,
    **{
        f"uco-{k}": v
        for k, v in DEFAULT_CONTEXT.items()
        if v.startswith("https://ontology.unifiedcyberontology.org/uco/")
    },
}


def _nt_escape(col: F.Column) -> F.Column:
    """N-Triples string-literal escaping (W3C N-Triples §2.3 ECHAR set):
    backslash first, then quote, LF, CR, TAB — each a literal two-char
    escape sequence. Pure JVM replace chain."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return out


def ntriples_lines(
    triples: DataFrame,
    prefixes: Optional[Dict[str, str]] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: str = "obj_is_iri",
    obj_datatype_col: str = "obj_datatype",
    graph_col: Optional[str] = None,
) -> DataFrame:
    """Triples table → one N-Triples line per row (``line: string``) — the
    line-oriented W3C interchange format every web-scale RDF consumer
    (and LOD dump) speaks, and the natural 100 TB export shape: unlike
    Turtle/JSON-LD a row serializes independently of every other row, so
    the sink is a narrow zero-shuffle projection writable straight to
    text files (one shard per partition, cat-able into one dump).

    CURIEs expand through ``prefixes`` (default: the JSON-LD context +
    uco-* emitter spellings); unknown prefixes — including already-
    absolute IRIs — pass through verbatim. Literals get the W3C ECHAR
    escapes and an optional ``^^<datatype IRI>`` tag. All pure JVM string
    expressions (whole-stage codegen; no UDF, no shuffle).

    ``graph_col`` names a CURIE/IRI column to emit as a fourth term
    (expanded through the same prefix table) — see ``nquads_lines``.
    """
    pfx = dict(prefixes or NT_PREFIXES)
    pairs = []
    for k, v in sorted(pfx.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    pfx_map = F.create_map(*pairs)

    def expand(c: F.Column) -> F.Column:
        prefix = F.substring_index(c, ":", 1)
        ns = F.element_at(pfx_map, prefix)
        local = F.substring(c, F.length(prefix) + F.lit(2), F.lit(2**30))
        return F.coalesce(F.concat(ns, local), c)

    s = F.col(subj_col)
    p = F.col(pred_col)
    o = F.col(obj_col)
    dt = F.col(obj_datatype_col)
    iri_obj = F.concat(F.lit("<"), expand(o), F.lit(">"))
    lit_obj = F.concat(
        F.lit('"'),
        _nt_escape(o),
        F.lit('"'),
        F.when(
            dt.isNotNull(),
            F.concat(F.lit("^^<"), expand(dt), F.lit(">")),
        ).otherwise(F.lit("")),
    )
    graph_term = (
        F.concat(F.lit(" <"), expand(F.col(graph_col)), F.lit(">"))
        if graph_col is not None
        else F.lit("")
    )
    line = F.concat(
        F.lit("<"), expand(s), F.lit("> "),
        F.lit("<"), expand(p), F.lit("> "),
        F.when(F.col(obj_is_iri_col), iri_obj).otherwise(lit_obj),
        graph_term,
        F.lit(" ."),
    )
    return triples.select(line.alias("line"))


def nquads_lines(
    triples: DataFrame,
    graph_col: str = "graph",
    prefixes: Optional[Dict[str, str]] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: str = "obj_is_iri",
    obj_datatype_col: str = "obj_datatype",
) -> DataFrame:
    """Triples + a graph-IRI column → one N-Quads line per row — the
    provenance-carrying sibling of ``ntriples_lines`` (same statement
    assembly, one extra ``<graph>`` term before the dot). The fourth
    term is how web-scale KG dumps ship per-record provenance WITHOUT
    reification blow-up: this pipeline's natural graph IRI is the
    record node (one named graph per source page), so a consumer can
    trace any triple to the crawl record that asserted it and drop or
    re-weight whole sources in one partition-pruned pass. Same scale
    shape: pure JVM string expressions, zero shuffle."""
    return ntriples_lines(
        triples,
        prefixes=prefixes,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
        obj_is_iri_col=obj_is_iri_col,
        obj_datatype_col=obj_datatype_col,
        graph_col=graph_col,
    )


def turtle_lines(
    triples: DataFrame,
    prefixes: Optional[Dict[str, str]] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: str = "obj_is_iri",
    obj_datatype_col: str = "obj_datatype",
) -> DataFrame:
    """Triples table → one canonical Turtle block per SUBJECT
    (``(subj, block)``) — the human-facing export format the reference
    ecosystem reads (case_utils serializes Turtle;
    /root/reference/tools.py emits .ttl shapes), completing the
    interchange set next to N-Triples/N-Quads/JSON-LD. Blocks are
    deterministic: predicates sort within a subject (rendered as ``a``
    for rdf:type but SORTED by the CURIE so the key is
    rendering-independent), objects sort within a predicate, and
    ``;``/``,`` abbreviations follow the grouped shape, so the same
    graph always serializes byte-identically regardless of partitioning
    — the canonical-output discipline (F8/F14) applied to Turtle.

    Term rendering: CURIEs whose prefix is declared stay prefixed
    (that's the point of Turtle); anything else wraps in ``<...>`` —
    mirroring ``ntriples_lines``' passthrough convention. Literals get
    the ECHAR escapes and ``^^dt`` tags (prefixed when declared).

    Scale shape: one groupBy (subj, pred) with sorted in-row list
    aggregation, one groupBy subj — bounded fan-in (a subject's
    out-degree), statistics-free, nothing leaves the JVM. Unlike
    N-Triples the block depends on ALL of a subject's rows, so the one
    subject-keyed shuffle is the format's own price; shards remain
    cat-able (each block is self-contained under the shared ``@prefix``
    preamble of the declared prefixes)."""
    pfx = dict(prefixes or NT_PREFIXES)
    pairs = []
    for k, v in sorted(pfx.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    pfx_map = F.create_map(*pairs)

    def iri_term(c: F.Column) -> F.Column:
        prefix = F.substring_index(c, ":", 1)
        return F.when(
            F.element_at(pfx_map, prefix).isNotNull()
            & (F.length(prefix) < F.length(c)),
            c,
        ).otherwise(F.concat(F.lit("<"), c, F.lit(">")))

    o = F.col(obj_col)
    dt = F.col(obj_datatype_col)
    lit_term = F.concat(
        F.lit('"'),
        _nt_escape(o),
        F.lit('"'),
        F.when(
            dt.isNotNull(), F.concat(F.lit("^^"), iri_term(dt))
        ).otherwise(F.lit("")),
    )
    obj_term = F.when(F.col(obj_is_iri_col), iri_term(o)).otherwise(
        lit_term
    )
    pred_term = F.when(
        F.col(pred_col) == "rdf:type", F.lit("a")
    ).otherwise(iri_term(F.col(pred_col)))
    per_pred = (
        triples.select(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("_p"),
            pred_term.alias("_pt"),
            obj_term.alias("_ot"),
        )
        .groupBy("subj", "_p", "_pt")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("_ot")), ", "
            ).alias("_objs")
        )
        .select(
            "subj",
            F.struct(
                F.col("_p").alias("p"),
                F.concat(F.col("_pt"), F.lit(" "), F.col("_objs")).alias(
                    "line"
                ),
            ).alias("_pl"),
        )
    )
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list("_pl")), lambda s: s["line"]
        ),
        " ;\n    ",
    )
    return per_pred.groupBy("subj").agg(
        F.concat(
            iri_term(F.col("subj")), F.lit(" "), body, F.lit(" .")
        ).alias("block")
    )


def turtle_lines_sql(
    table: str = "t",
    prefixes: Optional[Dict[str, str]] = None,
) -> str:
    """ANSI replay of ``turtle_lines`` — DuckDB renders the same blocks
    with its own ordered ``string_agg`` (independently-written
    aggregation; the prefix table inlines as an IN list)."""
    pfx = dict(prefixes or NT_PREFIXES)
    known = ", ".join(f"'{k}'" for k in sorted(pfx))

    def iri_term(x: str) -> str:
        return (
            f"CASE WHEN split_part({x}, ':', 1) IN ({known}) "
            f"AND split_part({x}, ':', 1) <> {x} "
            f"THEN {x} ELSE '<' || {x} || '>' END"
        )

    esc = (
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'),"
        " chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')"
    )
    obj_term = f"""CASE WHEN obj_is_iri THEN {iri_term('obj')}
    ELSE '"' || {esc} || '"' || CASE WHEN obj_datatype IS NOT NULL
      THEN '^^' || {iri_term('obj_datatype')} ELSE '' END END"""
    pred_term = (
        f"CASE WHEN pred = 'rdf:type' THEN 'a' ELSE {iri_term('pred')} END"
    )
    return f"""
SELECT subj,
       {iri_term('subj')} || ' ' ||
       string_agg(pline, ' ;' || chr(10) || '    ' ORDER BY p) || ' .'
         AS block
FROM (
  SELECT subj, pred AS p,
         {pred_term} || ' ' || string_agg(ot, ', ' ORDER BY ot) AS pline
  FROM (SELECT subj, pred, {obj_term} AS ot, obj_is_iri,
               obj_datatype FROM {table}) z
  GROUP BY subj, pred
) pl
GROUP BY subj
"""


#: One Turtle object term as ``turtle_lines`` emits it: a quoted literal
#: (ECHAR escapes) with optional ``^^dt`` tag, a ``<...>``-wrapped IRI,
#: or a bare CURIE. Literal alternative FIRST so commas inside quotes
#: never split a term.
_TTL_TERM_RE = (
    r'"(?:[^"\\]|\\.)*"(?:\^\^(?:<[^>]*>|[^\s,]+))?'
    r'|<[^>]*>|[^\s,"<][^\s,]*'
)

#: Splits a predicate line into (pred term, object list): the predicate
#: is always an unquoted single token (``a`` or CURIE or ``<...>``).
_TTL_PRED_LINE_RE = r"^(<[^>]*>|\S+) (.+)$"


def read_turtle(
    blocks: DataFrame,
    block_col: str = "block",
) -> DataFrame:
    """Canonical Turtle blocks → triple frame ``(subj, pred, obj,
    obj_is_iri, obj_datatype)`` — the inverse of :func:`turtle_lines`,
    closing the Turtle round trip next to N-Triples and JSON-LD.

    Honest subset (documented, strict): the CANONICAL shape our writer
    emits — one block per subject, ``pred obj, obj`` lines joined with
    `` ;\\n    ``, ``a`` for rdf:type, CURIE-or-``<...>`` terms, quoted
    literals with ECHAR escapes and optional ``^^dt``. General Turtle
    (blank nodes, collections, multi-line strings, ``@base``, inline
    ``@prefix``) is out of scope — this is the dump-reader for our own
    exports and canonical dumps, not a full Turtle parser. Prefix
    declarations are not read; CURIEs pass through
    verbatim (the writer never expands them), so a parsed frame
    compares equal to the exported one with no prefix table at all.

    Strictness: a block that doesn't end in `` .``, a line with no
    object list, or an object segment whose tokens don't EXACTLY
    reassemble the segment (the full-coverage check — join the matched
    terms back with ``", "`` and compare) raises at action time with
    the offending text, riding a selected column so the optimizer
    cannot prune the gate.

    Scale: split + two in-row explodes + one regexp per term, pure JVM
    projection, zero shuffle — a 100 TB dump parses as a narrow scan
    whose output partitioning follows the input files."""
    b = F.col(block_col)
    ok_block = b.endswith(" .")
    body = F.substring(b, 1, F.length(b) - 2)
    subj_term = F.regexp_extract(body, r"^(<[^>]*>|\S+) ", 1)
    rest = F.expr("substring(_body, length(_subj) + 2, 2147483647)")
    staged = blocks.select(
        b.alias("_blk"),
        F.when(ok_block & (subj_term != ""), subj_term)
        .otherwise(
            F.raise_error(
                F.concat(F.lit("malformed Turtle block: "), b)
            )
        )
        .alias("_subj"),
        body.alias("_body"),
    ).select("_blk", "_subj", rest.alias("_rest"))

    lines = staged.select(
        "_subj",
        F.explode(F.split("_rest", " ;\n    ")).alias("_line"),
    )
    pred_term = F.regexp_extract("_line", _TTL_PRED_LINE_RE, 1)
    obj_seg = F.regexp_extract("_line", _TTL_PRED_LINE_RE, 2)
    # full-coverage strictness: the term tokens must reassemble the
    # object segment byte-for-byte, else something was silently skipped
    terms = F.regexp_extract_all(obj_seg, F.lit(_TTL_TERM_RE), 0)
    seg_ok = (pred_term != "") & (
        F.array_join(terms, ", ") == obj_seg
    )
    parsed = lines.select(
        F.when(seg_ok, pred_term)
        .otherwise(
            F.raise_error(
                F.concat(F.lit("malformed Turtle line: "), F.col("_line"))
            )
        )
        .alias("_pt"),
        "_subj",
        # explode_outer, NOT explode: a malformed line can parse to an
        # EMPTY term array, and a plain explode would delete that row
        # before the strictness gate ever evaluates
        F.explode_outer(terms).alias("_ot"),
    )

    def unwrap(c: F.Column) -> F.Column:
        return F.when(
            c.startswith("<"),
            F.substring(c, 2, F.length(c) - 2),
        ).otherwise(c)

    is_lit = F.col("_ot").startswith('"')
    lit_body = F.regexp_extract("_ot", r'^"((?:[^"\\]|\\.)*)"', 1)
    dt_term = F.regexp_extract(
        "_ot", r'^"(?:[^"\\]|\\.)*"\^\^(.+)$', 1
    )
    return parsed.select(
        unwrap(F.col("_subj")).alias("subj"),
        F.when(F.col("_pt") == "a", F.lit(RDF_TYPE))
        .otherwise(unwrap(F.col("_pt")))
        .alias("pred"),
        F.when(is_lit, _nt_unescape(lit_body))
        .otherwise(unwrap(F.col("_ot")))
        .alias("obj"),
        (~is_lit).alias("obj_is_iri"),
        F.when(is_lit & (dt_term != ""), unwrap(dt_term)).alias(
            "obj_datatype"
        ),
    )


#: One regex parses the full line shape ``ntriples_lines`` emits (and
#: standard single-line N-Triples generally): IRI subject/predicate, IRI
#: or literal object, optional ``^^<datatype>`` tag.
_NT_LINE_RE = (
    r'^<([^>]*)> <([^>]*)> '
    r'(?:<([^>]*)>|"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>)?)'
    r' \.\s*$'
)


def _nt_unescape(col: F.Column) -> F.Column:
    """Inverse of ``_nt_escape``: a placeholder swap makes the chain
    order-safe (``\\\\n`` must become backslash+n, not a newline)."""
    out = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\t"), F.lit("\t"))
    return F.replace(out, F.lit("\x00"), F.lit("\\"))


def read_ntriples(
    lines: DataFrame,
    prefixes: Optional[Dict[str, str]] = None,
    line_col: str = "line",
    contract: bool = True,
) -> DataFrame:
    """N-Triples lines → triple frame ``(subj, pred, obj, obj_is_iri,
    obj_datatype)`` — the inverse of ``ntriples_lines``, closing the
    export/import round trip (LOD dumps, other engines' exports, and our
    own ``ntriples_lines`` output become a triple source). Blank and
    ``#`` comment lines are dropped; anything else that fails the line
    grammar raises at action time (a malformed interchange dump should
    never silently lose rows — count ``malformed`` yourself via
    ``contract=False``... strictness is the default).

    ``contract=True`` rewrites known namespace IRIs back to CURIE space
    through ``prefixes`` (default the writer's table), longest-namespace
    first, so round-tripped frames compare equal to what was exported.

    Scale: one regexp per line, pure JVM projection, zero shuffle — the
    reader shape matches the writer's (a 100 TB dump parses as a narrow
    scan).
    """
    pfx = dict(prefixes or NT_PREFIXES)
    raw = lines.select(F.col(line_col).alias("_l")).filter(
        (F.trim("_l") != "") & ~F.trim("_l").startswith("#")
    )
    g = lambda i: F.regexp_extract("_l", _NT_LINE_RE, i)  # noqa: E731
    parsed = raw.select(
        "_l",
        g(1).alias("_s"),
        g(2).alias("_p"),
        g(3).alias("_oi"),
        g(4).alias("_ol"),
        g(5).alias("_dt"),
        F.col("_l").rlike(_NT_LINE_RE).alias("_ok"),
        # regexp_extract returns '' for a non-participating group; an
        # IRI object is present iff the line matched the IRI alternative
        F.col("_l").rlike(r'^<[^>]*> <[^>]*> <').alias("_is_iri"),
    )
    def contract_iri(c: F.Column) -> F.Column:
        if not contract:
            return c
        out = c
        # build shortest-namespace first so the LONGEST ends up as the
        # outermost (first-checked) branch of the when-chain
        for k, v in sorted(pfx.items(), key=lambda kv: len(kv[1])):
            out = F.when(
                c.startswith(v),
                F.concat(F.lit(k + ":"),
                         F.substring(c, len(v) + 1, 2**30)),
            ).otherwise(out)
        return out

    # the strictness gate rides the SELECTED subj column (a standalone
    # assert column would be pruned by the optimizer and never fire)
    subj_checked = F.when(
        F.col("_ok"), contract_iri(F.col("_s"))
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("malformed N-Triples line: "), F.col("_l"))
        )
    )
    return parsed.select(
        subj_checked.alias("subj"),
        contract_iri(F.col("_p")).alias("pred"),
        F.when(F.col("_is_iri"), contract_iri(F.col("_oi")))
        .otherwise(_nt_unescape(F.col("_ol")))
        .alias("obj"),
        F.col("_is_iri").alias("obj_is_iri"),
        F.when(
            ~F.col("_is_iri") & (F.col("_dt") != ""),
            contract_iri(F.col("_dt")),
        ).alias("obj_datatype"),
    )


def _node_to_rows(node: Dict[str, Any]) -> List[tuple]:
    """One JSON-LD node dict → triple tuples
    ``(subj, pred, obj, obj_is_iri, obj_datatype)`` — the inverse of
    ``_assemble_node``/``_value_for``."""
    subj = node["@id"]
    rows: List[tuple] = []

    def value_rows(pred: str, v: Any) -> None:
        if isinstance(v, dict):
            if "@id" in v:
                rows.append((subj, pred, v["@id"], True, None))
            else:
                rows.append(
                    (subj, pred, str(v["@value"]), False, v.get("@type"))
                )
        elif isinstance(v, bool):
            rows.append(
                (subj, pred, "true" if v else "false", False, "xsd:boolean")
            )
        elif isinstance(v, int):
            rows.append((subj, pred, str(v), False, "xsd:integer"))
        else:
            rows.append((subj, pred, v, False, None))

    for pred, value in node.items():
        if pred == "@id":
            continue
        if pred == "@type":
            types = value if isinstance(value, list) else [value]
            for t in types:
                rows.append((subj, RDF_TYPE, t, True, None))
            continue
        if isinstance(value, list):
            for v in value:
                value_rows(pred, v)
        else:
            value_rows(pred, value)
    return rows


def read_jsonld_nodes(
    nodes: DataFrame, json_col: str = "node_json"
) -> DataFrame:
    """JSON-LD node lines (the ``jsonld_nodes`` export shape — one node
    object per row) → triple frame ``(subj, pred, obj, obj_is_iri,
    obj_datatype)``, closing the JSON-LD export/import round trip (the
    format CASE/UCO consumers exchange). Exact inverse of the renderer
    for well-typed emissions; the renderer's one lossy corner (a
    declared ``xsd:integer`` whose lexical form is not an integer falls
    back to a plain string) stays lossy on the way back, by
    construction.

    Scale: the node objects have DYNAMIC predicate keys, so this is a
    (documented) Arrow-batched ``mapInPandas`` kernel, not ``from_json``
    with a fixed schema — one pass, no shuffle; the per-batch Python
    cost is the JSON parse the format itself demands.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[tuple] = []
            for s in pdf[json_col]:
                out.extend(_node_to_rows(json.loads(s)))
            yield pd.DataFrame(
                out,
                columns=[
                    "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
                ],
            )

    return nodes.mapInPandas(
        kernel,
        schema=(
            "subj string, pred string, obj string, obj_is_iri boolean,"
            " obj_datatype string"
        ),
    )
