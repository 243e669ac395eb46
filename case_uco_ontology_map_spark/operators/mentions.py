"""Batched mention detection + gazetteer/embedding entity-link scoring.

The deterministic replacement for the reference's LLM ontology-research
stage (SURVEY.md §2.9 row 1; BASELINE.json north_star: "batched mention
detection and gazetteer/embedding entity-link scoring ... via a broadcast
ontology-schema dictionary").

Design:
  gazetteer         compiled once from the ontology dictionary (class local
                    names + labels, lowercased; multi-word supported) —
                    broadcast to executors, a few hundred entries.
  detect_mentions   ONE pandas-UDF pass per document batch: tokenize,
                    scan with the broadcast surface→class dict (longest-
                    match-first for multi-word), emit (url, surface, class,
                    count). Narrow stage, zero shuffles.
  link_mentions     score each mention against per-class embedding
                    centroids (broadcast k×d matrix) with numpy batch
                    cosine — argmax class per mention + margin. The
                    deterministic mention embedding is a hashed
                    bag-of-character-trigrams projection (no external
                    model; pinned + reproducible).
  mention_triple_rows  one mention → CASE/UCO triples: per (record, class)
                    an ObservableObject node typed by the linked class plus
                    an ObservableRelationship("references") from the page
                    object — identity minted with the same uuid5 chain
                    (kb:<slug>-uuid5(NS_SLOT, record_uuid:mention:<slug>)).
"""

from __future__ import annotations

import re
from typing import Any, Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..refmap.identity import iri_for, slot_uuid_for, slugify
from ..refmap.ontology import load_dictionary

MENTION_SCHEMA = "url string, record_uuid string, surface string, entity_class string, n_mentions int"

# Per-surface mention audit rows in the TRIPLE schema (single-scan
# with_mentions): the mention-count triples attach to the per-CLASS
# relationship node, so per-SURFACE counts are not recoverable from the
# ontology triples alone when two surfaces share a class. One marker row
# per (record, surface, class) — pred below, obj a compact JSON payload —
# makes the 5-column mention stream derivable from the triple sink, so the
# whole with_mentions graph needs ONE extraction pass. Markers carry
# fingerprint=NULL (excluded from resume manifests by construction) and
# are filtered from render/validation consumers by this pred.
MENTION_MARKER_PRED = "drafting:mentionSurface"
MENTION_MARKER_DATATYPE = "drafting:json"


def mention_marker_row(
    record_uuid: str, surface: str, cls: str, n_mentions: int
) -> tuple:
    """The audit marker row for one (record, surface, class) mention —
    (subj, pred, obj, obj_is_iri, obj_datatype, record_uuid) in the triple
    schema, subj = the relationship node the mention's count triple lives
    on. obj is deterministic JSON (sorted keys, no whitespace) so the row
    is byte-stable across runs."""
    import json as _json

    slug = slugify(cls)
    rel_uuid = slot_uuid_for(record_uuid, f"relationship_references:{slug}")
    payload = _json.dumps(
        {"c": cls, "n": int(n_mentions), "s": surface},
        sort_keys=True,
        separators=(",", ":"),
    )
    return (
        f"kb:relationship_references-{rel_uuid}",
        MENTION_MARKER_PRED,
        payload,
        False,
        MENTION_MARKER_DATATYPE,
        record_uuid,
    )


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Derive the MENTION_SCHEMA stream from a triple frame (or the written
    triple sink) carrying marker rows — the inverse of mention_marker_row.
    Pure JVM (filter + from_json); reading from the parquet sink this is a
    pred-filtered pruned column scan, no extraction kernel at all."""
    payload = F.from_json(
        F.col("obj"), "c string, n int, s string"
    ).alias("p")
    return (
        triples.filter(F.col("pred") == MENTION_MARKER_PRED)
        .select("url", "record_uuid", payload)
        .select(
            "url",
            "record_uuid",
            F.col("p.s").alias("surface"),
            F.col("p.c").alias("entity_class"),
            F.col("p.n").alias("n_mentions"),
        )
    )


def strip_mention_markers(triples: DataFrame) -> DataFrame:
    """Drop the audit marker rows — what render/validation/export consumers
    should see (marker rows are lineage/audit data, not ontology triples).
    Null-safe: a malformed row with pred NULL is NOT a marker and must stay
    visible to downstream validation (a plain != would silently drop it)."""
    return triples.filter(~F.col("pred").eqNullSafe(MENTION_MARKER_PRED))


def build_gazetteer(
    dictionary: Optional[Dict[str, Any]] = None,
    min_len: int = 3,
    extra: Optional[Dict[str, str]] = None,
) -> Dict[str, str]:
    """surface (lowercase) → class local name, from dictionary class names
    split on camelCase (e.g. 'DomainName' → 'domain name') plus the raw
    lowercased local name. Deterministic; a few hundred entries."""
    dictionary = dictionary or load_dictionary()
    gaz: Dict[str, str] = {}
    for local in sorted(dictionary.get("classes", {})):
        if local.endswith("Facet"):
            continue
        spaced = re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", local).lower()
        for surface in {local.lower(), spaced}:
            if len(surface) >= min_len:
                # first (alphabetically smallest class) wins on collision —
                # deterministic tie-break
                gaz.setdefault(surface, local)
    if extra:
        for k, v in extra.items():
            gaz[k.lower()] = v
    return gaz


def build_prefix_index(gazetteer: Dict[str, str]) -> Dict[str, int]:
    """first token → longest multi-word window worth trying. Most tokens
    start no multi-word surface, so the scan is one dict probe per token."""
    multi_prefix: Dict[str, int] = {}
    for s in gazetteer:
        words = s.split()
        if len(words) > 1:
            multi_prefix[words[0]] = max(multi_prefix.get(words[0], 0), len(words))
    return multi_prefix


def gazetteer_classes(gazetteer: Optional[Dict[str, str]] = None) -> List[str]:
    """The class universe of a gazetteer — STATICALLY known (the gazetteer
    is compiled from the broadcast dictionary), so no data-dependent
    distinct/collect job is ever needed to enumerate mention classes."""
    return sorted(set((gazetteer or build_gazetteer()).values()))


def scan_mentions(
    text: str,
    gaz: Dict[str, str],
    prefixes: Dict[str, int],
) -> Dict[Tuple[str, str], int]:
    """Longest-match-first gazetteer scan of one document → {(surface,
    class): count}. Pure function shared by detect_mentions and the fused
    pipeline kernel so the two paths cannot drift."""
    counts: Dict[Tuple[str, str], int] = {}
    if not text:
        return counts
    gaz_get = gaz.get
    pfx_get = prefixes.get
    toks = text.lower().split()
    i = 0
    n = len(toks)
    while i < n:
        tok = toks[i]
        matched = 0
        pw = pfx_get(tok)
        if pw:  # longest multi-word window first
            for w in range(min(pw, n - i), 1, -1):
                surface = " ".join(toks[i : i + w])
                cls = gaz_get(surface)
                if cls is not None:
                    key = (surface, cls)
                    counts[key] = counts.get(key, 0) + 1
                    matched = w
                    break
        if not matched:
            cls = gaz_get(tok)
            if cls is not None:
                key = (tok, cls)
                counts[key] = counts.get(key, 0) + 1
                matched = 1
        i += matched if matched else 1
    return counts


def detect_mentions(
    docs: DataFrame,
    gazetteer: Optional[Dict[str, str]] = None,
    text_col: str = "text",
    url_col: str = "url",
    record_uuid_col: Optional[str] = None,
) -> DataFrame:
    """Batched gazetteer scan → (url, record_uuid, surface, entity_class,
    n_mentions). Multi-word surfaces matched longest-first on the token
    stream. One narrow mapInPandas stage."""
    spark = docs.sparkSession
    gaz = gazetteer or build_gazetteer()
    bc = spark.sparkContext.broadcast((gaz, build_prefix_index(gaz)))
    has_uuid = record_uuid_col is not None
    cols = [url_col, text_col] + ([record_uuid_col] if has_uuid else [])
    src = docs.select(*cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gazd, prefixes = bc.value
        for pdf in batches:
            out_rows: List[tuple] = []
            uuids = pdf[record_uuid_col] if has_uuid else [None] * len(pdf)
            for url, text, ruuid in zip(pdf[url_col], pdf[text_col], uuids):
                for (surface, cls), c in sorted(
                    scan_mentions(text, gazd, prefixes).items()
                ):
                    out_rows.append((url, ruuid, surface, cls, c))
            yield pd.DataFrame(
                out_rows,
                columns=["url", "record_uuid", "surface", "entity_class", "n_mentions"],
            )

    return src.mapInPandas(kernel, schema=MENTION_SCHEMA)


def _trigram_embed(surface: str, dim: int) -> np.ndarray:
    """Pinned deterministic mention embedding: hashed bag of character
    trigrams, L2-normalized. No external model; same function everywhere."""
    v = np.zeros(dim, dtype=np.float64)
    s = f"^{surface}$"
    for i in range(len(s) - 2):
        v[hash_stable(s[i : i + 3]) % dim] += 1.0
    norm = np.linalg.norm(v)
    return v / norm if norm > 0 else v


def hash_stable(s: str) -> int:
    """Deterministic 64-bit FNV-1a (Python hash() is salted per process —
    never use it in a distributed kernel)."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def class_surface_form(cls: str) -> str:
    """Canonical lowercase spaced surface form of a class local name —
    identical to the gazetteer's camelCase split ('DomainName' →
    'domain name') so class centroids live in the same trigram space as
    mention surfaces."""
    return re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", cls).lower()


def class_name_centroids(
    classes: List[str], dim: int = 64
) -> Dict[str, List[float]]:
    """Per-class centroid = trigram embedding of the class NAME's surface
    form. Deterministic, driver-side, no data scan — the default linking
    signal when the embedding table carries no class-labeled vectors: an
    unambiguous surface ('domain name') scores cosine 1.0 against its own
    class and the argmax is meaningful."""
    return {
        cls: _trigram_embed(class_surface_form(cls), dim).tolist()
        for cls in classes
    }


def label_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> Dict[str, List[float]]:
    """label → centroid from a labeled embedding table. ONE
    groupBy(label) avg; result is driver-side k×d, broadcast by callers."""
    rows = (
        embeddings.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(F.avg("v").alias("m"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .collect()
    )
    return {str(r[label_col]): [float(p["m"]) for p in r["dm"]] for r in rows}


def class_centroids(
    embeddings: Optional[DataFrame],
    classes: List[str],
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> Dict[str, List[float]]:
    """Per-class embedding centroid: classes are matched to embedding-table
    labels by LABEL EQUALITY (label == class local name); classes with no
    matching label fall back to the deterministic class-NAME trigram
    centroid (class_name_centroids). Never an arbitrary index-mod binding —
    a centroid either comes from vectors actually labeled with that class
    or from the class name itself."""
    by_label = (
        label_centroids(embeddings, vec_col, label_col)
        if embeddings is not None
        else {}
    )
    matched = {cls for cls in classes if cls in by_label}
    if matched:
        # fallback vectors must live in the table's dimension
        dim = len(by_label[next(iter(matched))])
    fallback = class_name_centroids(classes, dim=dim)
    return {
        cls: by_label.get(cls, fallback[cls]) for cls in sorted(classes)
    }


def link_mentions(
    mentions: DataFrame,
    centroids: Dict[str, List[float]],
) -> DataFrame:
    """Embedding-score each mention surface against the class centroids;
    emit gazetteer class, best embedding class, cosine score and margin.
    Vectorized numpy matmul per Arrow batch; centroids ride a broadcast."""
    spark = mentions.sparkSession
    classes = sorted(centroids)
    mat = np.array([centroids[c] for c in classes], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    mat = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((classes, mat))
    dim = mat.shape[1]

    out_schema = MENTION_SCHEMA + ", linked_class string, link_score double, link_margin double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cls_list, m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(
                    linked_class=pd.Series(dtype=str),
                    link_score=pd.Series(dtype=float),
                    link_margin=pd.Series(dtype=float),
                )
                continue
            vecs = np.stack(
                [_trigram_embed(s, dim) for s in pdf["surface"]]
            )  # (n, d)
            scores = vecs @ m.T  # (n, k)
            best_idx = scores.argmax(axis=1)
            best = scores[np.arange(len(pdf)), best_idx]
            scores[np.arange(len(pdf)), best_idx] = -np.inf
            second = scores.max(axis=1)
            yield pdf.assign(
                linked_class=[cls_list[i] for i in best_idx],
                link_score=np.round(best, 6),
                link_margin=np.round(best - np.where(np.isfinite(second), second, 0.0), 6),
            )

    return mentions.mapInPandas(kernel, schema=out_schema)


def mention_triple_rows(
    record_uuid: str, surface: str, cls: str, n_mentions: int
) -> List[tuple]:
    """One mention → its 7 triples (subj, pred, obj, obj_is_iri,
    obj_datatype, record_uuid): a typed entity node plus an
    ObservableRelationship('references') from the page's primary URL node.
    Pure function: the fused pipeline kernel and its staged test
    reference both mint through it, so they emit byte-identical
    triples."""
    slug = slugify(cls)
    ent_uuid = slot_uuid_for(record_uuid, f"mention:{slug}")
    ent_id = f"kb:{slug}-{ent_uuid}"
    rel_uuid = slot_uuid_for(record_uuid, f"relationship_references:{slug}")
    rel_id = f"kb:relationship_references-{rel_uuid}"
    page_uuid = slot_uuid_for(record_uuid, "url")
    page_id = f"kb:url-{page_uuid}"
    return [
        (ent_id, "rdf:type", iri_for(cls), True, None, record_uuid),
        (ent_id, "uco-core:name", surface, False, None, record_uuid),
        (rel_id, "rdf:type", iri_for("ObservableRelationship"), True, None, record_uuid),
        (rel_id, "uco-observable:source", page_id, True, None, record_uuid),
        (rel_id, "uco-observable:target", ent_id, True, None, record_uuid),
        (rel_id, "uco-core:kindOfRelationship", "references", False, None, record_uuid),
        (rel_id, "drafting:mentionCount", str(int(n_mentions)), False, "xsd:integer", record_uuid),
    ]
