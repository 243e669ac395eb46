"""The two workloads. Each one drives the package only through its public
entry points and checks what comes back.

A workload's operation is two public calls, timed apart: the main call
(``main_s``) and the call that follows it (``follow_s``).

- ``kg_build``: ``run_pipeline`` writes the graph; then one client posts a
  seeded SPARQL mix to ``service.serve``'s ``POST /sparql`` over the
  triple table just written (``follow_s`` is one pass over the mix).
- ``entity_resolve``: a full ``canonicalize_entities`` over prior ∪ delta;
  then ``canonicalize_incremental`` folds the delta into the prior
  assignment.

The runner calls, in order:

- ``prepare(rep)``: generate and stage the seeded inputs (repeated; the
  median is the input part of ``setup_s``);
- ``state()``: the state every operation starts from (the prior
  assignment and a warm-up fold; the query service), part of ``setup_s``;
- ``op(tracer)``: one operation, returning its two timings; with a
  tracer, each of the two calls runs under its own span;
- ``checks()``: output checks, each one attempted operation;
- ``layers(tracer, timings)``: the traced run's per-layer calls, after a
  traced ``op``;
- ``coverage(timings)``: the share of each of the op's two calls that the
  layer spans account for.
"""

from __future__ import annotations

import contextlib
import hashlib
import http.client
import inspect
import json
import os
import random
import shutil
import statistics
import threading
import time
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import canonicalize as canon
from case_uco_ontology_map_spark.operators.dedup import drop_metrics, drop_observation
from case_uco_ontology_map_spark.operators.mentions import (
    build_gazetteer,
    build_prefix_index,
    class_centroids,
    gazetteer_classes,
    link_mentions,
    mention_marker_row,
    mention_triple_rows,
    mentions_from_triples,
    scan_mentions,
)
from case_uco_ontology_map_spark.operators.sparql import parse_sparql, sparql_query
from case_uco_ontology_map_spark.operators.triples import extend_ontology_map_for_schema
from case_uco_ontology_map_spark.plans.pipeline import (
    PAGE_SHARED_METADATA,
    fused_page_triples,
    observed_triples,
    run_pipeline,
    web_ontology_map,
)
from case_uco_ontology_map_spark.refmap.extract import extract_text, render_html
from case_uco_ontology_map_spark.refmap.graph import record_to_triples
from case_uco_ontology_map_spark.refmap.planner import OntologyContext
from case_uco_ontology_map_spark.service import serve
from case_uco_ontology_map_spark.sources.corpus import web_corpus
from case_uco_ontology_map_spark.streaming.resume import lineage, write_manifest

import inputs

Check = Tuple[str, bool, str]
TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "record_uuid"]
PAGE_FIELD_TYPES = {
    "url": "str", "warc_time": "str", "lang": "str", "n_chars": "int",
    "content_sha256": "str", "host": "str", "mime_type": "str",
}
WARC_EPOCH = 1735689600  # 2025-01-01T00:00:00Z, as sources.corpus derives warc_ts
JACCARD_THRESHOLD = inspect.signature(canon.canonicalize_entities).parameters[
    "jaccard_threshold"
].default


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _dir_stats(path: str) -> Tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _span(tr, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _grams(key: str) -> set:
    k = key.lower()
    return {k[i:i + 3] for i in range(len(k) - 2)}


class PageOracle:
    """Driver-side expected triples for one generated page, through the
    pure-Python ``refmap.graph.record_to_triples`` path plus the mention
    rows the fused kernel adds."""

    def __init__(self, gazetteer: Dict[str, str]):
        self.omap = extend_ontology_map_for_schema(
            web_ontology_map(), PAGE_FIELD_TYPES, PAGE_SHARED_METADATA["artifact_type"]
        )
        self.ctx = OntologyContext(self.omap)
        self.gaz = gazetteer
        self.prefixes = build_prefix_index(gazetteer)

    def rows(self, pages: inputs.Pages, i: int) -> List[tuple]:
        doc_id, lang = pages.doc_id[i], pages.lang[i]
        text = extract_text(render_html(pages.text[i], f"doc {doc_id}", lang))
        url = pages.url(i)
        rec = dict(PAGE_SHARED_METADATA)
        rec.update(
            url=url,
            warc_time=time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime(WARC_EPOCH + doc_id % 31536000)
            ),
            lang=lang,
            n_chars=len(text),
            content_sha256=hashlib.sha256(text.encode("utf-8")).hexdigest(),
            host=url.split("//", 1)[-1].split("/", 1)[0],
            mime_type="text/html",
        )
        rows = [tuple(r) for r in record_to_triples(rec, self.ctx, ontology_map=self.omap)]
        ruuid = rows[0][5]
        found = sorted(scan_mentions(text, self.gaz, self.prefixes).items())
        for (surface, cls), n in found:
            rows.extend(mention_triple_rows(ruuid, surface, cls, n))
        rows.extend(mention_marker_row(ruuid, s, c, n) for (s, c), n in found)
        return rows


class Workload:
    name = ""
    OPS = 1  # operations per run, at the least

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(work_dir, self.name)
        self.nproc = spark.sparkContext.defaultParallelism
        self.gaz = build_gazetteer()
        self.digest = ""
        _rmtree(self.dir)
        os.makedirs(self.dir)

    def info(self) -> Dict[str, Any]:
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- kg_build


class KgBuild(Workload):
    """``run_pipeline(with_mentions=True, out_dir=..., per_record_meta=
    "first")`` over generated pages, then a seeded SPARQL mix posted by
    one closed-loop client to an in-process ``service.serve`` over the
    triple table the call wrote (one client: the service shares one Spark
    session, so more clients would measure the scheduler)."""

    name = "kg_build"
    N_PAGES = 2000
    SAMPLE = 16
    MIX = {"point": 2, "census": 1, "two_hop": 1, "optional": 1}
    PASSES = 2  # over the mix per op; follow_s is the median pass

    def prepare(self, rep: int) -> None:
        self.pages = inputs.make_pages(self.seed, self.N_PAGES, self.gaz)
        self.gen = os.path.join(self.dir, f"in-{rep}")
        _rmtree(self.gen)
        self.pages.write(self.gen, self.nproc)
        self.digest = self.pages.digest()

    def state(self) -> None:
        self.out_dir = os.path.join(self.dir, "out")
        self.path = os.path.join(self.out_dir, "triples")
        self.drops: List[Optional[dict]] = []
        self.responses: List[Tuple[int, int, dict]] = []
        self.oracle = PageOracle(self.gaz)
        self._build_mix()
        self.server = serve(
            self.spark, sessions_dir=os.path.join(self.dir, "sessions"),
            triples_path=self.path, max_query_rows=self.N_PAGES + 100,
        )
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def _build_mix(self) -> None:
        rng = random.Random(self.seed + 2)
        sample = rng.sample(range(len(self.pages)), self.SAMPLE)
        self.sample_rows = {i: self.oracle.rows(self.pages, i) for i in sample}
        by_subj: Dict[str, set] = {}
        url_nodes = []
        for rows in self.sample_rows.values():
            url_nodes.append(rows[0][0])
            for s, p, o, *_ in rows:
                by_subj.setdefault(s, set()).add((p, o))
        facets = {
            u: {
                (f, next((o for p, o in by_subj.get(f, ()) if p == "uco-observable:hash"), None))
                for p, f in by_subj[u] if p == "uco-core:hasFacet"
            }
            for u in url_nodes
        }
        n_facets = {u: len(fs) for u, fs in facets.items()}
        subjects = sorted(by_subj)
        sources = sorted(set(self.pages.source))
        queries: List[Tuple[str, str, Callable[[dict], bool]]] = []
        for _ in range(self.MIX["point"]):
            s = rng.choice(subjects)
            queries.append(("point", f"SELECT ?p ?o WHERE {{ {s} ?p ?o . }}",
                            lambda r, w=by_subj[s]: {tuple(x) for x in r["rows"]} == w
                            and r["row_count"] == len(w)))
        census = (
            "SELECT ?u (COUNT(*) AS ?n) WHERE { ?u a uco-observable:URL . "
            "?u uco-core:hasFacet ?f . } GROUP BY ?u"
        )
        # one row per page, and the sampled pages' facet counts
        queries += [("census", census,
                     lambda r: r["row_count"] == self.N_PAGES and not r["truncated"]
                     and all(dict(map(tuple, r["rows"])).get(u) == n for u, n in n_facets.items()))
                    ] * self.MIX["census"]
        for _ in range(self.MIX["two_hop"]):
            src = rng.choice(sources)
            q = ("SELECT ?u ?f WHERE { ?u uco-core:hasFacet ?f . ?f uco-observable:host ?h . "
                 f'FILTER (?h = "{src}.example.org") }}')
            queries.append(("two_hop", q,
                            lambda r, n=self.pages.source.count(src): r["row_count"] == n))
        for _ in range(self.MIX["optional"]):
            u = rng.choice(url_nodes)
            q = (f"SELECT ?f ?h WHERE {{ {u} uco-core:hasFacet ?f . "
                 "OPTIONAL { ?f uco-observable:hash ?h } }")
            queries.append(("optional", q,
                            lambda r, w=facets[u]: {tuple(x) for x in r["rows"]} == w))
        rng.shuffle(queries)
        self.queries = [(k, q) for k, q, _ in queries]
        self.expect = [f for _, _, f in queries]

    def post(self, query: str) -> Tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            body = json.dumps({"query": query, "max_rows": self.N_PAGES + 100})
            conn.request("POST", "/sparql", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def op(self, tr=None) -> Dict[str, float]:
        t0 = time.perf_counter()
        with _span(tr, "pipeline"):
            out = run_pipeline(
                self.spark, self.gen, with_mentions=True, out_dir=self.out_dir,
                per_record_meta="first",
            )
        t1 = time.perf_counter()
        passes, answers = [], []
        with _span(tr, "queries"):
            for _ in range(self.PASSES):
                t = time.perf_counter()
                answers += [(i, *self.post(q)) for i, (_, q) in enumerate(self.queries)]
                passes.append(time.perf_counter() - t)
        self.drops.append(out.get("canonicalize_drops"))
        self.responses.extend(answers)
        return {"main_s": t1 - t0, "follow_s": statistics.median(passes)}

    def checks(self) -> List[Check]:
        spark = self.spark
        written = spark.read.parquet(self.path)
        out: List[Check] = []
        # 1. seeded page sample: driver re-emission == Spark rows
        want = [r for rows in self.sample_rows.values() for r in rows]
        uuids = sorted({r[5] for r in want})
        got = [
            tuple(r)
            for r in written.where(F.col("record_uuid").isin(uuids)).select(*TRIPLE_COLS).collect()
        ]
        same = sorted(got, key=repr) == sorted(want, key=repr)
        out.append(("kg.sample_triples", same, f"{len(got)} rows vs {len(want)} expected"))
        # 2. triples written == triples the kernel emitted
        kernel, obs = observed_triples(
            fused_page_triples(
                web_corpus(spark, self.gen), mentions=True, gazetteer=self.gaz,
                per_record_meta="first", surface_markers=True,
            )
        )
        kernel.write.format("noop").mode("overwrite").save()
        n_kernel, n_written = obs.get["triples"], written.count()
        out.append(("kg.triples_written", n_kernel == n_written, f"{n_written} vs {n_kernel}"))
        # 3. manifest rows == distinct non-null fingerprints
        n_manifest = spark.read.parquet(os.path.join(self.out_dir, "manifest")).count()
        n_fp = written.where(F.col("fingerprint").isNotNull()).select("fingerprint").distinct().count()
        out.append(("kg.manifest_rows", n_manifest == n_fp, f"{n_manifest} vs {n_fp}"))
        # 4. entity table is non-empty
        n_ent = spark.read.parquet(os.path.join(self.out_dir, "entities")).count()
        out.append(("kg.entities_nonempty", n_ent > 0, f"{n_ent} entities"))
        # 5. every answer of every query mix
        for k, (i, status, res) in enumerate(self.responses):
            ok = status == 200 and self.expect[i](res)
            out.append((f"kg.query[{k}].{self.queries[i][0]}", ok, f"status {status}, {str(res)[:200]}"))
        self.n_triples, self.n_entities = n_written, n_ent
        return out

    def info(self) -> Dict[str, Any]:
        # None from run_pipeline means the drop metrics were not observed
        last = self.drops[-1] if self.drops else None
        return {
            "pages": self.N_PAGES,
            "triples": getattr(self, "n_triples", None),
            "entities": getattr(self, "n_entities", None),
            "queries_per_op": len(self.queries),
            "canonicalize_drops": last if last is not None else "not observed",
        }

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def _timed_post(self, query: str) -> float:
        t0 = time.perf_counter()
        self.post(query)
        return time.perf_counter() - t0

    def layers(self, tr, timings: Dict[str, float]) -> Dict[str, float]:
        """run_pipeline's steps called one by one from outside, then the
        first query of each kind in the mix."""
        m = self._build_layers(tr)
        m.update(self._query_layers(tr))
        return m

    def _build_layers(self, tr) -> Dict[str, float]:
        spark = self.spark
        corpus = web_corpus(spark, self.gen)
        with tr.span("corpus") as sp_corpus:
            corpus.write.format("noop").mode("overwrite").save()

        def kernel(df):
            return fused_page_triples(
                df, mentions=True, gazetteer=self.gaz, per_record_meta="first",
                surface_markers=True,
            )

        with tr.span("kernel") as sp_kernel:
            k_df, k_obs = observed_triples(kernel(corpus))
            k_df.write.format("noop").mode("overwrite").save()
        # scaling: the same pages in one partition (one task at a time, a
        # local[1] proxy in this session) against the nproc-task kernel span
        with tr.span("kernel.serial") as sp_serial:
            kernel(corpus.coalesce(1)).write.format("noop").mode("overwrite").save()
        path = os.path.join(self.dir, "layers", "triples")
        with tr.span("store") as sp_store:
            (
                kernel(corpus)
                .withColumn("bucket", F.pmod(F.xxhash64("record_uuid"), F.lit(64)))
                .repartition(64, "bucket")
                .write.mode("overwrite").partitionBy("bucket").parquet(path)
            )
        written = spark.read.parquet(path)
        centroids = class_centroids(None, gazetteer_classes(self.gaz))
        with tr.span("mentions") as sp_mentions:
            found = link_mentions(mentions_from_triples(written), centroids).cache()
            n_mentions = found.count()
        entities = found.select(
            F.xxhash64("surface", "entity_class").alias("entity_id"),
            F.concat_ws("|", "entity_class", "surface").alias("entity_key"),
        ).distinct()
        n_entities = entities.count()
        manifest_path = os.path.join(self.dir, "layers", "manifest")
        with tr.span("manifest") as sp_manifest:
            write_manifest(
                written.where(F.col("fingerprint").isNotNull())
                .select("fingerprint", "record_uuid").distinct(),
                manifest_path,
            )
        with tr.span("lineage") as sp_lineage:
            lineage(written).collect()
        with tr.span("pipeline.canon") as sp_canon:
            (
                canon.canonicalize_entities(entities)
                .withColumn("bucket", F.pmod(F.xxhash64("canonical_id"), F.lit(16)))
                .repartition(16, "bucket")
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(os.path.join(self.dir, "layers", "entities"))
            )
        found.unpersist()
        drops = self.drops[-1]
        files, size = _dir_stats(path)
        self.main_spans = [sp_store, sp_mentions, sp_manifest, sp_lineage, sp_canon]
        return {
            "corpus.wall_s": sp_corpus.wall_s,
            "corpus.rows": tr.span_metric(sp_corpus, "input_records"),
            "kernel.wall_s": sp_kernel.wall_s,
            "kernel.executor_cpu_s": tr.span_metric(sp_kernel, "executor_cpu_ns") / 1e9,
            "kernel.gc_s": tr.span_metric(sp_kernel, "gc_ms") / 1e3,
            "kernel.docs_in": float(len(self.pages)),
            "kernel.triples_out": float(k_obs.get["triples"]),
            "kernel.scaling_eff": sp_serial.wall_s / (self.nproc * sp_kernel.wall_s),
            "mentions.wall_s": sp_mentions.wall_s,
            "mentions.rows": float(n_mentions),
            "mentions.entities": float(n_entities),
            "store.write_s": sp_store.wall_s - sp_kernel.wall_s,
            "store.files": float(files),
            "store.bytes": float(size),
            "store.shuffle_write_bytes": tr.span_metric(sp_store, "shuffle_write_bytes"),
            "manifest.write_s": sp_manifest.wall_s,
            "manifest.rows": float(spark.read.parquet(manifest_path).count()),
            "lineage.wall_s": sp_lineage.wall_s,
            # run_pipeline's own canonicalize_drops; -1 when it reports None
            # (not observed)
            "pipeline.dropped_members": float(drops["dropped_members"]) if drops else -1.0,
        }

    def _query_layers(self, tr) -> Dict[str, float]:
        """Plan (parse, build and plan the row-capped frame the service
        collects) and execute (collect) called directly, bracketed by the
        same query over HTTP before and after (so neither side gets all of
        the warm-up); the difference is the service's own overhead."""
        plan_ms, exec_ms, over_ms = [], [], []
        rows_out = 0
        spans = []
        cap = self.N_PAGES + 100
        http_s = 0.0
        first: Dict[str, str] = {}
        for kind, q in self.queries:
            first.setdefault(kind, q)
        for q in first.values():
            http_before = self._timed_post(q)
            with tr.span("sparql.plan") as sp_plan:
                parse_sparql(q)
                df = sparql_query(self.spark.read.parquet(self.path), q).limit(cap + 1)
                df._jdf.queryExecution().executedPlan()
            with tr.span("sparql.exec") as sp_exec:
                rows_out += len(df.collect())
            one_http_s = (http_before + self._timed_post(q)) / 2
            http_s += one_http_s
            plan_ms.append(1e3 * sp_plan.wall_s)
            exec_ms.append(1e3 * sp_exec.wall_s)
            over_ms.append(1e3 * (one_http_s - sp_plan.wall_s - sp_exec.wall_s))
            spans += [sp_plan, sp_exec]
        # the spans replay single queries, so compare with their own HTTP time
        self.follow_coverage = sum(sp.wall_s for sp in spans) / http_s
        return {
            "sparql.plan_ms": statistics.median(plan_ms),
            "sparql.exec_ms": statistics.median(exec_ms),
            "sparql.rows_out": float(rows_out),
            "sparql.input_bytes": sum(tr.span_metric(s, "input_bytes") for s in spans),
            "service.overhead_ms": statistics.median(over_ms),
        }

    def coverage(self, timings: Dict[str, float]) -> Tuple[float, float]:
        # the query spans replay one query of each kind: their share is
        # taken of those queries' own HTTP time, not of the whole mix
        main = sum(sp.wall_s for sp in self.main_spans) / timings["main_s"]
        return main, self.follow_coverage


# ---------------------------------------------------------- entity_resolve


class EntityResolve(Workload):
    """A full ``canonicalize_entities`` over prior ∪ delta, then
    ``canonicalize_incremental(prior_assignment, delta)``; both with the
    package defaults, as ``run_pipeline`` uses them."""

    name = "entity_resolve"
    N_PRIOR = 6000
    # one op is ~110 Spark jobs: a single op spread 0.2 of its median over
    # ten seeds; three ops would not fit the run-time budget on a noisy host
    OPS = 2

    def prepare(self, rep: int) -> None:
        self.ents = inputs.make_entities(self.seed, self.N_PRIOR)
        self.in_dir = os.path.join(self.dir, f"in-{rep}")
        _rmtree(self.in_dir)
        e = self.ents
        e.write(os.path.join(self.in_dir, "prior"), 0, e.n_prior, self.nproc)
        e.write(os.path.join(self.in_dir, "delta"), e.n_prior, len(e.entity_id), 1)
        self.digest = e.digest()

    def state(self) -> None:
        read = self.spark.read.parquet
        self.prior_in = read(os.path.join(self.in_dir, "prior"))
        self.delta = read(os.path.join(self.in_dir, "delta"))
        assign_path = os.path.join(self.dir, "prior_assignment")
        canon.canonicalize_entities(self.prior_in).write.mode("overwrite").parquet(assign_path)
        self.prior = read(assign_path)
        self.union = self.prior_in.unionByName(self.delta)
        # warm-up: the prior's resolve above ran the full path once; the
        # fold's own code paths warm here, so the timed ops start warm
        canon.canonicalize_incremental(self.prior, self.delta).collect()
        self.results: List[Tuple[list, list]] = []

    def op(self, tr=None) -> Dict[str, float]:
        # traced, the full resolve also reports its LSH cap drops
        obs = drop_observation("perfbench_canon_drops") if tr is not None else None
        t0 = time.perf_counter()
        with _span(tr, "resolve") as self.resolve_span:
            full = canon.canonicalize_entities(self.union, observation=obs).select(
                "entity_id", "canonical_id"
            ).collect()
        t1 = time.perf_counter()
        with _span(tr, "fold"):
            fold = canon.canonicalize_incremental(self.prior, self.delta).select(
                "entity_id", "canonical_id"
            ).collect()
        t2 = time.perf_counter()
        self.results.append((full, fold))
        self.drops = drop_metrics(obs) if obs is not None else None
        return {"main_s": t1 - t0, "follow_s": t2 - t1}

    def checks(self) -> List[Check]:
        out: List[Check] = []
        group = dict(zip(self.ents.entity_id, self.ents.group))
        n = len(self.ents.entity_id)
        for k, (full_rows, fold_rows) in enumerate(self.results):
            full, fold = dict(map(tuple, full_rows)), dict(map(tuple, fold_rows))
            out.append((f"er.fold_equals_full[{k}]", full == fold and len(full) == n,
                        f"{len(full)} full rows, {len(fold)} fold rows"))
            groups_of: Dict[int, set] = {}
            for eid, cid in full.items():
                groups_of.setdefault(cid, set()).add(group[eid])
            merged = sum(1 for g in groups_of.values() if len(g) > 1)
            out.append((f"er.no_group_merge[{k}]", merged == 0, f"{merged} merged components"))
        if self.results:
            self.components = len({cid for _, cid in self.results[-1][0]})
        return out

    def info(self) -> Dict[str, Any]:
        return {
            "prior_rows": self.ents.n_prior,
            "delta_rows": len(self.ents.entity_id) - self.ents.n_prior,
            "components": getattr(self, "components", None),
        }

    def layers(self, tr, timings: Dict[str, float]) -> Dict[str, float]:
        """The two calls' public sub-calls one by one: signatures, LSH
        candidates and connected components (over the candidate edges).
        The verify (and the fold's verify plus star-edge injection) is what
        the whole call, timed by the traced op, spends beyond them."""
        with tr.span("canon.sign") as sp_sign:
            sigs = canon.entity_minhash(self.union).cache()
            sigs.count()
        with tr.span("canon.candidates") as sp_cand:
            cands = canon.candidate_edges(sigs).cache()
            n_cands = cands.count()
        with tr.span("canon.cc") as sp_cc:
            canon.connected_components(cands).count()
        flagged = sigs.join(
            self.delta.select("entity_id", F.lit(True).alias("_is_new")), "entity_id", "left"
        ).withColumn("_is_new", F.coalesce(F.col("_is_new"), F.lit(False)))
        with tr.span("fold.candidates") as sp_fcand:
            fc = canon.incremental_candidate_edges(flagged).cache()
            n_fold_cands = fc.count()
        with tr.span("fold.cc") as sp_fcc:
            canon.connected_components(fc).count()
        full_path = [sp_sign, sp_cand, sp_cc]

        # verify yield: the candidate pairs whose char-3-gram Jaccard
        # reaches the package's default threshold (a count, not timed)
        grams = {i: _grams(k) for i, k in zip(self.ents.entity_id, self.ents.entity_key)}
        kept = sum(
            1 for a, b in cands.collect()
            if len(grams[a] & grams[b]) >= JACCARD_THRESHOLD * len(grams[a] | grams[b])
        )
        # prior rows in components a delta candidate edge touches
        ends = fc.select(F.col("src").alias("entity_id")).union(
            fc.select(F.col("dst").alias("entity_id"))
        )
        touched = self.prior.join(ends, "entity_id", "leftsemi").select("canonical_id").distinct()
        touched_rows = self.prior.join(touched, "canonical_id", "leftsemi").count()
        for df in (sigs, cands, fc):
            df.unpersist()
        self.main_spans = full_path
        self.follow_spans = [sp_sign, sp_fcand, sp_fcc]
        return {
            "canon.sign_s": sp_sign.wall_s,
            "canon.candidates_s": sp_cand.wall_s,
            "canon.verify_s": timings["main_s"] - sum(sp.wall_s for sp in full_path),
            "canon.cc_s": sp_cc.wall_s,
            "canon.candidate_pairs": float(n_cands),
            "canon.cc_jobs": float(tr.span_jobs(sp_cc)),
            "canon.components": float(len({cid for _, cid in self.results[-1][0]})),
            # -1 when the drop metrics were not observed (None)
            "canon.dropped_members": float(self.drops["dropped_members"]) if self.drops else -1.0,
            "canon.verify_yield": kept / n_cands if n_cands else 0.0,
            "canon.shuffle_bytes": tr.span_metric(self.resolve_span, "shuffle_write_bytes"),
            "canon.spill_bytes": tr.span_metric(self.resolve_span, "memory_spill_bytes")
            + tr.span_metric(self.resolve_span, "disk_spill_bytes"),
            "fold.candidates_s": sp_fcand.wall_s,
            "fold.candidate_pairs": float(n_fold_cands),
            "fold.cc_s": sp_fcc.wall_s,
            "fold.rest_s": timings["follow_s"] - sum(sp.wall_s for sp in self.follow_spans),
            "fold.touched_frac": touched_rows / self.prior.count(),
        }

    def coverage(self, timings: Dict[str, float]) -> Tuple[float, float]:
        return (
            sum(sp.wall_s for sp in self.main_spans) / timings["main_s"],
            sum(sp.wall_s for sp in self.follow_spans) / timings["follow_s"],
        )


WORKLOADS = {w.name: w for w in (KgBuild, EntityResolve)}
