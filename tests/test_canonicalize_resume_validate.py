"""Tests: connected components / canonicalization, resume semantics,
SHACL-lite validation."""

import os
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import canonicalize
from case_uco_ontology_map_spark.streaming import resume
from case_uco_ontology_map_spark import validation


def test_connected_components_basic(spark):
    # components: {1,2,3,4} via chain, {10,11}, singleton 99 not in edges
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    out = {r["id"]: r["component"] for r in canonicalize.connected_components(edges).collect()}
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[10] == out[11] == 10


def test_connected_components_large_chain(spark):
    # a 256-node path graph — diameter 256, impossible for bounded label
    # propagation; alternating star must converge in O(log d) rounds
    # (default max_iterations=20 ≫ log2(256)=8)
    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    out = canonicalize.connected_components(edges)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}


def _cc_rounds(edges, **kw):
    """connected_components forced onto the star rounds (no edge set is
    small enough for the driver labelling)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(canonicalize, "_DRIVER_EDGES", -1)
        return canonicalize.connected_components(edges, **kw)


def test_connected_components_log_rounds(spark):
    # a 200-chain must converge well within 10 alternating rounds —
    # this is the O(log diameter) guarantee the docstring claims
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    out = _cc_rounds(edges, max_iterations=10)
    rows = out.collect()
    assert len(rows) == 201
    assert {r["component"] for r in rows} == {0}


def test_connected_components_raises_on_exhaustion(spark):
    # 1 round cannot finish a 100-chain; must raise, never silently
    # return split components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_rounds(edges, max_iterations=1)


def test_connected_components_self_loops_and_dups(spark):
    # self-loops register the node but add no connectivity; duplicate and
    # reversed edges collapse
    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)], "src long, dst long"
    )
    out = {r["id"]: r["component"] for r in canonicalize.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 5: 5, 7: 7}


def _shuffled_chain(n, seed):
    rng = random.Random(seed)
    ids = rng.sample(range(10_000, 20_000), n)
    edges = [
        (a, b) if rng.random() < 0.5 else (b, a) for a, b in zip(ids, ids[1:])
    ]
    rng.shuffle(edges)
    return edges


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


# name → (edges, schema): inputs the driver labelling must label exactly
# as the star rounds do
_CC_PARITY_INPUTS = {
    "chain": ([(i, i + 1) for i in range(300)], "src long, dst long"),
    "shuffled_chain": (_shuffled_chain(300, 7), "src long, dst long"),
    "star": (
        [(50, i) for i in range(100) if i != 50] + [(200, 201)],
        "src long, dst long",
    ),
    "random": (_random_graph(300, 220, 3), "src long, dst long"),
    "loops_dups_reversed": (
        [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7), (3, 1), (-4, 3), (3, -4)],
        "src long, dst long",
    ),
    # UTF-8 byte order, not UTF-16 order: U+FF21 sorts below U+1F600, and
    # 'z' below 'é'
    "non_ascii_iris": (
        [
            ("urn:x:\uff21", "urn:x:\U0001F600"),
            ("urn:x:é", "urn:x:z"),
            ("urn:x:Ω", "urn:x:é"),
            ("urn:x:A", "urn:x:a"),
            ("urn:x:ß", "urn:x:ß"),
        ],
        "src string, dst string",
    ),
    "empty": ([], "src long, dst long"),
    "one_null": ([(1, 2), (3, None), (2, 4)], "src long, dst long"),
}


@pytest.mark.parametrize("name", sorted(_CC_PARITY_INPUTS))
def test_connected_components_driver_equals_rounds(spark, name):
    """Labelling on the driver returns the rows and schema the star rounds
    return: same min-id components, same node set (self-loop-only and
    null ids included), same column types."""
    data, schema = _CC_PARITY_INPUTS[name]
    edges = spark.createDataFrame(data, schema)
    driver = canonicalize.connected_components(edges)
    rounds = _cc_rounds(edges)
    assert driver.schema == rounds.schema
    assert Counter(map(tuple, driver.collect())) == Counter(
        map(tuple, rounds.collect())
    )


def test_connected_components_small_graph_job_count(spark):
    """A driver-sized edge set costs two Spark jobs: the counted edge
    checkpoint and one Arrow collect — no per-round jobs."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "src long, dst long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc_small_graph", "connected_components, 6 nodes")
    try:
        out = canonicalize.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc_small_graph")
    assert len(jobs) <= 2, len(jobs)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)
    ]


def _chain(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )


def _small_graph(spark):
    # a cycle, a dangling node (3) and a pure source (4)
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (4, 2)], "src long, dst long"
    )


def _seeds(spark):
    return spark.createDataFrame([(0,)], "node long")


def _key(group):
    # distinct hex keys per group, so only same-group entities pair up
    return f"{group * 2654435761 % (1 << 32):08x} holdings"


def _entities(spark, n):
    # n entities in two-member groups of identical keys
    return spark.createDataFrame(
        [(i, _key(i // 2)) for i in range(n)],
        "entity_id long, entity_key string",
    )


def _fold(spark, n):
    # prior: the two-member groups, canonical id = the smaller member;
    # delta: one new member for each of the first n // 4 groups
    prior = spark.createDataFrame(
        [(i, _key(i // 2), i - i % 2) for i in range(n)],
        "entity_id long, entity_key string, canonical_id long",
    )
    new = spark.createDataFrame(
        [(n + g, _key(g)) for g in range(n // 4)],
        "entity_id long, entity_key string",
    )
    return canonicalize.canonicalize_incremental(prior, new)


def _graphstats(name):
    from case_uco_ontology_map_spark.operators import graphstats

    return getattr(graphstats, name)


# name → (run(spark, size), short size, long size): iteration counts for
# the fixed-round operators, chain lengths for the fixpoint ones
_ITERATIVE_OPERATORS = {
    "connected_components": (
        lambda spark, n: _cc_rounds(_chain(spark, n)),
        6, 40,
    ),
    "canonicalize_entities": (
        lambda spark, n: canonicalize.canonicalize_entities(_entities(spark, n)),
        8, 40,
    ),
    "canonicalize_incremental": (_fold, 8, 40),
    "pagerank": (
        lambda spark, n: _graphstats("pagerank")(_small_graph(spark), n),
        2, 6,
    ),
    "trustrank": (
        lambda spark, n: _graphstats("trustrank")(
            _small_graph(spark), _seeds(spark), n
        ),
        2, 6,
    ),
    "hits": (
        lambda spark, n: _graphstats("hits")(_small_graph(spark), n),
        2, 6,
    ),
    "label_propagation": (
        lambda spark, n: _graphstats("label_propagation")(
            _small_graph(spark), n
        ),
        2, 6,
    ),
    "k_core": (
        lambda spark, n: _graphstats("k_core")(_chain(spark, n), k=2),
        4, 12,
    ),
    "strongly_connected_components": (
        # an id-increasing chain resolves one SCC per outer round
        lambda spark, n: _graphstats("strongly_connected_components")(
            _chain(spark, n)
        ),
        2, 4,
    ),
    "dag_layers": (
        lambda spark, n: _graphstats("dag_layers")(_chain(spark, n)),
        3, 6,
    ),
}


@pytest.mark.parametrize("name", sorted(_ITERATIVE_OPERATORS))
def test_iterative_operators_reclaim_round_blocks(spark, name):
    """An iterative operator must not leak one materialized copy per
    round into the block manager: after a call and a collect, only the
    blocks the RETURNED frame still reads may remain (at most two: the
    CC rounds' node set and final round, HITS's two half-steps, the
    fold's verified edge set), so a short and a
    long run leave the same number of persisted RDDs behind. Nor may it
    release a block the result still reads: the result collects again
    after a JVM garbage collection."""
    from case_uco_ontology_map_spark.operators.barrier import _persistent_ids

    run, short, long = _ITERATIVE_OPERATORS[name]
    left = []
    for size in (short, long):
        before = _persistent_ids(spark)
        out = run(spark, size)
        rows = sorted(map(tuple, out.collect()))
        left.append(len(_persistent_ids(spark) - before))
        spark.sparkContext._jvm.System.gc()
        assert sorted(map(tuple, out.collect())) == rows
    assert left[0] == left[1] <= 2, left


def test_canonicalize_entities(spark):
    rows = [
        (1, "acme corporation"),
        (2, "acme corporation inc"),  # near-dup of 1
        (3, "acme corp"),            # near-dup-ish
        (4, "zebra industries"),
        (5, "completely unrelated"),
    ]
    ents = spark.createDataFrame(rows, "entity_id long, entity_key string")
    out = {
        r["entity_id"]: r["canonical_id"]
        for r in canonicalize.canonicalize_entities(
            ents, jaccard_threshold=0.4
        ).collect()
    }
    assert out[1] == out[2] == 1  # clustered, min id canonical
    assert out[4] == 4 and out[5] == 5  # singletons keep themselves


def test_canonicalize_drop_common_df_defuses_shared_prefix(spark):
    """drop_common_df: the shared structured prefix is detected as
    corpus-common shingles and excluded from the signatures, so the LSH
    candidate set is driven by distinctive content — exact grouping on the
    hot-domain shape with a tight bucket cap that would otherwise shed
    recall as the corpus grows."""
    n_docs, copies = 60, 8
    rows = [
        (
            d * 100 + c,
            "https://hot-domain.example.com/section/article/"
            f"{d * 2654435761 % (1 << 61):016x}/"
            f"{(d + 7777) * 2654435761 % (1 << 61):016x}-v{c}",
        )
        for d in range(n_docs)
        for c in range(copies)
    ]
    ents = spark.createDataFrame(rows, "entity_id long, entity_key string")
    common = canonicalize.common_shingles(ents, df_fraction=0.05)
    # the 47-char shared prefix yields ~45 corpus-common shingles
    assert len(common) >= 40
    out = canonicalize.canonicalize_entities(
        ents, jaccard_threshold=0.7, max_bucket=50, drop_common_df=0.05
    )
    groups = {}
    for r in out.collect():
        groups.setdefault(r["canonical_id"], set()).add(r["entity_id"])
    assert len(groups) == n_docs
    assert all(len(m) == copies for m in groups.values())

    # sampled DF estimation (the 10^12-key mode): genuinely common
    # shingles (df >> cutoff) are always found; sampling noise may
    # additionally drop a few near-cutoff shingles, which only ever
    # REDUCES candidate flood (it cannot hurt verify-time semantics)
    sampled = canonicalize.common_shingles(
        ents, df_fraction=0.05, sample_fraction=0.5
    )
    assert set(common) <= set(sampled)
    assert len(sampled) <= 2 * len(common)


def test_minhash_exclude_paths_agree(spark, monkeypatch):
    """The two exclusion implementations (inline array_except literal vs
    broadcast + Arrow set-difference) must produce IDENTICAL signatures —
    the hot-chain oracle depends on the semantics being one thing."""
    ents = spark.createDataFrame(
        [(i, f"https://example.com/page/{i:06d}") for i in range(200)]
        + [(9999, "")],  # empty key → empty shingles edge case
        "entity_id long, entity_key string",
    )
    # 300 entries (> _EXCLUDE_INLINE_MAX=256 → Arrow path), seeded with
    # shingles that actually occur so the exclusion does real work
    real = canonicalize.common_shingles(ents, df_fraction=0.05)
    assert real, "fixture must produce corpus-common shingles"
    exclude = sorted(set(real) | set(range(300)))[:300]
    assert len(exclude) > canonicalize._EXCLUDE_INLINE_MAX

    arrow = canonicalize.entity_minhash(ents, exclude=exclude).collect()
    monkeypatch.setattr(canonicalize, "_EXCLUDE_INLINE_MAX", 100000)
    inline = canonicalize.entity_minhash(ents, exclude=exclude).collect()
    assert sorted(map(tuple, arrow)) == sorted(map(tuple, inline))


def test_minhash_exclude_10k_no_plan_blowup(spark):
    """A 10k-entry exclusion list (long keys + tiny drop_common_df) must
    not inline into the expression tree: plan string stays bounded and
    analysis is instant. The old F.array(*10k literals) form produced a
    ~350 KB plan and ~20 s of analysis."""
    import time

    ents = spark.createDataFrame(
        [(i, f"https://example.com/page/{i:06d}") for i in range(50)],
        "entity_id long, entity_key string",
    )
    exclude = list(range(10_000))
    t0 = time.time()
    sig = canonicalize.entity_minhash(ents, exclude=exclude)
    plan = sig._jdf.queryExecution().toString()
    analysis = time.time() - t0
    assert len(plan) < 50_000, f"plan blew up: {len(plan)}B"
    assert analysis < 5.0, f"analysis took {analysis:.1f}s"
    assert sig.count() == 50  # and it actually runs


def test_resume_split_and_invalidate(spark, tmp_path):
    records = spark.createDataFrame(
        [(i, f"val{i}") for i in range(10)], "rid long, payload string"
    )
    manifest = resume.split_resume(records, None)
    assert manifest.filter("reused").count() == 0
    path = str(tmp_path / "manifest")
    resume.write_manifest(manifest.select("fingerprint", "record_uuid"), path)

    # second run: everything reused
    cp = resume.read_manifest(spark, path)
    again = resume.split_resume(records, cp)
    assert again.filter("reused").count() == 10

    # new + changed rows are fresh; unchanged keep identical record_uuid
    records2 = spark.createDataFrame(
        [(i, f"val{i}") for i in range(5)]
        + [(5, "CHANGED")]
        + [(i, f"val{i}") for i in range(6, 12)],
        "rid long, payload string",
    )
    third = resume.split_resume(records2, cp)
    reused = {r["rid"] for r in third.filter("reused").collect()}
    assert reused == {0, 1, 2, 3, 4, 6, 7, 8, 9}
    # identity stability: unchanged rows map to the same record_uuid
    first_ids = {r["rid"]: r["record_uuid"] for r in manifest.collect()}
    third_ids = {r["rid"]: r["record_uuid"] for r in third.collect()}
    for rid in reused:
        assert third_ids[rid] == first_ids[rid]
    assert third_ids[5] != first_ids[5]

    # ST2 partial invalidation
    inv = resume.invalidate(cp, [first_ids[3]])
    fourth = resume.split_resume(records, inv)
    assert {r["rid"] for r in fourth.filter(~F.col("reused")).collect()} == {3}


def test_validation_clean_pipeline(spark, sf_dir):
    from case_uco_ontology_map_spark.plans.pipeline import (
        fused_page_triples,
        web_ontology_map,
    )
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary
    from case_uco_ontology_map_spark.sources.corpus import web_corpus

    corpus = web_corpus(spark, sf_dir).limit(50)
    triples = fused_page_triples(corpus).cache()
    results = validation.validate_all(
        triples, web_ontology_map(), load_dictionary()
    )
    assert results == {k: 0 for k in results}, results
    triples.unpersist()


def test_validation_catches_violations(spark):
    rows = [
        # dangling facet ref
        ("kb:url-1", "uco-core:hasFacet", "kb:urlfacet-MISSING", True, None, "r1", "f1"),
        ("kb:url-1", "rdf:type", "uco-observable:URL", True, None, "r1", "f1"),
        # facet-owned property on the object node (placement violation)
        ("kb:url-1", "uco-observable:fullValue", "x", False, None, "r1", "f1"),
        # empty object (no-null violation)
        ("kb:url-1", "uco-observable:host", "", False, None, "r1", "f1"),
        # maxCount: two sizeInBytes on one facet node
        ("kb:cdf-1", "rdf:type", "uco-observable:ContentDataFacet", True, None, "r1", "f1"),
        ("kb:cdf-1", "uco-observable:sizeInBytes", "1", False, "xsd:integer", "r1", "f1"),
        ("kb:cdf-1", "uco-observable:sizeInBytes", "2", False, "xsd:integer", "r1", "f1"),
        # datatype violation: non-integer sizeInBytes
        ("kb:cdf-2", "rdf:type", "uco-observable:ContentDataFacet", True, None, "r1", "f1"),
        ("kb:cdf-2", "uco-observable:sizeInBytes", "abc", False, "xsd:integer", "r1", "f1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string, fingerprint string",
    )
    from case_uco_ontology_map_spark.plans.pipeline import web_ontology_map
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    res = validation.validate_all(triples, web_ontology_map(), load_dictionary())
    assert res["dangling_refs"] >= 1
    assert res["placement"] >= 1
    assert res["no_nulls"] == 1
    assert res["max_count"] >= 1
    assert res["datatypes"] >= 1


def test_max_count_is_class_scoped(spark):
    """CASE 1.4.0: 'version' has maxCount 0 on OperatingSystemFacet but 1
    on ApplicationFacet. A global max-across-shapes limit (old behavior)
    silently passed one version triple on an OS facet subject; the
    class-scoped check must fire it — and still pass the ApplicationFacet
    subject carrying one."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    rows = [
        ("kb:os-1", "rdf:type", "uco-observable:OperatingSystemFacet", True, None, "r1"),
        ("kb:os-1", "uco-core:version", "10.0", False, None, "r1"),
        ("kb:app-1", "rdf:type", "uco-observable:ApplicationFacet", True, None, "r1"),
        ("kb:app-1", "uco-core:version", "1.2", False, None, "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    v = validation.check_max_count(triples, load_dictionary()).collect()
    assert [r["subj"] for r in v] == ["kb:os-1"]
    assert v[0]["max_count"] == 0


def test_min_count_and_node_kind(spark):
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rows = [
        # ActionArgumentFacet requires argumentName (minCount 1) — absent
        ("kb:arg-1", "rdf:type", "uco-types:ActionArgumentFacet", True, None, "r1"),
        ("kb:arg-1", "uco-types:value", "v", False, None, "r1"),
        # accountIssuer is nodeKind IRI on AccountFacet — literal here
        ("kb:acct-1", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:acct-1", "uco-observable:accountIssuer", "not-an-iri", False, None, "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    mc = validation.check_min_count(triples, d).collect()
    assert any(r["subj"] == "kb:arg-1" and r["prop"] == "argumentName" for r in mc)
    # literal where IRI required fires only in strict mode (reference
    # parity emits such literals — see check_node_kind docstring)
    assert validation.check_node_kind(triples, d).count() == 0
    nk = validation.check_node_kind(triples, d, strict=True).collect()
    assert any(r["subj"] == "kb:acct-1" for r in nk)
    # IRI where Literal required fires in default mode
    bad_lit = spark.createDataFrame(
        [
            ("kb:u-1", "rdf:type", "uco-observable:URLFacet", True, None, "r1"),
            ("kb:u-1", "uco-observable:fullValue", "kb:other", True, None, "r1"),
        ],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    assert validation.check_node_kind(bad_lit, d).count() == 1


def test_vocabulary_membership(spark):
    """sh:in vocabulary (check_vocabulary): AccountFacet.accountType is
    restricted to the AccountTypeVocab list at severity Info — 'ldap'
    conforms, 'carrier_pigeon' is flagged; unconstrained properties and
    other classes never match the rule."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rows = [
        ("kb:a1", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:a1", "uco-observable:accountType", "ldap", False, None, "r1"),
        ("kb:a2", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:a2", "uco-observable:accountType", "carrier_pigeon", False, None, "r1"),
        # same literal on an unconstrained slot: not this rule's business
        ("kb:a2", "uco-core:name", "carrier_pigeon", False, None, "r1"),
        ("kb:u1", "rdf:type", "uco-observable:URL", True, None, "r1"),
        ("kb:u1", "uco-observable:fullValue", "ldapx", False, None, "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    v = validation.check_vocabulary(triples, d).collect()
    assert len(v) == 1
    assert v[0]["subj"] == "kb:a2" and v[0]["obj"] == "carrier_pigeon"
    assert v[0]["severity"] == "Info"


def test_vocabulary_content_detected_shapes(spark):
    """Vocabulary shapes are detected by CONTENT, not name suffix: the
    `...-shape-value-not-vocabulary-member` RIR shape (Info) and the
    inline anonymous core:objectStatus closed list (no sh:severity →
    Violation) must both be compiled and enforced. is_conformant ignores
    the Info tally but fails on the hard one."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rir = d["shapes"]["AutonomousSystemFacet"]["regionalInternetRegistry"]
    assert rir["vocab"] == ["APNIC", "ARIN", "AfriNIC", "LACNIC", "RIPE NCC"]
    assert rir["vocabSeverity"] == "Info"
    status = d["shapes"]["UcoObject"]["objectStatus"]
    assert status["vocab"] == ["Draft", "Final", "Deprecated"]
    assert status["vocabSeverity"] == "Violation"

    rows = [
        ("kb:as1", "rdf:type", "uco-observable:AutonomousSystemFacet", True, None, "r1"),
        ("kb:as1", "uco-observable:regionalInternetRegistry", "XYZ", False, None, "r1"),
        ("kb:o1", "rdf:type", "uco-core:UcoObject", True, None, "r1"),
        ("kb:o1", "uco-core:objectStatus", "Smudged", False, None, "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    v = {r["subj"]: r["severity"] for r in validation.check_vocabulary(triples, d).collect()}
    assert v == {"kb:as1": "Info", "kb:o1": "Violation"}


def test_is_conformant_ignores_info_tallies():
    """sh:Info results must not break conformance (case_utils parity) —
    the helper every is_clean consumer goes through."""
    assert validation.is_conformant({"placement": 0, "vocabulary": 0, "vocabulary_info": 3})
    assert not validation.is_conformant({"placement": 0, "vocabulary": 1, "vocabulary_info": 0})
    assert validation.is_conformant({})


def test_validate_all_ignores_mention_markers(spark):
    """Engine-internal audit marker rows (drafting:mentionSurface) are not
    ontology triples — validate_all must not flag them."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    rows = [
        ("kb:rel-1", "drafting:mentionSurface", '{"c":"URL","n":1,"s":"x"}',
         False, "drafting:json", "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    out = validation.validate_all(triples, {"classes": [], "facets": []}, load_dictionary())
    assert validation.is_conformant(out), out


def test_validate_all_marker_filter_keeps_null_pred(spark):
    """A malformed row with NULL pred is NOT a marker — the marker filter
    must be null-safe so such rows still reach the rules (a plain !=
    would drop them and report the graph clean)."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    rows = [("kb:x", None, None, False, None, "r1")]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    out = validation.validate_all(triples, {"classes": [], "facets": []}, load_dictionary())
    assert out["no_nulls"] == 1
    assert not validation.is_conformant(out)


def test_object_class_conformance(spark):
    """sh:class (check_object_class): accountIssuer on AccountFacet
    requires an object typed under UcoObject — a URL-typed target conforms
    (URL <: UcoObject in the dictionary closure), a ContentDataFacet-typed
    target does not (facets sit under UcoThing, not UcoObject)."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rows = [
        ("kb:acct-1", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:acct-1", "uco-observable:accountIssuer", "kb:url-ok", True, None, "r1"),
        ("kb:url-ok", "rdf:type", "uco-observable:URL", True, None, "r1"),
        ("kb:acct-2", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:acct-2", "uco-observable:accountIssuer", "kb:cdf-bad", True, None, "r1"),
        ("kb:cdf-bad", "rdf:type", "uco-observable:ContentDataFacet", True, None, "r1"),
        # untyped ref: dangling_refs' business, not this rule's
        ("kb:acct-3", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:acct-3", "uco-observable:accountIssuer", "kb:ghost", True, None, "r1"),
        # multi-typed object with ONE admissible type: sh:class conforms
        # (per value node, not per type row) — no violation
        ("kb:acct-4", "rdf:type", "uco-observable:AccountFacet", True, None, "r1"),
        ("kb:acct-4", "uco-observable:accountIssuer", "kb:multi", True, None, "r1"),
        ("kb:multi", "rdf:type", "uco-observable:URL", True, None, "r1"),
        ("kb:multi", "rdf:type", "uco-observable:ContentDataFacet", True, None, "r1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    v = validation.check_object_class(triples, d).collect()
    assert len(v) == 1
    assert v[0]["subj"] == "kb:acct-2"
    assert v[0]["required_class"] == "UcoObject"
    assert v[0]["object_class"] == "ContentDataFacet"


def test_has_value_required_member(spark):
    """sh:hasValue (check_has_value): every observable:Observation must
    assert core:name = "observe" (uco-observable.ttl Observation shape);
    a conforming subject passes, a missing or wrong-valued name is
    flagged, and other classes never match the rule."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    # the compiler extracted the five top-level hasValue slots
    assert d["shapes"]["Observation"]["name"]["hasValue"] == "observe"
    assert (
        d["shapes"]["LicenseMarking"]["definitionType"]["hasValue"]
        == "license"
    )
    rows = [
        ("kb:o1", "rdf:type", "uco-observable:Observation", True, None, "r"),
        ("kb:o1", "uco-core:name", "observe", False, None, "r"),
        ("kb:o2", "rdf:type", "uco-observable:Observation", True, None, "r"),
        ("kb:o2", "uco-core:name", "watch", False, None, "r"),
        ("kb:o3", "rdf:type", "uco-observable:Observation", True, None, "r"),
        # URL subjects are outside the shape's scope entirely
        ("kb:u1", "rdf:type", "uco-observable:URL", True, None, "r"),
        ("kb:u1", "uco-core:name", "not-observe", False, None, "r"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string",
    )
    v = {
        r["subj"]: r["required"]
        for r in validation.check_has_value(triples, d).collect()
    }
    # o2 (wrong value) and o3 (missing) flagged; o1 and the URL pass
    assert v == {"kb:o2": "observe", "kb:o3": "observe"}


def test_sparql_constraint_rules(spark):
    """Round-5 port of the instance-level sh:SPARQLConstraints the
    reference evaluates via pySHACL (tools.py:357-390):
    UcoThing-not-blank (uco-core.ttl:492-506, hard), UcoThing-UUID-suffix
    (uco-core.ttl:508-534, sh:Info), hasFacet-single-owner
    (uco-core.ttl:646-666, incl. the direct owl:sameAs exception)."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rows = [
        # blank-node UcoThing: hard violation
        ("_:b1", "rdf:type", "uco-observable:URL", True, None, "r", "f"),
        # IRI not ending in a uuid: Info advisory only
        ("kb:x-not-a-uuid", "rdf:type", "uco-observable:URL", True, None, "r", "f"),
        # one facet, two owners: violation for BOTH owners
        ("kb:a", "uco-core:hasFacet", "kb:f1", True, None, "r", "f"),
        ("kb:b", "uco-core:hasFacet", "kb:f1", True, None, "r", "f"),
        # one facet, two owners linked by direct owl:sameAs: exempt
        ("kb:c", "uco-core:hasFacet", "kb:f2", True, None, "r", "f"),
        ("kb:d", "uco-core:hasFacet", "kb:f2", True, None, "r", "f"),
        ("kb:c", "owl:sameAs", "kb:d", True, None, "r", "f"),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string, fingerprint string",
    )
    nb = [r.subj for r in validation.check_ucothing_not_blank(t, d).collect()]
    assert nb == ["_:b1"]
    ui = sorted(
        r.subj for r in validation.check_ucothing_uuid_suffix(t, d).collect()
    )
    assert ui == ["_:b1", "kb:x-not-a-uuid"]
    so = sorted(
        (r.facet, r.owner)
        for r in validation.check_facet_single_owner(t).collect()
    )
    assert so == [("kb:f1", "kb:a"), ("kb:f1", "kb:b")]

    # a subject typed as a NON-UcoThing class is out of the target set
    other = spark.createDataFrame(
        [("_:b9", "rdf:type", "ex:NotInOntology", True, None, "r", "f")],
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string, fingerprint string",
    )
    assert validation.check_ucothing_not_blank(other, d).count() == 0


def test_dictionary_key_constraints_not_applicable(spark, sf_dir):
    """The remaining instance-level sh:SPARQLConstraints — Dictionary
    key-uniqueness (uco-types.ttl:71-) and ProperDictionary key-once — are
    non-applicable by construction: the emission surface never types a
    node types:Dictionary / types:ProperDictionary / types:ImproperDictionary.
    Pinned here so a future emission change re-opens the question."""
    from case_uco_ontology_map_spark.plans.pipeline import fused_page_triples
    from case_uco_ontology_map_spark.sources.corpus import web_corpus

    t = fused_page_triples(web_corpus(spark, sf_dir).limit(30))
    dict_typed = t.filter(
        (F.col("pred") == "rdf:type")
        & F.col("obj").isin(
            "uco-types:Dictionary",
            "uco-types:ProperDictionary",
            "uco-types:ImproperDictionary",
        )
    )
    assert dict_typed.count() == 0


def test_class_disjointness_warning(spark):
    """sh:not disjointness (uco-core.ttl: UcoInherentCharacterizationThing
    disjointWith UcoObject, severity Warning): a node typed as BOTH a
    facet class and a UcoObject class is flagged; single-hierarchy nodes
    are not. Reported as class_disjointness_info (Warning never breaks
    conformance)."""
    from case_uco_ontology_map_spark.refmap.ontology import load_dictionary

    d = load_dictionary()
    rows = [
        ("kb:both", "rdf:type", "uco-observable:URLFacet", True, None, "r", "f"),
        ("kb:both", "rdf:type", "uco-observable:URL", True, None, "r", "f"),
        ("kb:facet-only", "rdf:type", "uco-observable:URLFacet", True, None, "r", "f"),
        ("kb:obj-only", "rdf:type", "uco-observable:URL", True, None, "r", "f"),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, record_uuid string, fingerprint string",
    )
    got = [r.subj for r in validation.check_class_disjointness(t, d).collect()]
    assert got == ["kb:both"]
    assert validation.is_conformant(
        {"class_disjointness_info": 1, "placement": 0}
    ), "Warning tier must not break conformance"
