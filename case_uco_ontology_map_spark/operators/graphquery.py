"""Basic-graph-pattern (BGP) query compiler over the emitted triple table —
the consumer-side query surface of the KG: a SPARQL-style conjunction of
``(subject, predicate, object)`` patterns compiled to a DataFrame join
tree. (No reference counterpart as code — the reference emits JSON-LD for
downstream SPARQL stores; this gives the same query shape natively on the
Spark triple table, cf. the 2-hop traversal the contract's
``graph_traverse`` query pins.)

Compilation strategy (Spark-first, no driver-side row work):

- Each pattern becomes one scan of the triple frame with its CONSTANT
  terms as pushed filters — on the materialized triple table (bucketed by
  subject, see ``plans.pipeline.run_pipeline``) a constant subject prunes
  to one bucket's files, and constant predicates are low-cardinality
  dictionary-encoded parquet columns (row-group skippable).
- Join order is chosen greedily by a bound-term selectivity score
  (constant subject ≫ constant object > constant predicate — predicates
  are the low-cardinality dimension of any triple store), starting from
  the most selective pattern and always extending through a shared
  variable, so no cartesian product ever reaches Catalyst unless the
  caller explicitly opts in (``allow_cartesian=True``).
- Joins are plain equi-joins on the shared variable columns: AQE
  broadcasts a pattern frame once a constant filter has made it small,
  and skew-splits a hot join key (a hub node) at runtime. Nothing here
  fights the optimizer — the compiler only fixes the join ORDER (which
  Catalyst cannot infer without cardinality stats on variable bindings).

A term is a variable iff it starts with ``?``; anything else matches the
column value literally. A variable repeated WITHIN one pattern compiles
to an intra-row equality filter; across patterns it becomes the join key.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .barrier import materialize

Pattern = Tuple[str, str, str]

#: Predicate suffix marking a one-or-more property path (SPARQL ``p+``).
_PATH_SUFFIX = "+"

#: All SPARQL path-modifier suffixes: one-or-more / zero-or-more /
#: zero-or-one.
_PATH_MODS = ("+", "*", "?")

#: Selectivity weight of a CONSTANT in each triple position. Subjects are
#: near-unique (one node id), objects split between IRIs (selective) and
#: literals, predicates are the handful of ontology properties.
_BOUND_WEIGHT = {"subj": 4, "obj": 2, "pred": 1}


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _var(term: str) -> str:
    return term[1:]


def pattern_vars(pattern: Pattern) -> List[str]:
    """Variable names of one pattern, in subj/pred/obj position order,
    deduplicated (repeated variable = one binding)."""
    seen: List[str] = []
    for t in pattern:
        if _is_var(t) and _var(t) not in seen:
            seen.append(_var(t))
    return seen


def _pattern_score(pattern: Pattern) -> int:
    if len(pattern) == 4:
        # quad pattern (graph, subj, pred, obj) — a constant graph
        # prunes to one named graph's partitions: between subject and
        # object selectivity
        cols4 = ("graph", "subj", "pred", "obj")
        w = dict(_BOUND_WEIGHT, graph=3)
        return sum(
            w[c] for c, t in zip(cols4, pattern) if not _is_var(t)
        )
    cols = ("subj", "pred", "obj")
    return sum(
        _BOUND_WEIGHT[c] for c, t in zip(cols, pattern) if not _is_var(t)
    )


def _compile_pattern(
    triples: DataFrame,
    pattern: Pattern,
    cols: Tuple[str, str, str],
) -> DataFrame:
    """One pattern → scan + constant filters (+ repeated-var equality),
    projected to its variable columns."""
    out = triples
    position_of: Dict[str, str] = {}
    for col, term in zip(cols, pattern):
        if _is_var(term):
            v = _var(term)
            if v in position_of:
                # same variable twice in one pattern: intra-row equality
                out = out.filter(F.col(col) == F.col(position_of[v]))
            else:
                position_of[v] = col
        elif col == cols[1] and _is_negated_set(term):
            # SPARQL negated property set (!p1|p2 ≙ !(p1|p2)): any
            # predicate NOT in the listed set
            out = out.filter(~F.col(col).isin(*term[1:].split("|")))
        elif col == cols[1] and _is_alternation(term):
            # SPARQL alternation (p1|p2): predicate matches any listed IRI
            out = out.filter(F.col(col).isin(*term.split("|")))
        else:
            out = out.filter(F.col(col) == F.lit(term))
    if not position_of:
        # fully-ground pattern: existence check; keep a constant column so
        # the frame is non-empty schema-wise and joinable via cross of 0/1
        # rows — callers almost never do this, but it must not crash.
        return out.select(F.lit(1).alias("_ground")).limit(1)
    return out.select(
        *[F.col(c).alias(v) for v, c in position_of.items()]
    )


def join_order(patterns: Sequence[Pattern]) -> List[int]:
    """Greedy bound-term join order: start at the most selective pattern,
    then repeatedly take the most selective pattern sharing ≥1 variable
    with the already-bound set. Returns pattern indices. Raises if the
    conjunction is disconnected (a cartesian product) — callers opt into
    that explicitly via ``bgp_query(allow_cartesian=True)``."""
    if not patterns:
        raise ValueError("bgp_query needs at least one pattern")
    remaining = list(range(len(patterns)))
    # seed: max score, ties to the earliest-written pattern (deterministic)
    seed = max(remaining, key=lambda i: (_pattern_score(patterns[i]), -i))
    order = [seed]
    remaining.remove(seed)
    bound = set(pattern_vars(patterns[seed]))
    while remaining:
        connected = [
            i for i in remaining if bound & set(pattern_vars(patterns[i]))
        ]
        if not connected:
            raise ValueError(
                "disconnected BGP (patterns share no variable with the "
                "joined set) — this is a cartesian product; pass "
                "allow_cartesian=True if you really mean it"
            )
        nxt = max(connected, key=lambda i: (_pattern_score(patterns[i]), -i))
        order.append(nxt)
        remaining.remove(nxt)
        bound |= set(pattern_vars(patterns[nxt]))
    return order


#: Hops each frontier round advances. At bench scale a round's cost is
#: fixed operation overhead (anti-join 0.84 s + join+distinct 1.19 s on
#: materialized frames regardless of size), so rounds = depth/stride is
#: the lever; on a cluster the same stride divides the synchronization
#: barriers for the same join work. 2→4 cut the 80k-node heap-forest
#: closure a further ~20%; past 4 the joins dominate.
FRONTIER_STRIDE = 4


def semi_naive_frontier(
    edges: DataFrame,
    seed,
    keys: Sequence[str],
    dist_col: str,
    start: int,
    max_hops: Optional[int] = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """The one semi-naive frontier kernel behind ``transitive_closure``,
    ``graphstats.bfs_distances`` and ``graphstats.landmark_distances``.

    State rows are ``(*keys, dist_col)``: ``keys[-1]`` is the HEAD column
    a round extends along an edge, the other keys are carried unchanged
    (the closure's source, the landmark). ``seed(e)`` builds the rows at
    distance ``start`` from the prepared edge frame ``e`` (``_es``,
    ``_ed``: distinct, non-null, hash-partitioned on ``_es`` once and
    persisted, so each round shuffles only the frontier). Returns every
    key reachable within ``max_hops`` at its minimal distance.

    Each round advances ``FRONTIER_STRIDE`` hops: level s extends level
    s-1 by one edge (intermediate levels distinct'd so fan-out never
    multiplies), a groupBy-min over the levels keeps each key's minimal
    distance (level s is complete for minimal-distance h+s keys by
    semi-naive induction), and ONE anti-join against the known set plus
    ONE barrier close the round — a key is derived at its minimal
    distance and never again, so cyclic graphs terminate. The barrier
    observes the round's row count and last-level count: no longer path
    exists once nothing was first reached at the stride's last hop.

    ``known`` stays a lazy union of the materialized rounds (the
    union-of-frontiers set of *Joins over UNION ALL Queries in Teradata*,
    SIGMOD 2018): re-materializing the whole reach set per round would
    rewrite O(closure) rows per round for data already materialized once.
    Every round is read by the result, so none is released."""
    keys = list(keys)
    head, carried = keys[-1], keys[:-1]
    shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = (
        edges.select(F.col(src).alias("_es"), F.col(dst).alias("_ed"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
        .repartition(shuffle, "_es")
        .persist()
    )
    known, _ = materialize(seed(e))
    frontier = known.select(*keys)
    h = start
    while max_hops is None or h < max_hops:
        k = FRONTIER_STRIDE if max_hops is None else min(
            FRONTIER_STRIDE, max_hops - h
        )
        cur, cand = frontier, None
        for s in range(1, k + 1):
            cur = cur.join(e, on=cur[head] == e["_es"]).select(
                *carried, F.col("_ed").alias(head)
            )
            if s < k:
                cur = cur.distinct()
            level = cur.withColumn(dist_col, F.lit(h + s))
            cand = level if cand is None else cand.unionByName(level)
        cand = cand.groupBy(*keys).agg(F.min(dist_col).alias(dist_col))
        new = cand.join(known.select(*keys), on=keys, how="left_anti")
        h += k
        new, (n_new, n_last) = materialize(
            new,
            F.count(F.lit(1)),
            F.coalesce(F.sum((F.col(dist_col) == h).cast("long")), F.lit(0)),
        )
        if n_new == 0:
            break
        known = known.unionByName(new)
        if n_last == 0:
            break
        # only keys first reached at the stride's last hop extend further:
        # earlier levels were already extended within this round
        frontier = new.filter(F.col(dist_col) == h).select(*keys)
    e.unpersist()
    return known


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: Optional[int] = None,
) -> DataFrame:
    """Reachability with minimal hop count: ``(src, dst, hops)`` for every
    pair connected by a directed path, ``hops`` = shortest path length.
    The engine behind SPARQL ``p+`` property paths (``rdfs:subClassOf+``,
    provenance ``derivedFrom+`` chains).

    Algorithm: semi-naive Datalog iteration (BSP) on
    ``semi_naive_frontier``, seeded with the edges at hop 1 and carrying
    the source: each round joins the FRONTIER (pairs first reached at the
    previous round's last hop) against the edge frame and anti-joins the
    accumulated reach set, so each pair is derived at its minimal hop
    count and the loop terminates on cyclic graphs too. Rounds = graph
    diameter / stride. The doubling variant (O(log d) rounds) joins
    path×path and re-derives every pair ~d/2 times; semi-naive wins when
    edges ≫ frontier, which is every real provenance/hierarchy graph.
    """
    return semi_naive_frontier(
        edges,
        lambda e: e.select(
            F.col("_es").alias(src), F.col("_ed").alias(dst), F.lit(1).alias("hops")
        ),
        [src, dst],
        "hops",
        1,
        max_hops,
        src,
        dst,
    )


def _is_path(term: str) -> bool:
    is_p = (
        isinstance(term, str)
        and term.endswith(_PATH_MODS)
        and not _is_var(term)
        and len(term) > 1
    )
    if is_p and "|" in term:
        raise ValueError(
            f"predicate {term!r} mixes alternation (|) with a property "
            "path modifier — compose them as separate patterns instead"
        )
    if is_p and term.startswith("!"):
        raise ValueError(
            f"predicate {term!r} mixes a negated property set (!) with a "
            "path modifier — unsupported; compose as separate patterns"
        )
    return is_p


def _path_parts(term: str) -> Tuple[str, str]:
    """``p+``/``p*``/``p?`` → ``(p, mod)``."""
    return term[:-1], term[-1]


def _is_negated_set(term: str) -> bool:
    """Constant predicate of the SPARQL negated-property-set form
    ``!p`` / ``!p1|p2`` (written for ``!(p1|p2)`` — ``|`` inside a ``!``
    set always means the set form in SPARQL grammar)."""
    ok = (
        isinstance(term, str)
        and term.startswith("!")
        and len(term) > 1
        and not _is_var(term)
    )
    if ok and any(c in term for c in ("^", "/", "+", "*", "?")):
        raise ValueError(
            f"predicate {term!r} mixes a negated property set (!) with "
            "inverse/sequence/modifier syntax — only forward IRI sets "
            "(!p or !p1|p2) are supported; compose anything else as "
            "separate patterns"
        )
    if ok and not all(p for p in term[1:].split("|")):
        raise ValueError(f"empty IRI in negated property set {term!r}")
    return ok


def _is_sequence(term: str) -> bool:
    """Constant predicate of the SPARQL sequence-path form ``p1/p2/...``.
    Elements may carry ``^`` inverse and ``+``/``*``/``?`` modifiers
    (SPARQL precedence: modifiers and ``^`` bind tighter than ``/``).
    ``|`` inside a sequence raises — ``a|b/c`` parses as ``a|(b/c)``,
    which one pattern expansion cannot express."""
    if not isinstance(term, str) or _is_var(term) or "/" not in term:
        return False
    if "://" in term:
        # a FULL IRI predicate (http://...) — its slashes are not path
        # syntax; match it literally
        return False
    # Otherwise IRIs in this engine are CURIEs (prefix:local) — a '/'
    # can only be path syntax.
    if "|" in term:
        raise ValueError(
            f"predicate {term!r} mixes alternation (|) with a sequence "
            "path (/) — SPARQL parses 'a|b/c' as 'a|(b/c)'; write "
            "separate patterns instead"
        )
    if not all(p for p in term.split("/")):
        raise ValueError(f"empty element in sequence path {term!r}")
    return True


def _expand_sequences(
    patterns: Sequence[Pattern], tag: str = "seq"
) -> List[Pattern]:
    """Rewrite every sequence-path pattern ``(s, a/b/c, o)`` into the
    chain ``(s, a, ?__tagI_0), (?__tagI_0, b, ?__tagI_1),
    (?__tagI_1, c, o)`` with deterministic internal variables (``__``
    prefix — never part of the default projection). Both engines expand
    identically, so the SQL oracle replays the same join chain."""
    out: List[Pattern] = []
    for i, p in enumerate(patterns):
        s, pred, o = p
        if isinstance(pred, str) and not _is_var(pred) and _is_sequence(pred):
            elems = pred.split("/")
            cur = s
            for j, e in enumerate(elems):
                nxt = o if j == len(elems) - 1 else f"?__{tag}{i}_{j}"
                out.append((cur, e, nxt))
                cur = nxt
        else:
            out.append(p)
    return out


def _normalize_inverse(pattern: Pattern) -> Pattern:
    """SPARQL inverse path ``^p``: ``(s, ^p, o)`` ≡ ``(o, p, s)`` — strip
    the caret and swap the subject/object terms, so every downstream
    compile path (plain, alternation, ``p+`` closure) handles inverses
    for free. Composes: ``^p+`` is the inverse transitive closure
    (``^(p+) ≡ (^p)+`` — the closure of the reversed edge set).

    Mixing ``^`` with alternation in one predicate raises: SPARQL
    precedence makes ``^p1|p2`` mean ``(^p1)|p2``, which a single
    subject/object swap cannot express — write two patterns (or a
    same-direction alternation) instead of guessing."""
    s, pred, o = pattern
    if (
        isinstance(pred, str)
        and pred.startswith("^")
        and not _is_var(pred)
        and len(pred) > 1
    ):
        if "|" in pred:
            raise ValueError(
                f"predicate {pred!r} mixes inverse (^) with alternation "
                "(|) — SPARQL parses '^p1|p2' as '(^p1)|p2', which one "
                "subject/object swap cannot express; use separate "
                "patterns"
            )
        return (o, pred[1:], s)
    return pattern


def _is_alternation(term: str) -> bool:
    """Constant predicate of the SPARQL alternation form ``p1|p2|...``."""
    return (
        isinstance(term, str)
        and "|" in term
        and not _is_var(term)
        and all(part for part in term.split("|"))
    )


def _compile_path_pattern(
    triples: DataFrame,
    pattern: Pattern,
    cols: Tuple[str, str, str],
    max_hops: Optional[int],
) -> DataFrame:
    """``(s, p+, o)`` → transitive closure of predicate ``p``'s edge set,
    with the subject/object terms applied as filters/bindings on the
    closure frame exactly as constants/variables apply on a plain scan.
    ``p*`` adds the zero-length rows (SPARQL semantics: a ground end term
    matches itself; two distinct variables match every term of the graph
    — all subjects and objects); ``p?`` is the direct edge set plus the
    same zero-length rows, no closure iteration at all."""
    s_col, p_col, o_col = cols
    base, mod = _path_parts(pattern[1])
    edges = triples.filter(F.col(p_col) == F.lit(base)).select(
        F.col(s_col).alias("src"), F.col(o_col).alias("dst")
    )
    if mod == "?":
        paths = edges.distinct().withColumn("hops", F.lit(1))
    else:
        paths = transitive_closure(edges, max_hops=max_hops)
    if mod in ("*", "?"):
        s_term, o_term = pattern[0], pattern[2]
        ground = next(
            (t for t in (s_term, o_term) if not _is_var(t)), None
        )
        if ground is not None:
            # ZeroLengthPath(term X, _) = {X → X} (graph membership not
            # required by the spec)
            zero = triples.sparkSession.range(1).select(
                F.lit(ground).alias("src"),
                F.lit(ground).alias("dst"),
                F.lit(0).alias("hops"),
            )
        else:
            # both ends variable: every term of the graph matches itself
            zero = (
                triples.select(F.col(s_col).alias("t"))
                .unionByName(triples.select(F.col(o_col).alias("t")))
                .distinct()
                .select(
                    F.col("t").alias("src"),
                    F.col("t").alias("dst"),
                    F.lit(0).alias("hops"),
                )
            )
        # a 1-hop self-loop must not shadow its hops=0 zero-length row
        # in `?`/`*` mode where both exist — SPARQL path results are
        # node pairs, so collapse to the minimal hop count
        paths = (
            paths.unionByName(zero)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
        )
    out = paths
    position_of: Dict[str, str] = {}
    for col, term in (("src", pattern[0]), ("dst", pattern[2])):
        if _is_var(term):
            v = _var(term)
            if v in position_of:
                out = out.filter(F.col(col) == F.col(position_of[v]))
            else:
                position_of[v] = col
        else:
            out = out.filter(F.col(col) == F.lit(term))
    if not position_of:
        return out.select(F.lit(1).alias("_ground")).limit(1)
    return out.select(*[F.col(c).alias(v) for v, c in position_of.items()])


def bgp_query(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    allow_cartesian: bool = False,
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    bind: Sequence[Tuple[str, str]] = (),
    order_by: Sequence[str] = (),
    limit: Optional[int] = None,
    offset: int = 0,
    path_max_hops: Optional[int] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Conjunctive triple-pattern match → DataFrame of variable bindings.

    ``patterns``: ``[(s, p, o), ...]`` where a term starting with ``?`` is
    a variable and anything else a constant. A constant predicate ending
    in ``+`` is a one-or-more property path (SPARQL ``p+``): the pattern
    matches via the transitive closure of that predicate's edge set
    (``transitive_closure``), optionally bounded by ``path_max_hops``.
    A constant predicate of the form ``p1|p2`` is a SPARQL alternation —
    the pattern matches any of the listed predicates (one isin filter;
    mixing ``|`` with a path modifier raises). A constant predicate
    starting with ``^`` is a SPARQL inverse path: the subject/object
    roles swap before compilation (``^p+`` is the inverse closure; ``^``
    with ``|`` raises — SPARQL precedence makes that ``(^p1)|p2``).
    ``p*`` / ``p?`` are the zero-or-more / zero-or-one paths (closure or
    direct edges plus zero-length rows per SPARQL: a ground end matches
    itself, two distinct variables match every graph term). ``!p1|p2``
    is the negated property set ``!(p1|p2)`` — any predicate NOT listed.
    ``a/b/c`` is a sequence path, expanded into a chain of patterns over
    internal ``__``-prefixed variables (elements may carry ``^`` and
    modifiers — SPARQL precedence binds those tighter than ``/``;
    sequences are required-block only).
    ``optional``: OPTIONAL patterns, left-joined after the required block
    in written order — their new variables come back NULL where unmatched
    (SPARQL OPTIONAL semantics; each must share ≥1 bound variable).
    ``filters``: portable ANSI boolean expressions over binding columns
    (e.g. ``"n > 3"``, ``"hash LIKE 'ab%'"``), applied after all joins —
    the same strings run under Catalyst (``F.expr``) and in the DuckDB
    oracle via ``bgp_sql(filters=...)``. ``minus``: SPARQL negation
    (FILTER NOT EXISTS) — bindings matching any of these patterns are
    dropped via an anti-join on shared variables; variables a MINUS
    pattern newly introduces are existential. ``exists``: SPARQL FILTER
    EXISTS — the positive twin, a semi-join keeping only bindings the
    pattern matches. ``bind``: SPARQL BIND as ``[(expr, alias), ...]``
    portable expression strings evaluated after the where block over the
    full binding scope (sequentially — a bind may reference an earlier
    alias; rebinding a variable raises); aliases join the default
    projection and are selectable/orderable. ``select``: output variable
    names (no ``?``), default all variables in first-appearance order.
    ``distinct=False`` keeps SPARQL bag semantics. Solution modifiers:
    ``order_by`` takes ``"var"`` / ``"var DESC"`` entries over SELECTED
    variables; ``limit``/``offset`` slice the ordered solutions. A
    ``limit`` (or ``offset``) without a TOTAL order is nondeterministic
    across engines, so it raises unless ``order_by`` is given — pass an
    order that reaches a unique key if you want stable hashes.

    Scale: each pattern is one filtered scan of the (bucket-partitioned)
    triple table; the join tree is equi-joins on binding columns in
    greedy most-selective-first order; AQE broadcasts/skew-splits at
    runtime. No Python runs per row and no cartesian join is planned
    unless ``allow_cartesian=True``.
    """
    cols = (subj_col, pred_col, obj_col)
    for p in list(optional) + list(minus) + list(exists):
        if not _is_var(p[1]) and _is_sequence(p[1]):
            raise ValueError(
                f"sequence path in OPTIONAL/MINUS pattern {p}: group "
                "semantics (all-or-nothing match) are not what per-"
                "pattern left/anti joins express — join the chain in the "
                "required block or pre-materialize it"
            )
    expanded = _expand_sequences(patterns)
    try:
        order = join_order(expanded)
    except ValueError:
        if not allow_cartesian:
            raise
        # degenerate explicit opt-in: join connected groups greedily and
        # cross the leftovers in written order
        order = list(range(len(expanded)))

    def _compile(p: Pattern) -> DataFrame:
        p = _normalize_inverse(p)
        if _is_path(p[1]):
            return _compile_path_pattern(triples, p, cols, path_max_hops)
        return _compile_pattern(triples, p, cols)

    compiled = [_compile(p) for p in expanded]
    out = compiled[order[0]]
    bound = set(out.columns)
    for i in order[1:]:
        nxt = compiled[i]
        shared = sorted(bound & set(nxt.columns))
        out = out.join(nxt, on=shared) if shared else out.crossJoin(nxt)
        bound |= set(nxt.columns)
    for p in optional:
        nxt = _compile(p)
        shared = sorted(bound & set(nxt.columns))
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {p} shares no variable with the "
                "required block — unscoped OPTIONAL is a cartesian product"
            )
        out = out.join(nxt, on=shared, how="left")
        bound |= set(nxt.columns)
    for p in minus:
        # SPARQL negation (FILTER NOT EXISTS / MINUS on shared vars):
        # drop every binding for which the pattern matches — one
        # anti-join on the shared variables. New variables a MINUS
        # pattern introduces are existential (never projected).
        nxt = _compile(p)
        shared = sorted(bound & set(nxt.columns))
        if not shared:
            raise ValueError(
                f"MINUS pattern {p} shares no variable with the bound "
                "block — unscoped negation would drop everything or "
                "nothing"
            )
        out = out.join(
            nxt.select(*shared).distinct(), on=shared, how="left_anti"
        )
    for p in exists:
        # SPARQL FILTER EXISTS — the positive twin of MINUS: keep only
        # bindings for which the pattern matches, one semi-join on the
        # shared variables; new variables stay existential.
        nxt = _compile(p)
        shared = sorted(bound & set(nxt.columns))
        if not shared:
            raise ValueError(
                f"EXISTS pattern {p} shares no variable with the bound "
                "block — unscoped EXISTS would keep everything or "
                "nothing"
            )
        out = out.join(
            nxt.select(*shared).distinct(), on=shared, how="left_semi"
        )
    for f in filters:
        out = out.filter(F.expr(f))
    all_vars: List[str] = []
    for p in list(patterns) + list(optional):
        for v in pattern_vars(p):
            if v not in all_vars:
                all_vars.append(v)
    for expr, alias in bind:
        # SPARQL BIND (scoped here: after the where block, before the
        # projection — a bind may reference any binding or earlier bind,
        # and may be selected/ordered like a variable). Rebinding raises,
        # matching SPARQL's in-scope restriction.
        if alias in bound:
            raise ValueError(f"BIND alias {alias!r} rebinds a variable")
        out = out.withColumn(alias, F.expr(expr))
        bound.add(alias)
        all_vars.append(alias)
    keep = list(select) if select is not None else all_vars
    missing = [v for v in keep if v not in bound]
    if missing:
        raise ValueError(f"select references unbound variables: {missing}")
    out = out.select(*keep)
    if distinct:
        out = out.distinct()
    if (limit is not None or offset) and not order_by:
        raise ValueError(
            "limit/offset without order_by is nondeterministic — give a "
            "total order (append a unique variable)"
        )
    if order_by:
        out = out.orderBy(*[_order_col(o, keep) for o in order_by])
    if offset:
        out = out.offset(int(offset))
    if limit is not None:
        out = out.limit(int(limit))
    return out


def _order_col(spec: str, keep: Sequence[str]):
    """``"var"`` / ``"var ASC"`` / ``"var DESC"`` → ordered Column over a
    SELECTED variable (ordering by a dropped binding raises — SQL could,
    but the two engines must sort the same frame)."""
    parts = spec.split()
    if not parts or len(parts) > 2:
        raise ValueError(f"bad order_by entry {spec!r}")
    v = parts[0]
    d = parts[1].upper() if len(parts) == 2 else "ASC"
    if d not in ("ASC", "DESC"):
        raise ValueError(f"bad order direction in {spec!r}")
    if v not in keep:
        raise ValueError(
            f"order_by variable {v!r} is not in the selected columns"
        )
    return F.col(v).desc() if d == "DESC" else F.col(v).asc()


def bgp_sql(
    patterns: Sequence[Pattern],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    bind: Sequence[Tuple[str, str]] = (),
    order_by: Sequence[str] = (),
    limit: Optional[int] = None,
    offset: int = 0,
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """The same BGP as portable ANSI SQL over a triple table/CTE named
    ``table`` — one aliased scan per pattern joined on shared variables,
    OPTIONAL patterns as LEFT JOINs, ``filters`` as an outer WHERE.
    Used by the contract oracle so DuckDB replays the identical semantics
    (join ORDER does not affect the result set, only the plan).

    Restrictions vs ``bgp_query`` (raise loudly): property paths (``p+``)
    are not single-SELECT-expressible — use ``closure_sql`` for the
    oracle side; each OPTIONAL pattern must take its shared variables
    from the REQUIRED block and must not rebind a variable another
    OPTIONAL already introduced."""
    for p in list(optional) + list(minus) + list(exists):
        if not _is_var(p[1]) and _is_sequence(p[1]):
            raise ValueError(
                f"sequence path in OPTIONAL/MINUS pattern {p} "
                "(bgp_sql restriction, matching bgp_query)"
            )
    patterns = [_normalize_inverse(p) for p in _expand_sequences(patterns)]
    optional = [_normalize_inverse(p) for p in optional]
    minus = [_normalize_inverse(p) for p in minus]
    exists = [_normalize_inverse(p) for p in exists]
    for p in list(patterns) + list(optional) + list(minus) + list(exists):
        if _is_path(p[1]):
            raise ValueError(
                f"property path in {p}: not expressible as one SELECT — "
                "use closure_sql()/path_sql() for the oracle"
            )
    cols = (subj_col, pred_col, obj_col)
    aliases = [f"t{i}" for i in range(len(patterns))]
    where: List[str] = []
    binding: Dict[str, str] = {}  # var -> first qualified column
    for alias, pattern in zip(aliases, patterns):
        for col, term in zip(cols, pattern):
            q = f"{alias}.{col}"
            if _is_var(term):
                v = _var(term)
                if v in binding:
                    where.append(f"{q} = {binding[v]}")
                else:
                    binding[v] = q
            elif col == pred_col and _is_negated_set(term):
                opts = ", ".join(
                    "'" + p.replace("'", "''") + "'"
                    for p in term[1:].split("|")
                )
                where.append(f"{q} NOT IN ({opts})")
            elif col == pred_col and _is_alternation(term):
                opts = ", ".join(
                    "'" + p.replace("'", "''") + "'" for p in term.split("|")
                )
                where.append(f"{q} IN ({opts})")
            else:
                where.append(f"{q} = '" + term.replace("'", "''") + "'")
    req_vars: List[str] = []
    for p in patterns:
        for v in pattern_vars(p):
            # internal sequence-expansion vars join but never project
            if v not in req_vars and not v.startswith("__"):
                req_vars.append(v)
    all_vars = list(req_vars)
    frm = " CROSS JOIN ".join(f"{table} {a}" for a in aliases)
    req_proj = ", ".join(f"{binding[v]} AS {v}" for v in req_vars)
    req_sql = f"SELECT {req_proj} FROM {frm}"
    if where:
        req_sql += " WHERE " + " AND ".join(where)

    if (not optional and not filters and not minus and not exists
            and not bind):
        keep = list(select) if select is not None else all_vars
        proj = ", ".join(f"{binding[v]} AS {v}" for v in keep)
        sql = f"SELECT {'DISTINCT ' if distinct else ''}{proj} FROM {frm}"
        if where:
            sql += " WHERE " + " AND ".join(where)
        return sql + _modifier_sql(order_by, limit, offset, keep)

    # OPTIONAL / FILTER form: required block as a derived table, one LEFT
    # JOIN per optional pattern, filters in an outer wrapper (so they see
    # the plain variable names, NULLs from unmatched OPTIONALs included).
    var_source: Dict[str, str] = {v: "r" for v in req_vars}
    joins: List[str] = []
    for j, pat in enumerate(optional):
        oal = f"o{j}"
        sub_where: List[str] = []
        sub_binding: Dict[str, str] = {}
        for col, term in zip(cols, pat):
            if _is_var(term):
                v = _var(term)
                if v in sub_binding:
                    sub_where.append(f"{col} = {sub_binding[v]}")
                else:
                    sub_binding[v] = col
            elif col == pred_col and _is_negated_set(term):
                opts = ", ".join(
                    "'" + p.replace("'", "''") + "'"
                    for p in term[1:].split("|")
                )
                sub_where.append(f"{col} NOT IN ({opts})")
            elif col == pred_col and _is_alternation(term):
                opts = ", ".join(
                    "'" + p.replace("'", "''") + "'" for p in term.split("|")
                )
                sub_where.append(f"{col} IN ({opts})")
            else:
                sub_where.append(f"{col} = '" + term.replace("'", "''") + "'")
        shared = [v for v in sub_binding if v in req_vars]
        news = [v for v in sub_binding if v not in req_vars]
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {pat} shares no variable with the "
                "required block (bgp_sql restriction)"
            )
        clash = [v for v in news if v in var_source]
        if clash:
            raise ValueError(
                f"OPTIONAL pattern {pat} rebinds {clash} already bound by "
                "another OPTIONAL (bgp_sql restriction)"
            )
        sub_proj = ", ".join(f"{c} AS {v}" for v, c in sub_binding.items())
        sub = f"SELECT {sub_proj} FROM {table}"
        if sub_where:
            sub += " WHERE " + " AND ".join(sub_where)
        on = " AND ".join(f"r.{v} = {oal}.{v}" for v in shared)
        joins.append(f"LEFT JOIN ({sub}) {oal} ON {on}")
        for v in news:
            var_source[v] = oal
            if v not in all_vars:
                all_vars.append(v)
    bind_aliases: List[str] = []
    for expr, alias in bind:
        # matches bgp_query: binds evaluate AFTER filters/negation over
        # the full binding scope, then become selectable/orderable
        if alias in var_source or alias in bind_aliases:
            raise ValueError(f"BIND alias {alias!r} rebinds a variable")
        bind_aliases.append(alias)
    keep = (
        list(select) if select is not None else all_vars + bind_aliases
    )
    missing = [
        v for v in keep if v not in var_source and v not in bind_aliases
    ]
    if missing:
        raise ValueError(f"select references unbound variables: {missing}")
    # project ALL variables into the filter scope (bgp_query filters the
    # full binding frame BEFORE the select projection — a filter may
    # reference a variable the caller does not select), then project
    # ``keep`` outside
    inner_proj = ", ".join(f"{var_source[v]}.{v} AS {v}" for v in all_vars)
    body = f"SELECT {inner_proj} FROM ({req_sql}) r " + " ".join(joins)
    conds = [f"({f})" for f in filters]
    for kind, plist, kw in (
        ("MINUS", minus, "NOT EXISTS"),
        ("EXISTS", exists, "EXISTS"),
    ):
        for j, pat in enumerate(plist):
            mal = f"{'m' if kind == 'MINUS' else 'x'}{j}"
            mconds: List[str] = []
            m_binding: Dict[str, str] = {}
            shared_any = False
            for col, term in zip(cols, pat):
                if _is_var(term):
                    v = _var(term)
                    if v in m_binding:
                        mconds.append(
                            f"{mal}.{col} = {mal}.{m_binding[v]}"
                        )
                    elif v in all_vars:
                        mconds.append(f"{mal}.{col} = q.{v}")
                        m_binding[v] = col
                        shared_any = True
                    else:
                        m_binding[v] = col  # existential: unconstrained
                elif col == pred_col and _is_negated_set(term):
                    opts = ", ".join(
                        "'" + x.replace("'", "''") + "'"
                        for x in term[1:].split("|")
                    )
                    mconds.append(f"{mal}.{col} NOT IN ({opts})")
                elif col == pred_col and _is_alternation(term):
                    opts = ", ".join(
                        "'" + x.replace("'", "''") + "'"
                        for x in term.split("|")
                    )
                    mconds.append(f"{mal}.{col} IN ({opts})")
                else:
                    mconds.append(
                        f"{mal}.{col} = '" + term.replace("'", "''") + "'"
                    )
            if not shared_any:
                raise ValueError(
                    f"{kind} pattern {pat} shares no variable with the "
                    "bound block (bgp_sql restriction, matching bgp_query)"
                )
            mw = (" WHERE " + " AND ".join(mconds)) if mconds else ""
            conds.append(f"{kw} (SELECT 1 FROM {table} {mal}{mw})")
    if conds:
        body = f"SELECT * FROM ({body}) q WHERE " + " AND ".join(conds)
    for i, (e, a) in enumerate(bind):
        # one wrapper per bind so a later bind can reference an earlier
        # alias, exactly like bgp_query's sequential withColumn
        body = f"SELECT *, {e} AS {a} FROM ({body}) b{i}"
    if keep != all_vars + bind_aliases or distinct:
        body = (
            f"SELECT {'DISTINCT ' if distinct else ''}"
            + ", ".join(keep)
            + f" FROM ({body}) z"
        )
    return body + _modifier_sql(order_by, limit, offset, keep)


def _modifier_sql(
    order_by: Sequence[str],
    limit: Optional[int],
    offset: int,
    keep: Sequence[str],
) -> str:
    """ORDER BY / LIMIT / OFFSET suffix, validated exactly like
    ``bgp_query`` (same guards → same errors on both engines)."""
    if (limit is not None or offset) and not order_by:
        raise ValueError(
            "limit/offset without order_by is nondeterministic — give a "
            "total order (append a unique variable)"
        )
    parts: List[str] = []
    if order_by:
        cols = []
        for spec in order_by:
            toks = spec.split()
            if not toks or len(toks) > 2:
                raise ValueError(f"bad order_by entry {spec!r}")
            v = toks[0]
            d = toks[1].upper() if len(toks) == 2 else "ASC"
            if d not in ("ASC", "DESC"):
                raise ValueError(f"bad order direction in {spec!r}")
            if v not in keep:
                raise ValueError(
                    f"order_by variable {v!r} is not in the selected "
                    "columns"
                )
            cols.append(f"{v} {d}")
        parts.append("ORDER BY " + ", ".join(cols))
    if limit is not None:
        parts.append(f"LIMIT {int(limit)}")
    if offset:
        parts.append(f"OFFSET {int(offset)}")
    return (" " + " ".join(parts)) if parts else ""


def closure_sql(
    pred: str,
    max_hops: Optional[int] = None,
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """Recursive-CTE replay of ``transitive_closure`` over one predicate's
    edge set — the DuckDB oracle for ``p+`` paths. Returns a full query
    ``(src, dst, hops)`` with ``hops`` = minimal path length; embed as a
    CTE next to the triple-table CTE ``table``. Safe on cyclic graphs
    only when ``max_hops`` is set (the UNION-dedup rows differ by hops);
    the Spark operator needs no such bound — its anti-join dedups on
    (src, dst) regardless of hops."""
    p = pred.replace("'", "''")
    bound = f" WHERE r.hops < {int(max_hops)}" if max_hops is not None else ""
    return f"""
WITH RECURSIVE e AS (
  SELECT {subj_col} AS src, {obj_col} AS dst FROM {table}
  WHERE {pred_col} = '{p}' GROUP BY 1, 2
),
reach(src, dst, hops) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.src, e.dst, r.hops + 1 FROM reach r JOIN e ON r.dst = e.src{bound}
)
SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS hops
FROM reach GROUP BY src, dst
"""


def path_sql(
    pred: str,
    mod: str = "+",
    zero_term: Optional[str] = None,
    max_hops: Optional[int] = None,
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """DuckDB replay of one modified property path as a full query
    ``(src, dst, hops)``: ``+`` delegates to ``closure_sql``; ``*`` adds
    the zero-length rows; ``?`` is the direct edge set plus zero-length
    rows (no recursion). Zero-length semantics mirror
    ``_compile_path_pattern``: pass ``zero_term`` when the pattern has a
    ground end (that term matches itself — SPARQL does not require graph
    membership); leave it None for the two-distinct-variables form
    (every subject/object of the graph matches itself)."""
    if mod == "+":
        return closure_sql(
            pred,
            max_hops=max_hops,
            table=table,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
        )
    if mod not in ("*", "?"):
        raise ValueError(f"unknown path modifier {mod!r}")
    if zero_term is not None:
        t = zero_term.replace("'", "''")
        zero = f"SELECT '{t}' AS src, '{t}' AS dst, 0 AS hops"
    else:
        zero = (
            f"SELECT t AS src, t AS dst, 0 AS hops FROM "
            f"(SELECT {subj_col} AS t FROM {table} "
            f"UNION SELECT {obj_col} FROM {table}) n"
        )
    p = pred.replace("'", "''")
    if mod == "?":
        one = (
            f"SELECT {subj_col} AS src, {obj_col} AS dst, 1 AS hops "
            f"FROM {table} WHERE {pred_col} = '{p}' GROUP BY 1, 2"
        )
        body = f"{one} UNION ALL {zero}"
    else:
        plus = closure_sql(
            pred,
            max_hops=max_hops,
            table=table,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
        )
        body = f"SELECT * FROM ({plus}) c UNION ALL {zero}"
    return (
        "SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS hops FROM "
        f"({body}) u GROUP BY src, dst"
    )


def bgp_aggregate(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    group_by: Sequence[str],
    aggs: Sequence["tuple[str, str]"],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    having: Sequence[str] = (),
    allow_cartesian: bool = False,
    path_max_hops: Optional[int] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPARQL ``SELECT ?g (COUNT(...) AS n) ... GROUP BY ?g`` over a BGP:
    the binding frame from ``bgp_query`` grouped by ``group_by`` variables
    with portable aggregate expressions — ``aggs`` is
    ``[(expr, alias), ...]`` where each expr is an ANSI aggregate over
    binding columns (``"count(*)"``, ``"count(DISTINCT rec)"``,
    ``"min(v)"``) that runs verbatim under Catalyst (``F.expr``) and in
    the DuckDB oracle via ``bgp_aggregate_sql``. ``having``: portable
    boolean expressions over the aggregate aliases.

    Scale: the BGP join tree is unchanged (equi-joins, AQE); the GROUP BY
    adds one map-side-combined aggregation on the grouping variables —
    the standard "facet census by type" KG rollup runs as one extra
    exchange over the binding frame, never a window.
    """
    if not group_by:
        raise ValueError("group_by needs at least one binding variable")
    if not aggs:
        raise ValueError("aggs needs at least one (expr, alias) pair")
    b = bgp_query(
        triples,
        patterns,
        select=None,
        optional=optional,
        filters=filters,
        minus=minus,
        exists=exists,
        allow_cartesian=allow_cartesian,
        path_max_hops=path_max_hops,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    out = b.groupBy(*[F.col(v) for v in group_by]).agg(
        *[F.expr(e).alias(a) for e, a in aggs]
    )
    for h in having:
        out = out.filter(F.expr(h))
    return out


def bgp_aggregate_sql(
    patterns: Sequence[Pattern],
    group_by: Sequence[str],
    aggs: Sequence["tuple[str, str]"],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    having: Sequence[str] = (),
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """ANSI replay of ``bgp_aggregate``: the ``bgp_sql`` binding query as
    a derived table wrapped in GROUP BY / HAVING. Same restrictions as
    ``bgp_sql`` (no property paths; OPTIONAL scoping rules)."""
    inner = bgp_sql(
        patterns,
        select=None,
        optional=optional,
        filters=filters,
        minus=minus,
        exists=exists,
        table=table,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    gb = ", ".join(group_by)
    proj = ", ".join([gb] + [f"{e} AS {a}" for e, a in aggs])
    sql = f"SELECT {proj} FROM ({inner}) b GROUP BY {gb}"
    if having:
        sql += " HAVING " + " AND ".join(f"({h})" for h in having)
    return sql


def describe_nodes(
    triples: DataFrame,
    seeds: DataFrame,
    hops: int = 1,
    seed_col: str = "node",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    obj_is_iri_col: Optional[str] = "obj_is_iri",
) -> DataFrame:
    """SPARQL DESCRIBE / concise-bounded-description export: every triple
    whose subject is reachable from a seed node in ≤ ``hops`` forward
    steps (seed triples = hop 0; each IRI object opens the next hop).
    The standard "give me this record's subgraph" query — a CASE record
    plus its facets at ``hops=1``, plus facet-referenced objects at 2.
    Output: the triple columns + ``seed`` (which seed pulled the row in)
    + ``hop``; a triple reachable from one seed at several depths
    reports the MINIMUM hop (deterministic).

    Scale shape: a bounded semi-naive expansion — each hop is ONE
    equi-join of the (seed, frontier-node) frame against the triple
    table's subject (both shuffle on the node key; the frontier is tiny
    next to the graph and broadcasts under AQE), then the next frontier
    is the hop's distinct IRI objects anti-joined against visited nodes
    so cycles terminate early. ``hops`` is a hard bound; plan depth is
    O(hops) with no checkpoint needed at typical describe depths (≤ 3).
    """
    if hops < 0:
        raise ValueError("hops must be >= 0")
    t = triples.select(
        F.col(subj_col).alias("_s"),
        F.col(pred_col).alias("_p"),
        F.col(obj_col).alias("_o"),
        (
            F.col(obj_is_iri_col)
            if obj_is_iri_col is not None
            else F.lit(True)
        ).alias("_iri"),
    )
    frontier = seeds.select(
        F.col(seed_col).alias("seed"), F.col(seed_col).alias("_n")
    ).distinct()
    visited = frontier
    out = None
    for hop in range(hops + 1):
        step = frontier.join(t, frontier["_n"] == t["_s"]).select(
            "seed",
            F.col("_s").alias(subj_col),
            F.col("_p").alias(pred_col),
            F.col("_o").alias(obj_col),
            F.col("_iri").alias("obj_is_iri"),
            F.lit(hop).alias("hop"),
        )
        out = step if out is None else out.unionByName(step)
        if hop == hops:
            break
        nxt = (
            step.filter(F.col("obj_is_iri"))
            .select("seed", F.col(obj_col).alias("_n"))
            .distinct()
            .join(visited, on=["seed", "_n"], how="left_anti")
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    # a triple can enter via several paths/depths: keep the min hop
    return (
        out.groupBy("seed", subj_col, pred_col, obj_col, "obj_is_iri")
        .agg(F.min("hop").alias("hop"))
    )


def bgp_construct(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    template: Sequence[Pattern],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    distinct: bool = True,
    allow_cartesian: bool = False,
    path_max_hops: Optional[int] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPARQL CONSTRUCT: every BGP match instantiates each ``template``
    triple pattern (terms are ``?vars`` bound by the match or constants)
    → a new ``(subj, pred, obj)`` graph. Template rows touching an
    unbound variable (NULL from an unmatched OPTIONAL) are dropped, and
    the default ``distinct=True`` collapses duplicates — both per the
    SPARQL CONSTRUCT spec (the result is an RDF graph, a set).

    The KG-rewriting workhorse: materialized inference shortcuts
    (record→facet-type edges), schema migration, graph projection.

    Scale shape: the binding frame is computed ONCE; each template row
    is a projection over it unioned together (narrow — no extra joins),
    so cost = the BGP + one shuffle for the final distinct (skippable
    via ``distinct=False`` when a downstream set-collapse runs anyway).
    """
    if not template:
        raise ValueError("template needs at least one (s, p, o) pattern")
    b = bgp_query(
        triples,
        patterns,
        select=None,
        optional=optional,
        filters=filters,
        allow_cartesian=allow_cartesian,
        path_max_hops=path_max_hops,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    bound = set(b.columns)

    def term(t: str):
        if _is_var(t):
            v = _var(t)
            if v not in bound:
                raise ValueError(f"template references unbound variable ?{v}")
            return F.col(v)
        return F.lit(t)

    out = None
    for s, p, o in template:
        row = b.select(
            term(s).alias("subj"), term(p).alias("pred"), term(o).alias("obj")
        ).filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        out = row if out is None else out.unionByName(row)
    return out.distinct() if distinct else out


def bgp_construct_sql(
    patterns: Sequence[Pattern],
    template: Sequence[Pattern],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    distinct: bool = True,
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """ANSI replay of ``bgp_construct``: the binding query as a derived
    table, one SELECT per template row, UNION (set) / UNION ALL (bag)."""
    inner = bgp_sql(
        patterns,
        select=None,
        optional=optional,
        filters=filters,
        table=table,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )

    def term(t: str) -> str:
        if _is_var(t):
            return _var(t)
        return "'" + t.replace("'", "''") + "'"

    # the binding query inlines as a derived table per arm (no CTE of our
    # own — callers prepend their triple-table CTE, and WITH cannot nest
    # at the same level)
    arms = []
    for s, p, o in template:
        null_guards = [
            f"{_var(t)} IS NOT NULL" for t in (s, p, o) if _is_var(t)
        ]
        w = (" WHERE " + " AND ".join(null_guards)) if null_guards else ""
        arms.append(
            f"SELECT {term(s)} AS subj, {term(p)} AS pred, "
            f"{term(o)} AS obj FROM ({inner}) b{w}"
        )
    glue = "\nUNION\n" if distinct else "\nUNION ALL\n"
    return glue.join(arms)


def values_filter(
    variables: Sequence[str], rows: Sequence[Sequence[str]]
) -> str:
    """SPARQL VALUES over variables the BGP already binds, compiled to a
    portable row-value IN predicate — pass the returned string through
    ``bgp_query(filters=[...])`` / ``bgp_sql(filters=[...])``; Catalyst
    and DuckDB evaluate the identical text (probed: both support
    ``(a, b) IN (('x','y'), ...)``). SPARQL's unbound-var (UNDEF) form
    is out of scope — every listed variable must be required-bound."""
    if not variables or not rows:
        raise ValueError("values_filter needs variables and rows")
    for r in rows:
        if len(r) != len(variables):
            raise ValueError(
                f"VALUES row {r!r} arity != variables {list(variables)!r}"
            )

    def q(v: str) -> str:
        return "'" + str(v).replace("'", "''") + "'"

    if len(variables) == 1:
        opts = ", ".join(q(r[0]) for r in rows)
        return f"{variables[0]} IN ({opts})"
    cols = "(" + ", ".join(variables) + ")"
    tuples = ", ".join("(" + ", ".join(q(v) for v in r) + ")" for r in rows)
    return f"{cols} IN ({tuples})"


def _block_vars(block: Dict) -> List[str]:
    """The output variables a bgp_query/bgp_sql call with these kwargs
    produces (default projection): pattern + OPTIONAL variables in
    first-appearance order, then BIND aliases."""
    vs: List[str] = []
    for p in list(block.get("patterns", ())) + list(block.get("optional", ())):
        for v in pattern_vars(p):
            if v not in vs:
                vs.append(v)
    for _, alias in block.get("bind", ()):
        vs.append(alias)
    return vs


_UNION_BLOCK_KEYS = {
    "patterns", "optional", "filters", "minus", "exists", "bind",
    "allow_cartesian", "path_max_hops",
}


def _check_union_blocks(blocks: Sequence[Dict]) -> None:
    if len(blocks) < 2:
        raise ValueError("bgp_union needs at least two blocks")
    for b in blocks:
        bad = set(b) - _UNION_BLOCK_KEYS
        if bad:
            raise ValueError(
                f"union block carries {sorted(bad)} — select/distinct/"
                "order/limit are union-level, not per-block"
            )
        if not b.get("patterns"):
            raise ValueError("every union block needs patterns")


def bgp_union(
    triples: DataFrame,
    blocks: Sequence[Dict],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    path_max_hops: Optional[int] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPARQL UNION: alternation of group graph patterns. ``blocks`` is a
    sequence of ``bgp_query`` kwarg dicts (``patterns`` required;
    ``optional``/``filters``/``minus``/``exists``/``bind`` allowed —
    solution modifiers live at the union level). Solutions are the BAG
    union over the union of the blocks' variable domains; a variable a
    branch does not bind comes back NULL (unbound), exactly SPARQL's
    semantics. Column order: first appearance across blocks.

    Scale: each branch is an independent join tree; the union is a
    zero-shuffle concatenation (Spark unions are metadata-only — no
    exchange until something downstream needs one)."""
    _check_union_blocks(blocks)
    cols_kw = dict(subj_col=subj_col, pred_col=pred_col, obj_col=obj_col)
    # union-level default hop bound; a block's own path_max_hops wins
    if path_max_hops is not None:
        cols_kw["path_max_hops"] = path_max_hops
    out = None
    for b in blocks:
        f = bgp_query(triples, **{**cols_kw, **b})
        out = f if out is None else out.unionByName(
            f, allowMissingColumns=True
        )
    if select is not None:
        out = out.select(*select)
    return out.distinct() if distinct else out


def bgp_union_sql(
    blocks: Sequence[Dict],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """ANSI replay of ``bgp_union``: one ``bgp_sql`` derived table per
    block, each projected onto the union variable domain (NULL for the
    variables a branch does not bind), concatenated with UNION ALL (bag
    semantics; ``distinct`` wraps a DISTINCT)."""
    _check_union_blocks(blocks)
    union_vars: List[str] = []
    per_block_vars: List[List[str]] = []
    for b in blocks:
        vs = _block_vars(b)
        per_block_vars.append(vs)
        for v in vs:
            if v not in union_vars:
                union_vars.append(v)
    cols_kw = dict(
        table=table, subj_col=subj_col, pred_col=pred_col, obj_col=obj_col
    )
    branches = []
    for i, (b, vs) in enumerate(zip(blocks, per_block_vars)):
        inner = bgp_sql(**{**cols_kw, **b})
        proj = ", ".join(
            (v if v in vs else f"NULL AS {v}") for v in union_vars
        )
        branches.append(f"SELECT {proj} FROM ({inner}) u{i}")
    body = " UNION ALL ".join(branches)
    keep = list(select) if select is not None else union_vars
    if keep != union_vars or distinct:
        body = (
            f"SELECT {'DISTINCT ' if distinct else ''}"
            + ", ".join(keep)
            + f" FROM ({body}) zu"
        )
    return body


def bgp_ask(
    triples: DataFrame,
    patterns: Sequence[Pattern],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    allow_cartesian: bool = False,
    path_max_hops: Optional[int] = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SPARQL ASK — the fourth query form (SELECT/CONSTRUCT/DESCRIBE are
    elsewhere in this module): does the pattern group match at all?
    Returns a ONE-row frame ``(matched boolean)`` so the answer composes
    with the contract/driver machinery like any result set.

    Scale: the group compiles exactly like ``bgp_query`` and is cut with
    ``limit(1)`` BEFORE aggregation — Catalyst plans a CollectLimit that
    short-circuits scanning once any partition yields a row, so an ASK
    against a 100 TB triple table stops at the first match."""
    b = bgp_query(
        triples,
        patterns,
        optional=optional,
        filters=filters,
        minus=minus,
        exists=exists,
        allow_cartesian=allow_cartesian,
        path_max_hops=path_max_hops,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    return (
        b.limit(1)
        .agg(F.count("*").alias("_n"))
        .select((F.col("_n") > 0).alias("matched"))
    )


def bgp_ask_sql(
    patterns: Sequence[Pattern],
    optional: Sequence[Pattern] = (),
    filters: Sequence[str] = (),
    minus: Sequence[Pattern] = (),
    exists: Sequence[Pattern] = (),
    table: str = "g",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> str:
    """ANSI replay of ``bgp_ask``: EXISTS over the bgp_sql body."""
    inner = bgp_sql(
        patterns,
        optional=optional,
        filters=filters,
        minus=minus,
        exists=exists,
        table=table,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    return f"SELECT EXISTS (SELECT 1 FROM ({inner}) a) AS matched"


def _compile_quad_pattern(
    quads: DataFrame,
    pattern: Tuple[str, str, str, str],
    cols: Tuple[str, str, str, str],
) -> DataFrame:
    """One (graph, subj, pred, obj) pattern → scan + constant equality
    filters (+ repeated-variable intra-row equality), projected to its
    variable columns. Deliberately NO property-path / alternation /
    negated-set syntax — ``quad_query`` validates and raises before
    this runs, so a constant containing ``|`` or leading ``!`` here is
    just a literal value."""
    out = quads
    position_of: Dict[str, str] = {}
    for col, term in zip(cols, pattern):
        if _is_var(term):
            v = _var(term)
            if v in position_of:
                out = out.filter(F.col(col) == F.col(position_of[v]))
            else:
                position_of[v] = col
        else:
            out = out.filter(F.col(col) == F.lit(term))
    if not position_of:
        return out.select(F.lit(1).alias("_ground")).limit(1)
    return out.select(
        *[F.col(c).alias(v) for v, c in position_of.items()]
    )


def quad_query(
    quads: DataFrame,
    graph: str,
    patterns: Sequence[Pattern],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    filters: Sequence[str] = (),
    order_by: Sequence[str] = (),
    limit: Optional[int] = None,
    offset: int = 0,
    allow_cartesian: bool = False,
    graph_col: str = "graph",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL ``GRAPH`` clause over a quad table — named-graph-scoped
    BGP evaluation (SPARQL 1.1 §13.3), pairing with the N-Quads
    interchange side (``render.nquads_lines``): ``graph`` is either a
    constant graph IRI or a variable ``?g``.

    * **Constant graph** (``GRAPH <g> {...}``): the quad frame filters
      to that graph (partition pruning on a graph-partitioned store —
      the natural layout for a multi-source KG, one graph per crawl/
      provenance source) and the block delegates to the full
      ``bgp_query`` — every feature (OPTIONAL/MINUS/EXISTS/BIND,
      property paths, modifiers) is available via ``**bgp_kwargs``.
    * **Variable graph** (``GRAPH ?g {...}``): per the spec the WHOLE
      block matches inside a single named graph per solution, with
      ``?g`` bound to it — the graph variable joins across every
      pattern (it is prepended to each pattern, so the greedy
      selectivity order still applies and the block can never be
      disconnected). Documented subset: plain triple patterns,
      ``filters``, projection/distinct and the solution modifiers —
      property-path / alternation / negated-set / inverse syntax and
      the OPTIONAL/MINUS/EXISTS/BIND blocks raise (evaluate those
      per-graph with a constant ``graph``, or pre-materialize).

    Scale shape identical to ``bgp_query``: each pattern is one
    filtered scan (constant graph/subject reach the parquet scan as
    pushed filters), joins are equi-joins on binding columns — the
    graph variable simply rides as one more join column, which also
    CO-PARTITIONS every join by graph (a skewed mega-graph is exactly
    the AQE skew-join case)."""
    if not _is_var(graph):
        scoped = quads.where(F.col(graph_col) == F.lit(graph))
        return bgp_query(
            scoped,
            patterns,
            select=select,
            distinct=distinct,
            filters=filters,
            order_by=order_by,
            limit=limit,
            offset=offset,
            allow_cartesian=allow_cartesian,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
            **bgp_kwargs,
        )
    if bgp_kwargs:
        raise ValueError(
            "GRAPH ?var blocks support plain patterns + filters + "
            f"modifiers only — {sorted(bgp_kwargs)} require a constant "
            "graph (evaluate per graph) or pre-materialization"
        )
    if not patterns:
        raise ValueError("quad_query needs at least one pattern")
    for p in patterns:
        t = p[1]
        if not _is_var(t) and (
            t.endswith(_PATH_MODS)
            or t.startswith(("!", "^"))
            or "|" in t
            or "/" in t
        ):
            raise ValueError(
                f"predicate {t!r} uses path/alternation/negation syntax "
                "— unsupported inside GRAPH ?var (documented subset)"
            )
    cols4 = (graph_col, subj_col, pred_col, obj_col)
    qpatterns = [(graph, *p) for p in patterns]
    order = join_order(qpatterns)
    compiled = [
        _compile_quad_pattern(quads, qp, cols4) for qp in qpatterns
    ]
    out = compiled[order[0]]
    bound = set(out.columns)
    for i in order[1:]:
        nxt = compiled[i]
        shared = sorted(bound & set(nxt.columns))
        out = out.join(nxt, on=shared)
        bound |= set(nxt.columns)
    for f in filters:
        out = out.filter(F.expr(f))
    all_vars: List[str] = []
    for qp in qpatterns:
        for v in pattern_vars(qp):
            if v not in all_vars:
                all_vars.append(v)
    keep = list(select) if select is not None else all_vars
    missing = [v for v in keep if v not in bound]
    if missing:
        raise ValueError(f"select references unbound variables: {missing}")
    out = out.select(*keep)
    if distinct:
        out = out.distinct()
    if (limit is not None or offset) and not order_by:
        raise ValueError(
            "limit/offset without order_by is nondeterministic — give a "
            "total order (append a unique variable)"
        )
    if order_by:
        out = out.orderBy(*[_order_col(o, keep) for o in order_by])
    if offset:
        out = out.offset(int(offset))
    if limit is not None:
        out = out.limit(int(limit))
    return out
