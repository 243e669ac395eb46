"""Degree census and PageRank: invariants (mass conservation, dangling
redistribution, uniform fixed point) and equality vs the unrolled-SQL
oracle generators in DuckDB."""

import duckdb
import pandas as pd
import pytest

from case_uco_ontology_map_spark.operators.graphstats import (
    degree_sql,
    degree_stats,
    pagerank,
    pagerank_sql,
)

EDGES = [
    # binary-tree parents plus a functional "pseudo-random" second edge:
    # varied in-degrees, cycles through node 0, no dangling nodes
    ("1", "0"), ("2", "0"), ("3", "1"), ("4", "1"), ("5", "2"),
    ("0", "3"), ("1", "4"), ("2", "5"), ("3", "2"), ("4", "0"), ("5", "1"),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def _duck():
    con = duckdb.connect()
    con.register("e_src", pd.DataFrame(EDGES, columns=["src", "dst"]))
    return con


def test_degree_stats_matches_duckdb(edges):
    got = {tuple(r) for r in degree_stats(edges).collect()}
    con = _duck()
    want = {
        tuple(r)
        for r in con.execute(
            "WITH e AS (SELECT * FROM e_src) " + degree_sql()
        ).fetchall()
    }
    assert got == want
    by_node = {n: (o, i) for n, o, i in got}
    assert by_node["0"] == (1, 3)  # one out-edge (0->3), three parents-of
    assert by_node["3"] == (2, 1)


def test_degree_zero_not_null(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {tuple(r) for r in degree_stats(df).collect()}
    assert got == {("a", 1, 0), ("b", 0, 1)}


def test_pagerank_matches_unrolled_sql_oracle(edges):
    got = pagerank(edges, iterations=5).collect()
    con = _duck()
    want = dict(
        con.execute(
            "WITH e AS (SELECT * FROM e_src) "
            f"SELECT node, rank FROM ({pagerank_sql(iterations=5)}) z"
        ).fetchall()
    )
    assert len(got) == len(want) == 6
    for r in got:
        assert r["rank"] == pytest.approx(want[r["node"]], abs=1e-12)


def test_pagerank_mass_conserved_with_dangling(spark):
    # "c" has no out-edges: its rank must be redistributed, total mass 1
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    # c receives from both a and b and loses nothing to specific targets
    assert ranks["c"] == max(ranks.values())


def test_pagerank_uniform_on_cycle(spark):
    # a ring is rank-uniform at every iteration count
    ring = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(ring, "src string, dst string")
    ranks = [r["rank"] for r in pagerank(df, iterations=3).collect()]
    assert all(r == pytest.approx(1.0 / 3, abs=1e-12) for r in ranks)


def test_pagerank_hand_computed_exact(spark):
    """Two power iterations hand-derived as exact fractions from the
    documented rule ``rank' = (1-d)/N + d*(received + dangling/N)`` —
    independent of BOTH engines (no ``pagerank_sql``, no replayed
    formula: the expected values below are worked out on paper and
    written as literals)."""
    from fractions import Fraction as Fr

    # a -> {b, c}, b -> c, c dangling. N = 3, d = 0.85 = 17/20.
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    # Iter 1 from uniform 1/3: a splits 1/6+1/6, b sends 1/3,
    # dangling mass 1/3 → shared 1/9 each.
    #   a = 1/20 + 17/20 * 1/9            = 52/360
    #   b = 1/20 + 17/20 * (1/6 + 1/9)    = 103/360
    #   c = 1/20 + 17/20 * (1/6 + 1/3 + 1/9)  = 205/360
    # Iter 2 from (52, 103, 205)/360: a sends 26/360 to each of b and c,
    # b sends 103/360 to c, dangling mass 205/360 → 205/1080 each.
    #   a = 1/20 + 17/20 * 205/1080                      = 4565/21600
    #   b = 1/20 + 17/20 * (78/1080 + 205/1080)          = 5891/21600
    #   c = 1/20 + 17/20 * (387/1080 + 205/1080)         = 11144/21600
    want = {
        "a": Fr(4565, 21600),
        "b": Fr(5891, 21600),
        "c": Fr(11144, 21600),
    }
    assert sum(want.values()) == 1  # paper arithmetic checks out
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=2).collect()}
    assert set(got) == set(want)
    for node, frac in want.items():
        assert got[node] == pytest.approx(float(frac), abs=1e-9)


def test_pagerank_zero_iterations_is_uniform(edges):
    ranks = [r["rank"] for r in pagerank(edges, iterations=0).collect()]
    assert all(r == pytest.approx(1.0 / 6, abs=1e-12) for r in ranks)


class TestCooccurrence:
    def test_pairs_counts_and_threshold(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            cooccurrence_edges,
        )

        rows = [
            ("d1", "apple"), ("d1", "banana"), ("d1", "cherry"),
            ("d2", "apple"), ("d2", "banana"),
            ("d3", "banana"), ("d3", "apple"),
            ("d3", "apple"),  # duplicate mention: distinct-per-doc
            ("d4", "solo"),
        ]
        df = spark.createDataFrame(rows, "url string, surface string")
        got = {
            (r.a, r.b): r.n_docs
            for r in cooccurrence_edges(df).collect()
        }
        assert got == {
            ("apple", "banana"): 3,
            ("apple", "cherry"): 1,
            ("banana", "cherry"): 1,
        }
        thr = {
            (r.a, r.b)
            for r in cooccurrence_edges(df, min_count=2).collect()
        }
        assert thr == {("apple", "banana")}

    def test_cap_with_drop_accounting(self, spark):
        from case_uco_ontology_map_spark.operators.dedup import (
            drop_metrics,
            drop_observation,
        )
        from case_uco_ontology_map_spark.operators.graphstats import (
            cooccurrence_edges,
        )

        rows = [("d1", f"e{i:02d}") for i in range(10)] + [
            ("d2", "e00"), ("d2", "e01")
        ]
        df = spark.createDataFrame(rows, "url string, surface string")
        obs = drop_observation()
        out = cooccurrence_edges(
            df, max_per_doc=3, observation=obs
        )
        got = {(r.a, r.b): r.n_docs for r in out.collect()}
        # d1 capped to its first 3 sorted entities e00,e01,e02 -> 3 pairs
        assert got == {
            ("e00", "e01"): 2,
            ("e00", "e02"): 1,
            ("e01", "e02"): 1,
        }
        m = drop_metrics(obs)
        assert m == {"dropped_buckets": 1, "dropped_members": 7}

    def test_cap_validates(self, spark):
        import pytest as _pt

        from case_uco_ontology_map_spark.operators.graphstats import (
            cooccurrence_edges,
        )

        df = spark.createDataFrame([("d", "e")], "url string, surface string")
        with _pt.raises(ValueError):
            cooccurrence_edges(df, max_per_doc=1)


class TestTriangleStats:
    def test_hand_computed(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            triangle_stats,
        )

        # square a-b-c-d-a plus hub e linked to a,b,c:
        # triangles {a,b,e} and {b,c,e}
        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
            ("e", "a"), ("e", "b"), ("e", "c"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node: (r.deg, r.triangles, r.clustering)
            for r in triangle_stats(df).collect()
        }
        assert got == {
            "a": (3, 1, 1 / 3),
            "b": (3, 2, 2 / 3),
            "c": (3, 1, 1 / 3),
            "d": (2, 0, 0.0),
            "e": (3, 2, 2 / 3),
        }
        # global triangle count: sum of per-node counts / 3
        assert sum(t for _, t, _ in got.values()) == 3 * 2

    def test_direction_and_duplicate_blind(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            triangle_stats,
        )

        # same triangle given as duplicated, flipped, self-looped edges:
        # undirected simple-graph semantics must dedupe all of it
        edges = [
            ("x", "y"), ("y", "x"), ("y", "z"), ("z", "x"),
            ("x", "x"), ("y", "z"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node: (r.deg, r.triangles, r.clustering)
            for r in triangle_stats(df).collect()
        }
        assert got == {
            "x": (2, 1, 1.0), "y": (2, 1, 1.0), "z": (2, 1, 1.0)
        }

    def test_cap_bounds_wedges_not_degree(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            triangle_stats,
        )
        from pyspark.sql import Observation

        # star hub h with 6 leaves, leaves l0-l1 and l2-l3 connected:
        # uncapped T(h)=2; cap=2 keeps only the first wedge (l0,l1)
        edges = [("h", f"l{i}") for i in range(6)]
        edges += [("l0", "l1"), ("l2", "l3")]
        df = spark.createDataFrame(edges, "src string, dst string")
        obs = Observation("drops")
        got = {
            r.node: (r.deg, r.triangles)
            for r in triangle_stats(
                df, max_neighbors=2, observation=obs
            ).collect()
        }
        # degree of h stays the true 6 even though wedges were capped
        assert got["h"] == (6, 1)
        assert obs.get["dropped_buckets"] == 1
        assert obs.get["dropped_members"] == 4

    def test_cap_too_small_raises(self, spark):
        import pytest as _pt

        from case_uco_ontology_map_spark.operators.graphstats import (
            triangle_stats,
        )

        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        with _pt.raises(ValueError):
            triangle_stats(df, max_neighbors=1)


class TestNeighborJaccard:
    def test_hand_computed(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            neighbor_jaccard,
        )

        # square a-b-c-d-a plus diagonal hub e linked to a,b,c
        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
            ("e", "a"), ("e", "b"), ("e", "c"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r.a, r.b): (r.common, r.deg_a, r.deg_b, r.jaccard)
            for r in neighbor_jaccard(df).collect()
        }
        # a and c share neighbors {b, d, e}: deg(a)=3 (b,d,e), deg(c)=3
        assert got[("a", "c")] == (3, 3, 3, 1.0)
        # b and d share {a, c}; deg(b)=3 (a,c,e), deg(d)=2 (a,c)
        assert got[("b", "d")] == (2, 3, 2, 2 / 3)
        # a and b share {e}: jaccard 1/5
        assert got[("a", "b")] == (1, 3, 3, 1 / 5)

    def test_min_common_and_direction_blind(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            neighbor_jaccard,
        )

        # same graph, arrows flipped: undirected metric must not change
        edges = [("b", "a"), ("c", "b"), ("d", "c"), ("a", "d"),
                 ("a", "e"), ("b", "e"), ("c", "e")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r.a, r.b)
            for r in neighbor_jaccard(df, min_common=2).collect()
        }
        # common-neighbor sets: (a,c)->{b,d,e}, (b,d)->{a,c},
        # (b,e)->{a,c}, (d,e)->{a,c}; every other pair shares <= 1
        assert got == {("a", "c"), ("b", "d"), ("b", "e"), ("d", "e")}


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            label_propagation,
        )

        # two triangles joined by one bridge edge: LPA should settle each
        # triangle on its minimal member label
        rows = [
            ("a", "b"), ("b", "c"), ("a", "c"),
            ("x", "y"), ("y", "z"), ("x", "z"),
            ("c", "x"),
        ]
        g = spark.createDataFrame(rows, "src string, dst string")
        got = {
            (r.node, r.label)
            for r in label_propagation(g, iterations=4).collect()
        }
        communities = {}
        for node, label in got:
            communities.setdefault(label, set()).add(node)
        assert {frozenset(v) for v in communities.values()} == {
            frozenset({"a", "b", "c"}),
            frozenset({"x", "y", "z"}),
        }

    def test_hand_traced_rounds(self, spark):
        """Synchronous update + self-vote + min-label ties traced BY HAND
        round-by-round on the path a-b-c-d — independent of
        ``label_propagation_sql``. Every vote below ties at count 1 until
        labels meet, so each pick is the minimum over {self, neighbors}:
        r1: a→a, b→min(a,b,c)=a, c→min(b,c,d)=b, d→min(c,d)=c
        r2: a: votes a(self)+a(from b)=2 → a; b: a:2 → a;
            c: {a(from b), c(from d), b(self)} → a; d: {b(from c),
            c(self)} → b
        r3: d: {a(from c), b(self)} → a; everyone else already a."""
        from case_uco_ontology_map_spark.operators.graphstats import (
            label_propagation,
        )

        g = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
        )

        def run(n):
            return {
                (r.node, r.label)
                for r in label_propagation(g, iterations=n).collect()
            }

        assert run(1) == {("a", "a"), ("b", "a"), ("c", "b"), ("d", "c")}
        assert run(2) == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "b")}
        assert run(3) == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}

    def test_matches_unrolled_sql_oracle(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            label_propagation,
            label_propagation_sql,
        )

        for iters in (0, 1, 3):
            got = sorted(
                map(tuple, label_propagation(edges, iterations=iters)
                    .collect())
            )
            con = _duck()
            # splice the edge CTE ahead of the generated WITH chain
            sql = ("WITH e AS (SELECT * FROM e_src), "
                   + label_propagation_sql(iterations=iters)[len("WITH "):])
            want = sorted(map(tuple, con.execute(sql).fetchall()))
            assert got == want, f"iteration count {iters}"

    def test_self_loops_dropped_and_determinism(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import (
            label_propagation,
        )

        g = spark.createDataFrame(
            [("n", "n"), ("n", "m"), ("p", "q")], "src string, dst string"
        )
        out1 = sorted(map(tuple, label_propagation(g, 3).collect()))
        out2 = sorted(
            map(
                tuple,
                label_propagation(g.repartition(7), 3).collect(),
            )
        )
        assert out1 == out2  # partitioning-invariant
        labels = dict(out1)
        # the self-vote breaks the 2-node synchronous oscillation: both
        # pairs converge on their minimal member
        assert labels["n"] == labels["m"] == "m"
        assert labels["p"] == labels["q"] == "p"

    def test_negative_iterations_raise(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            label_propagation,
        )

        with pytest.raises(ValueError):
            label_propagation(edges, iterations=-1)


class TestRandomWalks:
    def test_shape_and_step_rule(self, spark):
        import hashlib

        from case_uco_ontology_map_spark.operators.graphstats import (
            random_walks,
        )

        rows = [("a", "b"), ("a", "c"), ("b", "c")]
        g = spark.createDataFrame(rows, "src string, dst string")
        out = random_walks(
            g, walks_per_node=2, length=3, hash_mode="md5_60"
        ).collect()
        byw = {}
        for r in out:
            byw.setdefault((r.start, r.walk), {})[r.step] = r.node
        # every node starts 2 walks; step 0 is the start itself
        assert set(byw) == {(n, w) for n in "abc" for w in (0, 1)}
        for (n, w), steps in byw.items():
            assert steps[0] == n
        # c is a dead end: its walks stop at step 0
        assert set(byw[("c", 0)]) == {0}
        # replay the hash pick in Python for one step of walk (a, 0):
        # from 'a' at step 1, nbrs = [b, c]
        key = "a\x1f0\x1f1\x1fa\x1fwalk".encode()
        h = int(hashlib.md5(key).hexdigest()[:15], 16)
        assert byw[("a", 0)][1] == ["b", "c"][h % 2]

    def test_full_python_replay(self, spark):
        """Every walk simulated end-to-end in pure Python (hashlib md5)
        from the documented step rule — independent of both the Spark
        expression tree and ``random_walks_sql``, so a bug in the shared
        rule-to-SQL expansion cannot hide here."""
        import hashlib

        from case_uco_ontology_map_spark.operators.graphstats import (
            random_walks,
        )

        # cyclic and branching: no dead ends, every step is a real pick
        rows = [
            ("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("c", "a"),
        ]
        adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["a"]}

        def pick(start, w, s, node):
            key = "\x1f".join([start, str(w), str(s), node, "walk"])
            h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
            nbrs = adj[node]
            return nbrs[h % len(nbrs)]

        want = set()
        for start in "abc":
            for w in (0, 1):
                node = start
                want.add((start, w, 0, node))
                for s in (1, 2, 3):
                    node = pick(start, w, s, node)
                    want.add((start, w, s, node))

        g = spark.createDataFrame(rows, "src string, dst string")
        got = {
            tuple(r)
            for r in random_walks(
                g, walks_per_node=2, length=3, hash_mode="md5_60"
            ).collect()
        }
        assert got == want

    def test_matches_duckdb_oracle(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            random_walks,
            random_walks_sql,
        )

        got = sorted(
            map(
                tuple,
                random_walks(
                    edges, walks_per_node=2, length=4, hash_mode="md5_60"
                ).collect(),
            )
        )
        con = _duck()
        sql = (
            "WITH e AS (SELECT * FROM e_src), "
            + random_walks_sql(walks_per_node=2, length=4)[len("WITH "):]
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want

    def test_determinism_and_guards(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            random_walks,
        )

        a = sorted(map(tuple, random_walks(edges, 1, 2).collect()))
        b = sorted(
            map(
                tuple,
                random_walks(edges.repartition(5), 1, 2).collect(),
            )
        )
        assert a == b  # partitioning invariant
        # independent salts draw different walks somewhere
        c = sorted(map(tuple, random_walks(edges, 1, 2, salt="w2").collect()))
        assert a != c
        import pytest as _pt

        with _pt.raises(ValueError):
            random_walks(edges, walks_per_node=0)
        with _pt.raises(ValueError):
            random_walks(edges, length=-1)


class TestNeighborSample:
    def test_fanout_cap_and_python_replay(self, spark):
        import hashlib

        from case_uco_ontology_map_spark.operators.graphstats import (
            neighbor_sample,
        )

        # hub h with 6 neighbors; fanout 3 must pick exactly the 3
        # hash-smallest
        rows = [("h", f"n{i}") for i in range(6)]
        g = spark.createDataFrame(rows, "src string, dst string")
        seeds = spark.createDataFrame([("h",)], "node string")
        out = neighbor_sample(
            g, seeds=seeds, fanouts=(3,), hash_mode="md5_60"
        ).collect()
        assert len(out) == 3 and all(
            r.layer == 1 and r.u == "h" for r in out
        )

        def h(u, v, li):
            key = f"{u}\x1f{v}\x1f{li}\x1fgnn".encode()
            return int(hashlib.md5(key).hexdigest()[:15], 16)

        expect = sorted((h("h", f"n{i}", 1), f"n{i}") for i in range(6))[:3]
        assert sorted(r.v for r in out) == sorted(v for _, v in expect)

    def test_layers_and_duckdb_oracle(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            neighbor_sample,
            neighbor_sample_sql,
        )

        got = sorted(
            map(
                tuple,
                neighbor_sample(
                    edges, fanouts=(2, 1), hash_mode="md5_60"
                ).collect(),
            )
        )
        con = _duck()
        seeds_sql = (
            "SELECT DISTINCT s AS node FROM u UNION SELECT d FROM u"
        )
        sql = (
            "WITH e AS (SELECT * FROM e_src), "
            + neighbor_sample_sql(seeds_sql, fanouts=(2, 1))[len("WITH "):]
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want
        layers = {r[0] for r in got}
        assert layers == {1, 2}

    def test_determinism_and_guards(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            neighbor_sample,
        )

        a = sorted(map(tuple, neighbor_sample(edges, fanouts=(2,)).collect()))
        b = sorted(
            map(
                tuple,
                neighbor_sample(edges.repartition(9), fanouts=(2,)).collect(),
            )
        )
        assert a == b
        import pytest as _pt

        with _pt.raises(ValueError):
            neighbor_sample(edges, fanouts=())
        with _pt.raises(ValueError):
            neighbor_sample(edges, fanouts=(0,))


class TestKCore:
    def test_square_with_tail(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import k_core

        rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("d", "e")]
        g = spark.createDataFrame(rows, "src string, dst string")
        got = {(r.node, r.core_deg) for r in k_core(g, k=2).collect()}
        assert got == {("a", 2), ("b", 2), ("c", 2), ("d", 2)}
        assert k_core(g, k=3).count() == 0

    def test_cascading_peel_and_oracle(self, edges):
        from case_uco_ontology_map_spark.operators.graphstats import (
            k_core,
            k_core_sql,
        )

        for kk in (2, 3):
            got = sorted(map(tuple, k_core(edges, k=kk).collect()))
            con = _duck()
            sql = (
                "WITH e AS (SELECT * FROM e_src), "
                + k_core_sql(k=kk, rounds=8)[len("WITH "):]
            )
            want = sorted(map(tuple, con.execute(sql).fetchall()))
            assert got == want, f"k={kk}"

    def test_path_peels_to_empty_and_guard(self, spark):
        from case_uco_ontology_map_spark.operators.graphstats import k_core

        # a path needs len(path)//2 cascading rounds to vanish at k=2
        rows = [(str(i), str(i + 1)) for i in range(8)]
        g = spark.createDataFrame(rows, "src string, dst string")
        assert k_core(g, k=2).count() == 0
        import pytest as _pt

        with _pt.raises(RuntimeError, match="converge"):
            k_core(g, k=2, max_rounds=2)
        with _pt.raises(ValueError):
            k_core(g, k=0)


# ---------------------------------------------------------------- HITS


def test_hits_hand_computed_exact(spark):
    """Two rounds on a->b, a->c, b->c, hand-derived as exact fractions
    from the classic update rule (auth from hubs, hub from NEW auths,
    L1 norm after each half-step):

      round 1: auth_raw = {b:1, c:2}, sum 3 -> auth (0, 1/3, 2/3)
               hub_raw  = {a:1, b:2/3}, sum 5/3 -> hub (3/5, 2/5, 0)
      round 2: auth_raw = {b:3/5, c:1}, sum 8/5 -> auth (0, 3/8, 5/8)
               hub_raw  = {a:1, b:5/8}, sum 13/8 -> hub (8/13, 5/13, 0)
    """
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
    )
    from case_uco_ontology_map_spark.operators.graphstats import hits

    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(df, 2).collect()}
    want = {
        "a": (8 / 13, 0.0),
        "b": (5 / 13, 3 / 8),
        "c": (0.0, 5 / 8),
    }
    assert set(got) == set(want)
    for n in want:
        assert got[n][0] == pytest.approx(want[n][0], abs=1e-12)
        assert got[n][1] == pytest.approx(want[n][1], abs=1e-12)


def test_hits_matches_unrolled_sql_oracle(edges):
    from case_uco_ontology_map_spark.operators.graphstats import (
        hits,
        hits_sql,
    )

    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, 4).collect()}
    con = _duck()
    want = {
        n: (h, a)
        for n, h, a in con.execute(
            "WITH e AS (SELECT * FROM e_src) SELECT * FROM ("
            + hits_sql(4)
            + ") z"
        ).fetchall()
    }
    assert set(got) == set(want)
    for n in want:
        assert got[n][0] == pytest.approx(want[n][0], abs=1e-12)
        assert got[n][1] == pytest.approx(want[n][1], abs=1e-12)


def test_hits_l1_normalized_and_zero_not_null(edges):
    from case_uco_ontology_map_spark.operators.graphstats import hits

    rows = hits(edges, 3).collect()
    assert sum(r["hub"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    assert sum(r["auth"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    assert all(r["hub"] is not None and r["auth"] is not None for r in rows)


# ----------------------------------------------------------- TrustRank


def test_trustrank_hand_computed_exact(spark):
    """Three rounds on a->b->c (c dangling), seeds={a}, d=0.5 —
    hand-derived from the pinned update rule (teleport t=(1,0,0),
    dangling mass re-enters through t):

      r1: recv=(0,1,0), dm=0        -> (0.5,   0.5,  0)
      r2: recv=(0,.5,.5), dm=0      -> (0.5,   0.25, 0.25)
      r3: recv=(0,.5,.25), dm=0.25  -> (0.625, 0.25, 0.125)
    """
    from case_uco_ontology_map_spark.operators.graphstats import trustrank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    s = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["trust"] for r in trustrank(
        e, s, iterations=3, damping=0.5).collect()}
    assert got == pytest.approx(
        {"a": 0.625, "b": 0.25, "c": 0.125}, abs=1e-12
    )


def test_trustrank_matches_unrolled_sql_oracle(edges):
    from case_uco_ontology_map_spark.operators.graphstats import (
        trustrank,
        trustrank_sql,
    )

    seeds = edges.sparkSession.createDataFrame(
        [("0",), ("5",), ("ghost",)], "node string"  # ghost: not in graph
    )
    got = {r["node"]: r["trust"] for r in trustrank(
        edges, seeds, iterations=4).collect()}
    con = _duck()
    con.register("s_src", pd.DataFrame({"node": ["0", "5", "ghost"]}))
    want = dict(
        con.execute(
            "WITH e AS (SELECT * FROM e_src), s AS (SELECT * FROM s_src) "
            "SELECT * FROM (" + trustrank_sql(4) + ") z"
        ).fetchall()
    )
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_trustrank_mass_and_spam_demotion(spark):
    """Trust sums to 1, and an unreachable-from-seeds spam clique gets
    EXACT zero trust while PageRank would hand it real mass."""
    from case_uco_ontology_map_spark.operators.graphstats import trustrank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"),
         ("x", "y"), ("y", "z"), ("z", "x")],  # spam triangle, no in-link
        "src string, dst string",
    )
    s = spark.createDataFrame([("a",)], "node string")
    rows = trustrank(e, s, iterations=6).collect()
    assert sum(r["trust"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    by = {r["node"]: r["trust"] for r in rows}
    assert by["x"] == 0.0 and by["y"] == 0.0 and by["z"] == 0.0
    assert by["a"] > 0.0 and by["b"] > 0.0


def test_trustrank_no_seed_in_graph_raises(spark):
    """The raise releases the prepared graph: no persisted RDD is left."""
    import pytest as _pt

    from case_uco_ontology_map_spark.operators.barrier import _persistent_ids
    from case_uco_ontology_map_spark.operators.graphstats import trustrank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    s = spark.createDataFrame([("ghost",)], "node string")
    before = _persistent_ids(spark)
    with _pt.raises(ValueError, match="no seed"):
        trustrank(e, s, iterations=2)
    assert _persistent_ids(spark) - before == set()


def test_bfs_distances_hand_computed(spark):
    """Diamond + cycle + unreachable tail, two sources, one isolated
    landmark: a->b, a->c, b->d, c->d, d->a (cycle back), x->y
    (unreachable from sources), sources {a, iso}."""
    from case_uco_ontology_map_spark.operators.graphstats import (
        bfs_distances,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"),
         ("x", "y")],
        "src string, dst string",
    )
    s = spark.createDataFrame([("a",), ("iso",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_distances(e, s).collect()}
    # iso at 0 though absent from the graph; x/y absent (unreachable);
    # a stays 0 despite the d->a cycle edge re-deriving it at 3
    assert got == {"a": 0, "iso": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_distances_max_hops_and_oracle(edges):
    import pandas as pd

    from case_uco_ontology_map_spark.operators.graphstats import (
        bfs_distances,
        bfs_distances_sql,
    )

    seeds = edges.sparkSession.createDataFrame([("0",)], "node string")
    for hops in (1, 2, 8):
        got = {
            r["node"]: r["dist"]
            for r in bfs_distances(edges, seeds, max_hops=hops).collect()
        }
        con = _duck()
        con.register("s_src", pd.DataFrame({"node": ["0"]}))
        want = dict(
            con.execute(
                "WITH e AS (SELECT * FROM e_src), "
                "s AS (SELECT * FROM s_src) "
                "SELECT * FROM (" + bfs_distances_sql(hops) + ") z"
            ).fetchall()
        )
        assert got == want
    assert max(got.values()) <= 8 and got["0"] == 0


def test_spam_mass_spam_farm_scores_high(spark):
    """A spam triangle with no in-link from the trusted side earns real
    PageRank but ZERO trust → spam_mass exactly 1.0; the seed itself
    goes negative (trust > rank near the core)."""
    from case_uco_ontology_map_spark.operators.graphstats import spam_mass

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"),
         ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    s = spark.createDataFrame([("a",)], "node string")
    by = {r["node"]: r for r in spam_mass(e, s, iterations=6).collect()}
    for n in ("x", "y", "z"):
        assert by[n]["trust"] == 0.0
        assert by[n]["rank"] > 0.0
        assert by[n]["spam_mass"] == 1.0
    assert by["a"]["spam_mass"] < 0.0
    assert abs(sum(r["rank"] for r in by.values()) - 1.0) < 1e-9
    assert abs(sum(r["trust"] for r in by.values()) - 1.0) < 1e-9


def test_spam_mass_matches_sql_oracle(edges):
    import pandas as pd

    from case_uco_ontology_map_spark.operators.graphstats import (
        spam_mass,
        spam_mass_sql,
    )

    seeds = edges.sparkSession.createDataFrame(
        [("0",), ("5",)], "node string"
    )
    got = {
        r["node"]: (r["rank"], r["trust"], r["spam_mass"])
        for r in spam_mass(edges, seeds, iterations=4).collect()
    }
    con = _duck()
    con.register("s_src", pd.DataFrame({"node": ["0", "5"]}))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "WITH e AS (SELECT * FROM e_src), s AS (SELECT * FROM s_src) "
            + spam_mass_sql(4)
        ).fetchall()
    }
    assert set(got) == set(want)
    for n in want:
        for a, b in zip(got[n], want[n]):
            assert a == pytest.approx(b, abs=1e-12)


def test_landmark_distances_hand_computed(spark):
    """Two landmarks on a path a->b->c->d plus edge d->a: per-landmark
    wavefronts keep their identity — dist(a, c)=2 but dist(c, c)=0 and
    dist(c, a)=2 via d."""
    from case_uco_ontology_map_spark.operators.graphstats import (
        landmark_distances,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    lm = spark.createDataFrame([("a",), ("c",)], "node string")
    got = {
        (r["node"], r["landmark"]): r["dist"]
        for r in landmark_distances(e, lm).collect()
    }
    assert got == {
        ("a", "a"): 0, ("b", "a"): 1, ("c", "a"): 2, ("d", "a"): 3,
        ("c", "c"): 0, ("d", "c"): 1, ("a", "c"): 2, ("b", "c"): 3,
    }


def test_landmark_distances_matches_oracle(edges):
    import pandas as pd

    from case_uco_ontology_map_spark.operators.graphstats import (
        landmark_distances,
        landmark_distances_sql,
    )

    lm = edges.sparkSession.createDataFrame(
        [("0",), ("4",), ("ghost",)], "node string"
    )
    got = {
        (r["node"], r["landmark"]): r["dist"]
        for r in landmark_distances(edges, lm, max_hops=3).collect()
    }
    con = _duck()
    con.register("s_src", pd.DataFrame({"node": ["0", "4", "ghost"]}))
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "WITH e AS (SELECT * FROM e_src), s AS (SELECT * FROM s_src) "
            "SELECT * FROM (" + landmark_distances_sql(3) + ") z"
        ).fetchall()
    }
    assert got == want
    assert got[("ghost", "ghost")] == 0  # isolated landmark kept at 0


def test_pagerank_warm_start_same_fixed_point(edges):
    """Warm start converges to the same fixed point as cold start (power
    iteration contracts regardless of the initial vector): 30 cold
    rounds ≈ skewed-prior warm start + 30 rounds. New-node default and
    renormalization pinned by the mass invariant after round 0."""
    from pyspark.sql import functions as F

    cold = {
        r["node"]: r["rank"] for r in pagerank(edges, iterations=40).collect()
    }
    prior = edges.sparkSession.createDataFrame(
        [("0", 5.0), ("1", 0.25), ("ghost", 9.0)], "node string, rank double"
    )
    warm_df = pagerank(edges, iterations=40, init_ranks=prior)
    warm = {r["node"]: r["rank"] for r in warm_df.collect()}
    assert set(warm) == set(cold)          # ghost prior dropped
    for n in cold:
        # worst-case contraction bound at 40 rounds is 0.85^40 ≈ 1.5e-3;
        # this graph mixes far faster (observed ~1e-8)
        assert warm[n] == pytest.approx(cold[n], abs=1e-6)
    # mass stays 1 throughout (round 0 renormalizes the skewed prior)
    zero = pagerank(edges, iterations=0, init_ranks=prior)
    assert zero.agg(F.sum("rank")).collect()[0][0] == pytest.approx(1.0)


def test_pagerank_warm_matches_sql_oracle(edges):
    import pandas as pd

    prior_rows = [("0", 3.0), ("4", 1.0)]
    prior = edges.sparkSession.createDataFrame(
        prior_rows, "node string, rank double"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=3, init_ranks=prior).collect()
    }
    con = _duck()
    con.register("i_src", pd.DataFrame(prior_rows, columns=["node", "rank"]))
    sql = (
        "WITH e AS (SELECT * FROM e_src), i AS (SELECT * FROM i_src) "
        f"SELECT node, rank FROM ({pagerank_sql(iterations=3, init='i')}) z"
    )
    want = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_weighted_hand_computed(spark):
    """One weighted round by hand: a→b (w=3), a→c (w=1); b, c dangling.
    After round 1: recv(b)=1/3·3/4, recv(c)=1/3·1/4, dangling 2/3
    redistributes uniformly. Zero/negative-weight edges drop."""
    e = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("a", "z", 0.0),
         ("a", "z", -5.0)],
        "src string, dst string, n_links double",
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=1, weight_col="n_links").collect()
    }
    assert set(got) == {"a", "b", "c"}   # z's edges carried nothing
    base = 0.15 / 3 + 0.85 * (2.0 / 3.0) / 3.0
    assert got["a"] == pytest.approx(base, abs=1e-12)
    assert got["b"] == pytest.approx(base + 0.85 * 0.25, abs=1e-12)
    assert got["c"] == pytest.approx(base + 0.85 * (1.0 / 12.0), abs=1e-12)


def test_pagerank_weighted_matches_sql_oracle(spark):
    import pandas as pd

    rows = [("a", "b", 3), ("a", "c", 1), ("b", "a", 2), ("c", "a", 7),
            ("b", "c", 5)]
    e = spark.createDataFrame(rows, "src string, dst string, w long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=4, weight_col="w").collect()
    }
    con = duckdb.connect()
    con.register("we_src", pd.DataFrame(rows, columns=["src", "dst", "w"]))
    sql = (
        "WITH e AS (SELECT * FROM we_src) SELECT node, rank FROM ("
        + pagerank_sql(iterations=4, weight="w")
        + ") z"
    )
    want = dict(con.execute(sql).fetchall())
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_uniform_weights_equal_unweighted(edges):
    from pyspark.sql import functions as F

    w = edges.withColumn("w", F.lit(2.0))
    a = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank(w, iterations=5, weight_col="w").collect()
    }
    for n in a:
        assert b[n] == pytest.approx(a[n], abs=1e-12)


class TestStronglyConnectedComponents:
    SCHEMA = "src long, dst long"

    def _run(self, spark, edges, **kw):
        from case_uco_ontology_map_spark.operators.graphstats import (
            strongly_connected_components,
        )

        df = spark.createDataFrame(edges, self.SCHEMA)
        return sorted(
            (r.node, r.scc_id)
            for r in strongly_connected_components(df, **kw).collect()
        )

    def test_rings_chain_selfloop_hand_computed(self, spark):
        """Ring {1,2,3}, ring {5,6}, chain through 4, upstream 7,
        self-loop on 8 (never a non-trivial SCC): scc_id is the min
        member id, hand-enumerated."""
        edges = [
            (1, 2), (2, 3), (3, 1), (5, 6), (6, 5),
            (3, 4), (4, 5), (7, 1), (8, 8), (8, 7),
        ]
        assert self._run(spark, edges) == [
            (1, 1), (2, 1), (3, 1), (4, 4),
            (5, 5), (6, 5), (7, 7), (8, 8),
        ]

    def test_increasing_id_chain_multiround(self, spark):
        """An id-increasing path is the coloring scheme's worst case —
        one root resolved per round — exercising the outer loop deeply;
        every node is its own SCC."""
        edges = [(i, i + 1) for i in range(1, 7)]
        assert self._run(spark, edges, max_rounds=10) == [
            (i, i) for i in range(1, 8)
        ]

    def test_matches_reachability_oracle(self, spark):
        """Deterministic pseudo-random graph cross-checked against the
        independent pairwise-reachability SQL (recursive CTE + min
        mutual id) — no shared code with the coloring algorithm."""
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.graphstats import (
            strongly_connected_components_sql,
        )

        n = 40
        edges = [(i, (i * 7 + 3) % n) for i in range(n)] + [
            (i, (i - 1) // 2) for i in range(1, n)
        ] + [(99, 99)]  # a node whose only edge is a self-loop
        got = self._run(spark, edges)
        assert (99, 99) in got
        con = duckdb.connect()
        con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
        want = sorted(
            map(
                tuple,
                con.execute(
                    strongly_connected_components_sql("e")
                ).fetchall(),
            )
        )
        assert got == want

    def test_nonconvergence_raises(self, spark):
        import pytest

        edges = [(i, i + 1) for i in range(1, 7)]
        with pytest.raises(RuntimeError, match="did not converge"):
            self._run(spark, edges, max_rounds=2)


class TestCondenseAndLayers:
    def test_condense_then_layer_hand_computed(self, spark):
        """Rings {1,2,3} and {5,6} collapse; condensation edges
        8→7→1→4→5 each carry n_edges=1 (the 8→8 self-loop is
        intra-SCC and drops); longest-path layers follow."""
        from pyspark.sql import functions as F

        from case_uco_ontology_map_spark.operators.graphstats import (
            condense_graph,
            dag_layers,
            strongly_connected_components,
        )

        edges = [
            (1, 2), (2, 3), (3, 1), (5, 6), (6, 5),
            (3, 4), (4, 5), (7, 1), (8, 8), (8, 7),
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        scc = strongly_connected_components(df)
        cond = condense_graph(scc, df)
        assert sorted(map(tuple, cond.collect())) == [
            (1, 4, 1), (4, 5, 1), (7, 1, 1), (8, 7, 1),
        ]
        lay = dag_layers(
            cond.select(
                F.col("src_scc").alias("src"),
                F.col("dst_scc").alias("dst"),
            )
        )
        assert sorted(map(tuple, lay.collect())) == [
            (1, 2), (4, 3), (5, 4), (7, 1), (8, 0),
        ]

    def test_dag_layers_cycle_raises(self, spark):
        import pytest

        from case_uco_ontology_map_spark.operators.graphstats import (
            dag_layers,
        )

        df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        with pytest.raises(RuntimeError, match="cyclic input"):
            dag_layers(df, max_rounds=6)

    def test_dag_layers_matches_sql(self, spark):
        """Diamond + long tail vs the recursive-CTE twin."""
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.graphstats import (
            dag_layers,
            dag_layers_sql,
        )

        edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (9, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(map(tuple, dag_layers(df).collect()))
        con = duckdb.connect()
        con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
        want = sorted(
            map(tuple, con.execute(dag_layers_sql("e")).fetchall())
        )
        assert got == want
