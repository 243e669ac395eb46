"""Edge-case pins for operators/temporal.py and operators/sampling.py.
The contract oracles (asof_attribution, range_join_sessions, hash_split,
stratified_sample) cover bulk correctness; these pin the boundary and
determinism semantics the oracles can't isolate."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _ts(m, s=0):
    return datetime(2024, 1, 1, 0, m, s)


@pytest.fixture()
def clicks_views(spark):
    clicks = spark.createDataFrame(
        [(1, _ts(10), 100), (1, _ts(30), 101), (2, _ts(5), 102)],
        ["user_id", "ts", "event_id"],
    )
    views = spark.createDataFrame(
        [
            (1, _ts(10), 200),   # same instant as click 100 → inclusive match
            (1, _ts(10), 201),   # tie at winning ts → larger payload wins
            (1, _ts(29), 202),
            (3, _ts(1), 203),    # other user, never matches
        ],
        ["user_id", "ts", "event_id"],
    )
    return clicks, views


def test_asof_backward_inclusive_and_ties(spark, clicks_views):
    from case_uco_ontology_map_spark.operators.temporal import asof_join

    clicks, views = clicks_views
    out = {
        r.event_id: r
        for r in asof_join(
            clicks, views, ts_col="ts", by=("user_id",),
            right_cols=("event_id",), prefix="view_",
        ).collect()
    }
    # equal timestamp matches (inclusive), tie → largest event_id
    assert out[100].view_event_id == 201
    assert out[101].view_event_id == 202
    # user 2 has no views at all → NULL match
    assert out[102].view_event_id is None
    assert out[102].view_ts is None


def test_asof_forward_and_tolerance(spark, clicks_views):
    from case_uco_ontology_map_spark.operators.temporal import asof_join

    clicks, views = clicks_views
    fwd = {
        r.event_id: r
        for r in asof_join(
            clicks, views, ts_col="ts", by=("user_id",),
            right_cols=("event_id",), prefix="view_", direction="forward",
        ).collect()
    }
    # forward: smallest view ts >= click ts; equal instant still matches
    assert fwd[100].view_event_id == 201
    # no view at/after minute 30 for user 1
    assert fwd[101].view_event_id is None

    tight = {
        r.event_id: r
        for r in asof_join(
            clicks, views, ts_col="ts", by=("user_id",),
            right_cols=("event_id",), prefix="view_",
            tolerance="30 seconds",
        ).collect()
    }
    # click 101 at :30 — nearest view at :29 is 60s away → out of tolerance
    assert tight[101].view_event_id is None
    # click 100's match is at the same instant → inside any tolerance
    assert tight[100].view_event_id == 201


def test_asof_rejects_bad_direction(spark, clicks_views):
    from case_uco_ontology_map_spark.operators.temporal import asof_join

    clicks, views = clicks_views
    with pytest.raises(ValueError):
        asof_join(clicks, views, direction="nearest")


def test_range_join_spanning_intervals(spark):
    """An interval spanning many buckets matches each inside point exactly
    once; boundary semantics are [start, end)."""
    from case_uco_ontology_map_spark.operators.temporal import range_join_points

    points = spark.createDataFrame(
        [
            ("k", datetime(2024, 1, 1, 0, 0), 1),   # == start → in
            ("k", datetime(2024, 1, 1, 2, 30), 2),  # mid-span → in
            ("k", datetime(2024, 1, 1, 5, 0), 3),   # == end → OUT (exclusive)
            ("k", datetime(2024, 1, 1, 9, 0), 4),   # outside → no match
        ],
        ["key", "ts", "pid"],
    )
    intervals = spark.createDataFrame(
        [
            ("k", datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 5, 0), "A"),
            # overlapping interval: point 2 must match BOTH in either mode
            ("k", datetime(2024, 1, 1, 2, 0), datetime(2024, 1, 1, 3, 0), "B"),
        ],
        ["key", "start", "end", "label"],
    )
    inner = range_join_points(
        points, intervals, "ts", "start", "end", by=("key",), bucket="1 hour"
    )
    got = {(r.pid, r.label) for r in inner.collect()}
    assert got == {(1, "A"), (2, "A"), (2, "B")}

    left = range_join_points(
        points, intervals, "ts", "start", "end", by=("key",),
        bucket="1 hour", how="left",
    )
    rows = sorted((r.pid, r.label) for r in left.collect())
    assert rows == [(1, "A"), (2, "A"), (2, "B"), (3, None), (4, None)]


def test_range_join_shared_lineage(spark):
    """points and intervals derived from the SAME parent frame (the
    production shape: sessions aggregated from the very events being
    joined) must not collapse the by-key predicate into a trivially-true
    self-comparison — cross-key matches are the failure mode."""
    from case_uco_ontology_map_spark.operators.temporal import range_join_points
    from case_uco_ontology_map_spark.streaming.ingest import sessionize

    events = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1, 0, 0), 1),
            ("u1", datetime(2024, 1, 1, 0, 10), 2),
            # u2's event sits INSIDE u1's session time-range: a broken
            # key predicate would match it to u1's session
            ("u2", datetime(2024, 1, 1, 0, 5), 3),
        ],
        ["user_id", "ts", "event_id"],
    )
    sessions = sessionize(
        events, "ts", "30 minutes", keys=("user_id",),
        aggs=[F.count("*").alias("n_events")],
    )
    out = range_join_points(
        events, sessions, "ts", "session_start", "session_end",
        by=("user_id",), bucket="1 hour",
    ).collect()
    assert len(out) == 3  # each event in exactly its own user's session
    ns = {r.event_id: r.n_events for r in out}
    assert ns == {1: 2, 2: 2, 3: 1}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-validation: asof_join ≡ pandas.merge_asof on 1k
    left rows × 600 right rows across 25 keys, both directions. Right
    (key, ts) pairs are unique so the tie rule (which pandas defines
    positionally, we define by payload) never fires."""
    import random

    import pandas as pd

    rnd = random.Random(42)
    base = datetime(2024, 1, 1).timestamp()

    def mk_ts(off):
        return datetime.fromtimestamp(base + off)

    left_rows = [
        (rnd.randrange(25), mk_ts(rnd.randrange(100_000)), i)
        for i in range(1000)
    ]
    seen = set()
    right_rows = []
    for j in range(600):
        k, off = rnd.randrange(25), rnd.randrange(100_000)
        if (k, off) in seen:
            continue
        seen.add((k, off))
        right_rows.append((k, mk_ts(off), 10_000 + j))
    left = spark.createDataFrame(left_rows, ["k", "ts", "lid"])
    right = spark.createDataFrame(right_rows, ["k", "ts", "rid"])

    lpd = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts")
    rpd = pd.DataFrame(right_rows, columns=["k", "ts", "rid"]).sort_values("ts")

    from case_uco_ontology_map_spark.operators.temporal import asof_join

    for direction in ("backward", "forward"):
        ours = {
            r.lid: (r.matched_ts, r.matched_rid)
            for r in asof_join(
                left, right, ts_col="ts", by=("k",),
                right_cols=("rid",), direction=direction,
            ).collect()
        }
        ref = pd.merge_asof(
            lpd, rpd, on="ts", by="k", direction=direction,
            suffixes=("", "_r"),
        )
        for row in ref.itertuples():
            want = (
                (None, None)
                if pd.isna(row.rid)
                else (row.ts, int(row.rid))
            )
            got = ours[row.lid]
            assert (got[1] or None) == want[1], (row.lid, got, want)


def test_sessionize_matches_pure_python(spark):
    """Randomized cross-validation: sessionize ≡ a pure-Python gap
    sessionizer over 2k events / 20 users (second-granularity timestamps so
    exact-gap boundaries actually occur)."""
    import random

    rnd = random.Random(7)
    base = datetime(2024, 1, 1).timestamp()
    rows = [
        (rnd.randrange(20), datetime.fromtimestamp(base + rnd.randrange(0, 40_000, 60)))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    from case_uco_ontology_map_spark.streaming.ingest import sessionize

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(df, "ts", "10 minutes", keys=("user_id",)).collect()
    )

    gap = 600
    by_user = {}
    for u, ts in rows:
        by_user.setdefault(u, []).append(ts)
    want = []
    for u, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for ts in tss[1:]:
            if (ts - last).total_seconds() > gap:  # == gap still merges
                want.append((u, start, datetime.fromtimestamp(last.timestamp() + gap), n))
                start, n = ts, 0
            last = ts
            n += 1
        want.append((u, start, datetime.fromtimestamp(last.timestamp() + gap), n))
    assert got == sorted(want)


def test_deterministic_sample_partition_invariant(spark):
    """The kept set must not change with partitioning — the property RNG
    sampling lacks."""
    from case_uco_ontology_map_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = sorted(
        r.k for r in deterministic_sample(df, "k", 0.25, salt="s").collect()
    )
    b = sorted(
        r.k
        for r in deterministic_sample(
            df.repartition(17), "k", 0.25, salt="s"
        ).collect()
    )
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.3
    # a different salt draws an (almost surely) different split
    c = sorted(
        r.k for r in deterministic_sample(df, "k", 0.25, salt="t").collect()
    )
    assert a != c


def test_split_columns_disjoint_and_complete(spark):
    from case_uco_ontology_map_spark.operators.sampling import split_columns

    df = spark.range(0, 3000).withColumnRenamed("id", "k")
    out = split_columns(
        df, "k", {"train": 0.8, "val": 0.1, "test": 0.05}, salt="s"
    )
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 3000
    assert counts.get("train", 0) > counts.get("val", 0) > 0
    # ~5% lands in no split (held out) — the None bucket
    assert counts.get(None, 0) > 0
    with pytest.raises(ValueError):
        split_columns(df, "k", {"a": 0.9, "b": 0.2})


def test_pack_sequences_greedy_rule(spark):
    """Greedy next-fit semantics in one bucket: overflow opens a new pack;
    an oversized doc sits alone; positions restart per pack — and the
    assignment is partition-invariant."""
    from case_uco_ontology_map_spark.operators.packing import pack_sequences

    rows = [(i, t) for i, t in enumerate([40, 40, 40, 150, 60, 10])]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = pack_sequences(
        df, max_tokens=100, buckets=1, id_col="doc_id", token_col="n_tokens"
    )
    got = {r.doc_id: (r.pack_id, r.pack_pos) for r in out.collect()}
    # [40,40]=80 fits pack 0; third 40 overflows → pack 1; 150 overflows
    # pack 1 and exceeds the budget alone → own pack 2; 60 overflows → pack
    # 3; 10 joins it (60+10 <= 100).
    assert got == {
        0: (0, 1), 1: (0, 2), 2: (1, 1), 3: (2, 1), 4: (3, 1), 5: (3, 2)
    }

    # partitioning must not change pack membership
    out2 = {
        r.doc_id: (r.pack_id, r.pack_pos)
        for r in pack_sequences(
            df.repartition(7), max_tokens=100, buckets=1,
            id_col="doc_id", token_col="n_tokens",
        ).collect()
    }
    assert out2 == got

    with pytest.raises(ValueError):
        pack_sequences(df, max_tokens=0)


def test_url_normalize_corner_cases(spark):
    """Cases the synthesized oracle corpus doesn't produce: :443 strip,
    no-scheme passthrough, gclid, userinfo@, non-multipart domain."""
    from case_uco_ontology_map_spark.functions.urls import (
        url_host,
        url_normalize,
        url_registered_domain,
    )

    rows = [
        ("HTTPS://user:pw@Sub.Host.ORG:443/A/B?gclid=1&z=2&a=3#x",),
        ("relative/path/no/scheme",),
        ("http://example.com",),
        ("https://deep.sub.example.com/x",),
    ]
    df = spark.createDataFrame(rows, ["url"])
    out = df.select(
        "url",
        url_normalize(F.col("url")).alias("n"),
        url_host(F.col("url")).alias("h"),
        url_registered_domain(F.col("url")).alias("d"),
    ).collect()
    by = {r.url: r for r in out}
    r0 = by[rows[0][0]]
    assert r0.n == "https://sub.host.org/A/B?a=3&z=2"
    assert r0.h == "sub.host.org" and r0.d == "host.org"
    # no scheme → untouched
    assert by["relative/path/no/scheme"].n == "relative/path/no/scheme"
    assert by["http://example.com"].n == "http://example.com/"
    assert by["https://deep.sub.example.com/x"].d == "example.com"


def test_mix_corpora_weighted_union(spark):
    from case_uco_ontology_map_spark.operators.sampling import mix_corpora

    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(1000, 2000).withColumnRenamed("id", "k")
    out = mix_corpora([("web", a, 1.0), ("books", b, 0.2)], "k", salt="s")
    counts = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["web"] == 1000
    assert 120 < counts["books"] < 280
    # reproducible: the same call yields the identical kept set
    again = mix_corpora([("web", a, 1.0), ("books", b, 0.2)], "k", salt="s")
    assert sorted(r.k for r in out.collect()) == sorted(
        r.k for r in again.collect()
    )
    with pytest.raises(ValueError):
        mix_corpora([], "k")


def test_stratified_sample_rates(spark):
    from case_uco_ontology_map_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    out = stratified_sample(df, "k", "s", {"a": 1.0}, default=0.0)
    rows = out.groupBy("s").agg(F.count("*").alias("n")).collect()
    got = {r.s: r.n for r in rows}
    assert got == {"a": 1500}  # full stratum kept, default-0 stratum dropped


class TestCapPerKey:
    def test_cap_explicit_order(self, spark):
        from case_uco_ontology_map_spark.operators.sampling import cap_per_key

        df = spark.createDataFrame(
            [("a", i) for i in range(5)] + [("b", 9)],
            "k string, v long",
        )
        out = cap_per_key(df, ["k"], 2, order_cols=["v"])
        got = sorted((r.k, r.v) for r in out.collect())
        assert got == [("a", 0), ("a", 1), ("b", 9)]

    def test_cap_hash_order_deterministic_and_partition_invariant(self, spark):
        from case_uco_ontology_map_spark.operators.sampling import cap_per_key

        df = spark.createDataFrame(
            [(f"k{i % 3}", i) for i in range(30)], "k string, id long"
        )
        a = sorted(
            (r.k, r.id)
            for r in cap_per_key(
                df, ["k"], 4, hash_key_col="id", salt="s"
            ).collect()
        )
        b = sorted(
            (r.k, r.id)
            for r in cap_per_key(
                df.repartition(7), ["k"], 4, hash_key_col="id", salt="s"
            ).collect()
        )
        assert a == b
        assert len(a) == 12 and len({k for k, _ in a}) == 3

    def test_cap_validates(self, spark):
        import pytest as _pt

        from case_uco_ontology_map_spark.operators.sampling import cap_per_key

        df = spark.createDataFrame([("a", 1)], "k string, v long")
        with _pt.raises(ValueError):
            cap_per_key(df, ["k"], 0, order_cols=["v"])
        with _pt.raises(ValueError):
            cap_per_key(df, ["k"], 1)


class TestChunkDocuments:
    def test_chunks_with_overlap(self, spark):
        from case_uco_ontology_map_spark.operators.packing import (
            chunk_documents,
        )

        df = spark.createDataFrame(
            [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, ""), (3, "only")],
            "doc_id long, text string",
        )
        out = chunk_documents(df, max_tokens=4, overlap=1)
        rows = {
            (r.doc_id, r.chunk_id): (r.chunk_text, r.n_chunk_tokens)
            for r in out.collect()
        }
        # stride 3: starts 0, 3 — start 6 lands inside the final overlap
        # (6 + 1 >= 7) so its window ("t6") would be a strict subset of
        # chunk@3 and is NOT emitted
        assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
        assert rows[(1, 1)] == ("t3 t4 t5 t6", 4)
        assert (1, 2) not in rows
        assert rows[(3, 0)] == ("only", 1)
        assert (2, 0) not in rows and len(rows) == 3

    def test_chunk_validates(self, spark):
        import pytest as _pt

        from case_uco_ontology_map_spark.operators.packing import (
            chunk_documents,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pt.raises(ValueError):
            chunk_documents(df, max_tokens=0)
        with _pt.raises(ValueError):
            chunk_documents(df, max_tokens=4, overlap=4)


def test_blocklist_filter_suffix_semantics(spark):
    """Domain blocklist: an entry blocks its exact host and every
    subdomain, never a sibling or a partial-label match."""
    from case_uco_ontology_map_spark.functions.urls import (
        blocklist_filter,
        blocklist_hits,
        host_suffixes,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "https://ads.tracker1.net/x"),       # subdomain of blocked
        (1, "https://tracker1.net/y"),           # exact blocked host
        (2, "https://nottracker1.net/z"),        # partial-label: SURVIVES
        (3, "https://www.site4.example.co.uk/"), # exact blocked (www strip)
        (4, "https://site5.example.co.uk/"),     # sibling: survives
        (5, "https://deep.a.b.tracker1.net/q"),  # deep subdomain blocked
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame(
        [("tracker1.net",), ("site4.example.co.uk",)], "domain string"
    )
    kept = {r.doc_id for r in blocklist_filter(df, blocked).collect()}
    assert kept == {2, 4}
    hits = {
        (r.url, r.matched_domain)
        for r in blocklist_hits(df, blocked).collect()
    }
    assert ("https://ads.tracker1.net/x", "tracker1.net") in hits
    assert ("https://www.site4.example.co.uk/", "site4.example.co.uk") in hits
    # suffix chain sanity: longest-first, full chain
    sfx = (
        df.filter(F.col("doc_id") == 0)
        .select(host_suffixes(F.lit("a.b.c")).alias("s"))
        .collect()[0]["s"]
    )
    assert sfx == ["a.b.c", "b.c", "c"]


class TestTrainingShards:
    def test_assignment_deterministic_and_balanced(self, spark):
        from case_uco_ontology_map_spark.operators.sampling import (
            shard_assignment,
        )

        df = spark.range(2000).select(F.col("id").cast("string").alias("k"))
        a = {
            r.k: (r.shard, r.shard_order)
            for r in shard_assignment(df, "k", 8).collect()
        }
        b = {
            r.k: (r.shard, r.shard_order)
            for r in shard_assignment(
                df.repartition(13), "k", 8
            ).collect()
        }
        assert a == b  # partitioning-invariant
        sizes = {}
        for s, _ in a.values():
            sizes[s] = sizes.get(s, 0) + 1
        assert set(sizes) == set(range(8))
        assert max(sizes.values()) < 2 * min(sizes.values())

    def test_guard(self, spark):
        from case_uco_ontology_map_spark.operators.sampling import (
            shard_assignment,
        )

        df = spark.range(3).select(F.col("id").cast("string").alias("k"))
        import pytest as _pt

        with _pt.raises(ValueError):
            shard_assignment(df, "k", 0)
