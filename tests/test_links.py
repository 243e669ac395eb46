"""Hyperlink extraction: resolution subset and regex extraction over
string AND binary html — expectations hand-written (no generated SQL)."""

from case_uco_ontology_map_spark.functions.links import extract_links

_PAGE = (
    '<html><body><p>intro</p>'
    '<a href="https://ext.example.com/x" rel="nofollow">Ext</a>\n'
    '<a href="//cdn.example.net/lib.js">Proto</a>'
    '<a href="/root/doc">Root</a>'
    '<a href="sibling.html">Rel</a>'
    '<a href="#frag">Frag</a>'
    '<a href="mailto:a@b.test">Mail</a>'
    '<a href="javascript:void(0)">JS</a>'
    '<a href="">Empty</a>'
    "</body></html>"
)


def _edges(spark, url, html):
    df = spark.createDataFrame([(url, html)], "url string, html string")
    return sorted(
        (r.dst, r.anchor) for r in extract_links(df).collect()
    )


def test_resolution_subset(spark):
    got = _edges(spark, "https://h.example.org/d/sub/page.html", _PAGE)
    assert got == [
        ("https://cdn.example.net/lib.js", "Proto"),
        ("https://ext.example.com/x", "Ext"),
        ("https://h.example.org/d/sub/sibling.html", "Rel"),
        ("https://h.example.org/root/doc", "Root"),
    ]


def test_relative_from_root_page(spark):
    # base path '/' → basedir '' → origin + '/' + href
    got = _edges(spark, "http://h.org/", '<a href="a.html">A</a>')
    assert got == [("http://h.org/a.html", "A")]
    # base with no path at all resolves the same way
    got = _edges(spark, "http://h.org", '<a href="a.html">A</a>')
    assert got == [("http://h.org/a.html", "A")]


def test_binary_html_and_passthrough_columns(spark):
    df = spark.createDataFrame(
        [("http://h.org/p", _PAGE.encode("utf-8"), 7)],
        "url string, html binary, extra int",
    )
    rows = extract_links(df).collect()
    assert len(rows) == 4
    assert all(r.extra == 7 and r.src == "http://h.org/p" for r in rows)


def test_unmatched_shapes_ignored(spark):
    # single-quoted href and anchors containing markup are out of the
    # documented subset — ignored, not mangled
    html = "<a href='/sq'>SQ</a><a href=\"/ok\"><b>bold</b></a>"
    got = _edges(spark, "http://h.org/", html)
    assert got == []


def test_sitemap_entries(spark):
    from case_uco_ontology_map_spark.functions.links import sitemap_entries

    urlset = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>http://e.org/a</loc>"
        "<lastmod>2026-01-05</lastmod></url>"
        "<url><loc>\n  http://e.org/b\n</loc></url>"  # no lastmod
        "<url><lastmod>2026-01-06</lastmod></url>"  # no loc → dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>http://e.org/s1.xml</loc>"
        "<lastmod>2026-02-01</lastmod></sitemap>"
        "<sitemap><loc>http://e.org/s2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("u", urlset), ("i", index)], "src string, xml string"
    )
    got = sorted(
        (r.src, r.kind, r.loc, r.lastmod)
        for r in sitemap_entries(df).collect()
    )
    assert got == [
        ("i", "sitemap", "http://e.org/s1.xml", "2026-02-01"),
        ("i", "sitemap", "http://e.org/s2.xml", None),
        ("u", "url", "http://e.org/a", "2026-01-05"),
        ("u", "url", "http://e.org/b", None),
    ]


def test_anchor_text_index(spark):
    from case_uco_ontology_map_spark.functions.links import (
        anchor_text_index,
    )

    rows = (
        [("s", "http://t/a", "Alpha")] * 3
        + [("s", "http://t/a", "Beta")] * 3  # tie with Alpha → Alpha first
        + [("s", "http://t/a", "Gamma")] * 1
        + [("s", "http://t/a", "Delta")] * 2
        + [("s", "http://t/b", "")]  # empty anchors never indexed
        + [("s", "http://t/b", "Only")]
    )
    df = spark.createDataFrame(rows, "src string, dst string, anchor string")
    got = sorted(
        (r.dst, r.rank, r.anchor, r.n_links)
        for r in anchor_text_index(df, top_k=3).collect()
    )
    assert got == [
        ("http://t/a", 1, "Alpha", 3),
        ("http://t/a", 2, "Beta", 3),
        ("http://t/a", 3, "Delta", 2),
        ("http://t/b", 1, "Only", 1),
    ]


def test_host_graph_aggregation_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.functions.links import (
        host_graph,
        host_graph_sql,
    )

    edges = [
        # two pages on a.test -> b.test (3 links from 2 distinct pages)
        ("https://www.a.test/p1", "https://b.test/x"),
        ("https://www.a.test/p1", "https://b.test:443/y"),
        ("https://a.test/p2", "https://u@b.test/z"),
        # internal navigation on a.test
        ("https://a.test/p1", "https://a.test/p2"),
        # port-80 normalization on the src side
        ("http://c.test:80/q", "https://b.test/x"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.src_host, r.dst_host): (r.internal, r.n_links, r.n_src_pages)
        for r in host_graph(df).collect()
    }
    assert got == {
        ("a.test", "b.test"): (False, 3, 2),
        ("a.test", "a.test"): (True, 1, 1),
        ("c.test", "b.test"): (False, 1, 1),
    }
    con = duckdb.connect()
    con.register("e_src", pd.DataFrame(edges, columns=["src", "dst"]))
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            "WITH e AS (SELECT * FROM e_src) " + host_graph_sql()
        ).fetchall()
    }
    assert got == want


def test_domain_graph_rollup_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.functions.links import (
        domain_graph,
        domain_graph_sql,
    )

    hosts = [
        # two a.test subdomains -> b.co.uk hosts: one domain edge,
        # n_links sums, n_src_hosts counts DISTINCT source hosts
        ("blog.a.test", "shop.b.co.uk", 3),
        ("blog.a.test", "b.co.uk", 2),
        ("news.a.test", "b.co.uk", 1),
        # subdomain cross-link collapses to an INTERNAL domain edge
        ("blog.a.test", "news.a.test", 4),
        # bare single-label host passes through as its own domain
        ("localhost", "b.co.uk", 1),
    ]
    df = spark.createDataFrame(
        hosts, "src_host string, dst_host string, n_links long"
    )
    got = {
        (r.src_domain, r.dst_domain): (r.internal, r.n_links, r.n_src_hosts)
        for r in domain_graph(df).collect()
    }
    assert got == {
        ("a.test", "b.co.uk"): (False, 6, 2),
        ("a.test", "a.test"): (True, 4, 1),
        ("localhost", "b.co.uk"): (False, 1, 1),
    }
    con = duckdb.connect()
    con.register(
        "h_src",
        pd.DataFrame(hosts, columns=["src_host", "dst_host", "n_links"]),
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(
            "WITH h AS (SELECT * FROM h_src) " + domain_graph_sql()
        ).fetchall()
    }
    assert got == want


def test_link_delta_statuses_and_oracle(spark):
    import duckdb
    import pandas as pd

    from case_uco_ontology_map_spark.functions.links import (
        link_delta,
        link_delta_sql,
    )

    prior = [("a", "b"), ("a", "c"), ("a", "c"), ("b", "c")]  # dup collapses
    cur = [("a", "b"), ("b", "d")]
    p = spark.createDataFrame(prior, "src string, dst string")
    c = spark.createDataFrame(cur, "src string, dst string")
    got = {(r.src, r.dst): r.status for r in link_delta(p, c).collect()}
    assert got == {
        ("a", "b"): "retained",
        ("a", "c"): "removed",
        ("b", "c"): "removed",
        ("b", "d"): "added",
    }
    con = duckdb.connect()
    con.register("p_src", pd.DataFrame(prior, columns=["src", "dst"]))
    con.register("c_src", pd.DataFrame(cur, columns=["src", "dst"]))
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "WITH p AS (SELECT * FROM p_src), c AS (SELECT * FROM c_src) "
            + link_delta_sql()
        ).fetchall()
    }
    assert got == want


def test_alias_priors_hand_computed(spark):
    from case_uco_ontology_map_spark.functions.links import alias_priors

    links = spark.createDataFrame(
        [
            # "acme" → t1 twice (case/space-normalized), t2 once
            ("s1", "t1", "Acme"),
            ("s2", "t1", " acme "),
            ("s3", "t2", "ACME"),
            # empty and null anchors never vote
            ("s4", "t1", ""),
            ("s5", "t1", None),
            # "widget" → t2 once
            ("s6", "t2", "widget"),
            # generic surface naming 3 entities with max_entities=2: drop
            ("s7", "t1", "here"),
            ("s8", "t2", "here"),
            ("s9", "t3", "here"),
        ],
        "src string, dst string, anchor string",
    )
    pe = spark.createDataFrame(
        [("t1", "E1"), ("t2", "E2"), ("t3", "E3")],
        "url string, entity string",
    )
    got = {
        (r.surface, r.entity, r.n_links, r.n_surface, r.rank)
        for r in alias_priors(links, pe, top_k=2, max_entities=2).collect()
    }
    assert got == {
        ("acme", "E1", 2, 3, 1),
        ("acme", "E2", 1, 3, 2),
        ("widget", "E2", 1, 1, 1),
    }


def test_link_by_prior_confidence(spark):
    from case_uco_ontology_map_spark.functions.links import (
        alias_priors,
        link_by_prior,
    )

    links = spark.createDataFrame(
        [
            ("s1", "t1", "acme"), ("s2", "t1", "acme"),
            ("s3", "t2", "acme"),
            # "rare": one vote only -> fails min_links=2
            ("s4", "t1", "rare"),
            # "split": 1/2 commonness at threshold 1/2 -> confident
            ("s5", "t1", "split"), ("s6", "t2", "split"),
            ("s7", "t2", "split"), ("s8", "t1", "split"),
        ],
        "src string, dst string, anchor string",
    )
    pe = spark.createDataFrame(
        [("t1", "E1"), ("t2", "E2")], "url string, entity string"
    )
    priors = alias_priors(links, pe)
    mentions = spark.createDataFrame(
        [("d1", "Acme"), ("d2", "rare"), ("d3", "SPLIT"), ("d4", "nope")],
        "doc string, surface string",
    )
    got = {
        (r.doc, r.entity, r.confident)
        for r in link_by_prior(mentions, priors).collect()
    }
    # acme: E1 2/3 >= 1/2 and 2 votes -> confident
    # rare: E1 1 vote -> not confident (min_links)
    # split: tie 2/2 -> E1 by entity ASC, 2/4 = 1/2 -> confident
    # nope: no dictionary entry -> NULL entity, confident=false
    assert got == {
        ("d1", "E1", True),
        ("d2", "E1", False),
        ("d3", "E1", True),
        ("d4", None, False),
    }
