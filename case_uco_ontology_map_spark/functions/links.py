"""Hyperlink extraction — html pages → the web link graph.

The link graph is the other first-class output of a crawl besides the
text: PageRank-style quality priors, seed expansion, spam-neighborhood
detection, and KG `linksTo` edges all consume (src, dst, anchor) tuples.
At 100 TB this MUST stay JVM-side — a per-page Python crossing just to
run a regex would dominate the job — so extraction is
``regexp_extract_all`` (two capture groups zipped positionally) and
resolution is a CASE over string expressions, all whole-stage-codegen
and replayable verbatim in ANSI SQL (the ``link_graph`` contract row
runs the identical regex + CASE in DuckDB).

Documented subset (the honest 95% case, not a WHATWG URL parser):

  * anchors match ``<a ... href="...">text</a>`` with a double-quoted
    href and tag-free anchor text on one line; single-quoted/unquoted
    hrefs and anchors containing markup or newlines are not matched
  * resolution handles absolute http(s), protocol-relative ``//``,
    root-relative ``/``, and same-directory relative hrefs; other
    schemes (``mailto:``, ``javascript:``...), bare fragments, and
    empty hrefs drop; ``../`` dot segments are NOT normalized
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one regex, two groups — href and anchor text; keep it RE2-compatible
# (DuckDB) AND java.util.regex-compatible (Spark): no backrefs, no
# lookaround
ANCHOR_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'

_SCHEME_RE = r"^([a-z][a-z0-9+.\-]*)://"
_AUTH_RE = r"^[a-z][a-z0-9+.\-]*://([^/?#]*)"
_BASEPATH_RE = r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)"


def resolve_href(base: Column, href: Column) -> Column:
    """href resolved against the page url per the module-header subset;
    NULL for dropped links (non-http schemes, fragments, empty)."""
    scheme = F.regexp_extract(base, _SCHEME_RE, 1)
    auth = F.regexp_extract(base, _AUTH_RE, 1)
    basepath = F.regexp_extract(base, _BASEPATH_RE, 1)
    basedir = F.regexp_replace(basepath, r"/[^/]*$", "")
    origin = F.concat(scheme, F.lit("://"), auth)
    return (
        F.when(href.rlike(r"^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), F.lit(None))
        .when((href == "") | href.startswith("#"), F.lit(None))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(origin, basedir, F.lit("/"), href))
    )


def extract_links(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """One row per resolvable anchor: ``(src, dst, anchor)`` plus every
    other input column. ``html_col`` may be string or binary (decoded
    UTF-8 JVM-side). Zero shuffle, zero Python — plan-asserted."""
    html = F.col(html_col)
    if dict(df.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    pat = F.lit(ANCHOR_RE)
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, pat, 1).alias("href"),
        F.regexp_extract_all(html, pat, 2).alias("anchor"),
    )
    exploded = df.withColumn("_lnk", F.explode(pairs))
    dst = resolve_href(F.col(url_col), F.col("_lnk.href"))
    return (
        exploded.withColumn("dst", dst)
        .where(F.col("dst").isNotNull())
        .withColumn("anchor", F.col("_lnk.anchor"))
        .withColumnRenamed(url_col, "src")
        .drop("_lnk", html_col)
    )


def anchor_text_index(
    links: DataFrame,
    top_k: int = 3,
) -> DataFrame:
    """Anchor-text index: for every link TARGET, the ``top_k`` most
    common anchor strings pointing at it — the classic ranking/naming
    signal (anchor text describes the target better than the target's
    own page; search engines and KG labelers both consume this).

    Input is ``extract_links`` output (``dst``, ``anchor``). Counts
    pre-aggregate map-side on (dst, anchor) before any row moves, so a
    hub target ships one row per DISTINCT anchor, not per link; the
    top-k window then ranks those counts (count DESC, anchor ASC —
    deterministic). Two key-compatible shuffles, no anchor list ever
    materialized per target."""
    from pyspark.sql.window import Window

    counts = (
        links.where(F.col("anchor") != "")
        .groupBy("dst", "anchor")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    w = Window.partitionBy("dst").orderBy(
        F.desc("n_links"), F.asc("anchor")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("dst", "anchor", "n_links", "rank")
    )


SITEMAP_URL_BLOCK_RE = r"(?s)<url>(.*?)</url>"
SITEMAP_IDX_BLOCK_RE = r"(?s)<sitemap>(.*?)</sitemap>"
# capture runs to the next whitespace or '<' — urls/dates contain
# neither, and Spark's trim() only strips 0x20, not newlines
_LOC_RE = r"<loc>\s*([^<\s]*)"
_LASTMOD_RE = r"<lastmod>\s*([^<\s]*)"


def sitemap_entries(
    df: DataFrame,
    xml_col: str = "xml",
) -> DataFrame:
    """Sitemap parsing — the frontier's other seed source besides the
    link graph (sitemaps.org protocol): one row per ``<url>`` entry of
    a urlset, or per ``<sitemap>`` entry of a sitemapindex (``kind``
    says which — index entries are child sitemaps to fetch and recurse,
    url entries go straight to the frontier). ``lastmod`` is NULL when
    the entry omits it — entry blocks are extracted FIRST and fields
    read per block, so optional fields never misalign (a naive
    two-regex zip breaks on the first entry without lastmod).

    Pure JVM: block split + field reads are regexps ((?s) inline flag —
    RE2 ∩ java.util.regex), replayable verbatim in the
    ``sitemap_frontier`` contract oracle. Same documented-subset
    philosophy as extract_links: spec-shaped XML, no entity decoding,
    no CDATA."""
    x = F.col(xml_col)
    is_index = x.contains("<sitemapindex")
    blocks = F.when(
        is_index, F.regexp_extract_all(x, F.lit(SITEMAP_IDX_BLOCK_RE), 1)
    ).otherwise(
        F.regexp_extract_all(x, F.lit(SITEMAP_URL_BLOCK_RE), 1)
    )
    exploded = df.withColumn(
        "kind", F.when(is_index, F.lit("sitemap")).otherwise(F.lit("url"))
    ).withColumn("_entry", F.explode(blocks))
    loc = F.trim(F.regexp_extract(F.col("_entry"), _LOC_RE, 1))
    lastmod = F.trim(F.regexp_extract(F.col("_entry"), _LASTMOD_RE, 1))
    return (
        exploded.withColumn("loc", loc)
        .withColumn(
            "lastmod", F.when(lastmod == "", F.lit(None)).otherwise(lastmod)
        )
        .where(F.col("loc") != "")
        .drop("_entry", xml_col)
    )


def host_graph(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Page-level link edges → the HOST graph:
    ``(src_host, dst_host, internal, n_links, n_src_pages)``.

    The host graph is where crawl policy actually lives — per-site
    PageRank priors, spam-neighborhood detection, and politeness
    budgets all operate on hosts, not pages (10^6–10^8 hosts vs 10^10+
    pages, so this is also the aggregation that makes link analysis
    tractable at 100 TB). ``internal`` flags same-host edges so
    consumers can drop navigation boilerplate without a second pass.

    One shuffle on (src_host, dst_host); ``n_links`` reduces map-side,
    ``n_src_pages`` is an exact count-distinct (Spark plans it as the
    standard two-phase partial-distinct expand — still one logical
    aggregation, no driver involvement)."""
    from case_uco_ontology_map_spark.functions.urls import url_host

    sh = url_host(F.col(src))
    dh = url_host(F.col(dst))
    return (
        edges.select(
            sh.alias("src_host"),
            dh.alias("dst_host"),
            F.col(src).alias("_src_page"),
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("_src_page").alias("n_src_pages"),
        )
        .select(
            "src_host",
            "dst_host",
            (F.col("src_host") == F.col("dst_host")).alias("internal"),
            "n_links",
            "n_src_pages",
        )
    )


def host_graph_sql(table: str = "e", src: str = "src",
                   dst: str = "dst") -> str:
    """ANSI replay of ``host_graph`` over an edge table/CTE ``table``
    (the full ``url_host`` normalization chain: lowercase, strip
    userinfo@, default :80/:443 port, one leading www.)."""
    h = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"

    def hostexpr(col: str) -> str:
        return (
            "regexp_replace(regexp_replace(regexp_replace("
            f"lower(regexp_extract({col}, '{h}', 1)), "
            r"'^[^@]*@', ''), ':(80|443)$', ''), '^www\.', '')"
        )

    return f"""
SELECT src_host, dst_host,
       src_host = dst_host AS internal,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT {src}) AS BIGINT) AS n_src_pages
FROM (
  SELECT {hostexpr(src)} AS src_host,
         {hostexpr(dst)} AS dst_host,
         {src}
  FROM {table}
) z
GROUP BY 1, 2
"""


def domain_graph(
    host_edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    links: str = "n_links",
) -> DataFrame:
    """Host-level link edges (``host_graph`` output) → the REGISTERED-
    DOMAIN graph: ``(src_domain, dst_domain, internal, n_links,
    n_src_hosts)``.

    The domain graph is the coarsest rung of the web-graph ladder
    (pages → hosts → registered domains) and the one public webgraph
    releases actually ship at full scale — subdomain farms
    (``*.blogspot.com``-style) collapse to one node, so domain-level
    PageRank/TrustRank can't be inflated by minting hosts, and site-ops
    policy (crawl budgets, spam neighborhoods) is naturally per-domain.
    ``internal`` flags same-domain edges (subdomain cross-links
    included) so consumers drop them without a second pass. The
    registered-domain cut is ``urls.host_registered_domain`` — the
    documented last-two-labels + multi-part-suffix-set approximation,
    injectable where a full public-suffix list is available.

    Scale shape: one groupBy shuffle on (src_domain, dst_domain);
    ``n_links`` sums map-side; ``n_src_hosts`` is an exact
    count-distinct (two-phase partial-distinct expand, no driver
    involvement). Input is the host graph (10^6–10^8 rows), not pages,
    so this rollup is cheap even at 100 TB corpus scale."""
    from case_uco_ontology_map_spark.functions.urls import (
        host_registered_domain,
    )

    return (
        host_edges.select(
            host_registered_domain(F.col(src)).alias("src_domain"),
            host_registered_domain(F.col(dst)).alias("dst_domain"),
            F.col(links).alias("_n"),
            F.col(src).alias("_src_host"),
        )
        .groupBy("src_domain", "dst_domain")
        .agg(
            F.sum("_n").cast("long").alias("n_links"),
            F.countDistinct("_src_host").alias("n_src_hosts"),
        )
        .select(
            "src_domain",
            "dst_domain",
            (F.col("src_domain") == F.col("dst_domain")).alias("internal"),
            "n_links",
            "n_src_hosts",
        )
    )


def registered_domain_sqlexpr(col: str) -> str:
    """DuckDB replay of ``urls.host_registered_domain`` over a host
    column/expression — the oracle twin for ``domain_graph``. Generates
    the identical three-branch CASE (≤2 labels → host; multi-part
    suffix → last three; else last two) over the same suffix set."""
    from case_uco_ontology_map_spark.functions.urls import (
        MULTIPART_SUFFIXES,
    )

    ls = f"string_split({col}, '.')"
    n = f"len({ls})"
    last2 = f"array_to_string(list_slice({ls}, {n} - 1, {n}), '.')"
    last3 = f"array_to_string(list_slice({ls}, {n} - 2, {n}), '.')"
    inset = ", ".join(f"'{s}'" for s in MULTIPART_SUFFIXES)
    return (
        f"CASE WHEN {n} <= 2 THEN {col} "
        f"WHEN {last2} IN ({inset}) THEN {last3} "
        f"ELSE {last2} END"
    )


def domain_graph_sql(
    table: str = "h",
    src: str = "src_host",
    dst: str = "dst_host",
    links: str = "n_links",
) -> str:
    """ANSI replay of ``domain_graph`` over a host-edge table/CTE
    ``table``."""
    return f"""
SELECT src_domain, dst_domain,
       src_domain = dst_domain AS internal,
       CAST(SUM({links}) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT {src}) AS BIGINT) AS n_src_hosts
FROM (
  SELECT {registered_domain_sqlexpr(src)} AS src_domain,
         {registered_domain_sqlexpr(dst)} AS dst_domain,
         {links}, {src}
  FROM {table}
) z
GROUP BY 1, 2
"""


def link_delta(
    prior: DataFrame,
    current: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Crawl-over-crawl edge diff → ``(src, dst, status)`` with status
    ``added`` / ``removed`` / ``retained`` — the link-graph companion to
    ``cdx_delta``'s page-level change detection (link rot measurement,
    freshness-weighted ranking, and incremental PageRank all start from
    this frame). Both inputs dedup to DISTINCT edge sets first (anchor
    multiplicity is not the diff's concern).

    Scale shape: one shuffle per side onto the shared (src, dst) key,
    then a single co-partitioned full-outer sort-merge join — no
    driver-side sets, no second pass per status class."""
    p = (
        prior.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("_p", F.lit(True))
    )
    c = (
        current.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    j = p.join(c, on=["src", "dst"], how="full_outer")
    return j.select(
        "src",
        "dst",
        F.when(F.col("_p").isNotNull() & F.col("_c").isNotNull(),
               F.lit("retained"))
        .when(F.col("_c").isNotNull(), F.lit("added"))
        .otherwise(F.lit("removed"))
        .alias("status"),
    )


def link_delta_sql(
    prior: str = "p",
    current: str = "c",
    src: str = "src",
    dst: str = "dst",
) -> str:
    """ANSI replay of ``link_delta`` over two edge tables/CTEs."""
    return f"""
SELECT COALESCE(pp.src, cc.src) AS src,
       COALESCE(pp.dst, cc.dst) AS dst,
       CASE WHEN pp.src IS NOT NULL AND cc.src IS NOT NULL
            THEN 'retained'
            WHEN cc.src IS NOT NULL THEN 'added'
            ELSE 'removed' END AS status
FROM (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {prior}) pp
FULL OUTER JOIN
     (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {current}) cc
ON pp.src = cc.src AND pp.dst = cc.dst
"""


def alias_priors(
    links: DataFrame,
    page_entity: DataFrame,
    top_k: int = 3,
    max_entities: int = 256,
    url_col: str = "url",
    entity_col: str = "entity",
) -> DataFrame:
    """Anchor-text commonness priors — the alias dictionary every
    web-KG entity linker starts from (the P(entity | surface form)
    table of the classic Wikipedia-anchor linkers): join each link's
    TARGET page to the entity that page describes, so every anchor
    string becomes a vote "this surface form names that entity" →
    ``(surface, entity, n_links, n_surface, rank)`` with ``rank`` over
    (n_links DESC, entity ASC) and ``n_surface`` the surface's total
    vote count — exact integers, P(e|s) = n_links/n_surface is the
    caller's division, never ours.

    Surfaces are case/whitespace-normalized (lower + trim); empty
    anchors never vote. Surfaces naming MORE than ``max_entities``
    distinct entities are dropped whole — a generic anchor ("click
    here", "read more") is noise with per-entity probability ~0, and
    the cap is also what bounds the ranking window (same capped-bucket
    discipline as the LSH and IFP paths).

    Scale shape: (surface, entity) counts pre-aggregate map-side
    BEFORE the page_entity join ships anything; the join on target url
    is a key equi-join of two aggregated frames (never the raw link
    stream against pages); the surface totals/entity-count groupBy and
    the join back are key-compatible with the ranking window's
    partitioning, and the window itself is bounded by ``max_entities``
    rows per key by construction."""
    from pyspark.sql.window import Window

    surface = F.lower(F.trim(F.col("anchor")))
    votes = (
        links.where(F.col("anchor").isNotNull())
        .select(
            surface.alias("surface"), F.col("dst").alias("_dst")
        )
        .where(F.col("surface") != "")
        .groupBy("surface", "_dst")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ent = page_entity.select(
        F.col(url_col).alias("_dst"), F.col(entity_col).alias("entity")
    ).distinct()
    counts = (
        votes.join(ent, "_dst")
        .groupBy("surface", "entity")
        .agg(F.sum("_n").alias("n_links"))
    )
    totals = counts.groupBy("surface").agg(
        F.sum("n_links").alias("n_surface"),
        F.count(F.lit(1)).alias("_n_entities"),
    )
    w = Window.partitionBy("surface").orderBy(
        F.desc("n_links"), F.asc("entity")
    )
    return (
        counts.join(
            totals.where(F.col("_n_entities") <= max_entities), "surface"
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("surface", "entity", "n_links", "n_surface", "rank")
    )


def link_by_prior(
    mentions: DataFrame,
    priors: DataFrame,
    surface_col: str = "surface",
    min_links: int = 2,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Commonness-prior entity linking: resolve each mention to the
    TOP-ranked entity of its (normalized) surface form when the prior
    is decisive — keeps every input column and adds ``entity``,
    ``n_links``, ``n_surface``, ``confident``. A mention whose surface
    has no dictionary entry gets NULLs (unlinkable by prior — route to
    the embedding linker, operators/mentions.py); ``confident`` is
    true iff the winner has ≥ ``min_links`` votes AND commonness
    n_links/n_surface ≥ threshold_num/threshold_den — tested by integer
    cross-multiplication (``n_links·den ≥ n_surface·num``), so no
    float ever decides a link (house rule, cf. textstats thresholds).

    Scale shape: the dictionary side is rank-1 rows only — one row per
    surviving surface, orders of magnitude smaller than the mention
    stream; the join is a plain equi-join on the normalized surface so
    AQE broadcasts it once stats confirm it is small (at dictionary
    sizes past executor memory it degrades to a hash join on the same
    key, still one shuffle of the SMALL side only — mentions carry
    their normalized key without moving)."""
    top = priors.where(F.col("rank") == 1).select(
        F.col("surface").alias("_skey"),
        "entity", "n_links", "n_surface",
    )
    key = F.lower(F.trim(F.col(surface_col)))
    confident = (
        (F.col("n_links") >= min_links)
        & (
            F.col("n_links") * threshold_den
            >= F.col("n_surface") * threshold_num
        )
    )
    return (
        mentions.withColumn("_skey", key)
        .join(top, "_skey", "left")
        .withColumn(
            "confident",
            F.when(F.col("entity").isNull(), F.lit(False)).otherwise(
                confident
            ),
        )
        .drop("_skey")
    )
