"""robots.txt politeness — the gate between a crawl frontier and a fetch.

A web-scale pipeline re-checks robots rules constantly: frontier
filtering before fetch, retro-active removal when a site tightens its
policy, and per-host audit reports. The reference operates on
already-fetched evidence (/root/reference/services.py ingests payloads);
crawl-side curation is beyond-reference surface, same family as the WARC
source (sources/warc.py).

Scale shape (the part that matters at 100 TB):

  * robots.txt corpora are the SMALL side — one file per host, ~1 KB
    each, 10^6–10^8 hosts; urls are the BIG side, 10^10+. So parsing
    (``parse_robots``) crosses to Python ONCE PER HOST via
    ``mapInPandas``, while the url-side match (``robots_filter``) is
    pure JVM: rules collapse to one array per host, broadcast, and the
    longest-match argmax runs IN-ROW with higher-order functions — no
    url string ever crosses a shuffle or into Python.
  * Rule matching follows RFC 9309: rules are path prefixes with ``*``
    wildcards and a ``$`` end anchor; the most specific (longest
    pattern) match wins; on a length tie ``allow`` wins; a host with no
    group for the agent — or no matching rule — is allowed.
  * Patterns compile to SQL ``LIKE`` (``%``/``_`` escaped, ``*`` → ``%``,
    ``$`` anchors, otherwise a trailing ``%``), so the match semantics
    replay verbatim in ANSI SQL — the ``robots_gate`` contract row runs
    the identical LIKE/argmax in DuckDB.

Documented approximations: agent-group selection is case-insensitive
exact product-token match (with ``*`` fallback), not longest-prefix
token match; percent-encoding equivalence (``%2F`` vs ``/``) is not
normalized.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from case_uco_ontology_map_spark.functions.urls import url_host

_RULES_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("pattern", StringType()),
    StructField("is_allow", BooleanType()),
    StructField("like_pat", StringType()),
    StructField("rlen", IntegerType()),
])

# everything after the authority, fragment dropped — RFC 9309 matches
# rules against the path INCLUDING the query string
_PATHQ_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"


def robots_like_pattern(pattern: str) -> str:
    """RFC 9309 path pattern → SQL LIKE pattern (escape char ``\\``):
    ``%``/``_``/``\\`` escaped, ``*`` → ``%``, a trailing ``$`` anchors
    the end (dropped), otherwise the pattern matches any continuation
    (trailing ``%``). Identical translation on both engines by
    construction — the oracle embeds the translated literal."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = []
    for ch in body:
        if ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        else:
            out.append(ch)
    return "".join(out) + ("" if anchored else "%")


def parse_robots(
    robots_df: DataFrame,
    agent: str,
    host_col: str = "host",
    body_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots.txt body) → one rule row per applicable allow /
    disallow directive: ``(host, pattern, is_allow, like_pat, rlen)``.

    RFC 9309 group semantics: consecutive ``User-agent`` lines open a
    group; rules that follow belong to every agent named above them;
    ``#`` comments stripped; a group exactly matching ``agent``
    (case-insensitive) takes precedence — the ``*`` groups apply only
    when no specific group exists; groups for the same agent merge; an
    empty ``Disallow:`` value is a no-op (explicit allow-all). Hosts
    whose file yields no applicable rule emit nothing — downstream
    treats absent hosts as allowed."""
    want = agent.strip().lower()

    def parse(batches) -> Iterator["object"]:
        import pandas as pd

        cols = [f.name for f in _RULES_SCHEMA.fields]
        for pdf in batches:
            out = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if body is None:
                    continue
                specific, star = [], []
                agents: list = []
                in_group_header = False
                for raw in str(body).splitlines():
                    line = raw.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    key, _, val = line.partition(":")
                    key = key.strip().lower()
                    val = val.strip()
                    if key == "user-agent":
                        if not in_group_header:
                            agents = []
                        agents.append(val.lower())
                        in_group_header = True
                        continue
                    in_group_header = False
                    if key not in ("allow", "disallow"):
                        continue
                    if not val:
                        continue  # empty Disallow/Allow: no rule
                    rule = (val, key == "allow")
                    if want in agents:
                        specific.append(rule)
                    elif "*" in agents:
                        star.append(rule)
                rules = specific if specific else star
                for pattern, is_allow in rules:
                    out.append((
                        host,
                        pattern,
                        is_allow,
                        robots_like_pattern(pattern),
                        len(pattern),
                    ))
            if out:
                yield pd.DataFrame(out, columns=cols)

    return robots_df.select(host_col, body_col).mapInPandas(
        parse, _RULES_SCHEMA
    )


def url_path_query(url: Column) -> Column:
    """Path + query (no fragment) a robots rule matches against;
    empty → ``/`` per RFC 9309 (the root is what ``Disallow: /`` hits)."""
    p = F.regexp_extract(url, _PATHQ_RE, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_decisions(
    df: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """``df`` + an ``allowed`` boolean per the host's rules.

    ``rules_df`` is ``parse_robots`` output (or any frame with host /
    is_allow / like_pat / rlen). The rules side collapses to one array
    per host (its groupBy shuffles only the tiny rules frame), gets
    BROADCAST, and the longest-match argmax runs in-row: filter the
    array by ``LIKE``, fold to the (max rlen, allow-wins-ties) winner.
    The url side never shuffles."""
    per_host = rules_df.groupBy(F.col("host").alias("_rhost")).agg(
        F.collect_list(
            F.struct("like_pat", "rlen", "is_allow")
        ).alias("_rules")
    )
    esc = F.lit("\\")
    path = url_path_query(F.col(url_col))
    matched = F.filter(
        F.col("_rules"), lambda r: F.like(path, r["like_pat"], esc)
    )
    best = F.aggregate(
        matched,
        F.struct(
            F.lit(-1).alias("rlen"), F.lit(True).alias("is_allow")
        ),
        lambda acc, r: F.when(
            (r["rlen"] > acc["rlen"])
            | ((r["rlen"] == acc["rlen"]) & r["is_allow"]),
            F.struct(r["rlen"].alias("rlen"), r["is_allow"].alias("is_allow")),
        ).otherwise(acc),
    )
    allowed = F.when(F.col("_rules").isNull(), F.lit(True)).otherwise(
        best["is_allow"]
    )
    return (
        df.join(
            F.broadcast(per_host),
            url_host(F.col(url_col)) == F.col("_rhost"),
            "left",
        )
        .withColumn("allowed", allowed)
        .drop("_rhost", "_rules")
    )


def robots_filter(
    df: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Keep only rows whose url the host's robots rules allow."""
    return (
        robots_decisions(df, rules_df, url_col)
        .where(F.col("allowed"))
        .drop("allowed")
    )


def fetch_waves(
    df: DataFrame,
    url_col: str = "url",
    per_wave: int = 1,
) -> DataFrame:
    """Politeness scheduling: assign every frontier url a ``wave`` such
    that each wave holds at most ``per_wave`` urls per host — a crawler
    fetching wave 0, then wave 1, ... touches no host more than
    ``per_wave`` times per pass, however the urls are distributed.

    Adds ``host`` and ``wave`` (0-based). The within-host order is
    md5(url) — deterministic across partitionings, engines, and crawl
    runs, so re-planning the same frontier yields the same schedule
    (and the oracle replays it as a plain ``row_number``).

    Scale note: a per-host sequence is inherently a per-host sort — a
    hub host's frontier sorts in one task, O(n log n). That hub is the
    real-world politeness bottleneck anyway (its fetches serialize by
    definition); bound the damage upstream with the per-domain cap
    (operators/sampling.cap_per_key) before scheduling."""
    from pyspark.sql.window import Window

    host = url_host(F.col(url_col))
    w = Window.partitionBy(host).orderBy(
        F.md5(F.col(url_col)), F.col(url_col)
    )
    return df.withColumn("host", host).withColumn(
        "wave",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(per_wave)),
    )


def robots_sitemaps(
    robots_df: DataFrame,
    host_col: str = "host",
    body_col: str = "robots_txt",
) -> DataFrame:
    """``Sitemap:`` discovery — (host, robots.txt body) → one
    ``(host, sitemap_url)`` row per distinct sitemap the file declares.

    Per RFC 9309 §2.2.4 / sitemaps.org, ``Sitemap:`` lines are
    GROUP-INDEPENDENT (they apply regardless of user-agent, so no group
    state machine is needed) and the key is case-insensitive. That
    makes this the one robots directive extractable with zero Python:
    split lines, strip ``#`` comments, one case-insensitive regexp per
    line — whole-stage codegen end to end, replayable verbatim in ANSI
    SQL (the ``robots_sitemaps`` contract row runs the identical
    split + regexp in DuckDB). Feeds ``links.sitemap_entries`` to seed
    the frontier."""
    line = F.explode(
        F.split(F.col(body_col), r"\r?\n")
    ).alias("_line")
    df = robots_df.select(F.col(host_col).alias("host"), line)
    no_comment = F.regexp_replace(F.col("_line"), r"#.*$", "")
    url = F.regexp_extract(no_comment, r"(?i)^\s*sitemap\s*:\s*(\S+)", 1)
    return (
        df.select("host", url.alias("sitemap_url"))
        .where(F.col("sitemap_url") != "")
        .distinct()
    )


def robots_sitemaps_sql(table: str = "r", host_col: str = "host",
                        body_col: str = "robots_txt") -> str:
    """ANSI replay of ``robots_sitemaps`` over a robots table ``table``."""
    return f"""
SELECT DISTINCT host, sitemap_url FROM (
  SELECT {host_col} AS host,
         regexp_extract(regexp_replace(line, '#.*$', ''),
                        '(?i)^\\s*sitemap\\s*:\\s*(\\S+)', 1) AS sitemap_url
  FROM (
    SELECT {host_col},
           unnest(regexp_split_to_array({body_col}, '\\r?\\n')) AS line
    FROM {table}
  ) z
) y
WHERE sitemap_url <> ''
"""
