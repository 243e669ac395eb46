"""Explicit skew handling: salted repartition / salted aggregation
(north_rule: "salted repartitioning to defuse hot-domain skew").

Web corpora are Zipfian in host: one domain can be 10%+ of all pages, so
any groupBy(host) or join on host melts one reducer. The standard answers,
as reusable transforms:

  salt_column        add salt = pmod(xxhash64(unique_col), S) — deterministic,
                     no RNG, resume-stable.
  salted_aggregate   two-phase agg: groupBy(key, salt) partial → groupBy(key)
                     final. Turns one hot reducer into S reducers + a tiny
                     second shuffle of S·|keys| rows.
  key_skew_report    the measurement half: top-k hottest keys with exact
                     counts and table share, run before choosing S.

AQE's skewJoin splitter is the backstop (enabled in every session this repo
creates); these transforms are the explicit, plan-visible version for the
operators where we KNOW the key is Zipfian (host, entity surface).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_column(df: DataFrame, unique_col: str, salts: int = 16) -> DataFrame:
    """Deterministic salt ∈ [0, salts): hash of a per-row unique column —
    never a random number (resume/replay stability)."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(unique_col)), F.lit(salts)).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    key_cols: Sequence[str],
    agg_exprs: dict,
    unique_col: str,
    salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation for algebraic aggregates
    (count/sum/min/max). agg_exprs: {out_col: ("count"|"sum"|"min"|"max",
    in_col)}. Phase 1 groups by (key, salt) — hot keys spread over S
    reducers; phase 2 re-combines per key (S rows per key)."""
    partial_aggs = []
    final_aggs = []
    for out, (fn, col) in agg_exprs.items():
        p = f"__p_{out}"
        if fn == "count":
            partial_aggs.append(F.count(col if col != "*" else F.lit(1)).alias(p))
            final_aggs.append(F.sum(p).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
    salted = salt_column(df, unique_col, salts)
    partial = salted.groupBy(*key_cols, "salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def key_skew_report(
    df: DataFrame,
    key_col: str,
    k: int = 20,
) -> DataFrame:
    """Skew diagnosis — the measurement HALF of every salting/cap
    decision in this repo: the top-``k`` hottest keys of a column with
    exact counts and their share of the table —
    ``(key, n, share, rank)``. Run it BEFORE picking a salt factor or a
    bucket cap (the caps in dedup/cooccurrence/canonicalize all want the
    observed hot-key mass, not a guess).

    Determinism: rank = exact dominance order (n DESC, key ASC) — never
    the float share; computed as orderBy+limit (TakeOrderedAndProject:
    per-partition top-k then one merge — no global sort, no window).
    ``share`` = n/total as a reported double (6-digit hash-safe).

    Scale: one map-side-combined groupBy on the key + a broadcast 1-row
    total; the k-row result is driver-safe by construction.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n")
    )
    total = df.select(F.count("*").cast("double").alias("_total"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(int(k))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n",
            (F.col("n").cast("double") / F.col("_total")).alias("share"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    # the window runs over AT MOST k rows (post-limit) — single tiny task
    return top.withColumn("rank", F.row_number().over(w))


def key_skew_sql(key_col: str, k: int = 20, table: str = "documents") -> str:
    """DuckDB replay of ``key_skew_report``."""
    return f"""
WITH c AS (
  SELECT {key_col} AS key, CAST(count(*) AS BIGINT) AS n
  FROM {table} GROUP BY 1
),
t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM {table}),
top AS (
  SELECT key, n FROM c ORDER BY n DESC, key ASC LIMIT {int(k)}
)
SELECT key, n, CAST(n AS DOUBLE) / (SELECT total FROM t) AS share,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS INT) AS rank
FROM top
"""
