"""Tests: skew salting and the key-skew report."""

from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators import skew


def test_salted_aggregate_equals_plain(spark):
    rows = [(f"host{i % 3}.com", i, float(i)) for i in range(1000)]
    # make host0 hot: 80% of rows
    rows += [("host0.com", 10_000 + i, 1.0) for i in range(4000)]
    df = spark.createDataFrame(rows, "host string, rid long, v double")
    salted = skew.salted_aggregate(
        df,
        ["host"],
        {"n": ("count", "*"), "total": ("sum", "v"), "mx": ("max", "v")},
        unique_col="rid",
        salts=8,
    )
    plain = df.groupBy("host").agg(
        F.count("*").alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx")
    )
    got = {r["host"]: (r["n"], r["total"], r["mx"]) for r in salted.collect()}
    exp = {r["host"]: (r["n"], r["total"], r["mx"]) for r in plain.collect()}
    assert got == exp
    assert got["host0.com"][0] == 4334


def test_salt_is_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "rid long")
    a = {r["rid"]: r["salt"] for r in skew.salt_column(df, "rid").collect()}
    b = {r["rid"]: r["salt"] for r in skew.salt_column(df, "rid").collect()}
    assert a == b
    assert len(set(a.values())) > 1  # actually spreads


class TestKeySkewReport:
    def test_report_matches_duckdb_and_cut(self, spark):
        import duckdb
        import pandas as pd

        from case_uco_ontology_map_spark.operators.skew import (
            key_skew_report,
            key_skew_sql,
        )

        rows = (
            [("hot",)] * 50 + [("warm",)] * 30 + [("aaa",)] * 10
            + [("bbb",)] * 10 + [("cold",)] * 1
        )
        df = spark.createDataFrame(rows, "k string")
        got = [tuple(r) for r in key_skew_report(df, "k", k=3).collect()]
        # boundary tie aaa/bbb at n=10 → key ASC cuts deterministically
        assert [(r[0], r[1], r[3]) for r in got] == [
            ("hot", 50, 1), ("warm", 30, 2), ("aaa", 10, 3)
        ]
        assert abs(got[0][2] - 50 / 101) < 1e-12
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["k"]))
        want = [tuple(r) for r in con.execute(key_skew_sql("k", 3)).fetchall()]
        assert [
            (a, b, round(c, 10), d) for a, b, c, d in got
        ] == [(a, b, round(c, 10), d) for a, b, c, d in want]
        import pytest as _pt

        with _pt.raises(ValueError):
            key_skew_report(df, "k", k=0)
