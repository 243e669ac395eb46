"""Vertically-partitioned triple store (operators/triplestore.py):
write/read identity, engine-portable layout, and the actual partition
pruning the layout exists for — asserted on the physical plan, not
assumed."""

import re
import shutil

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from case_uco_ontology_map_spark.operators.triplestore import (
    read_triple_store,
    scan_pattern,
    store_layout,
    store_layout_sql,
    write_triple_store,
)

ROWS = [
    (f"kb:s{i}", p, f"kb:o{i % 7}", True, None)
    for i in range(60)
    for p in ("rdf:type", "ex:ref", "uco-core:hasFacet")
] + [(f"kb:s{i}", "ex:name", f"name {i}", False, "xsd:string") for i in range(60)]

SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_datatype string"
)


@pytest.fixture()
def store(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "store")
    write_triple_store(df, path, subj_buckets=4)
    yield df, path
    shutil.rmtree(path, ignore_errors=True)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestTripleStore:
    def test_roundtrip_identity(self, spark, store):
        df, path = store
        back = read_triple_store(spark, path)
        a = sorted(map(tuple, df.collect()))
        b = sorted(
            (r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype)
            for r in back.collect()
        )
        assert a == b

    def test_layout_portable_vs_duckdb(self, spark):
        df = spark.createDataFrame(ROWS, SCHEMA)
        got = sorted(
            (r.pred, int(r.sbkt), int(r.n_triples), int(r.n_subjects))
            for r in store_layout(df, 4).collect()
        )
        con = duckdb.connect()
        con.register(
            "t",
            pd.DataFrame(
                ROWS,
                columns=[
                    "subj", "pred", "obj", "obj_is_iri", "obj_datatype",
                ],
            ),
        )
        want = sorted(
            (p, int(s), int(n), int(m))
            for p, s, n, m in con.execute(
                store_layout_sql("t", 4)
            ).fetchall()
        )
        assert got == want

    def test_point_lookup_prunes_pred_and_bucket(self, spark, store):
        _, path = store
        back = read_triple_store(spark, path)
        sc = scan_pattern(back, pred="ex:ref", subj="kb:s13", subj_buckets=4)
        plan = _physical(sc)
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf, "scan must carry PartitionFilters"
        assert "pred" in pf.group(1) and "ex:ref" in pf.group(1)
        assert re.search(r"sbkt[#\d]* = \d", pf.group(1)), (
            "constant subject must fold to a literal bucket filter"
        )
        rows = sc.collect()
        assert [(r.subj, r.obj) for r in rows] == [("kb:s13", "kb:o6")]

    def test_bgp_over_store_equals_frame_and_prunes(self, spark, store):
        from case_uco_ontology_map_spark.operators.graphquery import (
            bgp_query,
        )

        df, path = store
        back = read_triple_store(spark, path)
        pats = [("?s", "rdf:type", "?t"), ("?s", "ex:name", "?n")]
        over_store = bgp_query(back, pats).orderBy("s", "t", "n")
        over_frame = bgp_query(df, pats).orderBy("s", "t", "n")
        assert over_store.collect() == over_frame.collect()
        plan = _physical(over_store)
        pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert any("rdf:type" in p for p in pfs), (
            "each constant-predicate pattern must prune to its partition"
        )
        assert any("ex:name" in p for p in pfs)

    def test_one_file_per_leaf(self, spark, store, tmp_path):
        import pathlib

        _, path = store
        leaves = [
            d
            for d in pathlib.Path(path).glob("pred=*/sbkt=*")
            if d.is_dir()
        ]
        assert leaves, "store must have pred/sbkt leaves"
        for leaf in leaves:
            files = list(leaf.glob("*.parquet"))
            assert len(files) == 1, (
                f"repartition-before-partitionBy must yield one file "
                f"per leaf, {leaf} has {len(files)}"
            )
