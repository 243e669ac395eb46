"""Self-tests of the benchmark: python3 -m pytest perfbench -q

The run tests start a real local Spark session at tiny input sizes
(a few minutes in total on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import workloads  # noqa: E402
from case_uco_ontology_map_spark.operators.mentions import build_gazetteer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


TINY = """
import sys
sys.path[:0] = [{here!r}]
import run, workloads
workloads.KgBuild.N_PAGES = 120
workloads.KgBuild.SAMPLE = 4
workloads.EntityResolve.N_PRIOR = 1200
sys.exit(run.main(["--workload", {workload!r}, "--seed", "5", "--seconds", "0.1",
                   "--trace", "{trace}"]))
"""


def _run(workload, trace):
    """One tiny-input run in a fresh interpreter, as the benchmark is run
    (the package's module-level UDFs bind to the first Spark session)."""
    code = TINY.format(here=HERE, workload=workload, trace=int(trace))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=os.path.dirname(HERE),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, res = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, detail["checks"]
    return detail, res["metrics"]


def test_same_seed_same_inputs():
    gaz = build_gazetteer()
    a, b, c = (inputs.make_pages(s, 200, gaz).digest() for s in (1, 1, 2))
    assert a == b != c
    a, b, c = (inputs.make_entities(s, 800).digest() for s in (1, 1, 2))
    assert a == b != c


def _jaccard3(a, b):
    sa = {a[i:i + 3] for i in range(len(a) - 2)}
    sb = {b[i:i + 3] for i in range(len(b) - 2)}
    return len(sa & sb) / len(sa | sb)


def test_planted_groups_are_separable():
    """Unrelated base keys share too few 3-grams for any LSH verify to
    join them, so a group merge in a run is a real canonicalize fault."""
    e = inputs.make_entities(3, 800)
    bases = {}
    for k, g in zip(e.entity_key, e.group):
        bases.setdefault(g, k)
    keys = list(bases.values())[:60]
    worst = max(_jaccard3(a, b) for i, a in enumerate(keys) for b in keys[i + 1:])
    assert worst < 0.2


def test_declared_workloads_exist():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_emits_end_to_end_metrics(workload):
    detail, metrics = _run(workload, trace=False)
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())
    assert detail["input_digest"]


def test_tiny_traced_run_emits_layers_overhead_and_coverage():
    _, metrics = _run("kg_build", trace=True)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    # the tracer's own driver time, as a share of the traced calls
    assert 0.0 < metrics["trace.overhead_frac"]["value"] < 0.5
    # the layer spans cover a share of both end-to-end calls (the traced
    # op is the session's first, cold one, so the main share reads low)
    assert 0.05 < metrics["trace.main_coverage_frac"]["value"] < 2.0
    assert 0.05 < metrics["trace.follow_coverage_frac"]["value"] < 2.0
    assert metrics["kernel.triples_out"]["value"] > 0
    assert metrics["canon.candidate_pairs"]["value"] > 0
    assert metrics["sparql.rows_out"]["value"] > 0
