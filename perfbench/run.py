"""perfbench: seeded end-to-end and per-layer benchmark of the KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: kg_build, entity_resolve (see
BENCHMARK.json for why each exists). Inputs are generated from
``--seed``; everything the run writes stays under ``.perfbench_work/``
and is removed at exit.

After set-up, ``--trace 0`` repeats the workload's operation until
``--seconds`` seconds have passed and it has run at least the workload's
``OPS`` times, and reports the median of each of its two timed calls
(``main_s``, ``follow_s``), the set-up time and the peak memory of the
process tree. On ``kg_build`` the one operation is the first in a fresh
session, the one a batch job sees; ``entity_resolve`` warms up in set-up
and takes the median of two.
``--trace 1`` runs the operation once with each call under a span, then
calls every layer's public functions from outside, each under its own
Spark job group, and reports the per-layer metrics; likewise for every
other workload in the same session.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it (``"perfbench": ...``)
records the host, the workload's own figures, each operation's CPU
seconds and CPU steal, and every output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402  (imports the package)

SETUP_REPS = 3

PER_LAYER = {
    "corpus.wall_s": "s", "corpus.rows": "count",
    "kernel.wall_s": "s", "kernel.executor_cpu_s": "s", "kernel.gc_s": "s",
    "kernel.docs_in": "count", "kernel.triples_out": "count", "kernel.scaling_eff": "ratio",
    "mentions.wall_s": "s", "mentions.rows": "count", "mentions.entities": "count",
    "store.write_s": "s", "store.files": "count", "store.bytes": "bytes",
    "store.shuffle_write_bytes": "bytes",
    "manifest.write_s": "s", "manifest.rows": "count", "lineage.wall_s": "s",
    "pipeline.dropped_members": "count",
    "canon.sign_s": "s", "canon.candidates_s": "s", "canon.verify_s": "s", "canon.cc_s": "s",
    "canon.candidate_pairs": "count", "canon.cc_jobs": "count", "canon.components": "count",
    "canon.dropped_members": "count", "canon.verify_yield": "ratio",
    "canon.shuffle_bytes": "bytes", "canon.spill_bytes": "bytes",
    "fold.candidates_s": "s", "fold.candidate_pairs": "count", "fold.cc_s": "s",
    "fold.rest_s": "s", "fold.touched_frac": "ratio",
    "sparql.plan_ms": "ms", "sparql.exec_ms": "ms", "sparql.rows_out": "count",
    "sparql.input_bytes": "bytes", "service.overhead_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
    "trace.main_coverage_frac": "ratio", "trace.follow_coverage_frac": "ratio",
}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for every process this run started."""
    from pyspark import SparkContext

    before = set(host.tree_pids(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool, work_root: str) -> dict:
    work_dir = os.path.join(work_root, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    checks = []
    attempted = failed = 0
    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    ticks0 = host.cpu_ticks()
    detail["gflops_before"] = host.gflops_probe()
    with host.MemSampler() as mem:
        session_s, spark = _timed(lambda: host.make_spark(work_dir, ROOT))
        spark.sparkContext.setLogLevel("ERROR")
        try:
            wl = WORKLOADS[workload](spark, work_dir, seed)
            prep = [_timed(lambda r=r: wl.prepare(r))[0] for r in range(SETUP_REPS)]
            state_s, _ = _timed(wl.state)
            setup_s = session_s + statistics.median(prep) + state_s
            detail.update(
                host=host.host_record(spark.sparkContext.master),
                input_digest=wl.digest,
                setup={"session_s": session_s, "prepare_s": prep, "state_s": state_s},
            )

            ops = []
            t_begin = time.perf_counter()
            while not trace:
                attempted += 1
                try:
                    c0, k0 = host.tree_cpu_s(os.getpid()), host.cpu_ticks()
                    o = wl.op()
                    o["cpu_s"] = host.tree_cpu_s(os.getpid()) - c0
                    o["steal_frac"] = host.steal_frac(k0, host.cpu_ticks())
                    ops.append(o)
                except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                    failed += 1
                    traceback.print_exc()
                if attempted >= wl.OPS and time.perf_counter() - t_begin >= seconds:
                    break
            metrics: dict = {}
            if trace:
                # one traced op, then its layers; then every other
                # workload's traced op and layers
                tr = Tracer(spark)
                timings = wl.op(tr)
                attempted += 1
                layers = wl.layers(tr, timings)
                (layers["trace.main_coverage_frac"],
                 layers["trace.follow_coverage_frac"]) = wl.coverage(timings)
                for name, cls in WORKLOADS.items():
                    if name == workload:
                        continue
                    other = cls(spark, work_dir, seed)
                    other.prepare(0)
                    other.state()
                    layers.update(other.layers(tr, other.op(tr)))
                    other.close()
                totals = tr.totals()
                layers["spark.jobs"] = totals["jobs"]
                layers["spark.tasks"] = totals["tasks"]
                layers["spark.failed_tasks"] = totals["failed_tasks"]
                traced_s = sum(sp.wall_s for sp in tr.spans if sp.parent is None)
                layers["trace.overhead_frac"] = tr.overhead_s / traced_s
                metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
                detail["trace_spans"] = [
                    {"name": s.name, "parent": s.parent, "wall_s": s.wall_s, "jobs": s.jobs} for s in tr.spans
                ]
            checks = wl.checks()
            detail["workload_info"] = wl.info()
            detail["ops"] = ops
        finally:
            if "wl" in locals():
                wl.close()
            _stop_spark(spark)
    attempted += len(checks)
    failed += sum(1 for _, ok, _ in checks if not ok)
    detail["checks"] = [{"name": n, "ok": ok, "note": note} for n, ok, note in checks]
    detail["failed_ops_frac"] = failed / attempted
    detail["peak_pss_mb"] = {k: mem.peak_mb(k) for k in mem.peak_kb}
    detail["gflops_after"] = host.gflops_probe()
    detail["steal_frac"] = host.steal_frac(ticks0, host.cpu_ticks())
    if not trace:
        if not ops:
            raise RuntimeError("no operation succeeded")
        metrics = {
            "main_s": {"value": statistics.median(o["main_s"] for o in ops), "unit": "s"},
            "follow_s": {"value": statistics.median(o["follow_s"] for o in ops), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_pss_mb": {"value": mem.peak_mb("tree"), "unit": "MB"},
        }
    shutil.rmtree(work_dir, ignore_errors=True)
    return {
        "detail": detail,
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace),
              os.path.join(ROOT, ".perfbench_work"))
    print(json.dumps({"perfbench": out["detail"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
