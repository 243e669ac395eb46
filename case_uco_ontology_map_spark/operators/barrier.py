"""The one barrier primitive behind every iterative operator.

An iterative DataFrame loop needs three things per round: truncate the
lineage (round k must not replan k rounds of joins), read a few scalars
off the round (convergence counts, fingerprints, normalization totals)
without paying a separate action for them, and drop the blocks of the
round it has just superseded. ``materialize`` does the first two in ONE
Spark job; ``release`` does the third.

Release is exact: it unpersists the RDD id read off the frame's own
``LogicalRDD`` plan node, never a diff of the global persisted-RDD set.
Connected components, SCC and ``spam_mass`` run barriers from two driver
threads at once, and unpersisting another thread's local checkpoint
would crash that thread (its lineage is truncated, so the lost blocks
cannot be recomputed). The rule every caller keeps: release a frame only
once nothing the caller still returns or reads can reach it.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame, Observation


def materialize(df: DataFrame, *metrics: Column) -> Tuple[DataFrame, tuple]:
    """Eagerly ``localCheckpoint`` ``df`` and return ``(checkpointed,
    values)``: ``values`` holds one value per aggregate ``metrics``
    expression, in order, observed on the checkpoint's own
    materialization job (no extra action).

    When AQE's empty-relation propagation prunes the metrics node (an
    empty round), the metrics are aggregated over the checkpointed frame
    instead: a cheap local job over materialized data. The observed value
    and that fallback are equal up to float aggregation order (exact for
    counts and integer/decimal sums); every metric should therefore be
    NULL-safe (``coalesce`` a sum) so both paths agree on an empty
    frame."""
    if not metrics:
        return df.localCheckpoint(eager=True), ()
    obs = Observation()
    checkpointed = df.observe(obs, *metrics).localCheckpoint(eager=True)
    try:
        observed = obs.get
    except Exception:
        observed = {}
    if len(observed) == len(metrics):
        return checkpointed, tuple(observed.values())
    return checkpointed, tuple(checkpointed.agg(*metrics).first())


def _rdd_id(df: DataFrame):
    """The checkpoint RDD id on ``df``'s root ``LogicalRDD`` node, or None
    when the root is anything else (a projection over a checkpoint, a
    cached plan, a lazy frame)."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def release(*dfs) -> None:
    """Unpersist (non-blocking) the checkpoint blocks behind each frame
    ``materialize`` returned. ``None`` and frames with no checkpoint at
    their root are skipped, so a loop can release its previous round
    unconditionally. An id that is already gone is ignored."""
    frames = [df for df in dfs if df is not None]
    ids = {i for i in map(_rdd_id, frames) if i is not None}
    if not ids:
        return
    try:
        jmap = frames[0].sparkSession.sparkContext._jsc.getPersistentRDDs()
    except Exception:
        return
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def _persistent_ids(spark) -> set:
    """Ids of every persisted RDD in the session (local checkpoints
    included). An inspection helper for tests; ``release`` never diffs
    this set."""
    try:
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }
    except Exception:
        return set()
