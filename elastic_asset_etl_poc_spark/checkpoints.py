"""Checkpoint lifetime for the iterative operators.

Every fixpoint or fixed-round loop in the engine cuts its lineage with
an eager ``localCheckpoint`` per round.  Each such checkpoint stays in
the block manager until it is unpersisted (the ContextCleaner only
reclaims it after a later JVM GC), so a loop that never releases its
superseded rounds leaves one persisted RDD per round behind.

The rule: a checkpoint may be released by the code that made it, once
its successor has materialized and no frame the caller still holds
(including the lazy frame it returns) reads it.  Releasing earlier
breaks that frame: a released local checkpoint has no lineage to
recompute from.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed_checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` whose aggregate ``metrics``
    (name → expression) ride the same job → ``(checkpoint, values)``."""
    obs = Observation()
    cp = df.observe(
        obs, *[m.alias(name) for name, m in metrics.items()]
    ).localCheckpoint(eager=True)
    return cp, obs.get


def release(*checkpoints: DataFrame | None) -> None:
    """Unpersist the blocks behind ``localCheckpoint()`` frames (``None``
    entries are skipped).  Each frame must be the checkpoint itself, not
    a projection of it."""
    for df in checkpoints:
        if df is not None:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _checkpoint_rdds(df: DataFrame) -> dict:
    """RDD id → RDD for every checkpoint leaf of ``df``'s plan."""
    found = {}
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            found[leaf.rdd().id()] = leaf.rdd()
    return found


def release_read_by(df: DataFrame, keep: tuple[DataFrame, ...] = ()) -> None:
    """Release every checkpoint the plan of ``df`` reads, except those a
    ``keep`` frame reads — for a caller that has just materialized
    ``df`` and owns everything else it was built from, including the
    checkpoints an operator made internally for that plan."""
    dead = _checkpoint_rdds(df)
    for k in keep:
        for rid in _checkpoint_rdds(k):
            dead.pop(rid, None)
    for rdd in dead.values():
        rdd.unpersist(False)
