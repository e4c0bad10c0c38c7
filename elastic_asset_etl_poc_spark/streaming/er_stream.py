"""Streaming entity resolution: continuous cluster maintenance.

A production match pipeline doesn't re-cluster the corpus when records
trickle in — it folds each arriving micro-batch into the standing
clustering.  This module runs exactly that as Structured Streaming:
``foreachBatch`` receives each micro-batch of new records, computes its
match edges against the catalog, and applies
``operators.linkage.entity_clusters_incremental`` to the held state.

Why ``foreachBatch`` and not a stateful operator: the cluster state is
GLOBAL (any record may merge any two clusters — there is no grouping
key to shard state by), which is outside ``applyInPandasWithState``'s
per-key state model; ``foreachBatch`` is Spark's sanctioned escape
hatch for cross-key state maintained as a DataFrame.  The state frame
is ``localCheckpoint``-ed after every fold so lineage does not grow
with stream length — the same discipline as the iterative graph
operators (pagerank/HITS per-round checkpoints) — and the superseded
state is released, with the fold's own intermediate checkpoints, as
soon as the new state has materialized.

Correctness: the fold is ASSOCIATIVE in the batch — min-label cluster
contraction gives the same fixpoint however the stream splits the
records across triggers (proved as a property test over random splits
in tests/test_property.py) — so the drained state hash-checks against
the SAME full-recompute oracle as the batch query, for ANY
``maxFilesPerTrigger``-induced batching.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["run_stream_entity_clusters"]


def run_stream_entity_clusters(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    assignments0: DataFrame,
    edge_fn: Callable[[DataFrame], DataFrame],
    id_col: str = "rid",
    max_files_per_trigger: int = 1,
    timeout: int = 300,
) -> DataFrame:
    """Drain ``source_dir`` (parquet file stream of new records) into a
    standing clustering → the final ``(id_col, cluster)`` assignments.

    ``assignments0`` is the min-label clustering of the standing corpus
    (``dedup_survivors`` output shape); ``edge_fn(batch_df)`` returns the
    micro-batch's match edges (endpoints = first two columns: new ids
    and/or standing ids).  Each trigger folds one batch with
    ``entity_clusters_incremental`` — cost O(batch + touched clusters),
    never O(corpus) — and the state advances by localCheckpoint.  Once
    the new state has materialized, every checkpoint its plan read
    (the superseded state, the operator's quotient graph) is released
    unless the batch's own frames read it, so a long-running stream
    holds exactly one materialized assignments frame.

    Scale shape: identical to the batch incremental operator per
    trigger (two broadcasts past the corpus-sized state, CC on the
    quotient graph); ``max_files_per_trigger`` bounds per-trigger work.
    """
    import shutil
    import tempfile

    from ..checkpoints import release_read_by
    from ..operators.linkage import entity_clusters_incremental

    state = {"assign": assignments0.localCheckpoint(eager=True)}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_ids, edges = batch_df.select(id_col), edge_fn(batch_df)
        out = entity_clusters_incremental(
            state["assign"], new_ids, edges, id_col=id_col
        ).select(id_col, "cluster")
        state["assign"] = out.localCheckpoint(eager=True)
        release_read_by(out, keep=(new_ids, edges))

    ckpt = tempfile.mkdtemp(prefix="er_stream_ckpt_")
    try:
        query = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
            .writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination(timeout)
        query.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return state["assign"]
