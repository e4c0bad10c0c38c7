"""Checkpoint lifetime of the iterative operators: a call leaves behind
only the checkpoints its returned frame reads, however many rounds it
ran (chains force one round per hop or peel)."""

import contextlib

import pytest

from elastic_asset_etl_poc_spark.operators.bpe import bpe_train
from elastic_asset_etl_poc_spark.operators.graph import (
    bfs_khop,
    connected_components_star,
    hits,
    kcore_membership,
    label_propagation,
    pagerank,
)
from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors
from elastic_asset_etl_poc_spark.operators.retrieval import mmr_rerank

CHAIN = [(i, i + 1) for i in range(12)]


def _pagerank(spark, tmp_path):
    # the node set and the final ranks
    return pagerank(spark.createDataFrame(CHAIN, ["src", "dst"]), iters=10), 2


def _hits(spark, tmp_path):
    # the edge frame and the newest two hub checkpoints
    return hits(spark.createDataFrame(CHAIN, ["src", "dst"]), iters=7), 3


def _star_cc(spark, tmp_path):
    return connected_components_star(spark.createDataFrame(CHAIN, ["a", "b"])), 1


def _bfs(spark, tmp_path):
    # the returned visited set is the union of the seed checkpoint and
    # one checkpoint per non-empty hop (12 here); the empty 13th goes
    edges = spark.createDataFrame(CHAIN, ["src", "dst"])
    return bfs_khop(edges, spark.createDataFrame([(0,)], ["node"]), k=20), 13


def _kcore(spark, tmp_path):
    # a triangle with the chain hanging off it peels one node per round
    und = [(0, -1), (-1, -2), (-2, 0)] + CHAIN
    edges = spark.createDataFrame(und, ["src", "dst"])
    return kcore_membership(edges, k=2, max_rounds=20), 1


def _lpa(spark, tmp_path):
    both = CHAIN + [(b, a) for a, b in CHAIN]
    return label_propagation(spark.createDataFrame(both, ["src", "dst"]), rounds=6), 1


def _dedup(spark, tmp_path):
    docs = spark.createDataFrame([(i,) for i in range(14)], ["doc_id"])
    pairs = spark.createDataFrame(CHAIN, ["doc_a", "doc_b"])
    return dedup_survivors(docs, pairs, driver_limit=0), 1


def _mmr(spark, tmp_path):
    cand = spark.createDataFrame(
        [(1, d, 1.0 - d / 20) for d in range(10)], ["query_id", "doc_id", "rel"]
    )
    sims = spark.createDataFrame(
        [(a, b, 0.5) for a, b in CHAIN], ["doc_a", "doc_b", "sim"]
    )
    return mmr_rerank(cand, sims, k=6, lam=0.7), 1


def _bpe(spark, tmp_path):
    # every learned winner stays: the merge table reads them
    words = spark.createDataFrame(
        [("a b c d e f g", 3), ("a b c d", 2), ("e f g h", 1)], ["syms", "cnt"]
    )
    return bpe_train(words, 7), 7


def _er_stream(spark, tmp_path):
    from elastic_asset_etl_poc_spark.streaming.er_stream import (
        run_stream_entity_clusters,
    )

    standing = spark.createDataFrame(
        [(f"s{i}", "s0") for i in range(4)], ["rid", "cluster"]
    )
    # four parquet files, one micro-batch each; every new record links
    # to a standing one
    src = str(tmp_path / "er_src")
    spark.createDataFrame(
        [(f"n{i}", f"s{i % 4}") for i in range(8)], "rid string, link string"
    ).repartition(4).write.parquet(src)
    out = run_stream_entity_clusters(
        spark, src, "rid string, link string", standing, lambda b: b
    )
    return out, 1


CASES = {
    "pagerank": _pagerank,
    "hits": _hits,
    "star_cc": _star_cc,
    "bfs": _bfs,
    "kcore": _kcore,
    "lpa": _lpa,
    "dedup_survivors": _dedup,
    "mmr_rerank": _mmr,
    "bpe_train": _bpe,
    "er_stream": _er_stream,
}


@contextlib.contextmanager
def _pinned_jvm_objects(spark):
    """Keep every JVM object handed to Python alive while inside.  A
    checkpoint the operator dropped without releasing then stays counted
    instead of vanishing whenever a JVM GC lets the ContextCleaner
    reclaim it, so the count shows what the operator itself released."""
    prop = spark.sparkContext._gateway._gateway_client.gateway_property
    prop.enable_memory_management = False
    try:
        yield
    finally:
        prop.enable_memory_management = True


@pytest.mark.parametrize("name", sorted(CASES))
def test_iterative_operator_leaves_bounded_persisted_state(spark, tmp_path, name):
    """Persisted RDDs grow by at most what the returned frame reads, and
    that frame still collects after every superseded round is gone."""
    jsc = spark.sparkContext._jsc
    with _pinned_jvm_objects(spark):
        before = set(jsc.getPersistentRDDs().keySet())
        result, bound = CASES[name](spark, tmp_path)
        rows = result.collect()
        grown = len(set(jsc.getPersistentRDDs().keySet()) - before)
    assert rows
    assert grown <= bound, (name, grown, bound)
    assert sorted(result.collect()) == sorted(rows)
