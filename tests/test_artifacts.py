"""Session-scoped artifact store (elastic_asset_etl_poc_spark/artifacts.py)."""

import json
import os
import re
import subprocess
import sys

import pytest

from conftest import SF_DIR
from elastic_asset_etl_poc_spark.artifacts import artifact, evict, scratch_dir, stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one consumer (at least) of every artifact name the engine registers;
#: the test checks this list against the names in the sources
CONSUMERS = [
    "jaccard_neardup_docs",  # pair_frame
    "rrf_fusion_docs",  # shingle_frame
    "minhash_incremental_docs",  # minhash_store
    "recall_simhash_incremental_vs_full",  # simhash_store
    "recall_dhash_incremental_vs_full",  # dhash_store, synthetic_media
    "embed_knn_ivf",  # ivf_centroids
    "embed_knn_pq",  # pq_books
    "embed_knn_ivfpq",  # ivfpq_index
    "embed_knn_ivfpq_incr",  # ivfpq_incr_store
    "embed_knn_ivf_incr",  # ivf_incr_store
    "mutual_knn_ivf",  # mutual_ivf_centroids
    "pagerank_cust_supp",  # pr_edges, directed_edges
    "kmv_overlap_sources",  # kmv_source_shingles
    "stream_session_window_events",  # staged_table
    "jsonl_scan_docs",  # staged_textfile
    "classifier_calibration_docs",  # clf_model
    "entity_clusters_incr_parts",  # er_standing
    "stream_entity_clusters_parts",  # staged_er_batch
]


def _registered_names() -> set[str]:
    """Every artifact name the engine's sources pass to ``artifact``."""
    names = set()
    pkg = os.path.join(REPO, "elastic_asset_etl_poc_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py") and f != "artifacts.py":
                with open(os.path.join(dirpath, f)) as fh:
                    names |= set(
                        re.findall(r'artifact\(\s*spark,\s*"(\w+)"', fh.read())
                    )
    return names


_TWO_SESSIONS = r"""
import json, sys
from elastic_asset_etl_poc_spark.artifacts import _STORES, stats
from elastic_asset_etl_poc_spark.session import get_spark
import __spark_entry__ as e

sf_dir, names = sys.argv[1], json.loads(sys.argv[2])
qs = e.queries()

def rows(df):
    out = []
    for r in df.collect():
        out.append(repr(tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )))
    return sorted(out)

result = {}
for label in ("a", "b"):
    spark = get_spark(app_name=f"artifacts_{label}", master="local[2]")
    runs = {}
    for n in names:
        try:
            runs[n] = rows(qs[n](spark, sf_dir))
        except Exception as ex:
            runs[n] = "ERROR " + type(ex).__name__ + ": " + str(ex)[:200]
    result[label] = {
        "rows": runs,
        "stats": stats(spark),
        # stopped sessions whose store still holds entries
        "stale": sum(
            1 for s, st in _STORES.items()
            if s.sparkContext._jsc is None and st.entries
        ),
    }
    spark.stop()
print("RESULT " + json.dumps(result))
"""


def test_every_consumer_survives_a_session_restart():
    """Run one consumer of every artifact name in session A, stop it,
    start session B and run them again: the rows must be equal.  Before
    the store was session-scoped, B received checkpoint handles of A's
    dead session and failed."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS, SF_DIR, json.dumps(CONSUMERS)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=1500,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(l for l in out.stdout.splitlines() if l.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])
    a, b = res["a"], res["b"]
    errors = {
        n: r for s in (a, b) for n, r in s["rows"].items() if isinstance(r, str)
    }
    assert not errors, errors
    diff = [n for n in CONSUMERS if a["rows"][n] != b["rows"][n]]
    assert not diff, diff
    # every registered name was exercised, and rebuilt (not served) in B
    registered = _registered_names()
    assert registered and registered <= set(a["stats"]), (
        registered - set(a["stats"])
    )
    assert all(b["stats"][n]["builds"] >= 1 for n in registered)
    # session B's first store access released session A's artifacts
    assert b["stale"] == 0


def test_artifact_counts_builds_and_hits(spark):
    calls = []

    def build():
        calls.append(1)
        return "v"

    before = stats(spark).get("t_counts", {"builds": 0, "hits": 0})
    assert artifact(spark, "t_counts", 1, build) == "v"
    assert artifact(spark, "t_counts", 1, build) == "v"
    assert artifact(spark, "t_counts", 2, build) == "v"
    rec = stats(spark)["t_counts"]
    assert len(calls) == 2
    assert rec["builds"] - before["builds"] == 2
    assert rec["hits"] - before["hits"] == 1
    assert rec["build_s"] >= 0.0


def test_artifact_raising_build_stores_nothing(spark):
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifact(spark, "t_raise", 0, boom)
    assert "t_raise" not in stats(spark)
    # the next call builds again instead of serving a half-made entry
    assert artifact(spark, "t_raise", 0, lambda: 7) == 7
    rec = stats(spark)["t_raise"]
    assert (rec["builds"], rec["hits"]) == (1, 0)


def test_artifact_is_scoped_per_session(spark):
    other = spark.newSession()
    assert artifact(spark, "t_scope", 0, lambda: "first") == "first"
    assert artifact(other, "t_scope", 0, lambda: "second") == "second"
    assert artifact(spark, "t_scope", 0, lambda: "unused") == "first"
    assert stats(other)["t_scope"]["builds"] == 1


def test_evict_drops_entries_and_scratch_dirs(spark):
    sess = spark.newSession()

    def build():
        path = scratch_dir(sess, "t_evict_")
        with open(os.path.join(path, "f"), "w") as fh:
            fh.write("x")
        return path

    path = artifact(sess, "t_evict", 0, build)
    assert os.path.isfile(os.path.join(path, "f"))
    evict(sess)
    assert not os.path.exists(path)
    # entries are gone (next call rebuilds); accounting is kept
    path2 = artifact(sess, "t_evict", 0, build)
    assert path2 != path and os.path.isdir(path2)
    assert stats(sess)["t_evict"]["builds"] == 2
    evict(sess)
    assert not os.path.exists(path2)
    evict(sess)  # idempotent


def test_uncacheable_path_adds_no_memo_entry(spark):
    """A glob (os.stat fails) is read uncached and allocates no
    per-session entry in the reader-handle memo."""
    from elastic_asset_etl_poc_spark.sources.registry import _RAW_FRAMES, _read_raw

    sess = spark.newSession()
    df = _read_raw(sess, f"{SF_DIR}/regio?.parquet", "parquet")
    assert df.count() == spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    assert sess not in _RAW_FRAMES
    # a real file path is still memoized
    _read_raw(sess, f"{SF_DIR}/region.parquet", "parquet")
    assert len(_RAW_FRAMES[sess]) == 1


def test_default_driver_memory_fits_the_host():
    from elastic_asset_etl_poc_spark.session import default_driver_memory

    mb = int(default_driver_memory().rstrip("m"))
    assert 1024 <= mb <= 24 * 1024
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    assert mb <= max(1024, total_kb // 2048)
