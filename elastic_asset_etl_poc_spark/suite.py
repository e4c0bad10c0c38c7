"""Driver-contract query suite: every SURVEY.md §2 operator (plus the
training-data-pipeline extensions) as a named (PySpark query, DuckDB oracle
SQL) pair.

Conventions keeping Spark and the oracle hash-identical:
  * pinned ``NOW = 2024-01-31 00:00:00 UTC`` (just past max(events.ts));
  * every computed column aliased identically on both sides;
  * float aggregates rounded (2-4 dp) — double summation order differs
    across engines by ~1e-9 relative, far below the rounding grain;
  * arrays serialized as sorted comma-joined strings (order-insensitive);
  * NULL-propagating concat (`||` / F.concat) on both sides;
  * deterministic tiebreaks on every window/top-k (ties broken by id).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .artifacts import artifact, scratch_dir
from .functions.scalar import find_parent, make_ean
from .operators.dedup import collapse_top1
from .operators.filters import exists_all
from .operators.neardup import dedup_exact, jaccard_pairs, minhash_lsh_pairs, simhash
from .operators.project import wildcard_select
from .operators.similarity import cosine_topk, lsh_topk
from .operators.text import doc_fingerprint, lang_id, text_quality
from .plans.assets import collect_pods, collect_services
from .plans.services import (
    PINNED_NOW,
    batch_search_for_service_parents,
    batch_search_for_services,
)
from .sources.registry import load_table, union_scan
from .sources.signals import SIGNALS_ORACLE_CTE, signals_view

NOW_SQL = "TIMESTAMP '2024-01-31 00:00:00'"

QueryFn = Callable[[SparkSession, str], DataFrame]
#: name -> (spark_fn, oracle_sql | None)
SUITE: dict[str, tuple[QueryFn, str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn: QueryFn):
        SUITE[name] = (fn, oracle)
        return fn

    return deco


def _sig(extra_ctes: str = "") -> str:
    return f"WITH {SIGNALS_ORACLE_CTE}{extra_ctes}"


def _win(days: int, ts: str = "ts") -> str:
    return f"{ts} >= {NOW_SQL} - INTERVAL {days} DAY AND {ts} <= {NOW_SQL}"


# ---------------------------------------------------------------------------
# Reference parity: the live two-phase pipeline (§3 entry point 1)
# ---------------------------------------------------------------------------

@q(
    "svc_phase1_dedup",
    _sig()
    + f"""
SELECT service_name AS name, service_environment AS environment,
       max(ts) AS last_seen
FROM signals
WHERE metricset_name = 'purchase' AND {_win(15)}
GROUP BY 1, 2
""",
)
def svc_phase1_dedup(spark, sf_dir):
    """F1+F2+P3+A1: phase-1 service discovery with last-wins dedup."""
    return batch_search_for_services(spark, sf_dir)


_PHASE2_SQL = _sig(
    f""",
phase1 AS (
  SELECT DISTINCT service_name FROM signals
  WHERE metricset_name = 'purchase' AND {_win(15)}
)
"""
) + f"""
SELECT event_id, ts, service_name AS name,
       container_id, pod_uid, host_name, host_hostname,
       CASE WHEN container_id IS NOT NULL THEN 'container'
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod'
            WHEN host_name    IS NOT NULL THEN 'host'
            WHEN host_hostname IS NOT NULL THEN 'host'
            ELSE 'unknown' END AS parent_type,
       CASE WHEN container_id IS NOT NULL THEN container_id
            WHEN pod_uid      IS NOT NULL THEN pod_uid
            WHEN host_name    IS NOT NULL THEN host_name
            WHEN host_hostname IS NOT NULL THEN host_hostname
            ELSE '' END AS parent_id,
       CASE WHEN container_id IS NOT NULL THEN 'container:' || container_id
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod:' || pod_uid
            WHEN host_name    IS NOT NULL THEN 'host:' || host_name
            WHEN host_hostname IS NOT NULL THEN 'host:' || host_hostname
            ELSE 'unknown:' END AS parent_ean
FROM signals
WHERE {_win(20)}
  AND service_name IN (SELECT service_name FROM phase1)
  AND (container_id IS NOT NULL OR pod_uid IS NOT NULL
       OR host_name IS NOT NULL OR host_hostname IS NOT NULL)
"""


@q("svc_phase2_parents", _PHASE2_SQL)
def svc_phase2_parents(spark, sf_dir):
    """J1 semi-join + F5 + X2 cascade; NO dedup (quirk Q3)."""
    services = batch_search_for_services(spark, sf_dir)
    return batch_search_for_service_parents(spark, sf_dir, services)


# ---------------------------------------------------------------------------
# Reference parity: dormant collectors (asset graphs)
# ---------------------------------------------------------------------------

_COLLECT_TOP_CTE = _sig(
    f""",
filt AS (
  SELECT * FROM signals
  WHERE {_win(10)} AND service_name IS NOT NULL
    AND (container_id IS NOT NULL OR pod_uid IS NOT NULL
         OR host_name IS NOT NULL OR host_hostname IS NOT NULL)
),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY service_name
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM filt
  ) WHERE rn = 1
)
"""
)


def _flatten_assets(df: DataFrame) -> DataFrame:
    """SimpleAsset frame → oracle-friendly strings (sorted array joins)."""
    return df.select(
        F.col("`asset.ean`").alias("ean"),
        F.col("`asset.type`").alias("type"),
        F.col("`asset.id`").alias("id"),
        F.array_join(F.col("`asset.parents`"), ",").alias("parents_s"),
        F.array_join(F.col("`asset.children`"), ",").alias("children_s"),
        F.array_join(F.col("`asset.references`"), ",").alias("references_s"),
        F.col("`cloud.provider`").alias("cloud_provider"),
        F.col("`orchestrator.cluster.name`").alias("orch_cluster"),
        F.col("`service.environment`").alias("environment"),
    )


@q(
    "assets_services",
    _COLLECT_TOP_CTE
    + """
SELECT 'service:' || service_name AS ean, 'service' AS type,
       service_name AS id,
       'container:' || container_id AS parents_s,
       CAST(NULL AS VARCHAR) AS children_s,
       coalesce(array_to_string(list_filter(
         ['k8s.pod:' || pod_uid, 'k8s.node:' || node_name],
         x -> x IS NOT NULL), ','), '') AS references_s,
       cloud_provider,
       CAST(NULL AS VARCHAR) AS orch_cluster,
       service_environment AS environment
FROM top
""",
)
def assets_services(spark, sf_dir):
    """A2 collapse + X1 EANs + conditional fields (lib/collectServices.ts:86-123)."""
    services, _ = collect_services(spark, sf_dir)
    return _flatten_assets(services)


@q(
    "assets_containers",
    _COLLECT_TOP_CTE
    + """
SELECT 'container:' || container_id AS ean, 'container' AS type,
       container_id AS id,
       array_to_string(list_sort(coalesce(list(DISTINCT 'k8s.pod:' || pod_uid)
         FILTER (WHERE pod_uid IS NOT NULL), [])), ',') AS parents_s,
       array_to_string(list_sort(list(DISTINCT 'service:' || service_name)), ',') AS children_s,
       array_to_string(list_sort(coalesce(list(DISTINCT 'k8s.node:' || node_name)
         FILTER (WHERE node_name IS NOT NULL), [])), ',') AS references_s,
       CAST(NULL AS VARCHAR) AS cloud_provider,
       CAST(NULL AS VARCHAR) AS orch_cluster,
       CAST(NULL AS VARCHAR) AS environment
FROM top
WHERE container_id IS NOT NULL
GROUP BY container_id
""",
)
def assets_containers(spark, sf_dir):
    """A3/J2 group-and-collect container graph (lib/collectServices.ts:125-168)."""
    _, containers = collect_services(spark, sf_dir)
    return _flatten_assets(containers)


_PODS_TOP_CTE = _sig(
    f""",
filt AS (
  SELECT * FROM signals
  WHERE {_win(10)} AND pod_uid IS NOT NULL AND node_name IS NOT NULL
),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pod_uid
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM filt
  ) WHERE rn = 1
)
"""
)


@q(
    "assets_pods",
    _PODS_TOP_CTE
    + """
SELECT 'k8s.pod:' || pod_uid AS ean, 'k8s.pod' AS type, pod_uid AS id,
       'k8s.node:' || node_name AS parents_s,
       CAST(NULL AS VARCHAR) AS children_s,
       CAST(NULL AS VARCHAR) AS references_s,
       cloud_provider,
       orchestrator_cluster_name AS orch_cluster,
       CAST(NULL AS VARCHAR) AS environment
FROM top
""",
)
def assets_pods(spark, sf_dir):
    """F4 + A2 + J3 pod assets (lib/collectPods.ts:66-88)."""
    pods, _ = collect_pods(spark, sf_dir)
    return _flatten_assets(pods)


@q(
    "assets_nodes",
    _PODS_TOP_CTE
    + """
, newest AS (
  SELECT node_name AS nn, orchestrator_cluster_name AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY node_name
                                 ORDER BY ts DESC, event_id DESC) AS rn2
    FROM top
  ) WHERE rn2 = 1
)
SELECT 'k8s.node:' || t.node_name AS ean, 'k8s.node' AS type,
       t.node_name AS id,
       'k8s.cluster:' || any_value(n.cluster) AS parents_s,
       array_to_string(list_sort(list(DISTINCT 'k8s.pod:' || t.pod_uid)), ',') AS children_s,
       CAST(NULL AS VARCHAR) AS references_s,
       CAST(NULL AS VARCHAR) AS cloud_provider,
       CAST(NULL AS VARCHAR) AS orch_cluster,
       CAST(NULL AS VARCHAR) AS environment
FROM top t JOIN newest n ON n.nn = t.node_name
GROUP BY t.node_name
""",
)
def assets_nodes(spark, sf_dir):
    """J3 node graph; cluster parent from the newest row (find-or-create
    order dependence, lib/collectPods.ts:98-110)."""
    _, nodes = collect_pods(spark, sf_dir)
    return _flatten_assets(nodes)


# ---------------------------------------------------------------------------
# Standalone operator coverage (§2.2-2.8)
# ---------------------------------------------------------------------------

@q(
    "collapse_top1_events",
    f"""
SELECT user_id, event_id AS last_event_id, ts AS last_ts,
       event_type AS last_type
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def collapse_top1_events(spark, sf_dir):
    """A2/O2 standalone: newest event per entity, deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    top = collapse_top1(ev, "user_id", "ts", tiebreak="event_id")
    return top.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
    )


@q(
    "union_scan_sources",
    """
SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
FROM events WHERE event_type IN ('click','view','error')
UNION ALL
SELECT event_id, event_type, value
FROM events WHERE event_type IN ('purchase','signup')
""",
)
def union_scan_sources(spark, sf_dir):
    """S4: multi-source union with missing columns → NULL backfill."""
    ev = load_table(spark, sf_dir, "events")
    logs = ev.filter(F.col("event_type").isin("click", "view", "error")).select(
        "event_id", "event_type"
    )
    apm = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "event_type", "value"
    )
    return union_scan(logs, apm)


@q(
    "exists_conj_pods",
    _sig()
    + """
SELECT event_id, pod_uid, node_name FROM signals
WHERE pod_uid IS NOT NULL AND node_name IS NOT NULL
""",
)
def exists_conj_pods(spark, sf_dir):
    """F4: conjunctive exists (must ×2, lib/collectPods.ts:46-57)."""
    sig = signals_view(spark, sf_dir)
    sig = exists_all(sig, "kubernetes.pod.uid", "kubernetes.node.name")
    return sig.select(
        F.col("`event.id`").alias("event_id"),
        F.col("`kubernetes.pod.uid`").alias("pod_uid"),
        F.col("`kubernetes.node.name`").alias("node_name"),
    )


@q(
    "terms_static_counts",
    """
SELECT event_type AS metricset_name, count(*) AS n
FROM events WHERE event_type IN ('click','signup')
GROUP BY 1
""",
)
def terms_static_counts(spark, sf_dir):
    """F3: static IN-list predicate (ES terms)."""
    sig = signals_view(spark, sf_dir)
    return (
        sig.filter(F.col("`metricset.name`").isin("click", "signup"))
        .groupBy(F.col("`metricset.name`").alias("metricset_name"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "wildcard_host_projection",
    _sig()
    + """
SELECT event_id, host_name, host_hostname FROM signals
""",
)
def wildcard_host_projection(spark, sf_dir):
    """P2: wildcard projection host.* (lib/collectServicesFromSummaries.ts:196)."""
    sig = signals_view(spark, sf_dir)
    out = wildcard_select(sig, "host.*", extra=["event.id"])
    return out.select(
        F.col("`event.id`").alias("event_id"),
        F.col("`host.name`").alias("host_name"),
        F.col("`host.hostname`").alias("host_hostname"),
    )


@q(
    "scalar_ean_cascade",
    _sig()
    + """
SELECT event_id, 'service:' || service_name AS service_ean,
       CASE WHEN container_id IS NOT NULL THEN 'container'
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod'
            WHEN host_name    IS NOT NULL THEN 'host'
            WHEN host_hostname IS NOT NULL THEN 'host'
            ELSE 'unknown' END AS parent_type,
       CASE WHEN container_id IS NOT NULL THEN 'container:' || container_id
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod:' || pod_uid
            WHEN host_name    IS NOT NULL THEN 'host:' || host_name
            WHEN host_hostname IS NOT NULL THEN 'host:' || host_hostname
            ELSE 'unknown:' END AS parent_ean
FROM signals
""",
)
def scalar_ean_cascade(spark, sf_dir):
    """X1+X2 over all signals, including the ('unknown','') fallback branch."""
    sig = signals_view(spark, sf_dir)
    parent = find_parent()
    return sig.select(
        F.col("`event.id`").alias("event_id"),
        make_ean("service", F.col("`service.name`")).alias("service_ean"),
        parent.getField("parent_type").alias("parent_type"),
        parent.getField("parent_ean").alias("parent_ean"),
    )


@q(
    "sessionize_events",
    """
SELECT user_id, count(*) AS n_events,
       CAST(1 + sum(CASE WHEN gap_min IS NOT NULL AND gap_min > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) / 60.0 AS gap_min
  FROM events
)
GROUP BY user_id
""",
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (lag window + conditional count) — the
    incremental-state pattern §2.9 points at, in batch form."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) / 60.0
    return (
        ev.withColumn("gap_min", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("gap_min").isNotNull() & (F.col("gap_min") > 30), 1
                    ).otherwise(0)
                )
            ).alias("n_sessions"),
        )
    )


# ---------------------------------------------------------------------------
# Generic relational breadth over the star schema (joins/aggs/windows —
# "Spark gives these free"; included so the engine is a complete analytics
# surface and the bench has shuffle-heavy headliners)
# ---------------------------------------------------------------------------

@q(
    "agg_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 3) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan→filter→hash-agg, partial aggregation map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 3).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "join_topk_orders",
    """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       any_value(o.o_orderdate) AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def join_topk_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → joins → agg → top-k.
    Customer side broadcasts; ORDER BY ... LIMIT is a TakeOrderedAndProject
    (no global sort materialization)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.any_value(F.col("o_orderdate")).alias("o_orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@q(
    "join_region_revenue",
    """
SELECT r.r_name, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def join_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join — all dims broadcast, fact never shuffles
    until the final (tiny) group-by."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@q(
    "window_latest_order",
    """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def window_latest_order(spark, sf_dir):
    """A2 generalized to the star schema: latest order per customer."""
    o = load_table(spark, sf_dir, "orders")
    top = collapse_top1(o, "o_custkey", "o_orderdate", tiebreak="o_orderkey")
    return top.select("o_custkey", "o_orderkey", "o_orderdate")


@q(
    "semi_join_orders",
    """
SELECT o.o_orderstatus, count(*) AS n
FROM orders o
WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
GROUP BY 1
""",
)
def semi_join_orders(spark, sf_dir):
    """J1 generalized: broadcast left-semi join, grouped."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left_semi",
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "anti_join_customers",
    """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def anti_join_customers(spark, sf_dir):
    """Left-anti join (absent from the reference; free in Spark)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o.select("o_custkey"), c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Training-data pipeline extensions: dedup / text / similarity
# ---------------------------------------------------------------------------

@q(
    "dedup_exact_docs",
    """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_docs
FROM documents GROUP BY 1
""",
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup on content digest (A1 generalized to documents)."""
    return dedup_exact(load_table(spark, sf_dir, "documents"))


#: shared 3-gram Jaccard CTE chain (with the hot-shingle doc-freq cap the
#: operator applies by default) — used by jaccard_neardup_docs and the
#: dedup_survivors_docs connected-components oracle.
_JACCARD_CTES = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 10000),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT doc_a, doc_b,
         round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8
)"""


def _shared_pairs(spark, sf_dir: str, kind: str) -> DataFrame:
    """Near-dup pair frame at threshold 0.8, checkpointed once per
    session — seven suite queries consume the identical deterministic
    pair set (fixed shingle/signature seeds)."""

    def build():
        from .operators.neardup import prefix_filter_pairs

        docs = load_table(spark, sf_dir, "documents")
        # the "jaccard" pair frame is BUILT via PPJoin prefix filtering:
        # bit-equal to the plain inverted index (property-tested incl. a
        # tripped doc-freq cap, AND every consumer's oracle still STATES
        # the inverted-index SQL — so each driver run re-certifies the
        # equivalence) but candidate-pruned, which keeps the build
        # linear-class at 10× where the naive index pays Σ df² on the
        # copy fixture's shared shingles (sf1 pair build measured 16.2s
        # inverted vs ~7s prefix, identical output).  The inverted-index
        # formulation itself stays certified as prefix_filter's oracle.
        # n=3 explicitly: prefix_filter_pairs defaults to bigrams while
        # the jaccard family is 3-gram — the n must match the oracle
        fn = (
            (lambda d, threshold: prefix_filter_pairs(
                d, threshold=threshold, n=3
            ))
            if kind == "jaccard"
            else minhash_lsh_pairs
        )
        return fn(docs, threshold=0.8).localCheckpoint(eager=True)

    return artifact(spark, "pair_frame", (sf_dir, kind), build)


def _shared_shingles(spark, sf_dir: str) -> DataFrame:
    """Capped 3-gram shingle postings, checkpointed once per session —
    rrf_fusion and mmr_rerank both consume the identical deterministic
    (doc_id, shingle) frame."""

    def build():
        from .operators.neardup import capped_sets, shingles

        docs = load_table(spark, sf_dir, "documents")
        sh, staging = capped_sets(shingles(docs))
        sh = sh.localCheckpoint(eager=True)
        if staging is not None:
            staging.unpersist()
        return sh

    return artifact(spark, "shingle_frame", sf_dir, build)


@q(
    "jaccard_neardup_docs",
    f"WITH {_JACCARD_CTES}\nSELECT doc_a, doc_b, jaccard FROM jp",
)
def jaccard_neardup_docs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup join.  The ORACLE states the
    plain inverted-index formulation; the Spark side serves the
    shared pair frame, BUILT via PPJoin prefix filtering (bit-equal
    output, candidate-pruned build — see _shared_pairs) — so every
    driver hash check certifies prefix-filter ≡ inverted-index on the
    live corpus, not just on the property-test fixtures."""
    return _shared_pairs(spark, sf_dir, "jaccard")


@q(
    "minhash_neardup_docs",
    f"WITH {_JACCARD_CTES}\nSELECT doc_a, doc_b, jaccard FROM jp",
)
def minhash_neardup_docs(spark, sf_dir):
    """MinHash+LSH candidates, exact-verified — the 100 TB near-dup path.

    Hash-checked against the EXACT Jaccard oracle (same SQL as
    jaccard_neardup_docs): candidates are exact-verified, so precision
    is 1 by construction, and the s-curve at 64 hashes / 16 bands gives
    P[candidate] ≈ 0.9996 at J=0.8 — measured recall is exactly 1.0 at
    sf0.001/0.01/0.1 with the fixed signature seeds.  A genuine LSH
    recall miss would surface as a driver row-count mismatch; at these
    corpora that is the signal we want (banding drift), not noise."""
    return _shared_pairs(spark, sf_dir, "minhash")


def _minhash_store(spark, sf_dir: str) -> str:
    """Staged MinHash band store (corpus = doc_id % 5 != 0), built once
    per session; the incremental query never mutates it
    (update_store=False) so every invocation replays identically."""

    def build():
        from .operators.neardup import minhash_store_init

        path = scratch_dir(spark, "suite_mhstore_")
        corpus = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 != 0
        )
        minhash_store_init(corpus, path)
        return path

    return artifact(spark, "minhash_store", sf_dir, build)


@q(
    "minhash_incremental_docs",
    f"""WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM jp
WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
""",
)
def minhash_incremental_docs(spark, sf_dir):
    """Incremental MinHash near-dup (neardup.minhash_neardup_incremental):
    the 20% batch (doc_id % 5 == 0) probes the standing corpus's parquet
    band store — only the batch is shingled/signed, corpus text is read
    solely for candidate docs via a pushed semi-join.  Hash-checked
    against the exact Jaccard oracle restricted to batch-involving pairs
    (LSH recall is exactly 1.0 at these fixtures, as with the self-join
    twin)."""
    from .operators.neardup import minhash_neardup_incremental

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_neardup_incremental(
        batch, corpus, _minhash_store(spark, sf_dir), threshold=0.8
    )


@q(
    "recall_simhash_incremental_vs_full",
    """
SELECT CAST(1 AS BOOLEAN) AS sets_equal
""",
)
def recall_simhash_incremental_vs_full(spark, sf_dir):
    """Hash-checked equivalence audit for the incremental SimHash store
    (neardup.simhash_neardup_incremental): the batch-probe path over a
    staged fingerprint store must emit EXACTLY the full self-join's
    pairs restricted to batch-involving docs — stated as a literal
    boolean row so any drift in store layout, banding, or the
    pre-collapse bound breaks the driver hash (SimHash itself is
    xxhash64-based, so this in-plan equality IS its oracle)."""
    from .operators.neardup import (
        banded_hamming_pairs,
        simhash,
        simhash_neardup_incremental,
        simhash_store_init,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    def build():
        path = scratch_dir(spark, "suite_shstore_")
        simhash_store_init(corpus, path)
        return path

    inc = simhash_neardup_incremental(
        batch, artifact(spark, "simhash_store", sf_dir, build), max_hamming=3
    ).select("doc_a", "doc_b", "hamming")
    full = banded_hamming_pairs(simhash(docs), max_hamming=3)
    bids = batch.select(F.col("doc_id").alias("__bid"))
    full_b = (
        full.join(bids, full["doc_a"] == bids["__bid"], "left_semi")
        .unionByName(full.join(bids, full["doc_b"] == bids["__bid"], "left_semi"))
        .distinct()
        .select("doc_a", "doc_b", "hamming")
    )
    inc = inc.localCheckpoint(eager=True)
    full_b = full_b.localCheckpoint(eager=True)
    both = inc.intersect(full_b)
    return (
        inc.agg(F.count(F.lit(1)).alias("__n_inc"))
        .crossJoin(full_b.agg(F.count(F.lit(1)).alias("__n_full")))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("__n_both")))
        .select(
            (
                (F.col("__n_inc") == F.col("__n_full"))
                & (F.col("__n_both") == F.col("__n_full"))
            ).alias("sets_equal")
        )
    )


def _recall_audit(exact: DataFrame, approx: DataFrame, keys: list[str]) -> DataFrame:
    """One-row recall audit (n_exact, n_candidates, n_hit, recall_pct):
    how much of the exact pair set the approximate operator recovered.

    Each input feeds TWO branches (its own count and the hit join);
    without materialization the full dedup pipeline behind each would
    execute twice.  The pair frames are tiny (pairs above threshold), so
    an eager localCheckpoint costs nothing and halves the audit."""
    exact = exact.localCheckpoint(eager=True)
    approx = approx.localCheckpoint(eager=True)
    hit = exact.join(approx, keys)
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .withColumn(
            "recall_pct",
            F.round(F.lit(100.0) * F.col("n_hit") / F.col("n_exact"), 2),
        )
    )


def _invariant_recall_audit(
    exact: DataFrame, approx: DataFrame, keys: list[str]
) -> DataFrame:
    """One-row audit (n_missed, recall_pct) for operators whose exact
    side DuckDB cannot reproduce (seeded xxhash fingerprints): the row
    carries only the INVARIANT — zero missed pairs, 100% recall — which
    the oracle states as literals.  An empty exact set reports recall
    100 (vacuous but not a hash break; fixtures keep it non-vacuous at
    the driver's check SF)."""
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, keys)
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            (F.col("n_exact") - F.col("n_hit")).alias("n_missed"),
            F.when(F.col("n_exact") == 0, F.lit(100.0))
            .otherwise(F.round(F.lit(100.0) * F.col("n_hit") / F.col("n_exact"), 2))
            .alias("recall_pct"),
        )
    )


@q(
    "recall_minhash_vs_jaccard",
    f"""WITH {_JACCARD_CTES}
SELECT count(*) AS n_exact, count(*) AS n_candidates, count(*) AS n_hit,
       CAST(100.0 AS DOUBLE) AS recall_pct
FROM jp""",
)
def recall_minhash_vs_jaccard(spark, sf_dir):
    """Driver-checked recall audit: MinHash+LSH candidates vs the exact
    3-gram Jaccard join at J≥0.8.  Both operators are deterministic
    (fixed PRNG seeds, deterministic fixtures) and recall on these
    fixtures is exactly 1.0 with precision 1 (candidates are
    exact-Jaccard-verified), so the audit row is HASH-CHECKABLE against
    the exact-side DuckDB count — a recall regression breaks the hash
    instead of hiding in a docstring claim."""
    docs = load_table(spark, sf_dir, "documents")
    exact = _shared_pairs(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
    approx = _shared_pairs(spark, sf_dir, "minhash").select("doc_a", "doc_b")
    return _recall_audit(exact, approx, ["doc_a", "doc_b"])


@q(
    "scd2_user_event_history",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
),
i AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM o
),
g AS (
  SELECT user_id, island, event_type, min(ts) AS valid_from
  FROM i GROUP BY 1, 2, 3
)
SELECT user_id, event_type AS value, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         AS valid_to
FROM g
""",
)
def scd2_user_event_history(spark, sf_dir):
    """SCD2 dimension-history reconstruction from the event change log:
    consecutive equal event_type values per user collapse into validity
    intervals, open row has valid_to NULL (operators/temporal.py:
    scd2_history — one exchange serves both windows and the aggregate)."""
    from .operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events")
    return scd2_history(ev, key="user_id", attr="event_type", tiebreak="event_id")


@q(
    "profile_orders",
    """
SELECT 'o_orderkey' AS col_name, count(o_orderkey) AS n_nonnull,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_s,
       CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
UNION ALL
SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(o_orderstatus), count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus) FROM orders
UNION ALL
SELECT 'o_orderpriority', count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       min(o_orderpriority), max(o_orderpriority) FROM orders
""",
)
def profile_orders(spark, sf_dir):
    """Ingest-hygiene data profile: per-column nonnull/distinct/min/max
    in ONE wide aggregate job unpivoted to a row per column (the oracle
    is the naive 4-scan UNION — same values, 4× the reads; the Spark
    side reads once).  exact=False swaps HLL cardinality in at 100 TB
    (operators/profile.py)."""
    from .operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@q(
    "recall_simhash_bands_vs_exact",
    """
SELECT CAST(0 AS BIGINT) AS n_missed, CAST(100.0 AS DOUBLE) AS recall_pct
""",
)
def recall_simhash_bands_vs_exact(spark, sf_dir):
    """Driver-checked completeness audit for the banded SimHash path:
    candidates from the ``max_hamming + 1``-band equi-join must cover
    EVERY pair the exact all-pairs ``bit_count(a ^ b) <= 3`` scan finds
    over the same fingerprints — guaranteed by pigeonhole when the
    banding is implemented correctly, so the invariant row (0 missed,
    100% recall) is hash-checkable even though the fingerprints
    themselves use ``xxhash64``, which DuckDB cannot reproduce (hence no
    data-dependent counts in the row; the exact side is Spark's).  A
    wrong band width, mask, or chunk count breaks the hash.  The exact
    scan is O(N²) over (id, int64) pairs — audit-only, like
    ``cosine_pairs``; the banded operator is the scale path."""
    from .operators.neardup import simhash, simhash_neardup

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash(docs).localCheckpoint(eager=True)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr("bit_count(fp_a ^ fp_b)") <= 3)
        .select("doc_a", "doc_b")
    )
    approx = simhash_neardup(docs, max_hamming=3, fingerprints=fp).select(
        "doc_a", "doc_b"
    )
    return _invariant_recall_audit(exact, approx, ["doc_a", "doc_b"])


@q(
    "redact_pii_docs",
    r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' mail u' || CAST(doc_id AS VARCHAR) || '@ex-ample.com ip 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR) || ' ph 555-867-530'
              || CAST(doc_id % 10 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS text_redacted,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
       + len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))
       + len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_redacted
FROM seeded
""",
)
def redact_pii_docs(spark, sf_dir):
    """PII scrubbing (emails/phones/IPv4 → typed placeholders + per-doc
    count), demonstrated on documents seeded with deterministic synthetic
    PII derived from doc_id.  Map-only regexp chain — no shuffle, no
    Python; the oracle applies the identical chain (patterns restricted
    to Java-regex ∩ RE2 syntax)."""
    from .operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail u"), F.col("doc_id").cast("string"),
            F.lit("@ex-ample.com ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" ph 555-867-530"),
            (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    return redact_pii(seeded).select("doc_id", "text_redacted", "n_redacted")


@q(
    "contamination_docs",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0)
SELECT doc_id, count(*) AS n_shingles,
       count(CASE WHEN s IN (SELECT s FROM bench) THEN 1 END) AS n_contaminated,
       round(count(CASE WHEN s IN (SELECT s FROM bench) THEN 1 END) * 100.0
             / count(*), 2) AS contamination_pct
FROM corpus GROUP BY doc_id
""",
)
def contamination_docs(spark, sf_dir):
    """Benchmark-contamination audit: every 20th document plays the held
    -out eval set; the rest of the corpus reports what fraction of its
    3-gram shingles leak from it.  Benchmark shingles broadcast (eval
    suites are tiny) — corpus side is a map-side join + one doc_id agg."""
    from .operators.neardup import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_check(corpus, bench)


@q(
    "pack_sequences_docs",
    """
WITH tok AS (
  SELECT doc_id, doc_id % 64 AS shard, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
off AS (
  -- CAST: DuckDB window SUM returns HUGEINT and would propagate through
  -- the offset/seq arithmetic; Spark computes BIGINT — pin the oracle to
  -- BIGINT so the driver's value hash compares like-for-like.
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS end_offset
  FROM tok
)
SELECT doc_id, shard, n_tokens,
       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       CAST(shard * 1000000000 + (end_offset - n_tokens) // 512 AS BIGINT)
         AS first_seq,
       CAST(shard * 1000000000 + (end_offset - 1) // 512 AS BIGINT) AS last_seq
FROM off
""",
)
def pack_sequences_docs(spark, sf_dir):
    """GPT-style sequence packing plan: per-shard token streams cut every
    512 tokens (documents may straddle a cut — no padding waste).  Pure
    window arithmetic, no global sort; sequence ids globally unique via
    shard striding."""
    from .operators.sampling import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"), max_tokens=512)


@q(
    "weighted_sample_docs",
    """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens
FROM t
WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 8)
      < printf('%08x', CAST(floor(least(
            greatest(0.0, least(1.0, 0.002 * n_tokens)) * 4294967296.0,
            4294967295.0)) AS BIGINT))
""",
)
def weighted_sample_docs(spark, sf_dir):
    """Length-weighted deterministic sample: keep probability
    min(1, 0.002·n_tokens) — longer documents oversampled, membership a
    pure function of doc_id (stable under growth/repartition).  The
    oracle applies the identical md5-uniform expression."""
    from .operators.sampling import weighted_sample
    from .operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", token_count(F.col("text")))
    return weighted_sample(docs, rate=0.002, weight_col="n_tokens").select(
        "doc_id", "n_tokens"
    )


@q(
    "corpus_clean_docs",
    """
WITH q AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop
  FROM documents
),
kept AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens BETWEEN 10 AND 1000
    AND round(n_stop * 1.0 / n_tokens, 4) > 0
),
dedup AS (
  SELECT min(doc_id) AS doc_id, any_value(n_tokens) AS n_tokens
  FROM kept GROUP BY md5(text)
)
SELECT doc_id, n_tokens FROM dedup
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':clean'), 1, 8) < '80000000'
""",
)
def corpus_clean_docs(spark, sf_dir):
    """End-to-end corpus cleaning — the composition story: quality
    filter (C4/Gopher-style bounds) → exact dedup (min-id survivor per
    content digest) → deterministic 50% hash sample.  Three operators
    chained as one lazy plan: the quality predicate and the digest both
    compute map-side before the single dedup shuffle, and the sample is
    a map-side filter after it — Catalyst fuses what a hand-built
    pipeline would stage through disk."""
    from .operators.sampling import hash_sample
    from .operators.text import text_quality

    docs = load_table(spark, sf_dir, "documents")
    quality = text_quality(docs).filter(F.col("quality_keep"))
    kept = docs.join(quality.select("doc_id", "n_tokens"), "doc_id")
    survivors = (
        kept.groupBy(F.md5("text").alias("__digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_tokens").alias("n_tokens"),
        )
        .drop("__digest")
    )
    return hash_sample(survivors, 0.5, salt="clean").select("doc_id", "n_tokens")


@q("simhash_docs", None)  # xxhash64-based → rows-only check
def simhash_docs(spark, sf_dir):
    """SimHash 64-bit fingerprints per document."""
    return simhash(load_table(spark, sf_dir, "documents"))


@q(
    "text_quality_docs",
    """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars,
       round((length(text) - (len(string_split(text, ' ')) - 1))
             * 1.0 / len(string_split(text, ' ')), 4) AS mean_token_len,
       round(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
             * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio,
       (len(string_split(text, ' ')) BETWEEN 10 AND 1000)
         AND len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) > 0
         AS quality_keep
FROM documents
""",
)
def text_quality_docs(spark, sf_dir):
    """Quality scoring: token stats + stopword ratio + keep flag."""
    return text_quality(load_table(spark, sf_dir, "documents"))


@q(
    "lang_id_docs",
    """
SELECT doc_id, lang,
       CASE WHEN list_contains(string_split(text, ' '), 'the')
            THEN 'en' ELSE 'other' END AS pred_lang
FROM documents
""",
)
def lang_id_docs(spark, sf_dir):
    """Heuristic language ID (function-word detector)."""
    return lang_id(load_table(spark, sf_dir, "documents"))


@q(
    "doc_fingerprint_docs",
    """
SELECT doc_id, CAST(sum(i * (ascii(t[i]) * 131 + length(t[i]))) AS BIGINT) AS fingerprint
FROM (
  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
GROUP BY doc_id
""",
)
def doc_fingerprint_docs(spark, sf_dir):
    """Position-weighted integer fingerprint (rolling-hash analog, exact
    int64 arithmetic on both engines)."""
    return doc_fingerprint(load_table(spark, sf_dir, "documents"))


_KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
),
e AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ev FROM embeddings),
scored AS (
  SELECT q.query_id, e.neighbor_id,
         list_dot_product(e.ev, q.qv)
           / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM e, q WHERE e.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


_SQ8_SQL = """
WITH pe AS (SELECT i AS d, embedding[i]::DOUBLE AS v
            FROM embeddings,
                 unnest(generate_series(1, len(embedding))) AS t(i)),
mm AS (SELECT d, min(v) AS mn, max(v) AS mx FROM pe GROUP BY d),
ba AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM mm),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
enc AS (
  SELECT e.vec_id AS neighbor_id,
         list_transform(generate_series(1, len(e.embedding)),
           i -> CASE WHEN a.mx[i] > a.mn[i]
                THEN a.mn[i]
                     + greatest(least(floor((e.embedding[i]::DOUBLE - a.mn[i])
                                            * 255.0 / (a.mx[i] - a.mn[i])),
                                      255), 0)
                       * (a.mx[i] - a.mn[i]) / 255.0
                ELSE a.mn[i] END) AS ev
  FROM embeddings e CROSS JOIN ba a),
scored AS (
  SELECT q.query_id, enc.neighbor_id,
         list_dot_product(enc.ev, q.qv)
           / (sqrt(list_dot_product(enc.ev, enc.ev))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM enc, q WHERE enc.neighbor_id <> q.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


@q("embed_knn_sq8", _SQ8_SQL)
def embed_knn_sq8(spark, sf_dir):
    """ANN over the int8 scalar-quantized store (operators/similarity.py
    sq8_train/encode/topk): 4× smaller corpus vectors, floor-quantized
    against exact per-dim bounds learned with NO driver action
    (posexplode → per-dim agg → ordered collect into a 1-row broadcast
    frame).  Unlike PQ/IVF, SQ8 scoring is pure per-dim arithmetic, so
    the oracle replays encode + dequant + cosine + rank EXACTLY — a
    lossy ANN tier whose full neighbor surface is hash-checked, not
    bounded by a recall audit."""
    from .operators.similarity import sq8_encode, sq8_topk, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    bounds = sq8_train(emb)
    codes = sq8_encode(emb, bounds)
    return sq8_topk(codes, bounds, emb.filter(F.col("vec_id") < 5), k=10)


@q("embed_knn_bruteforce", _KNN_SQL)
def embed_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-10 for query vectors vec_id<5 (broadcast brute force)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10)


@q(
    "embed_knn_lsh",
    """
SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS INTEGER) AS k,
       CAST(1 AS BOOLEAN) AS recall_at_k_ge_090
""",
)
def embed_knn_lsh(spark, sf_dir):
    """Multi-probe banded sign-LSH ANN (scale path; recall tunable via
    bands — < 1 by design, unlike the exact bruteforce twin).

    Driver-checked as an invariant-row audit (pattern:
    recall_simhash_bands_vs_exact): ANN output is approximate, so exact
    row equality is the wrong contract — instead the query computes
    recall@10 against the exact ``cosine_topk`` in-plan and states the
    ≥ 0.9 bound as literal rows.  A bucketing/probe regression drops
    recall and breaks the driver hash; the neighbor-triple surface
    stays covered by tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count_distinct("query_id").alias("n_queries"))
        .crossJoin(
            exact.agg(F.count(F.lit(1)).alias("__n_exact"))
        )
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_queries",
            F.lit(10).alias("k"),
            (F.col("__n_hit") >= F.lit(0.9) * F.col("__n_exact")).alias(
                "recall_at_k_ge_090"
            ),
        )
    )


def _last_checked(root: str | None = None) -> dict[str, int]:
    """Round in which the driver's correctness sampler last saw each query.

    Parsed from the ``CORRECTNESS_r*.json`` artifacts the driver writes at
    the repo root.  The r2/r3 lesson: the sampler checks a bounded prefix
    (50 of 60+ queries) of the exported dict, so a FIXED export order
    permanently starves the tail, and a hand-pinned "check these first"
    list just rotates which 13 starve.  Ordering stale-first from the
    driver's own artifacts makes coverage rotate automatically: whatever
    was checked least recently (or never — e.g. queries added this round)
    exports first each round."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(data, dict):
            for name, rec in data.items():
                ok = not isinstance(rec, dict) or (
                    rec.get("err") in (None, "no_oracle")
                    and rec.get("rows_match") is not False
                    and rec.get("hash_match") is not False
                )
                if name not in seen or rnd > seen[name][0]:
                    seen[name] = (rnd, ok)
    return {n: (rnd if ok else -2) for n, (rnd, ok) in seen.items()}


def _ordered() -> list[str]:
    """Stale-first export order, with two priority overrides: a query
    whose MOST RECENT driver record was a failure exports first of all
    (a repair must re-certify even if a later sample happened to skip
    it — the r5 lesson: four r4-FAIL repairs waited a full round), then
    never-checked queries (new this round), then oldest-checked."""
    seen = _last_checked()
    reg_index = {n: i for i, n in enumerate(SUITE)}
    return sorted(SUITE, key=lambda n: (seen.get(n, -1), reg_index[n]))


def queries() -> dict[str, QueryFn]:
    return {name: SUITE[name][0] for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: SUITE[name][1] for name in _ordered() if SUITE[name][1] is not None
    }


#: exact all-pairs cosine near-dup SQL — shared by the exact block-pair
#: query and the LSH-bucketed variant (whose emitted pair set equals the
#: exact set at suite corpora; see embed_neardup_cosine_lsh).
_COS_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
"""


@q("embed_neardup_cosine", _COS_NEARDUP_SQL)
def embed_neardup_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact, distributed block-pair
    matmul (no driver materialization; see similarity.cosine_pairs)."""
    from .operators.similarity import cosine_pairs

    return cosine_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.45)


@q(
    "top_terms_docs",
    """
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY 1, 2
)
SELECT doc_id, term, tf, rnk FROM (
  SELECT doc_id, term, tf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rnk
  FROM tf
) WHERE rnk <= 3
""",
)
def top_terms_docs(spark, sf_dir):
    """Top-3 terms per document by frequency (deterministic tie-break on
    the term) — the keyword-extraction shape: explode → hash-agg →
    per-doc window top-k."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "rnk")
    )


@q(
    "pivot_daily_event_counts",
    """
SELECT CAST(ts AS DATE) AS day,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY 1
""",
)
def pivot_daily_event_counts(spark, sf_dir):
    """Pivot (long → wide): daily counts per event type.  Spark's
    ``pivot`` with an EXPLICIT value list — never the implicit form,
    which runs a hidden distinct job and makes the output schema
    data-dependent (a breaking change when a new type appears at 100 TB).
    The oracle is the equivalent conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@q(
    "unpivot_daily_event_counts",
    """
WITH wide AS (
  SELECT CAST(ts AS DATE) AS day,
         count(*) FILTER (WHERE event_type = 'click') AS click,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase
  FROM events GROUP BY 1
)
SELECT day, event_type, n FROM (
  SELECT day, 'click' AS event_type, click AS n FROM wide
  UNION ALL
  SELECT day, 'purchase' AS event_type, purchase AS n FROM wide
)
""",
)
def unpivot_daily_event_counts(spark, sf_dir):
    """Unpivot (wide → long): the inverse of the pivot query via the
    native ``unpivot``/STACK operator (Expand-based, no shuffle beyond
    the source agg)."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", ["click", "purchase"])
        .count()
        .na.fill(0)
    )
    return wide.unpivot(
        ids=["day"],
        values=["click", "purchase"],
        variableColumnName="event_type",
        valueColumnName="n",
    )


@q(
    "grouping_sets_revenue",
    """
SELECT n_name, o_orderpriority,
       CAST(sum(o_totalprice) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
""",
)
def grouping_sets_revenue(spark, sf_dir):
    """GROUPING SETS beyond rollup: independent (nation) and (priority)
    margins plus the grand total in ONE Expand-based aggregation pass —
    three scans' worth of answers for one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    j.createOrReplaceTempView("orders_enriched_v")
    return spark.sql(
        """
        SELECT n_name, o_orderpriority,
               CAST(sum(o_totalprice) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders_enriched_v
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        """
    )


@q(
    "text_normalize_docs",
    """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text
FROM documents
""",
)
def text_normalize_docs(spark, sf_dir):
    """Canonical normalization (lowercase / strip punctuation / collapse
    whitespace) — the pre-dedup cleanup pass (operators/text.py)."""
    from .operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    return normalize_text(docs).select("doc_id", "norm_text")


def _split_case_sql(id_expr: str, salt: str, weights: dict[str, float]) -> str:
    """DuckDB twin of sampling.deterministic_split's when-chain."""
    from .operators.sampling import _hex_threshold

    total = sum(weights.values())
    names = list(weights)
    h8 = f"substr(md5({id_expr} || ':{salt}'), 1, 8)"
    branches, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        branches.append(f"WHEN {h8} < '{_hex_threshold(cum)}' THEN '{name}'")
    return "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"


@q(
    "split_docs",
    f"""
SELECT doc_id,
       {_split_case_sql("doc_id::VARCHAR", "split",
                        {"train": 0.90, "val": 0.05, "test": 0.05})} AS split
FROM documents
""",
)
def split_docs(spark, sf_dir):
    """Deterministic train/val/test split by hashed doc id — reproducible
    across runs/engines and stable under corpus growth (md5-prefix
    thresholds; operators/sampling.py)."""
    from .operators.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_split(docs).select("doc_id", "split")


@q(
    "hash_sample_docs",
    """
SELECT doc_id FROM documents
WHERE substr(md5(doc_id::VARCHAR || ':sample'), 1, 8) < '19999999'
""",
)
def hash_sample_docs(spark, sf_dir):
    """Deterministic ~10% sample by hashed id (map-side filter, nested
    across fractions — scaling-law subset ladders)."""
    from .operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, 0.1).select("doc_id")


@q(
    "stratified_sample_events",
    """
SELECT event_type, count(*) AS n FROM events
WHERE substr(md5(event_id::VARCHAR || ':sample'), 1, 8) <
      CASE WHEN event_type = 'click' THEN '80000000'
           WHEN event_type = 'purchase' THEN 'g' END
GROUP BY event_type
""",
)
def stratified_sample_events(spark, sf_dir):
    """Per-stratum deterministic sampling: half the clicks, every
    purchase, drop other event types (replayable sampleBy)."""
    from .operators.sampling import stratified_hash_sample

    ev = load_table(spark, sf_dir, "events")
    out = stratified_hash_sample(
        ev, "event_type", {"click": 0.5, "purchase": 1.0}, id_col="event_id"
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@q(
    "price_quartiles_lineitem",
    """
WITH t AS (
  SELECT l_returnflag,
         ntile(4) OVER w AS quartile,
         percent_rank() OVER w AS pr,
         l_extendedprice
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber)
)
SELECT l_returnflag, quartile, count(*) AS n,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi,
       round(avg(pr), 4) AS avg_pr
FROM t GROUP BY 1, 2
""",
)
def price_quartiles_lineitem(spark, sf_dir):
    """Rank-window breadth: ntile quartiles + percent_rank per return
    flag, folded to a 12-row profile.  The window ORDER BY carries a
    unique tiebreak (orderkey, linenumber) so tile boundaries and ranks
    are total-order deterministic and DuckDB agrees bit-exactly — the
    discipline any rank-window needs to be testable at all."""
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    t = l.select(
        "l_returnflag",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        "l_extendedprice",
    )
    return t.groupBy("l_returnflag", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
        F.round(F.avg("pr"), 4).alias("avg_pr"),
    )


@q(
    "simhash_fixture_fingerprints",
    """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(simhash AS BIGINT) AS simhash
FROM (VALUES
  (1, -7573889167326994222),
  (2, -7573326217371541038),
  (3, 2495353224988115078),
  (4, 4762906711925119524),
  (5, -7573889167326994222)
) t(doc_id, simhash)
""",
)
def simhash_fixture_fingerprints(spark, sf_dir):
    """Bit-exact pin of the SimHash kernel: fingerprints of five fixed
    strings stated as literals (same invariant-row idea as the frozen
    media oracles).  The corpus queries (simhash_docs,
    simhash_neardup_docs) stay rows-only — xxhash64 has no DuckDB twin —
    but any drift in tokenization, shingling, vote packing, or Spark's
    xxhash64 itself breaks THIS hash; identical texts (docs 1/5) must
    collide exactly, the one-word edit (doc 2) lands Hamming-3 away."""
    from .operators.neardup import simhash as _simhash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "sphinx of black quartz judge my vow"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return _simhash(df)


@q(
    "mixture_resample_docs",
    """
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tgt AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2))
        t(source, tshare)),
b AS (SELECT min(n / tshare) AS bud FROM counts JOIN tgt USING (source)),
plan AS (
  SELECT source, least(1.0, bud * tshare / n) AS keep
  FROM counts JOIN tgt USING (source) CROSS JOIN b
)
SELECT d.doc_id, d.source
FROM documents d JOIN plan USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mixture'), 1, 8))::BIGINT
      < keep * 4294967296.0
""",
)
def mixture_resample_docs(spark, sf_dir):
    """Target-mixture resampling (DoReMi-style static domain weights):
    the largest exactly-proportioned sub-corpus without upsampling —
    per-stratum keep fractions computed IN-PLAN from the observed
    counts (no driver collect), membership by the md5-uniform hash
    compared numerically.  The oracle replays the identical double
    arithmetic (min(n/t) budget, least(1, B·t/n) keep, hash32 <
    keep·2³²), so thresholds match bit-exactly."""
    from .operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_resample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, strata_col="source"
    )
    return out.select("doc_id", "source")


@q("image_neardup_dhash", None)  # media decode → rows-only check
def image_neardup_dhash(spark, sf_dir):
    """Image near-dup: perceptual dHash (decode → 9×8 area resample →
    adjacent-pixel bits) into the SAME Manku-banded Hamming join the
    text SimHash path uses — multimodal dedup riding the text-dedup
    scale machinery (operators/multimodal.py:image_neardup_dhash)."""
    from .operators.multimodal import image_neardup_dhash as _ind
    from .operators.multimodal import synthetic_images

    return _ind(synthetic_images(spark, n=128), max_hamming=6)


@q(
    "recall_dhash_bands_vs_exact",
    """
SELECT CAST(0 AS BIGINT) AS n_missed, CAST(100.0 AS DOUBLE) AS recall_pct
""",
)
def recall_dhash_bands_vs_exact(spark, sf_dir):
    """Driver-checked completeness audit for image-dHash banding: the
    7-band candidate join must recover EVERY pair the exact all-pairs
    ``bit_count <= 6`` scan finds over the same fingerprints (pigeonhole
    — 6 differing bits cannot touch all 7 chunks).  Same invariant-row
    pattern as ``recall_simhash_bands_vs_exact``: decode output is not
    SQL-reproducible, so the oracle states the invariant as literals and
    a band-layout bug breaks the hash."""
    from .operators.multimodal import dhash_images, synthetic_images
    from .operators.neardup import banded_hamming_pairs

    fp = (
        dhash_images(synthetic_images(spark, n=128))
        .filter(F.col("dhash").isNotNull())
        .localCheckpoint(eager=True)
    )
    a = fp.selectExpr("media_id AS doc_a", "dhash AS fp_a")
    b = fp.selectExpr("media_id AS doc_b", "dhash AS fp_b")
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr("bit_count(fp_a ^ fp_b)") <= 6)
        .select("doc_a", "doc_b")
    )
    approx = banded_hamming_pairs(
        fp, max_hamming=6, id_col="media_id", fp_col="dhash"
    ).select("doc_a", "doc_b")
    return _invariant_recall_audit(exact, approx, ["doc_a", "doc_b"])


@q("video_neardup_frames", None)  # media decode → rows-only check
def video_neardup_frames(spark, sf_dir):
    """Video near-dup: MJPEG frame split → per-frame perceptual dHash →
    the videos' frame-hash SETS through the SAME inverted-index Jaccard
    core as text shingles (set_similarity_pairs) — trimmed/re-muxed
    copies share most frame hashes.  Fourth fingerprint family on
    shared dedup machinery; the set-join core is hash-proven by the
    text jaccard oracle, the decode side by the multimodal tests."""
    from .operators.multimodal import synthetic_videos
    from .operators.multimodal import video_neardup_frames as _vnf

    return _vnf(synthetic_videos(spark, n=24), threshold=0.5)


@q("audio_neardup_afp", None)  # media decode → rows-only check
def audio_neardup_afp(spark, sf_dir):
    """Audio near-dup: Haitsma-Kalker-style subband fingerprint (rFFT
    band power vs frame median, majority across frames) into the shared
    banded Hamming join — the third fingerprint family on one banding
    core (operators/multimodal.py:audio_neardup_afp).  The synthetic
    corpus repeats 4 pitches at varying length/every-8th-garbage, so
    same-pitch bursts pair and garbage drops on the NULL fingerprint."""
    from .operators.multimodal import audio_neardup_afp as _ana
    from .operators.multimodal import synthetic_audio

    return _ana(synthetic_audio(spark, n=64), max_hamming=2)


@q(
    "recall_afp_bands_vs_exact",
    """
SELECT CAST(0 AS BIGINT) AS n_missed, CAST(100.0 AS DOUBLE) AS recall_pct
""",
)
def recall_afp_bands_vs_exact(spark, sf_dir):
    """Driver-checked completeness audit for audio-fingerprint banding
    (same invariant-row pattern as the SimHash and dHash audits: decode
    output is not SQL-reproducible, the pigeonhole invariant is)."""
    from .operators.multimodal import audio_fingerprint, synthetic_audio
    from .operators.neardup import banded_hamming_pairs

    fp = (
        audio_fingerprint(synthetic_audio(spark, n=64))
        .filter(F.col("afp").isNotNull())
        .localCheckpoint(eager=True)
    )
    a = fp.selectExpr("media_id AS doc_a", "afp AS fp_a")
    b = fp.selectExpr("media_id AS doc_b", "afp AS fp_b")
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr("bit_count(fp_a ^ fp_b)") <= 2)
        .select("doc_a", "doc_b")
    )
    approx = banded_hamming_pairs(
        fp, max_hamming=2, id_col="media_id", fp_col="afp"
    ).select("doc_a", "doc_b")
    return _invariant_recall_audit(exact, approx, ["doc_a", "doc_b"])


@q("multimodal_audio_features", None)  # synthetic binary input → rows-only
def multimodal_audio_features(spark, sf_dir):
    """REAL WAV/PCM decode (stdlib wave) over an Arrow mapInPandas stage,
    fail-soft on non-WAV payloads (operators/multimodal.py)."""
    from .operators.multimodal import extract_audio_features, synthetic_audio

    return extract_audio_features(synthetic_audio(spark, n=64))


@q("multimodal_audio_segments", None)  # synthetic binary input → rows-only
def multimodal_audio_segments(spark, sf_dir):
    """Energy-based activity segmentation (silence stripping) over the
    WAV fixtures — fan-out mapInPandas, one row per above-threshold run
    (operators/multimodal.py:segment_audio_energy)."""
    from .operators.multimodal import segment_audio_energy, synthetic_audio

    return segment_audio_energy(synthetic_audio(spark, n=64))


def _ivf_centroids(spark, sf_dir):
    """Trained IVF centroids — a static corpus trains ONCE per session
    (the intended ivf_train usage); without this the bench re-ran the
    count+collect+k-means train jobs on every invocation (r4: 2.8×)."""
    from .operators.similarity import ivf_train

    return artifact(
        spark, "ivf_centroids", sf_dir,
        lambda: ivf_train(load_table(spark, sf_dir, "embeddings")),
    )


@q(
    "embed_knn_ivf",
    """
SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS INTEGER) AS k,
       CAST(1 AS BOOLEAN) AS recall_at_k_ge_060
""",
)
def embed_knn_ivf(spark, sf_dir):
    """IVF-Flat ANN (coarse-quantizer scale path; data-adaptive twin of
    the LSH variant — see similarity.ivf_topk).

    Driver-checked as an invariant-row audit (same pattern as
    embed_knn_lsh): the default nprobe=8 probe deliberately trades
    recall for an 8/16th of the scan — measured recall@10 is 0.70-0.86
    across sf0.001/0.01/0.1, so the stated bound is ≥ 0.6: a broken
    train/assign/probe path scores ~0 and breaks the hash, while normal
    probe-count recall variation does not.  The exact-machinery twin
    (recall_ivf_full_probe_vs_exact, nprobe=all) pins correctness at
    100% separately."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk(
        emb, queries, k=10, centroids=_ivf_centroids(spark, sf_dir)
    ).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count_distinct("query_id").alias("n_queries"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__n_exact")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_queries",
            F.lit(10).alias("k"),
            (F.col("__n_hit") >= F.lit(0.6) * F.col("__n_exact")).alias(
                "recall_at_k_ge_060"
            ),
        )
    )


@q(
    "recall_ivf_full_probe_vs_exact",
    f"""SELECT count(*) AS n_exact, count(*) AS n_candidates, count(*) AS n_hit,
       CAST(100.0 AS DOUBLE) AS recall_pct
FROM ({_KNN_SQL}) knn""",
)
def recall_ivf_full_probe_vs_exact(spark, sf_dir):
    """Driver-checked IVF machinery audit: with ``nprobe = n_centroids``
    (probe every list) IVF degenerates to exact brute force, so its
    (query_id, neighbor_id, rank) triples must equal the exact
    ``cosine_topk`` result INCLUDING tie order — both rank by (cos DESC,
    neighbor_id ASC) over the same double-precision cosine expression.
    The audit row hash-checks against the exact-kNN DuckDB count (the
    same SQL already hash-proven by ``embed_knn_bruteforce``), so any
    bug in train/assign/probe/re-rank breaks the hash.  The
    approximate default (nprobe=8) stays rows-only by design; this
    pins the machinery, that one trades recall for compute."""
    from .operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10)
    approx = ivf_topk(
        emb, queries, k=10, nprobe=16, centroids=_ivf_centroids(spark, sf_dir)
    )
    return _recall_audit(exact, approx, ["query_id", "neighbor_id", "rank"])


@q("embed_neardup_cosine_lsh", _COS_NEARDUP_SQL)
def embed_neardup_cosine_lsh(spark, sf_dir):
    """LSH-bucketed cosine near-dup pairs — the 100 TB all-pairs path:
    banded sign-LSH buckets bound the candidate set (hot buckets split
    into block-pair sub-tasks, so no task exceeds ~2·max_bucket rows);
    the numpy kernel runs per bucket; emitted cosines are exact.

    Hash-checked against the SAME exact all-pairs oracle as
    embed_neardup_cosine: precision is 1 (cosines computed, not
    estimated) and measured recall is exactly 1.0 at sf0.001/0.01/0.1
    with the seed-fixed hyperplanes — a recall regression now breaks
    the driver hash instead of hiding in a docstring estimate."""
    from .operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(load_table(spark, sf_dir, "embeddings"), threshold=0.45)


_COS_PAIRS_CTE = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
)"""


@q(
    "recall_lsh_vs_exact_cosine",
    f"""WITH {_COS_PAIRS_CTE}
SELECT count(*) AS n_exact, count(*) AS n_candidates, count(*) AS n_hit,
       CAST(100.0 AS DOUBLE) AS recall_pct
FROM cp""",
)
def recall_lsh_vs_exact_cosine(spark, sf_dir):
    """Driver-checked recall audit: LSH-bucketed cosine pairs vs the
    exact block-pair all-pairs kernel at cos≥0.45.  The hyperplanes are
    seed-deterministic and recall on these fixtures is exactly 1.0 with
    precision 1 (every emitted cosine is computed, not estimated), so
    the audit row hash-checks against the exact-side DuckDB count — a
    recall regression breaks the hash instead of hiding in a docstring."""
    from .operators.similarity import cosine_pairs, cosine_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_pairs(emb, threshold=0.45).select("vec_a", "vec_b")
    approx = cosine_pairs_lsh(emb, threshold=0.45).select("vec_a", "vec_b")
    return _recall_audit(exact, approx, ["vec_a", "vec_b"])


@q(
    "token_regex_docs",
    r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
       len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_bpe_pieces
FROM documents
""",
)
def token_regex_docs(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex piece counts (greedy
    fixed-width chunks as a stand-in for a merge-table tokenizer —
    deterministic and engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))).alias(
            "n_word_tokens"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]{1,4}"), F.lit(0))
        ).alias("n_bpe_pieces"),
    )


@q("simhash_neardup_docs", None)  # xxhash64-based → rows-only check
def simhash_neardup_docs(spark, sf_dir):
    """SimHash banded near-dup pairs (Manku-style chunk pigeonhole +
    bit_count verify) — the hamming-space member of the dedup ladder."""
    from .operators.neardup import simhash_neardup

    return simhash_neardup(load_table(spark, sf_dir, "documents"), max_hamming=3)


@q("multimodal_image_features", None)  # synthetic media, rows-only check
def multimodal_image_features(spark, sf_dir):
    """Arrow-batched image decode over deterministic synthetic binaries:
    REAL stdlib decode for JPEG (baseline huffman+IDCT), PNG and BMP;
    non-image payloads fall soft to format='fake' rows (at corpus scale
    one bad file must never kill a partition)."""
    from .operators.multimodal import (
        extract_image_features,
        synthetic_images,
        synthetic_media,
    )

    media = synthetic_images(spark, n=128).unionByName(
        synthetic_media(spark, n=128).selectExpr(
            "media_id + 1000 AS media_id", "payload"
        )
    )
    return extract_image_features(media)


@q("multimodal_resize_thumbnails", None)  # literal oracle via fixture_oracles
def multimodal_resize_thumbnails(spark, sf_dir):
    """Image resize: decode (stdlib JPEG/PNG/BMP) → area-average resample
    → re-encode REAL grayscale PNG thumbnails, one Arrow stage, binary
    never shuffled; undecodable payloads fail soft to format='fake'.

    The driver-checked surface carries the thumbnail as (png_len,
    png_xxh64) rather than raw bytes — deterministic PNG encode means
    the 64-bit content hash pins every byte while keeping the compared
    rows literal-friendly; the raw-bytes surface stays covered by
    tests/test_multimodal.py's decode round-trip."""
    from .operators.multimodal import resize_images, synthetic_images

    return resize_images(synthetic_images(spark, n=128), out_w=16, out_h=16).select(
        "media_id",
        "width",
        "height",
        F.length("payload").alias("png_len"),
        F.xxhash64("payload").alias("png_xxh64"),
        "format",
    )


@q("multimodal_frame_sample", None)  # synthetic media, rows-only check
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling: REAL MJPEG container split (every 4th frame
    emitted as a standalone decodable JPEG); non-MJPEG payloads use the
    fixed-size stub slicing.  Fan-out mapInPandas shape."""
    from pyspark.sql import functions as PF

    from .operators.multimodal import sample_frames, synthetic_images

    # concatenate each image id's JPEG 8× into a tiny MJPEG "clip"
    clips = (
        synthetic_images(spark, n=32)
        .filter(PF.col("media_id") % 4 != 3)  # drop the garbage payloads
        .selectExpr(
            "media_id",
            "concat(payload, payload, payload, payload,"
            " payload, payload, payload, payload) AS payload",
        )
    )
    return sample_frames(clips, every_n=4).select(
        "media_id", "frame_idx", PF.length("frame_bytes").alias("frame_len")
    )


@q(
    "rollup_region_revenue",
    """
SELECT r_name, n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def rollup_region_revenue(spark, sf_dir):
    """Hierarchical grouping-sets aggregation (region → nation → grand
    total) — one Expand + hash-agg, no per-level rescans."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@q(
    "having_brand_prices",
    """
SELECT p_brand, round(avg(p_retailprice), 2) AS avg_price, count(*) AS n_parts
FROM part
GROUP BY p_brand
HAVING avg(p_retailprice) > 950
""",
)
def having_brand_prices(spark, sf_dir):
    """Post-aggregation predicate (HAVING)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .filter(F.avg("p_retailprice") > 950)
    )


@q(
    "percentile_prices",
    """
WITH s AS (
  SELECT l_returnflag,
         list_sort(list(CAST(l_extendedprice AS DOUBLE))) AS v,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
),
q AS (
  SELECT l_returnflag, v, n,
         CAST(0.5 * (n - 1) AS DOUBLE) AS pos50,
         CAST(0.9 * (n - 1) AS DOUBLE) AS pos90
  FROM s
)
SELECT l_returnflag,
       floor((v[CAST(floor(pos50) AS BIGINT) + 1]
              + (v[CAST(ceil(pos50) AS BIGINT) + 1]
                 - v[CAST(floor(pos50) AS BIGINT) + 1])
                * (pos50 - floor(pos50))) * 100 + 0.5) / 100 AS p50_price,
       floor((v[CAST(floor(pos90) AS BIGINT) + 1]
              + (v[CAST(ceil(pos90) AS BIGINT) + 1]
                 - v[CAST(floor(pos90) AS BIGINT) + 1])
                * (pos90 - floor(pos90))) * 100 + 0.5) / 100 AS p90_price
FROM q
""",
)
def percentile_prices(spark, sf_dir):
    """Exact interpolated percentiles per group (both engines use linear
    interpolation; approx_percentile is the sketch alternative at scale).

    Parity pitfall (hit at sf0.001): even-count medians interpolate onto
    .xx5 rounding boundaries, where (a) DuckDB's ``quantile_cont`` float
    formula differs from Spark's percentile by 1 ulp, and (b) Spark's
    ``round`` (Java BigDecimal HALF_UP on the decimal expansion) differs
    from DuckDB's ``round`` AND from float ``floor(x·100+0.5)/100`` on
    exactly such values.  Fix: the oracle replicates Spark's
    interpolation formula term by term, and BOTH sides round with the
    same explicit floor-form expression — identical doubles in, identical
    doubles out."""
    l = load_table(spark, sf_dir, "lineitem")

    def r2(expr):  # floor-form rounding: bit-identical on both engines
        return F.floor(F.expr(expr) * 100 + F.lit(0.5)) / 100

    return l.groupBy("l_returnflag").agg(
        r2("percentile(l_extendedprice, 0.5)").alias("p50_price"),
        r2("percentile(l_extendedprice, 0.9)").alias("p90_price"),
    )


@q(
    "distinct_parts_counts",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def distinct_parts_counts(spark, sf_dir):
    """Multi distinct-aggregate (Expand-based); approx_count_distinct is
    the HLL sketch alternative at scale (not oracle-comparable)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


#: recursive min-label connected-components over the exact Jaccard pair
#: set — shared by the exact and MinHash survivor queries (the MinHash
#: path's pair set equals the exact set at suite corpora; see
#: dedup_survivors_minhash).
_SURVIVORS_SQL = f"""WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, c.label FROM edges e JOIN cc c ON c.node = e.dst
)
SELECT node AS doc_id, min(label) AS cluster,
       min(label) = node AS is_survivor
FROM cc GROUP BY node
"""


#: cluster-aware split oracle: survivors CC + md5 split on the cluster
#: representative (thresholds must match sampling._hex_threshold(0.9/0.95))
_CLUSTER_SPLIT_SQL = f"""WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, c.label FROM edges e JOIN cc c ON c.node = e.dst
),
clusters AS (SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node)
SELECT doc_id, cluster,
       CASE WHEN substr(md5(cluster::VARCHAR || ':split'), 1, 8) < 'e6666666'
              THEN 'train'
            WHEN substr(md5(cluster::VARCHAR || ':split'), 1, 8) < 'f3333333'
              THEN 'val'
            ELSE 'test' END AS split
FROM clusters
"""


@q("cluster_split_docs", _CLUSTER_SPLIT_SQL)
def cluster_split_docs(spark, sf_dir):
    """Leakage-free split (operators/sampling.py: cluster_split):
    connected near-dup components inherit ONE deterministic 90/5/5 hash
    draw from their min-id representative, so a training doc's near-copy
    can never land in val/test.  Hash-checked end to end: the oracle
    re-derives components recursively AND replays the md5 split."""
    from .operators.sampling import cluster_split

    docs = load_table(spark, sf_dir, "documents")
    return cluster_split(docs, _shared_pairs(spark, sf_dir, "jaccard"))


@q(
    "audit_split_leakage",
    f"""WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jp
),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, c.label FROM edges e JOIN cc c ON c.node = e.dst
),
clusters AS (SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node),
cs AS (SELECT doc_id,
  CASE WHEN substr(md5(cluster::VARCHAR || ':split'), 1, 8) < 'e6666666' THEN 'train'
       WHEN substr(md5(cluster::VARCHAR || ':split'), 1, 8) < 'f3333333' THEN 'val'
       ELSE 'test' END AS split FROM clusters),
nv AS (SELECT doc_id,
  CASE WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'e6666666' THEN 'train'
       WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'f3333333' THEN 'val'
       ELSE 'test' END AS split FROM documents),
labeled AS (
  SELECT ca.split AS c_a, cb.split AS c_b, na.split AS n_a, nb.split AS n_b
  FROM jp
  JOIN cs ca ON ca.doc_id = jp.doc_a JOIN cs cb ON cb.doc_id = jp.doc_b
  JOIN nv na ON na.doc_id = jp.doc_a JOIN nv nb ON nb.doc_id = jp.doc_b)
SELECT 'n_pairs' AS metric, CAST(count(*) AS BIGINT) AS value FROM labeled
UNION ALL
SELECT 'n_cross_cluster' AS metric,
       CAST(coalesce(sum(CASE WHEN c_a <> c_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS value
FROM labeled
UNION ALL
SELECT 'n_cross_naive' AS metric,
       CAST(coalesce(sum(CASE WHEN n_a <> n_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS value
FROM labeled
""",
)
def audit_split_leakage(spark, sf_dir):
    """Hash-checked leakage audit: near-dup pairs crossing the
    cluster-aware split must be ZERO while the naive per-doc split
    demonstrably leaks (4 crossing pairs at sf0.01).  Emitted as labeled
    (metric, value) rows — not one wide row — so a future driver
    mismatch localizes to the exact aggregate, and every value is an
    explicit BIGINT on both engines (DuckDB's bare ``sum(CASE …)`` is
    HUGEINT, the prime suspect in the r6 driver hash mismatch)."""
    from .operators.sampling import cluster_split, deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_pairs(spark, sf_dir, "jaccard")
    cs = cluster_split(docs, pairs).select("doc_id", F.col("split").alias("c_split"))
    nv = deterministic_split(docs.select("doc_id")).select(
        "doc_id", F.col("split").alias("n_split")
    )
    lab = cs.join(nv, "doc_id")
    # the PAIR side is the tiny one — broadcast it and stream the corpus
    # labels past it twice (never broadcast corpus-sized label frames)
    half = lab.join(
        F.broadcast(pairs), lab["doc_id"] == pairs["doc_a"]
    ).select(
        "doc_b", F.col("c_split").alias("ca"), F.col("n_split").alias("na")
    )
    both = lab.join(F.broadcast(half), lab["doc_id"] == half["doc_b"]).select(
        "ca", "na", F.col("c_split").alias("cb"), F.col("n_split").alias("nb")
    )
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("ca") != F.col("cb")).cast("long")), F.lit(0)
        ).cast("long").alias("n_cross_cluster"),
        F.coalesce(
            F.sum((F.col("na") != F.col("nb")).cast("long")), F.lit(0)
        ).cast("long").alias("n_cross_naive"),
    )
    return agg.select(
        F.expr(
            "stack(3, 'n_pairs', n_pairs,"
            " 'n_cross_cluster', n_cross_cluster,"
            " 'n_cross_naive', n_cross_naive) AS (metric, value)"
        )
    )


@q("dedup_survivors_docs", _SURVIVORS_SQL)
def dedup_survivors_docs(spark, sf_dir):
    """End-to-end near-dup dedup: exact Jaccard pairs → connected
    components → survivor per cluster (keep-min-id policy).  The DuckDB
    oracle resolves components with a recursive min-label CTE, so cluster
    ids AND survivor flags are hash-checked end to end."""
    from .operators.neardup import dedup_survivors

    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_pairs(spark, sf_dir, "jaccard")
    return dedup_survivors(docs, pairs)


@q("dedup_survivors_minhash", _SURVIVORS_SQL)
def dedup_survivors_minhash(spark, sf_dir):
    """Same end-to-end dedup on the MinHash-LSH candidate path — the
    100 TB configuration (banded candidates, no all-pairs shingle join).

    Hash-checked against the SAME recursive-CC oracle as the exact twin:
    the LSH pair set equals the exact Jaccard pair set at the suite's
    corpora (s-curve P[candidate] ≈ 0.9996 @ J=0.8, measured recall
    exactly 1.0 at sf0.001/0.01/0.1 with fixed seeds), so survivor sets
    must coincide — a banding/signature drift now breaks the driver
    hash instead of hiding behind a rows-only check."""
    from .operators.neardup import dedup_survivors, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = _shared_pairs(spark, sf_dir, "minhash")
    return dedup_survivors(docs, pairs)


@q(
    "correlated_max_balance",
    """
SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE c_acctbal = (
  SELECT max(c2.c_acctbal) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
)
""",
)
def correlated_max_balance(spark, sf_dir):
    """Correlated scalar subquery through the engine's SQL surface —
    Catalyst rewrites it into an aggregate + join (no per-row re-scan)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS acctbal
        FROM customer_v c
        WHERE c_acctbal = (
          SELECT max(c2.c_acctbal) FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@q(
    "set_ops_customers",
    """
SELECT 'only_1996' AS bucket, count(*) AS n FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
)
UNION ALL
SELECT 'both_years' AS bucket, count(*) AS n FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
)
""",
)
def set_ops_customers(spark, sf_dir):
    """EXCEPT / INTERSECT (absent from the reference; §2.7 notes union
    only — Spark provides the rest)."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    only96 = y96.exceptAll(y97).distinct()
    both = y96.intersect(y97)
    return (
        only96.agg(F.count(F.lit(1)).alias("n")).select(F.lit("only_1996").alias("bucket"), "n")
        .unionByName(
            both.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("both_years").alias("bucket"), "n"
            )
        )
    )


@q("cardinality_sketches", None)  # HLL/KLL sketches are engine-specific → rows-only
def cardinality_sketches(spark, sf_dir):
    """Sketch path for 100 TB cardinality/quantiles: approx_count_distinct
    (HyperLogLog++) and approx_percentile — bounded-memory, one-pass,
    mergeable across partitions (the exact variants are the oracle-checked
    distinct_parts_counts / percentile_prices)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx_p50"),
    )


@q(
    "budget_select_docs",
    """
WITH s AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         (len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
            * 1000) // len(string_split(text, ' ')) AS score_bucket
  FROM documents
),
b AS (SELECT score_bucket, sum(n_tokens) AS btok FROM s GROUP BY 1),
a AS (
  SELECT score_bucket FROM (
    SELECT score_bucket,
           sum(btok) OVER (ORDER BY score_bucket DESC
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM b
  ) WHERE cum <= 20000
)
SELECT s.doc_id, s.n_tokens, s.score_bucket
FROM s SEMI JOIN a USING (score_bucket)
""",
)
def budget_select_docs(spark, sf_dir):
    """Token-budget corpus selection (operators/sampling.py:
    select_under_token_budget): admit whole stopword-permille quality
    buckets best-first while the running token total fits 20k — the
    data-selection-under-budget step of an LLM mix, built so the corpus
    never passes through a single-partition window.  Integer bucket
    arithmetic keeps Spark and DuckDB bit-identical."""
    from .operators.sampling import select_under_token_budget
    from .operators.text import stopword_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        stopword_count(F.col("text")).alias("__nstop"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("(__nstop * 1000) div n_tokens").alias("score_bucket"),
    )
    return select_under_token_budget(base, token_budget=20_000)


@q(
    "decontam_docs",
    """
WITH ev AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE doc_id % 13 = 7),
tr AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 7),
trt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id % 13 <> 7),
evs AS (SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT t, unnest(range(1, greatest(len(t) - 2, 1))) AS i FROM ev)),
trs AS (SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 1))) AS i FROM trt)),
bad AS (SELECT doc_id FROM trs JOIN evs USING (s) GROUP BY doc_id HAVING count(*) >= 1)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN tr USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
""",
)
def decontam_docs(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): the CLEANED
    training corpus after dropping docs sharing any word 4-gram with a
    held-out eval slice (doc_id % 13 == 7 stands in for the benchmark).
    The eval shingle set is broadcast — the 100-TB train side is probed
    map-side with no shuffle on shingle; the per-doc audit twin is
    contamination_docs (neardup.contamination_check)."""
    from .operators.decontam import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 13 == 7)
    tr = docs.filter(F.col("doc_id") % 13 != 7)
    return decontaminate(tr, ev, n=4, min_hits=1).select(
        "doc_id", "lang", "source", "n_chars"
    )


@q(
    "boilerplate_segments_docs",
    """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs AS (
  SELECT doc_id, i,
         array_to_string(t[i*5+1 : least((i+1)*5, len(t))], ' ') AS seg
  FROM (SELECT doc_id, t,
               unnest(range(0, cast(ceil(len(t) / 5.0) AS INT))) AS i
        FROM base)),
hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 3),
kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM hot)),
rebuilt AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, cast(ceil(len(t) / 5.0) AS INT) AS n_segs FROM base)
SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
       t.n_segs - coalesce(r.n_kept, 0) AS n_removed
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
""",
)
def boilerplate_segments_docs(spark, sf_dir):
    """Cross-document boilerplate removal (operators/text.py:
    remove_boilerplate_segments): 5-token segments appearing in > 3
    distinct docs are dropped corpus-wide and each doc is reassembled
    from its surviving segments — the CCNet-style cleanup step between
    exact dedup and near-dup in a pretraining pipeline.  The hot-segment
    set is Zipf-tiny → broadcast anti-join, no corpus-wide window."""
    from .operators.text import remove_boilerplate_segments

    return remove_boilerplate_segments(
        load_table(spark, sf_dir, "documents"), seg_len=5, max_df=3
    )


@q(
    "pretrain_pipeline_docs",
    """
WITH RECURSIVE
pb AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs AS (
  SELECT doc_id, i, array_to_string(t[i*5+1 : least((i+1)*5, len(t))], ' ') AS seg
  FROM (SELECT doc_id, t, unnest(range(0, cast(ceil(len(t) / 5.0) AS INT))) AS i FROM pb)),
hotseg AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 3),
keptseg AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM hotseg)),
clean AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS ctext FROM keptseg GROUP BY doc_id),
qual AS (SELECT doc_id, ctext, len(string_split(ctext, ' ')) AS n_tokens
         FROM clean WHERE len(string_split(ctext, ' ')) >= 10),
ev AS (SELECT doc_id, string_split(ctext, ' ') AS t FROM qual WHERE doc_id % 13 = 7),
tr AS (SELECT doc_id, ctext FROM qual WHERE doc_id % 13 <> 7),
evs AS (SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT t, unnest(range(1, greatest(len(t) - 2, 1))) AS i FROM ev)),
trs AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
        FROM (SELECT doc_id, string_split(ctext, ' ') AS t,
                     unnest(range(1, greatest(len(string_split(ctext, ' ')) - 2, 1))) AS i
              FROM tr)),
bad AS (SELECT doc_id FROM trs JOIN evs USING (s) GROUP BY doc_id HAVING count(*) >= 1),
td AS (SELECT doc_id, ctext FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
toks AS (SELECT doc_id, string_split(ctext, ' ') AS t FROM td),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 10000),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
jp AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
cc(node, label) AS (
  SELECT doc_id, doc_id FROM td
  UNION
  SELECT e.src, c.label FROM edges e JOIN cc c ON c.node = e.dst),
clusters AS (SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node)
SELECT c.doc_id, q.n_tokens,
       CASE WHEN substr(md5(c.doc_id::VARCHAR || ':split'), 1, 8) < 'e6666666' THEN 'train'
            WHEN substr(md5(c.doc_id::VARCHAR || ':split'), 1, 8) < 'f3333333' THEN 'val'
            ELSE 'test' END AS split
FROM clusters c JOIN qual q USING (doc_id)
WHERE c.cluster = c.doc_id
""",
)
def pretrain_pipeline_docs(spark, sf_dir):
    """Flagship composition — the full pretraining data pipeline fused
    as ONE lazy plan: cross-doc boilerplate removal → min-length quality
    filter → benchmark decontamination (broadcast eval shingles) →
    exact-Jaccard near-dup survivors → leakage-free cluster split.
    Every stage is the already-oracled operator, composed over DERIVED
    text (each stage reads the previous stage's output column, not the
    fixture) — and the DuckDB oracle replays the whole chain, so the
    five-stage composition is hash-checked end to end."""
    from .operators.decontam import decontaminate
    from .operators.sampling import cluster_split
    from .operators.text import remove_boilerplate_segments, token_count

    docs = load_table(spark, sf_dir, "documents")
    clean = remove_boilerplate_segments(docs, seg_len=5, max_df=3)
    base = clean.filter(F.col("clean_text") != "").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    qual = base.select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 10)
    # the cleaned+filtered corpus feeds FIVE consumers (eval branch,
    # decontam probe + anti-join, near-dup shingles, final n_tokens
    # join); uncheckpointed, the segment explode + reassembly re-runs
    # for each — measured 8.7s → ~3s warm at sf0.1
    qual = qual.localCheckpoint(eager=True)
    ev = qual.filter(F.col("doc_id") % 13 == 7)
    tr = qual.filter(F.col("doc_id") % 13 != 7)
    td = decontaminate(tr, ev, n=4, min_hits=1)
    pairs = jaccard_pairs(td, threshold=0.8)
    cs = cluster_split(td, pairs)
    return (
        cs.filter(F.col("cluster") == F.col("doc_id"))
        .join(qual.select("doc_id", "n_tokens"), "doc_id")
        .select("doc_id", "n_tokens", "split")
    )


def _pq_books(spark, sf_dir, **kw):
    """Trained PQ codebooks per config — same train-once rationale as
    _ivf_centroids (the lossless audit's 500-centroid k-means dominated
    its bench cost when re-trained per invocation)."""

    def build():
        from .operators.similarity import pq_train

        emb = load_table(spark, sf_dir, "embeddings")
        train_kw = dict(kw)
        if "slice_below" in train_kw:
            emb = emb.filter(F.col("vec_id") < train_kw.pop("slice_below"))
        return pq_train(emb, **train_kw)

    return artifact(spark, "pq_books", (sf_dir, tuple(sorted(kw.items()))), build)


@q(
    "embed_knn_pq",
    """
SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS INTEGER) AS k,
       CAST(1 AS BOOLEAN) AS recall_at_k_ge_060
""",
)
def embed_knn_pq(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_topk) — the memory tier
    below IVF-Flat: vectors scan as m=8 one-byte codes (32× smaller than
    raw float32), ADC table-gather scoring, refine=8 exact re-rank of
    the candidate sliver inside the same pass.

    Invariant-row audit (same pattern as embed_knn_ivf/lsh): random
    fixtures are PQ's worst case — neighbor gaps sit below quantization
    distortion, measured recall@10 = 0.68-0.92 across sf with refine=8
    — so the stated bound is ≥ 0.6: a broken train/encode/ADC path
    scores ~0 and breaks the hash.  The exact-machinery twin
    (recall_pq_lossless_vs_exact) pins correctness at 100% separately."""
    from .operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = pq_topk(
        emb, queries, k=10, refine=8, codebooks=_pq_books(spark, sf_dir)
    ).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count_distinct("query_id").alias("n_queries"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__n_exact")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_queries",
            F.lit(10).alias("k"),
            (F.col("__n_hit") >= F.lit(0.6) * F.col("__n_exact")).alias(
                "recall_at_k_ge_060"
            ),
        )
    )


@q(
    "recall_pq_lossless_vs_exact",
    """
SELECT CAST(1 AS BOOLEAN) AS pq_equals_exact, CAST(50 AS BIGINT) AS n_pairs
""",
)
def recall_pq_lossless_vs_exact(spark, sf_dir):
    """Exact-machinery audit for the PQ path: over a 500-vector slice
    with ksub ≥ |corpus|, per-subspace k-means converges to one centroid
    per training point — the quantizer is LOSSLESS, so pure-ADC ranking
    must equal exact cosine top-k pair-for-pair (both rank by the same
    inner product on unit vectors, ties broken by id).  Encode/table/
    gather bugs surface as a hash break here even when the lossy audit's
    0.6 bound would absorb them."""
    from .operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = pq_topk(
        emb, queries, k=10, ksub=512, max_train_sample=512, refine=0,
        codebooks=_pq_books(
            spark, sf_dir, slice_below=500, ksub=512, max_train_sample=512
        ),
    ).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count(F.lit(1)).alias("__n_exact"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("__n_approx")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_pairs")))
        .select(
            (
                (F.col("n_pairs") == F.col("__n_exact"))
                & (F.col("__n_approx") == F.col("__n_exact"))
            ).alias("pq_equals_exact"),
            "n_pairs",
        )
    )


def _ivfpq_index(spark, sf_dir, slice_below=None, **kw):
    """IVF-PQ index (coarse centroids + residual codebooks), trained
    once per session — same train-once rationale as _pq_books."""

    def build():
        from .operators.similarity import ivf_train, ivfpq_train

        emb = load_table(spark, sf_dir, "embeddings")
        if slice_below is not None:
            emb = emb.filter(F.col("vec_id") < slice_below)
        C = ivf_train(emb, n_centroids=kw.get("n_centroids", 16))
        B = ivfpq_train(
            emb,
            C,
            m=kw.get("m", 8),
            ksub=kw.get("ksub", 32),
            max_train_sample=kw.get("max_train_sample", 4096),
        )
        return C, B

    key = (sf_dir, slice_below, tuple(sorted(kw.items())))
    return artifact(spark, "ivfpq_index", key, build)


@q(
    "embed_knn_ivfpq",
    """
SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS INTEGER) AS k,
       CAST(1 AS BOOLEAN) AS recall_at_k_ge_050
""",
)
def embed_knn_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (similarity.ivfpq_topk) — the PRODUCTION composition
    of the two certified tiers: IVF coarse pruning (nprobe=8 of 16
    lists) over PQ-compressed RESIDUAL codes (m=8, 32× smaller than
    float32), exact re-rank of the refine×k sliver.  IVF-Flat still
    ships raw vectors through its probe join; flat PQ still scans
    every row; composed, the serving pass reads m bytes per vector in
    probed lists only — the FAISS IVFPQ+refine layout, one
    mapInPandas pass with broadcast ADC tables and NO candidate join.

    Invariant-row audit (the embed_knn_ivf/pq pattern): random
    fixtures are the worst case for BOTH tiers (no cluster structure
    for IVF, neighbor gaps below quantization distortion for PQ), and
    the composed recall is the IVF probe's candidate ceiling (~0.86
    here) times PQ+refine survival.  refine=32 because the PQ tier is
    the binding loss on dense random corpora (measured at sf0.1:
    refine 8→32 lifts recall 0.44→0.68 at fixed nprobe, while nprobe
    8→12 adds only ~0.04) — measured 0.68-0.86 across sf, so the
    stated bound is ≥ 0.5: a broken residual-encode/table/offset path
    scores ~0 and breaks the hash.  The exact-machinery twin
    (recall_ivfpq_lossless_vs_exact) pins the decomposition
    q·C[c] + q·r̂ at 100% separately."""
    from .operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    C, B = _ivfpq_index(spark, sf_dir)
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = ivfpq_topk(
        emb, queries, k=10, nprobe=8, refine=32, centroids=C, codebooks=B
    ).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count_distinct("query_id").alias("n_queries"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__n_exact")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("__n_hit")))
        .select(
            "n_queries",
            F.lit(10).alias("k"),
            (F.col("__n_hit") >= F.lit(0.5) * F.col("__n_exact")).alias(
                "recall_at_k_ge_050"
            ),
        )
    )


@q(
    "recall_ivfpq_lossless_vs_exact",
    """
SELECT CAST(1 AS BOOLEAN) AS ivfpq_equals_exact, CAST(50 AS BIGINT) AS n_pairs
""",
)
def recall_ivfpq_lossless_vs_exact(spark, sf_dir):
    """Exact-machinery audit for the IVF-PQ path: over a 500-vector
    slice with ksub ≥ |slice| the residual quantizer is LOSSLESS
    (every training residual becomes its own centroid), and with
    nprobe = n_centroids every list is probed — so pure-ADC IVF-PQ
    ranking must equal exact cosine top-k pair-for-pair, certifying
    the score DECOMPOSITION q·unit(v) = q·C[list] + q·residual and
    the encode/table/gather path in one shot (the
    recall_pq_lossless_vs_exact pattern, extended to the offset
    term).  refine=0 deliberately: the re-rank must not be allowed to
    mask a broken ADC stage."""
    from .operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    queries = emb.filter(F.col("vec_id") < 5)
    C, B = _ivfpq_index(
        spark, sf_dir, slice_below=500, ksub=512, max_train_sample=512
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = ivfpq_topk(
        emb,
        queries,
        k=10,
        nprobe=16,
        refine=0,
        centroids=C,
        codebooks=B,
    ).select("query_id", "neighbor_id")
    exact = exact.localCheckpoint(eager=True)
    hit = exact.join(approx, ["query_id", "neighbor_id"])
    return (
        exact.agg(F.count(F.lit(1)).alias("__n_exact"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("__n_approx")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_pairs")))
        .select(
            (
                (F.col("n_pairs") == F.col("__n_exact"))
                & (F.col("__n_approx") == F.col("__n_exact"))
            ).alias("ivfpq_equals_exact"),
            "n_pairs",
        )
    )


def _ivfpq_incr_store(spark, sf_dir: str):
    """INCREMENTAL IVF-PQ index: coarse centroids + residual codebooks
    trained on the 80% STANDING corpus only (frozen), standing
    assignments persisted to parquet — the _ivf_incr_store pattern
    extended with the PQ tier."""

    def build():
        from .operators.similarity import ivf_assign, ivf_train, ivfpq_train

        emb = load_table(spark, sf_dir, "embeddings")
        standing = emb.filter(F.col("vec_id") % 5 != 0)
        C = ivf_train(standing)
        B = ivfpq_train(standing, C)
        path = scratch_dir(spark, "suite_ivfpqstore_")
        ivf_assign(standing, C).write.mode("overwrite").parquet(path)
        return C, B, path

    return artifact(spark, "ivfpq_incr_store", sf_dir, build)


@q(
    "embed_knn_ivfpq_incr",
    """
SELECT CAST(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_standing,
       CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_delta,
       CAST(1 AS BOOLEAN) AS incr_equals_full,
       CAST(50 AS BIGINT) AS n_pairs
FROM embeddings
""",
)
def embed_knn_ivfpq_incr(spark, sf_dir):
    """INCREMENTAL index maintenance for IVF-PQ (the embed_knn_ivf_incr
    pattern lifted to the production composition): the standing store
    holds assignments for 80% of the corpus under coarse centroids AND
    residual codebooks trained on that standing corpus alone; the 20%
    delta batch folds in as ONE stateless map-side assignment against
    the FROZEN centroids (operators/similarity.py ivf_assign — no
    retrain of either tier, no rewrite of standing lists).  The store
    layout is IVF-Flat's (centroid, id, raw vector) — residual codes
    are computed inside the serving scan against the broadcast frozen
    codebooks (ivfpq_probe), so fold-in needs no PQ encode step and a
    standing IVF store upgrades in place; a deployment that persists
    codes instead changes storage, not this fold contract.

    CERTIFICATE — fold-in ≡ full re-encode: serving the incremental
    store (standing parquet ∪ fresh delta assignment) must equal
    serving a from-scratch assignment of the FULL corpus pair-for-pair
    AND rank-for-rank under the same frozen (C, B).  refine=0
    deliberately: pure-ADC scores make the per-partition keep and the
    global top-k the SAME total order (score desc, id asc), so the
    result is a pure function of the row SET — structurally
    layout-independent — and any fold bug (stale centroid matrix, lost
    or duplicated delta rows, wrong list) breaks the driver hash.  A
    refine > 0 re-rank would reorder AFTER a layout-dependent ADC
    truncation and could mask exactly the row-set drift this query
    exists to catch.  Serving recall economics are certified by
    embed_knn_ivfpq; the lossless decomposition by
    recall_ivfpq_lossless_vs_exact.

    Scale shape: delta assignment is map-only over the batch; the
    standing store is read, never recomputed; the full-rebuild arm is
    the AUDIT baseline (priced here, not in production serving), and
    probe cost is independent of how many batches were folded."""
    from .operators.similarity import ivf_assign, ivfpq_probe

    C, B, path = _ivfpq_incr_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    standing = spark.read.parquet(path)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    store_incr = standing.unionByName(ivf_assign(delta, C))
    store_full = ivf_assign(emb, C)
    queries = emb.filter(F.col("vec_id") < 5)
    a_incr = ivfpq_probe(
        store_incr, queries, C, B, k=10, nprobe=8, refine=0
    ).localCheckpoint(eager=True)
    a_full = ivfpq_probe(store_full, queries, C, B, k=10, nprobe=8, refine=0)
    hit = a_incr.join(a_full, ["query_id", "neighbor_id", "rank"])
    return (
        standing.agg(F.count(F.lit(1)).cast("bigint").alias("n_standing"))
        .crossJoin(
            delta.agg(F.count(F.lit(1)).cast("bigint").alias("n_delta"))
        )
        .crossJoin(a_incr.agg(F.count(F.lit(1)).alias("__n_incr")))
        .crossJoin(a_full.agg(F.count(F.lit(1)).alias("__n_full")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_pairs")))
        .select(
            "n_standing",
            "n_delta",
            (
                (F.col("n_pairs") == F.col("__n_incr"))
                & (F.col("__n_incr") == F.col("__n_full"))
            ).alias("incr_equals_full"),
            "n_pairs",
        )
    )


@q(
    "funnel_fold_events",
    """
WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1),
t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM t1) AS c1,
             (SELECT count(*) FROM t2) AS c2,
             (SELECT count(*) FROM t3) AS c3)
SELECT 1 AS step_idx, 'view' AS step, c1 AS n_users, round(100.0, 2) AS pct FROM c
UNION ALL SELECT 2, 'click', c2, round(c2 * 100.0 / c1, 2) FROM c
UNION ALL SELECT 3, 'purchase', c3, round(c3 * 100.0 / c1, 2) FROM c
""",
)
def funnel_fold_events(spark, sf_dir):
    """Ordered-step funnel view→click→purchase (operators/temporal.py:
    funnel): the state machine folds over each user's time-sorted event
    array with ONE shuffle (JVM aggregate lambda) — the scale
    formulation of the k-stage sequential-min self-join that
    funnel_events (signup-based) demonstrates and this query's oracle
    replays: same semantics, k−1 fewer exchanges over the corpus."""
    from .operators.temporal import funnel

    return funnel(
        load_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def _pagerank_oracle(iters: int = 10, d: float = 0.85) -> str:
    """Unrolled power-iteration PageRank oracle — aggregates are illegal
    in a recursive CTE term, so the fixed ``iters`` recurrence is emitted
    as r0..r{iters} CTEs (deterministic by construction, same as the
    Spark loop)."""
    ctes = [
        """eb AS (SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS a,
                        's' || l.l_suppkey::VARCHAR AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
e AS (SELECT a AS src, b AS dst FROM eb UNION ALL SELECT b, a FROM eb),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
od AS (SELECT src AS node, count(*) AS outd FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT nodes.node,
         CAST({1.0 - d} AS DOUBLE) / nn.n
           + CAST({d} AS DOUBLE) * coalesce(s.m, 0) AS rank
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, sum(r{i-1}.rank / od.outd) AS m
             FROM e JOIN r{i-1} ON r{i-1}.node = e.src
             JOIN od ON od.node = e.src GROUP BY 1) s USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, round(rank * nn.n, 6) AS rank_scaled"
        f"\nFROM r{iters} CROSS JOIN nn"
    )


def _directed_edges(spark, sf_dir):
    """Distinct customer→supplier purchase edges, checkpointed once per
    session — shared by pagerank (symmetrized) and HITS (directed); the
    orders x lineitem distinct join dominates repeat invocations."""

    def build():
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        eb = (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .select(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
            )
            .distinct()
        )
        return eb.localCheckpoint(eager=True)

    return artifact(spark, "directed_edges", sf_dir, build)


def _pr_edges(spark, sf_dir):
    """The symmetrized edge frame, checkpointed once per session."""

    def build():
        eb = _directed_edges(spark, sf_dir)
        e = eb.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            eb.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        return e.localCheckpoint(eager=True)

    return artifact(spark, "pr_edges", sf_dir, build)


@q("pagerank_cust_supp", _pagerank_oracle(iters=5))
def pagerank_cust_supp(spark, sf_dir):
    """PageRank importance over the symmetrized customer↔supplier
    co-transaction graph (operators/graph.py: pagerank) — the
    crawl-frontier/source-weighting signal of web-corpus curation, run
    as 5 deterministic power iterations (edge frame checkpointed once,
    per-round rank shares broadcast so edges never re-shuffle).  The
    oracle unrolls the identical recurrence as r0..r5 CTEs."""
    from .operators.graph import pagerank

    return pagerank(_pr_edges(spark, sf_dir), iters=5, damping=0.85)


@q(
    "epoch_shuffle_docs",
    """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':shard1'), 1, 8)) AS BIGINT)
           % 8 AS shard,
         substr(md5(doc_id::VARCHAR || ':pos1'), 1, 8) AS h2
  FROM documents)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS pos
FROM h
""",
)
def epoch_shuffle_docs(spark, sf_dir):
    """Deterministic epoch-1 training shuffle (operators/sampling.py:
    epoch_shuffle): md5 shard draw + independent md5 within-shard order
    — a fresh permutation per epoch, byte-identical across engines and
    re-runs, no global sort (the only window partitions by shard)."""
    from .operators.sampling import epoch_shuffle

    return epoch_shuffle(
        load_table(spark, sf_dir, "documents"), n_shards=8, epoch=1
    )


#: the three fixed BM25 probe queries over the corpus vocabulary
_BM25_QUERIES = [(1, "spark hash join"), (2, "window merge sort"), (3, "table scan batch")]


#: shared BM25 ranking CTE body — the bm25_topk_docs oracle and the IR
#: evaluation oracle must rank identically, so they share one literal
_BM25_RANK_CTES = """
WITH q(query_id, term) AS (VALUES
  (1,'spark'),(1,'hash'),(1,'join'),
  (2,'window'),(2,'merge'),(2,'sort'),
  (3,'table'),(3,'scan'),(3,'batch')),
base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
stats AS (SELECT count(*) AS n, avg(len(t)) AS avgdl FROM base),
tok AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM base),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 4) AS score
  FROM tf JOIN dfreq d USING (term) JOIN q USING (term) CROSS JOIN stats s
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score, rank FROM (
    SELECT scored.*, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM scored)
  WHERE rank <= 10)
"""


@q(
    "bm25_topk_docs",
    _BM25_RANK_CTES + "SELECT query_id, doc_id, score, rank FROM ranked",
)
def bm25_topk_docs(spark, sf_dir):
    """Okapi-BM25 top-10 per query (operators/retrieval.py): the exact
    scoring function the reference's ES backend applies server-side
    (es_client.ts query_string searches), re-expressed as a corpus-side
    Spark plan — query terms pushed into the token-array filter before
    the explode, one (doc, term) tf agg, broadcast df/N/avgdl, per-query
    top-k window over matching docs only."""
    from .operators.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


@q(
    "retrieval_eval_bm25",
    _BM25_RANK_CTES
    + """,
qt AS (SELECT query_id, list(term) AS terms FROM q GROUP BY 1),
rel AS (SELECT qt.query_id, b.doc_id
        FROM qt, base b
        WHERE len(list_filter(qt.terms, x -> list_contains(b.t, x)))
              = len(qt.terms)),
nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
hits AS (SELECT r.query_id, r.rank
         FROM ranked r JOIN rel USING (query_id, doc_id)),
agg AS (SELECT query_id,
               1.0 / min(rank) AS mrr,
               sum(1.0 / log2(rank + 1)) AS dcg
        FROM hits GROUP BY 1)
SELECT n.query_id, n.n_rel,
       round(coalesce(a.mrr, 0.0), 4) AS mrr_at_10,
       round(coalesce(a.dcg, 0.0)
             / list_sum(list_transform(
                 generate_series(1, least(n.n_rel, 10)),
                 i -> 1.0 / log2(i + 1))), 4) AS ndcg_at_10
FROM nrel n LEFT JOIN agg a ON a.query_id = n.query_id
""",
)
def retrieval_eval_bm25(spark, sf_dir):
    """IR evaluation harness: MRR@10 and nDCG@10 of the BM25 ranking
    against a deterministic binary relevance set (docs containing ALL
    query terms) — the eval loop a retrieval stack ships with, fully
    in-engine.  Relevance is a 3-row broadcast probe over the token
    arrays; metrics are one join + one agg per query; the ideal DCG
    folds over sequence(1, min(R,10)) in both engines (log2 is exact
    on both).  Shares the bm25 ranking CTE literal with
    bm25_topk_docs, so the two oracles can never rank differently."""
    from .operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    ranked = bm25_topk(docs, _BM25_QUERIES, k=10)
    qt = spark.createDataFrame(
        [(qid, q.split()) for qid, q in _BM25_QUERIES],
        "query_id int, terms array<string>",
    )
    base = docs.select("doc_id", F.split("text", " ").alias("t"))
    rel = (
        base.crossJoin(F.broadcast(qt))
        # subset test as size(array_except)=0, NOT F.forall: the forall
        # condition made the corpus-side BroadcastNestedLoopJoin
        # CodegenFallback (interpreted probe stage feeding the metric
        # shuffles); array_except is codegen'd and emptiness ≡ forall
        # containment (terms come from split(), never null elements)
        .filter(F.size(F.array_except("terms", "t")) == 0)
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = ranked.join(rel, ["query_id", "doc_id"]).select("query_id", "rank")
    agg = hits.groupBy("query_id").agg(
        (F.lit(1.0) / F.min("rank")).alias("mrr"),
        F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1)).alias("dcg"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(10)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i + 1),
    )
    return (
        nrel.join(agg, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.round(F.coalesce(F.col("mrr"), F.lit(0.0)), 4).alias(
                "mrr_at_10"
            ),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 4).alias(
                "ndcg_at_10"
            ),
        )
    )


@q(
    "variant_props_histogram",
    """
SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY 1
""",
)
def variant_props_histogram(spark, sf_dir):
    """Semi-structured analytics through Spark 4's VARIANT type:
    ``parse_json`` shreds the payload once, ``variant_get`` extracts
    typed paths without a declared schema — the open-schema log
    analytics path (schema'd ``from_json`` stays the closed-schema fast
    path used by the signal views).  At 100 TB VARIANT's binary encoding
    beats re-parsing JSON text per extraction; the oracle is plain
    json_extract."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select(k.alias("__k"), "user_id")
        .filter(F.col("__k").isNotNull())
        .groupBy((F.col("__k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@q(
    "audit_sketch_error_bounds",
    """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
       true AS hll_within_5pct, true AS p50_within_1pct
FROM lineitem GROUP BY l_returnflag
""",
)
def audit_sketch_error_bounds(spark, sf_dir):
    """Driver-checked sketch-accuracy audit: per group, the HLL++
    cardinality (rsd=0.01) must land within 5% of the exact distinct
    count (a 5-sigma bound) and approx_percentile(0.5, acc=10000) within
    1% of the exact interpolated median.  The row carries the exact
    count plus the two bound booleans, so the oracle states them as
    literals — sketch drift breaks the hash instead of hiding behind a
    rows-only status.  One pass computes exact and approx side by side
    (same Expand shuffle)."""
    l = load_table(spark, sf_dir, "lineitem")
    # three aggregates, not one: mixing the DISTINCT aggregate with the
    # imperative sketch aggregates in a single groupBy forces a sort-
    # based fallback over the Expand-multiplied stream (~20s at sf0.1);
    # run each family on the unexpanded stream (<1s apiece) and join the
    # tiny 3-row frames at the end
    exact = l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    hll = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("__hll")
    )
    med = l.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("__ap50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__p50"),
    )
    g = exact.join(F.broadcast(hll), "l_returnflag").join(
        F.broadcast(med), "l_returnflag"
    )
    return g.select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("__hll") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("__ap50") - F.col("__p50")) <= 0.01 * F.col("__p50")
        ).alias("p50_within_1pct"),
    )


@q(
    "audit_heavy_hitters_complete",
    """
WITH t AS (SELECT count(*) AS tot FROM documents),
g AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
SELECT g.source, g.n, true AS found
FROM g, t WHERE g.n > 0.02 * t.tot
""",
)
def audit_heavy_hitters_complete(spark, sf_dir):
    """Driver-checked freqItems completeness audit: every TRUE heavy
    hitter (exact frequency > support) must appear in the sketch result
    — the one guarantee the frequent-items algorithm makes (false
    positives allowed, false negatives not).  Rows are the exact heavy
    hitters with their counts (oracle-computable) plus a found flag the
    oracle states as literal true; a sketch that drops a real hitter
    breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.count(F.lit(1)).alias("__tot"))
    exact = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        # fixture sources are uniform at exactly 5%, so audit at 2%
        # support — all 20 qualify and the completeness check is
        # non-vacuous at every SF
        .filter(F.col("n") > 0.02 * F.col("__tot"))
    )
    hits = (
        docs.stat.freqItems(["source"], support=0.02)
        .select(F.explode(F.col("source_freqItems")).alias("__hit"))
    )
    return exact.join(
        F.broadcast(hits), exact["source"] == hits["__hit"], "left"
    ).select(
        "source", "n", F.col("__hit").isNotNull().alias("found")
    )


@q(
    "window_frame_running",
    """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       round(avg(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
FROM orders
""",
)
def window_frame_running(spark, sf_dir):
    """Window frames: running total + 3-row moving average per customer
    (ROWS frames; deterministic order with orderkey tiebreak)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_total"),
        # 4dp: a 2-row mean of cent-valued prices lands exactly on .xx5 at 2dp
        # and the engines round opposite ways; /2 and /3 can never sit on a 4dp boundary
        F.round(F.avg("o_totalprice").over(moving), 4).alias("moving_avg3"),
    )


@q(
    "conditional_agg_events",
    """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
       round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 2) AS purchase_value
FROM events GROUP BY user_id
""",
)
def conditional_agg_events(spark, sf_dir):
    """Pivot-style conditional aggregation (count/sum FILTER) — the
    shuffle-once alternative to a wide pivot."""
    ev = load_table(spark, sf_dir, "events")
    def cnt(t):
        return F.count(F.when(F.col("event_type") == t, 1))
    return ev.groupBy("user_id").agg(
        cnt("click").alias("n_click"),
        cnt("purchase").alias("n_purchase"),
        cnt("error").alias("n_error"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                F.lit(0.0),
            ),
            2,
        ).alias("purchase_value"),
    )


@q(
    "fields_api_unwrap",
    _sig()
    + """
SELECT event_id,
       ([service_name])[1] AS name_unwrapped,
       ([container_id])[1] AS container_unwrapped
FROM signals
""",
)
def fields_api_unwrap(spark, sf_dir):
    """Quirk Q1 / P4: the ES fields API returns every field as an array of
    values; model the array shape explicitly and unwrap with the null-safe
    head (singleItem analog, lib/collectServicesFromSummaries.ts:114-119)."""
    from .operators.project import array_head

    sig = signals_view(spark, sf_dir)
    arrays = sig.select(
        F.col("`event.id`").alias("event_id"),
        F.array(F.col("`service.name`")).alias("name_arr"),
        # array(NULL) stays [NULL]; head returns NULL — same as fields-API
        # absent-field handling
        F.array(F.col("`container.id`")).alias("cont_arr"),
    )
    return arrays.select(
        "event_id",
        array_head("name_arr").alias("name_unwrapped"),
        array_head("cont_arr").alias("container_unwrapped"),
    )


@q(
    "profile_lineitem",
    """
SELECT
  count(*) AS n_rows,
  count(*) - count(l_orderkey) AS null_orderkey,
  count(DISTINCT l_orderkey) AS d_orderkey,
  count(DISTINCT l_returnflag) AS d_returnflag,
  round(min(l_extendedprice), 2) AS min_price,
  round(max(l_extendedprice), 2) AS max_price,
  round(min(l_discount), 4) AS min_disc,
  round(max(l_discount), 4) AS max_disc
FROM lineitem
""",
)
def profile_lineitem(spark, sf_dir):
    """Data-profiling pass: null counts, distinct cardinalities, ranges —
    the pre-flight check a training-data pipeline runs per ingest batch.
    One scan, one aggregate; min/max answerable from parquet footers
    (aggregate pushdown is on in session.py)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("l_orderkey")).alias("null_orderkey"),
        F.count_distinct("l_orderkey").alias("d_orderkey"),
        F.count_distinct("l_returnflag").alias("d_returnflag"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_discount"), 4).alias("max_disc"),
    )


@q(
    "heavy_hitters_sources",
    """
SELECT source AS frequent_source
FROM documents GROUP BY source
HAVING count(*) * 25 > (SELECT count(*) FROM documents)
""",
)
def heavy_hitters_sources(spark, sf_dir):
    """Heavy-hitter detection over documents.source: frequent-items
    sketch (one pass, no-false-negative guarantee above support) +
    exact verification of ONLY the sketched candidates — the same
    candidate/verify shape as the MinHash path, so the approximate
    sketch composes into an exactly-oracled answer.  At 100 TB the
    verify pass aggregates just the candidate keys (broadcast semi-join
    prunes before the shuffle), not the full key space — that is the
    point of sketching first."""
    docs = load_table(spark, sf_dir, "documents")
    hits = docs.stat.freqItems(["source"], support=0.04)
    cand = hits.select(F.explode(F.col("source_freqItems")).alias("frequent_source"))
    total = docs.agg(F.count(F.lit(1)).alias("__total"))
    return (
        docs.join(
            F.broadcast(cand), docs["source"] == cand["frequent_source"], "inner"
        )
        .groupBy("frequent_source")
        .agg(F.count(F.lit(1)).alias("__n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("__n") * 25 > F.col("__total"))
        .select("frequent_source")
    )


@q(
    "asof_enrich_clicks",
    """
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts_asof,
       p.value AS purchase_value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def asof_enrich_clicks(spark, sf_dir):
    """As-of join: every click enriched with the user's most recent prior
    purchase (operators/temporal.py — union+window composition, one
    shuffle; DuckDB's native ASOF JOIN is the oracle)."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_asof"),
        F.col("value_x").alias("purchase_value_asof"),
    )


@q(
    "asof_forward_clicks",
    """
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts_next,
       p.value AS purchase_value_next
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts >= c.ts
""",
)
def asof_forward_clicks(spark, sf_dir):
    """Forward as-of join: every click enriched with the user's NEXT
    purchase at-or-after it (direction='forward')."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_next"),
        F.col("value_x").alias("purchase_value_next"),
    )


@q(
    "asof_nearest_clicks",
    """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT c.event_id, c.user_id, c.ts, p.ts AS bts, p.value AS bval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
),
f AS (
  SELECT c.event_id, p.ts AS fts, p.value AS fval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts
)
SELECT b.event_id, b.user_id, b.ts,
       CASE WHEN bts IS NULL THEN fts
            WHEN fts IS NULL THEN bts
            WHEN epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)
              THEN bts ELSE fts END AS purchase_ts_near,
       CASE WHEN bts IS NULL THEN fval
            WHEN fts IS NULL THEN bval
            WHEN epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)
              THEN bval ELSE fval END AS purchase_value_near
FROM b JOIN f USING (event_id)
""",
)
def asof_nearest_clicks(spark, sf_dir):
    """Nearest as-of join: closest purchase either side of each click,
    equal distances preferring backward (direction='nearest')."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x",
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_near"),
        F.col("value_x").alias("purchase_value_near"),
    )


@q(
    "asof_tolerance_clicks",
    """
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN p.ts IS NOT NULL
             AND epoch_us(c.ts) - epoch_us(p.ts) <= CAST(3600 AS BIGINT) * 1000000
            THEN p.ts END AS purchase_ts_tol,
       CASE WHEN p.ts IS NOT NULL
             AND epoch_us(c.ts) - epoch_us(p.ts) <= CAST(3600 AS BIGINT) * 1000000
            THEN p.value END AS purchase_value_tol
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def asof_tolerance_clicks(spark, sf_dir):
    """Backward as-of join with a 1-hour tolerance: stale matches null
    out (tolerance_seconds=3600, pandas semantics)."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x",
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_tol"),
        F.col("value_x").alias("purchase_value_tol"),
    )


@q(
    "asof_nearest_tolerance_clicks",
    """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
b0 AS (
  SELECT c.event_id, c.user_id, c.ts, p.ts AS bts, p.value AS bval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
),
f0 AS (
  SELECT c.event_id, c.ts, p.ts AS fts, p.value AS fval
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts
),
b AS (
  SELECT event_id, user_id, ts,
         CASE WHEN bts IS NOT NULL
               AND epoch_us(ts) - epoch_us(bts) <= CAST(3600 AS BIGINT) * 1000000
              THEN bts END AS bts,
         CASE WHEN bts IS NOT NULL
               AND epoch_us(ts) - epoch_us(bts) <= CAST(3600 AS BIGINT) * 1000000
              THEN bval END AS bval
  FROM b0
),
f AS (
  SELECT event_id,
         CASE WHEN fts IS NOT NULL
               AND epoch_us(fts) - epoch_us(ts) <= CAST(3600 AS BIGINT) * 1000000
              THEN fts END AS fts,
         CASE WHEN fts IS NOT NULL
               AND epoch_us(fts) - epoch_us(ts) <= CAST(3600 AS BIGINT) * 1000000
              THEN fval END AS fval
  FROM f0
)
SELECT b.event_id, b.user_id, b.ts,
       CASE WHEN bts IS NULL THEN fts
            WHEN fts IS NULL THEN bts
            WHEN epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)
              THEN bts ELSE fts END AS purchase_ts_ntol,
       CASE WHEN bts IS NULL THEN fval
            WHEN fts IS NULL THEN bval
            WHEN epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)
              THEN bval ELSE fval END AS purchase_value_ntol
FROM b JOIN f USING (event_id)
""",
)
def asof_nearest_tolerance_clicks(spark, sf_dir):
    """Nearest as-of join WITH tolerance: the closest purchase either
    side of each click, both sides tolerance-filtered (1 h) BEFORE the
    nearest pick — the combined code path the plain nearest and
    backward-tolerance queries each leave unexercised.  The oracle
    mirrors pandas merge_asof: tolerance applied per side, then the
    CASE nearest-pick over the survivors."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", payload=["ts", "value"], suffix="_x",
        direction="nearest", tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_ntol"),
        F.col("value_x").alias("purchase_value_ntol"),
    )


@q(
    "band_join_click_purchase",
    """
SELECT c.user_id, count(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= CAST(86400 AS BIGINT) * 1000000
GROUP BY c.user_id
""",
)
def band_join_click_purchase(spark, sf_dir):
    """Band/range join: click-purchase pairs of the same user within one
    day (operators/temporal.band_join — bucketed equi-join, no per-key
    cross product; oracle is the plain inequality join)."""
    from .operators.temporal import band_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    pairs = band_join(clicks, purchases, on="user_id", band_seconds=86400)
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# LLM-pipeline extensions, round 4 continuation: repetition / substring-dup /
# per-source caps / tf-idf
# ---------------------------------------------------------------------------

@q(
    "repetition_docs",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
b AS (
  SELECT doc_id, tk, len(tk) AS n_tokens,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
              ELSE [] END AS bg
  FROM t
)
SELECT doc_id, n_tokens,
       round((n_tokens - len(list_distinct(tk))) * 1.0 / n_tokens, 4) AS dup_token_frac,
       round(list_max(list_transform(list_distinct(tk),
                                     u -> len(list_filter(tk, x -> x = u))))
             * 1.0 / n_tokens, 4) AS top_token_frac,
       CASE WHEN len(bg) > 0
            THEN round((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 4)
       END AS dup_bigram_frac
FROM b
""",
)
def repetition_docs(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-token fraction,
    modal-token dominance, duplicate-bigram fraction.  Map-only."""
    from .operators.text import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


@q(
    "dup_ngram_spans_docs",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
base AS (SELECT doc_id, greatest(len(tk) - 4, 0) AS n_grams FROM t),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - 3),
                               i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS gram
  FROM t WHERE len(tk) >= 5
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
dc AS (SELECT doc_id, count(*) AS n_dup_grams FROM g JOIN dup USING (gram) GROUP BY doc_id)
SELECT b.doc_id, b.n_grams,
       coalesce(dc.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN b.n_grams > 0
            THEN round(coalesce(dc.n_dup_grams, 0) * 1.0 / b.n_grams, 4)
       END AS dup_gram_frac
FROM base b LEFT JOIN dc USING (doc_id)
""",
)
def dup_ngram_spans_docs(spark, sf_dir):
    """Cross-document duplicated 5-gram spans (exact-substring dedup
    signal, Lee et al. 2022) — per-doc duplicated-position fraction."""
    from .operators.neardup import duplicate_ngram_spans

    return duplicate_ngram_spans(load_table(spark, sf_dir, "documents"), n=5)


@q(
    "source_cap_docs",
    """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 8), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
""",
)
def source_cap_docs(spark, sf_dir):
    """Per-source deterministic cap (<=10 docs per source by md5-hash
    order) — the per-domain cap of a web-corpus mixing stage."""
    from .operators.sampling import cap_per_key

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_key(docs, "source", 10).select("doc_id", "source")


@q(
    "tfidf_docs",
    """
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t IN ('spark', 'join', 'window')
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS ndocs_term FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf,
       round(tf.tf * ln(n.n_docs * 1.0 / dfreq.ndocs_term), 4) AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
""",
)
def tfidf_docs(spark, sf_dir):
    """TF-IDF scores for a fixed term list (ES/BM25-family relevance
    primitive): explode matching tokens only, two hash-aggs, broadcast
    df + corpus-count joins."""
    from .operators.text import tfidf_score

    return tfidf_score(
        load_table(spark, sf_dir, "documents"), terms=("spark", "join", "window")
    )


#: sparse-form feature-hash embedding CTEs shared by the two hash-embed
#: oracles — token hash ascii·131+len (doc_fingerprint family), dim 64,
#: sign by quotient parity, L2 norm over the nonzero entries
_HASH_EMBED_CTE = """
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (
  SELECT doc_id, CAST(ascii(tok) AS BIGINT) * 131 + length(tok) AS hv FROM t
),
sp AS (
  SELECT doc_id, CAST(hv % 64 AS INT) AS dim_idx,
         sum(CASE WHEN (hv - hv % 64) % 128 = 0 THEN 1.0 ELSE -1.0 END) AS w
  FROM h GROUP BY 1, 2
),
n AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM sp GROUP BY 1)
"""


@q(
    "hash_embed_docs",
    f"""
WITH {_HASH_EMBED_CTE}
SELECT sp.doc_id, sp.dim_idx, round(sp.w / n.nrm, 4) AS weight
FROM sp JOIN n USING (doc_id)
WHERE sp.w <> 0
""",
)
def hash_embed_docs(spark, sf_dir):
    """Feature-hashing text embeddings (hashing trick), checked in long
    form: the dense L2-normalized vector posexplodes to (doc_id,
    dim_idx, weight) nonzero entries — the oracle rebuilds the same
    sparse map in SQL."""
    from .operators.text import hash_embed

    emb = hash_embed(load_table(spark, sf_dir, "documents"), dim=64)
    ex = emb.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "weight")
    )
    return ex.filter(F.col("weight") != 0).select(
        "doc_id", "dim_idx", F.round("weight", 4).alias("weight")
    )


@q(
    "text_knn_hash_embed",
    f"""
WITH {_HASH_EMBED_CTE},
qv AS (SELECT doc_id, dim_idx, w FROM sp WHERE doc_id < 5),
dots AS (
  SELECT qv.doc_id AS query_id, e.doc_id AS neighbor_id, sum(e.w * qv.w) AS dot
  FROM sp e JOIN qv ON e.dim_idx = qv.dim_idx AND e.doc_id <> qv.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, dots.dot / (ne.nrm * nq.nrm) AS cos
  FROM dots
  JOIN n ne ON ne.doc_id = dots.neighbor_id
  JOIN n nq ON nq.doc_id = dots.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def text_knn_hash_embed(spark, sf_dir):
    """Similarity search over RAW TEXT with no model inference:
    hash_embed bridges documents into the embedding operators, then
    exact cosine top-10 per query doc.  The oracle computes the same
    cosine from the sparse form (dot over shared dims / norms)."""
    from .operators.similarity import cosine_topk
    from .operators.text import hash_embed

    emb = hash_embed(load_table(spark, sf_dir, "documents"), dim=64)
    queries = emb.filter(F.col("doc_id") < 5)
    return cosine_topk(emb, queries, k=10, id_col="doc_id")


@q(
    "skew_report_events",
    """
WITH c AS (SELECT user_id AS key, count(*) AS n_rows FROM events GROUP BY 1),
t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c),
top AS (
  SELECT key, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, key) AS rank
  FROM c
)
SELECT top.key, top.n_rows,
       round(top.n_rows * 100.0 / t.total, 4) AS pct_of_total,
       round(top.n_rows * t.n_keys * 1.0 / t.total, 4) AS hot_ratio,
       top.rank
FROM top CROSS JOIN t
WHERE top.rank <= 10
""",
)
def skew_report_events(spark, sf_dir):
    """Hot-key diagnostics on events.user_id: top-10 heaviest keys with
    corpus share and hot-ratio (n_rows over mean rows/key) — the
    planning input for salted_agg/salted_join/cap_per_key decisions."""
    from .operators.skew import skew_report

    return skew_report(load_table(spark, sf_dir, "events"), "user_id", top_n=10)


@q(
    "unigram_logprob_docs",
    """
WITH e AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
f AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
t AS (SELECT count(*) AS total FROM e)
SELECT e.doc_id, count(*) AS n_tokens,
       round(avg(ln(f.cnt * 1.0 / t.total)), 4) AS avg_logprob
FROM e JOIN f USING (tok) CROSS JOIN t
GROUP BY e.doc_id
""",
)
def unigram_logprob_docs(spark, sf_dir):
    """CCNet-style LM quality score: mean ln p(token) under the corpus
    unigram distribution (broadcast vocab join, no Python)."""
    from .operators.text import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


@q(
    "bigram_logprob_docs",
    """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (SELECT doc_id, t[i] AS prev, t[i+1] AS cur
       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base)),
uni AS (SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(t) AS tok FROM base) GROUP BY 1),
tot AS (SELECT count(*) AS total FROM (SELECT unnest(t) FROM base)),
big AS (SELECT prev, cur, count(*) AS cnt FROM bg GROUP BY 1, 2)
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(avg(ln(0.7 * big.cnt * 1.0 / up.cnt
                    + 0.3 * uc.cnt * 1.0 / tt.total)), 4) AS avg_logprob
FROM bg
JOIN big USING (prev, cur)
JOIN uni up ON up.tok = bg.prev
JOIN uni uc ON uc.tok = bg.cur
CROSS JOIN tot tt
GROUP BY bg.doc_id
""",
)
def bigram_logprob_docs(spark, sf_dir):
    """Interpolated-bigram LM quality score (operators/text.py:
    bigram_logprob) — the KenLM-direction upgrade of the unigram score:
    mean ln(0.7·p(w|prev) + 0.3·p(w)) per doc.  Unigram tables
    broadcast; the vocab²-bounded bigram table joins as a plain shuffle
    join AQE sizes at runtime."""
    from .operators.text import bigram_logprob

    return bigram_logprob(load_table(spark, sf_dir, "documents"))


@q(
    "cluster_docs_embeddings",
    """
SELECT CAST(8 AS BIGINT) AS n_clusters, count(*) AS n_assigned,
       CAST(1 AS BOOLEAN) AS sizes_conserved
FROM embeddings
""",
)
def cluster_docs_embeddings(spark, sf_dir):
    """Corpus topic clustering: seeded spherical k-means (ivf_train, 8
    centroids) + map-side cluster_assign.

    Driver-checked as a conservation audit: the full mixture summary is
    not SQL-recomputable (k-means), and the fixtures' labels are
    unclustered (measured majority-label purity 0.13-0.17 ≈ the 0.125
    random baseline, so a purity bound would be vacuous).  What IS
    checkable exactly: 8 non-empty clusters (seeded trainer, stable at
    every sf), every embedding assigned to EXACTLY one cluster
    (n_assigned equals the DuckDB corpus count — catches dropped or
    double-assigned vectors), and per-cluster sizes summing to the
    total.  Assignment optimality is pinned separately by
    recall_ivf_full_probe_vs_exact through the same train/assign path."""
    from .operators.similarity import cluster_assign, ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_train(emb, n_centroids=8)
    assigned = cluster_assign(emb, centroids)
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        sizes.agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.sum("n_vecs").alias("n_assigned"),
        )
        .crossJoin(
            F.broadcast(assigned.agg(F.count(F.lit(1)).alias("__n_rows")))
        )
        .select(
            "n_clusters",
            "n_assigned",
            (F.col("n_assigned") == F.col("__n_rows")).alias("sizes_conserved"),
        )
    )


@q(
    "dedup_incremental_docs",
    """
WITH newb AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
batch AS (
  SELECT md5(text) AS __digest, min(doc_id) AS doc_id
  FROM newb GROUP BY 1
),
seen AS (SELECT DISTINCT md5(text) AS __digest FROM corpus)
SELECT b.doc_id, b.__digest, d.text
FROM batch b
LEFT JOIN seen s USING (__digest)
JOIN newb d ON d.doc_id = b.doc_id
WHERE s.__digest IS NULL
""",
)
def dedup_incremental_docs(spark, sf_dir):
    """Ingest-time incremental dedup: docs with doc_id%5=0 arrive as the
    new batch, the rest are the accepted corpus; survivors are batch
    docs novel against both the corpus digests and earlier batch rows."""
    from .operators.neardup import dedup_incremental

    docs = load_table(spark, sf_dir, "documents")
    newb = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup_incremental(newb, corpus)


@q(
    "fk_integrity_audit",
    """
SELECT 'orders->customer' AS relation, count(*) AS n_rows,
       count(*) FILTER (WHERE o_custkey IS NULL) AS n_null_fk,
       count(*) FILTER (WHERE o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphans
FROM orders
UNION ALL
SELECT 'lineitem->orders', count(*),
       count(*) FILTER (WHERE l_orderkey IS NULL),
       count(*) FILTER (WHERE l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
FROM lineitem
UNION ALL
SELECT 'lineitem->part', count(*),
       count(*) FILTER (WHERE l_partkey IS NULL),
       count(*) FILTER (WHERE l_partkey IS NOT NULL
           AND l_partkey NOT IN (SELECT p_partkey FROM part))
FROM lineitem
UNION ALL
SELECT 'nation->region', count(*),
       count(*) FILTER (WHERE n_regionkey IS NULL),
       count(*) FILTER (WHERE n_regionkey IS NOT NULL
           AND n_regionkey NOT IN (SELECT r_regionkey FROM region))
FROM nation
""",
)
def fk_integrity_audit(spark, sf_dir):
    """Post-ingest referential-integrity gate over the star schema's
    four FK edges: row counts, NULL FKs, and orphans per edge."""
    from functools import reduce

    from .operators.joins import fk_orphan_audit

    edges = [
        ("orders", "o_custkey", "customer", "c_custkey", "orders->customer"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders"),
        ("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
        ("nation", "n_regionkey", "region", "r_regionkey", "nation->region"),
    ]
    audits = [
        fk_orphan_audit(
            load_table(spark, sf_dir, c), fk, load_table(spark, sf_dir, p), pk, rel
        )
        for c, fk, p, pk, rel in edges
    ]
    return reduce(lambda a, b: a.unionByName(b), audits)


@q(
    "chunk_docs",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
s AS (
  SELECT doc_id, tk,
         unnest(range(1, greatest(len(tk) - 8, 1) + 1, 24)) AS start
  FROM t WHERE len(tk) >= 1
)
SELECT doc_id,
       CAST(floor((start - 1) / 24) AS INT) AS chunk_id,
       len(list_slice(tk, start, start + 31)) AS n_chunk_tokens,
       array_to_string(list_slice(tk, start, start + 31), ' ') AS chunk_text
FROM s
""",
)
def chunk_docs(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, 8 overlap) —
    the pre-embedding/RAG document splitter."""
    from .operators.text import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"))


@q(
    "dedup_survivors_semantic",
    """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM cp
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM cp
),
cc(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.src, c.label FROM edges e JOIN cc c ON c.node = e.dst
)
SELECT node AS vec_id, min(label) AS cluster,
       min(label) = node AS is_survivor
FROM cc GROUP BY node
""",
)
def dedup_survivors_semantic(spark, sf_dir):
    """SEMANTIC dedup end-to-end: exact embedding-cosine pairs (>= 0.45)
    -> connected components -> keep-min-id survivor per cluster.  The
    embedding-side twin of dedup_survivors_docs; same recursive-CTE
    oracle, so semantic cluster ids and survivor flags are hash-checked."""
    from .operators.neardup import dedup_survivors
    from .operators.similarity import cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, threshold=0.45).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dedup_survivors(emb, pairs, id_col="vec_id")


@q(
    "temperature_mix_docs",
    """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
f AS (SELECT lang, power(n, 1.0 / 2.0 - 1.0) AS raw FROM c WHERE n > 0),
p AS (SELECT max(raw) AS peak FROM f),
thr AS (SELECT lang, least(1.0, 1.0 * raw / peak) AS frac FROM f CROSS JOIN p)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr USING (lang)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8)
      < CASE WHEN thr.frac >= 1.0 THEN 'g'
             ELSE printf('%08x', CAST(least(floor(thr.frac * 4294967296.0),
                                            4294967295.0) AS BIGINT)) END
""",
)
def temperature_mix_docs(spark, sf_dir):
    """XLM-style temperature mixture (T=2) over the language strata:
    rare languages keep everything, dominant ones downsample to
    n^(1/T-1)/peak — the multilingual rebalancing step of a pretraining
    mix.  Per-language counts collect to the driver (|langs| rows — the
    bounded-collect discipline), fractions come from
    temperature_fractions, membership from the md5 stratified sampler;
    the oracle recomputes the identical float pipeline in SQL (same
    pow/divide/floor order, so thresholds match bit-exactly)."""
    from .operators.sampling import stratified_hash_sample, temperature_fractions

    docs = load_table(spark, sf_dir, "documents")
    counts = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    fractions = temperature_fractions(counts, temperature=2.0)
    return stratified_hash_sample(docs, "lang", fractions, salt="mix").select(
        "doc_id", "lang"
    )


def _zorder_sql_terms(exprs: list[str], bits: int) -> str:
    """DuckDB twin of functions.scalar.zorder_key — same interleave order."""
    terms = []
    for b in range(bits):
        for i, e in enumerate(exprs):
            terms.append(f"(((({e}) >> {b}) & 1) << {b * len(exprs) + i})")
    return " | ".join(terms)


@q(
    "zorder_key_events",
    f"""
SELECT event_id,
       {_zorder_sql_terms(['(user_id & 65535)',
                           '(CAST(floor(value) AS BIGINT) & 65535)'], 16)} AS zkey
FROM events
""",
)
def zorder_key_events(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, value-bucket):
    the key write_range_sorted sorts on to get multi-dimensional
    footer-level scan pruning.  Exact integer bit arithmetic — the
    oracle interleaves with the identical shift/and/or expression."""
    from .functions.scalar import zorder_key

    ev = load_table(spark, sf_dir, "events")
    dims = [
        F.col("user_id").bitwiseAND(F.lit(65535)),
        F.floor(F.col("value")).cast("long").bitwiseAND(F.lit(65535)),
    ]
    return ev.select("event_id", zorder_key(dims, bits=16).alias("zkey"))


from contextlib import contextmanager


@contextmanager
def _stream_shuffle(spark, n: str = "8"):
    """Scoped shuffle-partition override for the availableNow drains.

    Stateful streaming instantiates one state store PER shuffle
    partition per stateful operator per micro-batch; at suite scale
    (one file, one batch) 32 partitions mean the store setup/commit
    overhead dominates the join itself (measured 6.2s → 2.4s on the
    band join at sf0.1).  This is a throughput knob, not semantics —
    results are partitioning-invariant, and a real deployment sizes it
    to sustained input rate instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _staged_table(spark, sf_dir: str, table: str) -> str:
    """Per-session staged copy of one fixture table, shared by ALL
    streaming suite queries so the copy (harness cost) is not timed as
    streaming cost.  The staged dir is read-only to the file-stream
    source (each run gets a fresh memory sink + checkpoint), so sharing
    is safe."""

    def build():
        import os
        import shutil

        staged = scratch_dir(spark, "suite_stream_")
        src = f"{sf_dir}/{table}.parquet"
        if os.path.isdir(src):  # Spark-written table: stage its data files
            for i, f in enumerate(sorted(os.listdir(src))):
                if f.endswith(".parquet"):
                    shutil.copy(f"{src}/{f}", f"{staged}/part-{i:03d}.parquet")
        else:  # single-file fixture
            shutil.copy(src, f"{staged}/part-000.parquet")
        return staged

    return artifact(spark, "staged_table", (sf_dir, table), build)


def _staged_events(spark, sf_dir: str) -> str:
    return _staged_table(spark, sf_dir, "events")


def _staged_docs(spark, sf_dir: str) -> str:
    return _staged_table(spark, sf_dir, "documents")


@q(
    "svc_phase1_streaming",
    _sig()
    + """
SELECT service_name AS name, service_environment AS environment,
       max(ts) AS last_seen
FROM signals
WHERE metricset_name = 'purchase'
GROUP BY 1, 2
""",
)
def svc_phase1_streaming(spark, sf_dir):
    """§2.9 driver-visible STREAMING query: the continuous phase-1
    service-discovery pipeline (stateful last-wins dedup + watermark)
    driven to completion with an availableNow trigger over the staged
    events fixture, collected from the memory sink.  The oracle is the
    equivalent batch SQL — streaming and batch semantics are
    hash-checked equal, not just pytest-asserted."""
    import uuid

    from .streaming import run_to_memory, stream_services_phase1

    name = f"svc_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_services_phase1(spark, _staged_events(spark, sf_dir)), name, "complete"
        )
        q.stop()
    return spark.table(name)


@q(
    "stream_dedup_events",
    """
SELECT DISTINCT user_id, event_type FROM events
""",
)
def stream_dedup_events(spark, sf_dir):
    """§2.9 streaming ingest-time dedup: dropDuplicatesWithinWatermark
    over (user_id, event_type) drained availableNow (streaming/
    services_stream.py: stream_dedup_keys).  The watermark outspans the
    fixture's 30-day range, so bounded-state streaming dedup must equal
    batch DISTINCT — hash-checked, same pattern as the other streaming
    twins."""
    import uuid

    from .streaming.services_stream import run_to_memory, stream_dedup_keys

    name = f"sd_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_dedup_keys(spark, _staged_events(spark, sf_dir)), name, "append"
        )
        q.stop()
    return spark.table(name)


@q(
    "stream_windowed_counts_daily",
    _sig()
    + """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       metricset_name,
       count(*) AS n
FROM signals
GROUP BY 1, 2
""",
)
def stream_windowed_counts_daily(spark, sf_dir):
    """§2.9 driver-visible STREAMING query #2: tumbling 1-day windowed
    counts per metricset (watermark + window aggregation) drained with an
    availableNow trigger into the memory sink.  Spark's epoch-aligned
    tumbling '1 day' windows coincide with date_trunc('day') in UTC, so
    the batch SQL is an exact oracle — the streaming window operator is
    hash-checked, not just pytest-asserted."""
    import uuid

    from .streaming import run_to_memory, stream_windowed_counts

    name = f"win_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_windowed_counts(spark, _staged_events(spark, sf_dir)), name, "complete"
        )
        q.stop()
    return spark.table(name)


@q(
    "recall_dhash_incremental_vs_full",
    """
SELECT CAST(1 AS BOOLEAN) AS sets_equal
""",
)
def recall_dhash_incremental_vs_full(spark, sf_dir):
    """Hash-checked equivalence audit for MULTIMODAL incremental
    near-dup (neardup.fingerprint_neardup_incremental — the
    modality-agnostic 8-bytes-per-item store): image dHashes of the
    batch probe a store of corpus dHashes, and the result must equal
    the full banded self-join restricted to batch-involving images.
    One store/banded core now serves text SimHash AND image dHash
    incrementally; drift in either layout breaks this literal row."""
    from .operators.multimodal import dhash_images, synthetic_images
    from .operators.neardup import (
        banded_hamming_pairs,
        fingerprint_neardup_incremental,
        fingerprint_store_init,
    )

    imgs = synthetic_images(spark, n=128)
    fps = dhash_images(imgs).select(
        F.col("media_id").alias("doc_id"), F.col("dhash").alias("simhash")
    ).filter(F.col("simhash").isNotNull())
    batch = fps.filter(F.col("doc_id") % 5 == 0)
    corpus = fps.filter(F.col("doc_id") % 5 != 0)

    def build():
        path = scratch_dir(spark, "suite_dhstore_")
        fingerprint_store_init(corpus, path)
        return path

    inc = fingerprint_neardup_incremental(
        batch, artifact(spark, "dhash_store", sf_dir, build), max_hamming=6
    ).select("doc_a", "doc_b", "hamming")
    full = banded_hamming_pairs(fps, max_hamming=6)
    bids = batch.select(F.col("doc_id").alias("__bid"))
    full_b = (
        full.join(bids, full["doc_a"] == bids["__bid"], "left_semi")
        .unionByName(
            full.join(bids, full["doc_b"] == bids["__bid"], "left_semi")
        )
        .distinct()
        .select("doc_a", "doc_b", "hamming")
    )
    both = inc.exceptAll(full_b).unionByName(full_b.exceptAll(inc))
    return both.agg(
        (F.count(F.lit(1)) == 0).alias("sets_equal")
    )


@q(
    "stream_ewma_events",
    """
WITH b AS (
  SELECT user_id, event_id, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       round((0.5 * value
              + CASE WHEN l1 IS NULL THEN 0 ELSE 0.25 * l1 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 0.125 * l2 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 0.0625 * l3 END)
             / (0.5
              + CASE WHEN l1 IS NULL THEN 0 ELSE 0.25 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 0.125 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 0.0625 END), 4) AS ewma
FROM b
""",
)
def stream_ewma_events(spark, sf_dir):
    """§2.9 continuous EWMA enrichment (streaming/stateful.py
    stream_ewma_enrich): every event emits its per-user smoothed value
    immediately; state is k−1 doubles per key — O(keys), never
    O(history).  Truncated-renormalized semantics match
    operators/temporal.py rolling_ewma row for row, so the drained
    stream hash-checks against the SAME batch lag-chain oracle as
    ewma_events."""
    import uuid

    from .streaming import run_to_memory, stream_events_typed
    from .streaming.stateful import stream_ewma_enrich

    name = f"ewma_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark, "16"):
        qy = run_to_memory(
            stream_ewma_enrich(stream_events_typed(spark, _staged_events(spark, sf_dir))),
            name,
            "update",
        )
        qy.stop()
    t = spark.table(name)
    return t.select(
        "event_id", "user_id", F.round(F.col("ewma"), 4).alias("ewma")
    )


@q(
    "stream_sliding_counts_2d",
    _sig()
    + """
SELECT CAST(ws AS TIMESTAMP) AS window_start, metricset_name,
       count(*) AS n
FROM (SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                     date_trunc('day', ts)]) AS ws,
             metricset_name
      FROM signals)
GROUP BY 1, 2
""",
)
def stream_sliding_counts_2d(spark, sf_dir):
    """§2.9 HOPPING-window streaming counts: 2-day windows sliding
    1 day — each event maintains two overlapping windows (trend
    smoothing without a batch re-agg).  Epoch-aligned window starts are
    exactly {day(ts)−1d, day(ts)}, which is how the batch oracle
    replays the assignment; state scales by window/slide, bounded and
    priced in.  Drained availableNow, hash-checked like the tumbling
    twin."""
    import uuid

    from .streaming import run_to_memory, stream_windowed_counts

    name = f"slide_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        qy = run_to_memory(
            stream_windowed_counts(
                spark, _staged_events(spark, sf_dir), window="2 days", slide="1 day"
            ),
            name,
            "complete",
        )
        qy.stop()
    return spark.table(name)


@q(
    "stream_topk_types_daily",
    _sig()
    + """
, c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         metricset_name, count(*) AS n
  FROM signals GROUP BY 1, 2)
SELECT window_start, metricset_name, n, rnk FROM (
  SELECT c.*, CAST(row_number() OVER (
           PARTITION BY window_start
           ORDER BY n DESC, metricset_name) AS INTEGER) AS rnk
  FROM c)
WHERE rnk <= 3
""",
)
def stream_topk_types_daily(spark, sf_dir):
    """§2.9 streaming rollup + serving-side top-k: the tumbling 1-day
    windowed counts maintain incrementally in the stream (watermarked
    agg, availableNow drain — same operator as
    stream_windowed_counts_daily); the top-3-per-window rank runs as a
    BATCH query over the drained state, the dashboard-serving shape
    (streams cannot chain a rank after a windowed agg, and shouldn't:
    rank-at-read costs one window over the tiny rollup).  Hash-checked
    against the batch twin end to end."""
    import uuid

    from .streaming import run_to_memory, stream_windowed_counts

    name = f"topk_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        qy = run_to_memory(
            stream_windowed_counts(spark, _staged_events(spark, sf_dir)), name, "complete"
        )
        qy.stop()
    t = spark.table(name)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "metricset_name"
    )
    return t.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    )


@q(
    "asof_salted_clicks",
    """
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts_asof,
       p.value AS purchase_value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def asof_salted_clicks(spark, sf_dir):
    """Time-bucket-salted backward as-of (operators/temporal.py:
    asof_join_salted): the skew configuration — per-partition work is
    bounded by bucket width instead of key history, so one hot key can
    no longer pin a single sort task.  Same DuckDB ASOF oracle as the
    plain operator: the salting is hash-proven semantics-preserving."""
    from .operators.temporal import asof_join_salted

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join_salted(
        clicks, purchases, on="user_id", bucket_seconds=7 * 86400,
        payload=["ts", "value"], suffix="_x",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_x").alias("purchase_ts_asof"),
        F.col("value_x").alias("purchase_value_asof"),
    )


@q(
    "stream_band_join_attrib",
    """
SELECT c.user_id, count(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= CAST(86400 AS BIGINT) * 1000000
GROUP BY c.user_id
""",
)
def stream_band_join_attrib(spark, sf_dir):
    """§2.9 driver-visible STREAMING query #4: stream-stream interval
    (band) join — click↔purchase pairs within one day per user over two
    watermarked file streams, drained availableNow and aggregated.  The
    oracle is the plain batch inequality-join SQL (same as
    ``band_join_click_purchase``): streaming symmetric-hash-join
    semantics hash-check equal to the batch band join."""
    import uuid

    from .streaming import run_to_memory, stream_band_join

    name = f"band_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_band_join(spark, _staged_events(spark, sf_dir), band_seconds=86400),
            name,
            "append",
        )
        q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@q(
    "stream_asof_enrich_clicks",
    """
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts_asof,
       p.value AS purchase_value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def stream_asof_enrich_clicks(spark, sf_dir):
    """§2.9 driver-visible STREAMING query #5: continuous backward as-of
    enrichment (applyInPandasWithState, O(keys) carried-packet state)
    drained availableNow over the staged fixture.  A single-run replay
    sees every right at-or-before its lefts, so the stream equals the
    batch as-of exactly and DuckDB's native ASOF JOIN (the same oracle
    as ``asof_enrich_clicks``) hash-checks it."""
    import uuid

    from .streaming import run_to_memory, stream_events_typed
    from .streaming.stateful import stream_asof_enrich

    name = f"asof_stream_{uuid.uuid4().hex[:8]}"
    # 16, not 8: the per-key Arrow stage wants python-worker parallelism
    # more than it fears state-store count (measured 1.9s vs 2.8s)
    with _stream_shuffle(spark, "16"):
        q = run_to_memory(
            stream_asof_enrich(stream_events_typed(spark, _staged_events(spark, sf_dir))),
            name,
            "update",
        )
        q.stop()
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("right_ts_asof").cast("timestamp_ntz").alias("purchase_ts_asof"),
        F.col("right_value_asof").alias("purchase_value_asof"),
    )


@q(
    "svc_phase2_streaming",
    _sig(
        f""",
phase1 AS (
  SELECT DISTINCT service_name FROM signals
  WHERE metricset_name = 'purchase' AND {_win(15)}
)
"""
    )
    + """
SELECT event_id, ts, service_name AS name,
       CASE WHEN container_id IS NOT NULL THEN 'container'
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod'
            WHEN host_name    IS NOT NULL THEN 'host'
            WHEN host_hostname IS NOT NULL THEN 'host'
            ELSE 'unknown' END AS parent_type,
       CASE WHEN container_id IS NOT NULL THEN 'container:' || container_id
            WHEN pod_uid      IS NOT NULL THEN 'k8s.pod:' || pod_uid
            WHEN host_name    IS NOT NULL THEN 'host:' || host_name
            WHEN host_hostname IS NOT NULL THEN 'host:' || host_hostname
            ELSE 'unknown:' END AS parent_ean
FROM signals
WHERE service_name IN (SELECT service_name FROM phase1)
  AND (container_id IS NOT NULL OR pod_uid IS NOT NULL
       OR host_name IS NOT NULL OR host_hostname IS NOT NULL)
""",
)
def svc_phase2_streaming(spark, sf_dir):
    """§2.9 driver-visible STREAMING query #3: phase-2 parent enrichment
    as a stream-static join — the live signal stream semi-joins the
    batch phase-1 service list (broadcast into every micro-batch, J1
    pattern) and applies the X2 parent cascade, drained with an
    availableNow trigger.  The oracle is the batch phase-2 SQL over the
    FULL history (the stream replays everything; phase-1's window still
    applies to the static service list), so stream and batch phase-2
    semantics are hash-checked equal, same pattern as phase-1."""
    import uuid

    from .plans.services import batch_search_for_services
    from .streaming import run_to_memory, stream_service_parents

    services = batch_search_for_services(spark, sf_dir)
    name = f"p2_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_service_parents(spark, _staged_events(spark, sf_dir), services),
            name,
            "append",
        )
        q.stop()
    return spark.table(name)


@q(
    "cohort_retention_events",
    """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
)
SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(floor(date_diff('day', c.cohort_week, a.act_week) / 7) AS BIGINT)
         AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c USING (user_id)
WHERE a.act_week >= c.cohort_week
GROUP BY 1, 2
""",
)
def cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-signup week,
    counted per week offset of any later activity — the engagement
    matrix behind every retention curve.  Shape: two key-partitioned
    aggregates (cohort anchor, distinct user-week activity) joined on
    user_id, then one (cohort, offset) count-distinct; no window over
    raw events.  Both engines truncate weeks to ISO Monday."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("act_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@q(
    "hopping_window_counts",
    """
WITH h AS (
  SELECT event_type, epoch_us(ts) AS us FROM events
),
w AS (
  SELECT event_type,
         (us // (CAST(12 AS BIGINT) * 3600 * 1000000))
           * (CAST(12 AS BIGINT) * 3600 * 1000000)
           - k.k * CAST(12 AS BIGINT) * 3600 * 1000000 AS ws
  FROM h CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT make_timestamp(ws) AS window_start, event_type, count(*) AS n
FROM w GROUP BY 1, 2
""",
)
def hopping_window_counts(spark, sf_dir):
    """Hopping (sliding) window aggregation in batch: 1-day windows
    every 12 hours — each event lands in size/hop = 2 windows.  Spark's
    ``F.window(ts, '1 day', '12 hours')`` explodes the window set
    map-side then hash-aggregates (one shuffle); the oracle reproduces
    the epoch-aligned window-start arithmetic with integer µs division."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 day", "12 hours")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n"
        )
    )


@q(
    "rolling_zscore_events",
    """
WITH c AS (
  SELECT event_id, event_type, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
z AS (
  SELECT event_id, event_type, cents,
         sum(cents) OVER w AS s1,
         sum(cents * cents) OVER w AS s2,
         count(*) OVER w AS n_frame
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, n_frame,
       s1 / n_frame / 100 AS roll_avg,
       CASE WHEN n_frame > 1
            THEN sqrt(greatest((s2 - s1 * s1 * 1.0 / n_frame)
                               / (n_frame - 1), 0)) / 100
       END AS roll_std,
       CASE WHEN n_frame > 1
            THEN abs(cents - s1 * 1.0 / n_frame)
                 > 3 * sqrt(greatest((s2 - s1 * s1 * 1.0 / n_frame)
                                     / (n_frame - 1), 0))
       END AS is_outlier
FROM z
""",
)
def rolling_zscore_events(spark, sf_dir):
    """Rolling-window anomaly detection: per-type 20-row trailing mean /
    sample stddev, flagging values beyond 3σ — the sensor-QC pass, as
    one partitioned window (single shuffle, no self-join).

    Parity strategy: naive ``avg(value) OVER w`` is irreparably
    boundary-unstable here — two-decimal inputs make every 20-row mean
    land exactly on .xxx5, where Spark's sequential frame sum and
    DuckDB's segment-tree sum differ by 1 ulp and ANY rounding flips.
    Instead both engines sum EXACT integer cents (and squared cents —
    ≤2^46, exact in int64/double), then derive mean and stddev with the
    identical float expression: bit-identical doubles out, no rounding
    needed, and the 3σ flag is deterministic too."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    c = ev.withColumn("cents", cents)
    s1 = F.sum("cents").over(w)
    s2 = F.sum(F.col("cents") * F.col("cents")).over(w)
    n = F.count(F.lit(1)).over(w)
    var_c = (s2 - s1 * s1 * F.lit(1.0) / n) / (n - 1)
    std_c = F.sqrt(F.greatest(var_c, F.lit(0.0)))
    return c.select(
        "event_id",
        "event_type",
        n.alias("n_frame"),
        (s1 / n / 100).alias("roll_avg"),
        F.when(n > 1, std_c / 100).alias("roll_std"),
        F.when(
            n > 1, F.abs(F.col("cents") - s1 * F.lit(1.0) / n) > 3 * std_c
        ).alias("is_outlier"),
    )


@q(
    "rfm_segments_events",
    f"""
WITH u AS (
  SELECT user_id,
         date_diff('day', max(ts), {NOW_SQL}) AS recency_days,
         count(*) AS frequency,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS m_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
s AS (
  SELECT ntile(4) OVER (ORDER BY recency_days, user_id) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f,
         ntile(4) OVER (ORDER BY m_cents DESC, user_id) AS m,
         m_cents
  FROM u
)
SELECT r, f, m, count(*) AS n_users,
       sum(m_cents) / 100.0 AS monetary_sum
FROM s GROUP BY 1, 2, 3
""",
)
def rfm_segments_events(spark, sf_dir):
    """RFM segmentation: per-user recency/frequency/monetary quartiles
    (NTILE over deterministic orderings, user_id tiebreak), counted per
    (r,f,m) cell.  Monetary sums run on exact integer cents so both
    engines derive bit-identical doubles (see rolling_zscore_events).

    Scale note: the quartile windows order the per-USER frame (already
    collapsed by the first aggregate) — at billions of users the global
    NTILE sort would become the bottleneck; rfm_segments_approx is the
    certified production twin that cuts on broadcast quantile EDGES
    with map-side CASE binning (no global sort anywhere).  This exact
    form stays as the oracle-checkable definitional baseline."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("cents", cents)
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-01-31").cast("date"), F.max("ts")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("m_cents"),
        )
    )
    s = u.select(
        F.ntile(4)
        .over(Window.orderBy("recency_days", "user_id"))
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("user_id")))
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.col("m_cents").desc(), F.col("user_id")))
        .alias("m"),
        "m_cents",
    )
    return s.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("m_cents") / 100.0).alias("monetary_sum"),
    )


@q(
    "rfm_segments_approx",
    f"""
WITH u AS (
  SELECT user_id,
         date_diff('day', max(ts), {NOW_SQL}) AS recency_days,
         count(*) AS frequency,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS m_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
e AS (
  SELECT quantile_cont(recency_days, 0.25) AS r1,
         quantile_cont(recency_days, 0.50) AS r2,
         quantile_cont(recency_days, 0.75) AS r3,
         quantile_cont(frequency, 0.25) AS f1,
         quantile_cont(frequency, 0.50) AS f2,
         quantile_cont(frequency, 0.75) AS f3,
         quantile_cont(m_cents, 0.25) AS m1,
         quantile_cont(m_cents, 0.50) AS m2,
         quantile_cont(m_cents, 0.75) AS m3
  FROM u
),
b AS (
  SELECT CASE WHEN recency_days <= e.r1 THEN 1
              WHEN recency_days <= e.r2 THEN 2
              WHEN recency_days <= e.r3 THEN 3 ELSE 4 END AS r,
         CASE WHEN frequency >= e.f3 THEN 1
              WHEN frequency >= e.f2 THEN 2
              WHEN frequency >= e.f1 THEN 3 ELSE 4 END AS f,
         CASE WHEN m_cents >= e.m3 THEN 1
              WHEN m_cents >= e.m2 THEN 2
              WHEN m_cents >= e.m1 THEN 3 ELSE 4 END AS m,
         m_cents
  FROM u CROSS JOIN e
)
SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       count(*) AS n_users,
       sum(m_cents) / 100.0 AS monetary_sum,
       true AS edge_rank_within_1pct
FROM b GROUP BY 1, 2, 3
""",
)
def rfm_segments_approx(spark, sf_dir):
    """The PRODUCTION twin of rfm_segments_events for billions of
    users: quartile EDGES are computed once per metric and broadcast
    as a 1-row frame, binning is then a map-side CASE — no global
    NTILE sort anywhere in the plan (the woe_iv_events pattern; the
    exact twin's three unpartitioned NTILE windows would serialize the
    whole per-user frame through one task at 100 TB).  Bin
    orientation matches the exact twin: r=1 most recent quartile
    (recency ascending), f=1/m=1 top quartile (descending).

    Driver-hash-audited the outlier_mad_approx_events way: the row
    payload (cells cut on EXACT interpolated quartile edges) is
    oracle-replayable via quantile_cont — Spark's percentile() and
    DuckDB's quantile_cont compute the identical v[lo] +
    (v[hi]−v[lo])·frac linear interpolation over exactly-representable
    integer metrics — plus ONE bound boolean the oracle states as a
    literal (the mergeable-sketch route for these edges — per-batch
    union without re-reading — is quantile_sketch_events' k-mins
    sample): every approx_percentile edge sits within 1% RANK error of
    its target quantile (#{metric ≤ edge} ≥ (p−.01)·n and
    #{metric < edge} ≤ (p+.01)·n).  Rank — not value or cell-
    assignment — proximity is what the Greenwald–Khanna sketch
    actually guarantees (ε = 1/accuracy = 1e-4 here, audited at 100×
    slack): on coarse discrete metrics like frequency an edge landing
    one tie-group over moves a whole block of users between cells even
    though its rank error is tiny, so a cell-match bound would be a
    false promise.  Sketch drift breaks the hash instead of hiding.
    Scale shape: one per-user agg, one 9-percentile agg (the approx
    arm's state is O(accuracy) GK sketches — the exact arm is the
    AUDIT cost, dropped in production), one broadcast, one map-side
    binning pass into ≤64 cells, one map-side rank-audit agg."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("cents", cents)
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-01-31").cast("date"), F.max("ts")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("m_cents"),
        )
    )
    edges = u.agg(
        F.expr(
            "percentile(recency_days, array(0.25D, 0.5D, 0.75D))"
        ).alias("er"),
        F.expr(
            "percentile(frequency, array(0.25D, 0.5D, 0.75D))"
        ).alias("ef"),
        F.expr("percentile(m_cents, array(0.25D, 0.5D, 0.75D))").alias(
            "em"
        ),
        F.expr(
            "approx_percentile(recency_days, array(0.25D, 0.5D, 0.75D),"
            " 10000)"
        ).alias("ar"),
        F.expr(
            "approx_percentile(frequency, array(0.25D, 0.5D, 0.75D),"
            " 10000)"
        ).alias("af"),
        F.expr(
            "approx_percentile(m_cents, array(0.25D, 0.5D, 0.75D),"
            " 10000)"
        ).alias("am"),
    )

    def _bin_asc(col, es):
        return (
            F.when(F.col(col) <= es[0], 1)
            .when(F.col(col) <= es[1], 2)
            .when(F.col(col) <= es[2], 3)
            .otherwise(4)
        )

    def _bin_desc(col, es):
        return (
            F.when(F.col(col) >= es[2], 1)
            .when(F.col(col) >= es[1], 2)
            .when(F.col(col) >= es[0], 3)
            .otherwise(4)
        )

    def _e(name):
        return [F.col(name)[i] for i in range(3)]

    # u feeds the binning pass AND the rank audit; edges evaluates both
    # percentile arms exactly once — materialize each.
    u = u.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    binned = u.crossJoin(F.broadcast(edges)).select(
        _bin_asc("recency_days", _e("er")).alias("r"),
        _bin_desc("frequency", _e("ef")).alias("f"),
        _bin_desc("m_cents", _e("em")).alias("m"),
        "m_cents",
    )
    metrics = (
        ("recency_days", "ar"),
        ("frequency", "af"),
        ("m_cents", "am"),
    )
    ps = (0.25, 0.5, 0.75)
    aggs = [F.count(F.lit(1)).alias("n")]
    for metric, acol in metrics:
        for i in range(3):
            aggs.append(
                F.sum(
                    (F.col(metric) <= F.col(acol)[i]).cast("int")
                ).alias(f"le_{acol}_{i}")
            )
            aggs.append(
                F.sum(
                    (F.col(metric) < F.col(acol)[i]).cast("int")
                ).alias(f"lt_{acol}_{i}")
            )
    rk = u.crossJoin(F.broadcast(edges)).agg(*aggs)
    checks = []
    for _, acol in metrics:
        for i, p in enumerate(ps):
            checks.append(
                F.col(f"le_{acol}_{i}") >= (p - 0.01) * F.col("n")
            )
            checks.append(
                F.col(f"lt_{acol}_{i}") <= (p + 0.01) * F.col("n")
            )
    from functools import reduce

    audit = rk.select(
        reduce(lambda x, y: x & y, checks).alias("edge_rank_within_1pct")
    )
    return (
        binned.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.sum("m_cents") / 100.0).alias("monetary_sum"),
        )
        .crossJoin(F.broadcast(audit))
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("f").cast("int").alias("f"),
            F.col("m").cast("int").alias("m"),
            "n_users",
            "monetary_sum",
            "edge_rank_within_1pct",
        )
    )


@q(
    "rollup_gapfill_events",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
scaffold AS (
  SELECT t.event_type, g.bucket_ts
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
        FROM bounds) g
)
SELECT s.event_type, s.bucket_ts,
       coalesce(h.n_events, 0) AS n_events,
       h.sum_value,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
FROM scaffold s LEFT JOIN hourly h USING (event_type, bucket_ts)
""",
)
def rollup_gapfill_events(spark, sf_dir):
    """Hypertable rollup: hourly per-type aggregates over a DENSE hour
    scaffold — gaps become explicit (n_events=0, sum NULL) and a LOCF
    twin carries the last observed hourly sum forward
    (operators/temporal.py:rollup_gapfill; TimescaleDB
    time_bucket_gapfill+locf semantics)."""
    from .operators.temporal import rollup_gapfill

    ev = load_table(spark, sf_dir, "events")
    return rollup_gapfill(
        ev,
        key="event_type",
        bucket="hour",
        aggs={
            "n_events": F.count("*"),
            "sum_value": F.round(F.sum("value"), 2),
        },
        locf=["sum_value"],
    )


@q(
    "outlier_iqr_events",
    """
WITH s AS (
  SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS v, count(*) AS n
  FROM events GROUP BY event_type
),
p AS (
  SELECT event_type, v, n,
         CAST(0.25 * (n - 1) AS DOUBLE) AS p25,
         CAST(0.75 * (n - 1) AS DOUBLE) AS p75
  FROM s
),
b AS (
  SELECT event_type,
         (v[CAST(floor(p25) AS BIGINT) + 1]
          + (v[CAST(ceil(p25) AS BIGINT) + 1]
             - v[CAST(floor(p25) AS BIGINT) + 1]) * (p25 - floor(p25))) AS q1,
         (v[CAST(floor(p75) AS BIGINT) + 1]
          + (v[CAST(ceil(p75) AS BIGINT) + 1]
             - v[CAST(floor(p75) AS BIGINT) + 1]) * (p75 - floor(p75))) AS q3
  FROM p
)
SELECT e.event_type,
       count(*) AS n,
       count(*) FILTER (
         WHERE e.value < b.q1 - 1.5 * (b.q3 - b.q1)
            OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)) AS n_outliers,
       floor(any_value(b.q1) * 100 + 0.5) / 100 AS q1,
       floor(any_value(b.q3) * 100 + 0.5) / 100 AS q3
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
""",
)
def outlier_iqr_events(spark, sf_dir):
    """Robust outlier detection: per-group Tukey fences (Q1−1.5·IQR,
    Q3+1.5·IQR) from exact interpolated quartiles, broadcast back onto
    the rows to count outliers — the numeric-column cleaning pass of a
    training pipeline (approx_percentile is the sketch path at 100 TB;
    the exact form is the oracle-checkable twin).  The fence comparison
    uses the RAW quartile doubles (the oracle replicates Spark's
    percentile interpolation term by term, so both engines compare
    against bit-identical bounds); only the reported q1/q3 are rounded,
    floor-form, values known positive."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("__q1"),
        F.expr("percentile(value, 0.75)").alias("__q3"),
    )
    out_pred = (
        F.col("value") < F.col("__q1") - 1.5 * (F.col("__q3") - F.col("__q1"))
    ) | (F.col("value") > F.col("__q3") + 1.5 * (F.col("__q3") - F.col("__q1")))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(out_pred.cast("long")).alias("n_outliers"),
            (F.floor(F.first("__q1") * 100 + F.lit(0.5)) / 100).alias("q1"),
            (F.floor(F.first("__q3") * 100 + F.lit(0.5)) / 100).alias("q3"),
        )
    )


@q(
    "funnel_events",
    """
WITH s1 AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.signup_ts
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_click_after,
       (SELECT count(*) FROM s3) AS n_purchase_after,
       round((SELECT count(*) FROM s3) * 1.0
             / (SELECT count(*) FROM s1), 4) AS conversion
""",
)
def funnel_events(spark, sf_dir):
    """Ordered funnel (signup → later click → later purchase, per user):
    each stage is a per-user min-timestamp aggregate semi-joined against
    the previous stage's anchor — strictly increasing event times, the
    product-analytics conversion query.  Three key-partitioned aggregates
    + two broadcast-able joins; no window over raw events, no cross
    product."""
    ev = load_table(spark, sf_dir, "events")

    def stage(etype, anchor, anchor_ts, out_ts):
        e = ev.filter(F.col("event_type") == etype)
        if anchor is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out_ts))
        return (
            e.join(anchor, "user_id")
            .filter(F.col("ts") > F.col(anchor_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s1 = stage("signup", None, None, "signup_ts")
    s2 = stage("click", s1, "signup_ts", "click_ts")
    s3 = stage("purchase", s2, "click_ts", "purchase_ts")
    c1 = s1.agg(F.count("*").alias("n_signup"))
    c2 = s2.agg(F.count("*").alias("n_click_after"))
    c3 = s3.agg(F.count("*").alias("n_purchase_after"))
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .withColumn(
            "conversion",
            F.round(F.col("n_purchase_after") / F.col("n_signup"), 4),
        )
    )


@q(
    "salted_join_mktsegment",
    """
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def salted_join_mktsegment(spark, sf_dir):
    """Skew-mitigated join in the correctness gate: orders⋈customer via
    operators/skew.py salted_join (left keys salted, right side
    replicated across salt buckets), aggregated per market segment — the
    oracle is the PLAIN join, proving salting is semantics-preserving.
    At 100 TB this is the manual path for a skewed non-broadcastable
    equi-join when AQE's runtime split isn't available."""
    from .operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(o, c, key="custkey", buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@q(
    "length_histogram_docs",
    """
SELECT lang,
       CAST(floor(n_chars / 50) AS BIGINT) * 50 AS bin_lo,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
)
def length_histogram_docs(spark, sf_dir):
    """Fixed-width document-length histogram per language (50-char bins)
    — the corpus length-distribution profile behind truncation / packing
    decisions.  Pure map-side binning + one agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang",
        (F.floor(F.col("n_chars") / 50).cast("long") * 50).alias("bin_lo"),
    ).agg(F.count("*").alias("n_docs"))


@q(
    "interval_join_sessions",
    """
WITH l AS (SELECT event_id AS l_id, user_id, ts AS l_start,
                  ts + INTERVAL 30 MINUTE AS l_end
           FROM events WHERE event_type = 'click'),
     r AS (SELECT event_id AS r_id, user_id AS r_user, ts AS r_start,
                  ts + INTERVAL 45 MINUTE AS r_end
           FROM events WHERE event_type = 'purchase')
SELECT user_id, l_id, r_id,
       CAST(date_diff('microsecond', greatest(l_start, r_start),
                      least(l_end, r_end)) AS BIGINT) AS overlap_us
FROM l JOIN r ON user_id = r_user
             AND l_start <= r_end AND r_start <= l_end
""",
)
def interval_join_sessions(spark, sf_dir):
    """Interval-overlap join (operators/temporal.py interval_join):
    30-min click activity windows × 45-min purchase attribution windows
    per user, paired where the intervals intersect.  Both sides explode
    onto covered fixed-width buckets and equi-join on (key, bucket);
    each pair emits only from its FIRST common bucket, so the result is
    exact with no distinct pass.  The oracle is the naive theta join —
    proving the bucketed plan semantics-preserving — which at scale
    would be a per-key cross product; the bucket form stays one
    equi-join shuffle with fan-out ≈ interval_len/bucket."""
    from .operators.temporal import interval_join

    ev = load_table(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("end"),
    )
    j = interval_join(l, r, on="user_id", bucket_seconds=1800)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return j.select(
        "user_id",
        "l_id",
        F.col("r_id_r").alias("r_id"),
        (
            F.least(us("end"), us("end_r"))
            - F.greatest(us("start"), us("start_r"))
        ).alias("overlap_us"),
    )


@q(
    "quality_by_source_docs",
    """
WITH tq AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tokens,
         round(len(list_filter(string_split(text, ' '),
                               x -> x IN ('the', 'a')))
               * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio,
         (len(string_split(text, ' ')) BETWEEN 10 AND 1000)
           AND len(list_filter(string_split(text, ' '),
                               x -> x IN ('the', 'a'))) > 0
           AS quality_keep
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(stopword_ratio), 4) AS mean_stopword_ratio,
       round(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) * 100.0
             / count(*), 2) AS keep_pct
FROM tq GROUP BY 1
""",
)
def quality_by_source_docs(spark, sf_dir):
    """Per-source quality dashboard: the keep rate and quality-signal
    means by crawl source — the table that decides which feeds get
    upweighted, capped, or cut.  Reuses the text_quality projection
    (same C4/Gopher heuristics the per-doc query certifies), one
    aggregate on source."""
    from .operators.text import text_quality

    docs = load_table(spark, sf_dir, "documents")
    tq = text_quality(docs).join(docs.select("doc_id", "source"), "doc_id")
    return tq.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("stopword_ratio"), 4).alias("mean_stopword_ratio"),
        F.round(
            F.sum(F.col("quality_keep").cast("int")) * 100.0
            / F.count(F.lit(1)),
            2,
        ).alias("keep_pct"),
    )


@q(
    "vocab_stats_docs",
    """
WITH e AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
f AS (SELECT tok, count(*) AS c FROM e WHERE tok <> '' GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS vocab_size,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
        FROM f),
top AS (SELECT CAST(sum(c) AS BIGINT) AS top100_mass FROM (
          SELECT c FROM f ORDER BY c DESC, tok LIMIT 100))
SELECT n_tokens, vocab_size, n_hapax,
       round(n_hapax * 100.0 / vocab_size, 2) AS hapax_pct,
       round(top100_mass * 100.0 / n_tokens, 2) AS top100_mass_pct
FROM tot CROSS JOIN top
""",
)
def vocab_stats_docs(spark, sf_dir):
    """Corpus-linguistics sanity panel: token count, vocabulary size,
    hapax fraction (Heaps-law tail — a spike means OCR noise or
    encoding damage), and top-100-term mass share (Zipf head — a spike
    means boilerplate).  One explode → one vocab agg, then two tiny
    aggregates over the vocabulary frame (TakeOrdered for the head,
    never a full sort); the numbers a corpus drop gets judged by
    before any expensive pass runs."""
    docs = load_table(spark, sf_dir, "documents")
    from .operators.text import tokens

    f = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = f.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("n_hapax"),
    )
    top = (
        f.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(100)
        .agg(F.sum("c").cast("long").alias("top100_mass"))
    )
    return (
        tot.crossJoin(F.broadcast(top))
        .select(
            "n_tokens",
            "vocab_size",
            "n_hapax",
            F.round(F.col("n_hapax") * 100.0 / F.col("vocab_size"), 2).alias(
                "hapax_pct"
            ),
            F.round(
                F.col("top100_mass") * 100.0 / F.col("n_tokens"), 2
            ).alias("top100_mass_pct"),
        )
    )


@q(
    "negative_samples_docs",
    """
WITH b AS (SELECT doc_id, md5(doc_id::VARCHAR || ':neg') AS h
           FROM documents),
s AS (SELECT doc_id, h,
             CAST(CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 32 AS INTEGER)
               AS shard
      FROM b),
r AS (SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn,
             count(*) OVER (PARTITION BY shard) AS n
      FROM s),
e AS (SELECT doc_id, shard, rn, n, j
      FROM r, unnest(generate_series(1, 3)) AS t(j)
      WHERE n > 1 AND j <= least(3, n - 1)),
x AS (SELECT doc_id, CAST(j AS INTEGER) AS j, shard,
             ((rn - 1 + j) % n) + 1 AS tgt
      FROM e)
SELECT x.doc_id, x.j, r2.doc_id AS neg_id
FROM x JOIN r r2 ON r2.shard = x.shard AND r2.rn = x.tgt
WHERE x.doc_id <> r2.doc_id
""",
)
def negative_samples_docs(spark, sf_dir):
    """Contrastive negative sampling (operators/sampling.py
    negative_samples): 3 deterministic pseudo-random partners per doc
    via ring offsets in md5 order inside md5 shards — reproducible
    across runs/engines/repartitioning, no global sort (the ring wraps
    per shard), one (shard, position) equi-join.  The oracle replays
    the md5 ring bit-exactly."""
    from .operators.sampling import negative_samples

    return negative_samples(
        load_table(spark, sf_dir, "documents"), k=3, salt="neg"
    )


@q(
    "scd2_lookup_purchases",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE event_type IN ('signup', 'error')
),
i AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM o
),
dim AS (
  SELECT user_id, event_type AS value, min(ts) AS valid_from
  FROM i GROUP BY user_id, island, event_type
)
SELECT p.event_id, p.user_id, p.ts,
       d.value AS status_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN dim d
  ON p.user_id = d.user_id AND d.valid_from <= p.ts
""",
)
def scd2_lookup_purchases(spark, sf_dir):
    """CDC → serving composition: the SCD2 dimension built from
    signup/error status changes (operators/temporal.py scd2_history)
    enriches each purchase with the user's status AT purchase time via
    the as-of join — the point-in-time dimension lookup every
    warehouse fact load performs.  Contiguous intervals make backward
    as-of on valid_from equivalent to interval containment, so the
    oracle is DuckDB's native ASOF against the replayed dimension."""
    from .operators.temporal import asof_join, scd2_history

    ev = load_table(spark, sf_dir, "events")
    dim = scd2_history(
        ev.filter(F.col("event_type").isin("signup", "error")),
        key="user_id",
        attr="event_type",
        ts="ts",
        tiebreak="event_id",
    ).select("user_id", "value", F.col("valid_from").alias("ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, dim, on="user_id", payload=["value"], suffix="_asof"
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("value_asof").alias("status_asof")
    )


@q(
    "freshness_lag_events",
    f"""
SELECT event_type,
       CAST(max(ts) AS TIMESTAMP) AS latest_ts,
       CAST(floor(date_diff('microsecond', CAST(max(ts) AS TIMESTAMP),
                            {NOW_SQL}) / 60000000.0)
            AS BIGINT) AS staleness_min,
       count(*) AS n
FROM events GROUP BY 1
""",
)
def freshness_lag_events(spark, sf_dir):
    """Ingest freshness monitoring: per-stream staleness against the
    pinned clock — the first alarm a feed pipeline wires (staleness
    growing = dead producer).  ONE partial-agg pass; max(ts) rides the
    same aggregate as the count."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max("ts").cast("timestamp").alias("latest_ts"),
        F.floor(
            (
                F.unix_micros(F.lit(PINNED_NOW).cast("timestamp"))
                - F.unix_micros(F.max("ts").cast("timestamp"))
            )
            / 60_000_000
        ).cast("long").alias("staleness_min"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "dup_rate_daily_docs",
    """
WITH d AS (SELECT doc_id % 30 AS day_n, md5(text) AS h FROM documents),
g AS (SELECT day_n, h, count(*) AS c FROM d GROUP BY 1, 2)
SELECT day_n, CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dup_docs,
       round((sum(c) - count(*)) * 100.0 / sum(c), 2) AS dup_pct
FROM g GROUP BY 1
""",
)
def dup_rate_daily_docs(spark, sf_dir):
    """Corpus-health time series: exact-duplicate rate per ingest day
    (docs simulate a daily partition via doc_id % 30) — the dashboard
    number that catches a crawler loop or a re-ingested shard the day
    it happens.  Two hash-aggs on (day, digest); no joins, no window."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            (F.col("doc_id") % 30).alias("day_n"), F.md5("text").alias("h")
        )
        .groupBy("day_n", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return g.groupBy("day_n").agg(
        F.sum("c").cast("long").alias("n_docs"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.round(
            (F.sum("c") - F.count(F.lit(1))) * 100.0 / F.sum("c"), 2
        ).alias("dup_pct"),
    )


@q(
    "cohort_active_weeks_events",
    """
WITH fw AS (SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
            FROM events GROUP BY 1),
act AS (SELECT DISTINCT e.user_id, fw.cohort,
               CAST(floor(date_diff('day', fw.cohort,
                                    date_trunc('week', e.ts)) / 7)
                    AS INTEGER) AS week_n
        FROM events e JOIN fw USING (user_id)),
size_ AS (SELECT cohort, count(*) AS cohort_users FROM fw GROUP BY 1)
SELECT act.cohort, week_n, count(*) AS n_active,
       round(count(*) * 100.0 / s.cohort_users, 2) AS retention_pct
FROM act JOIN size_ s ON s.cohort = act.cohort
GROUP BY act.cohort, week_n, s.cohort_users
""",
)
def cohort_active_weeks_events(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    tracked by distinct active weeks since — THE product/engagement
    rollup, and the data-curation analog (contributor longevity per
    crawl source).  Two hash-aggs + a broadcast cohort-size join; the
    distinct rides the aggregate, no window over the corpus.  Weeks
    are date_trunc-aligned in both engines, so the matrix hash-matches
    exactly."""
    ev = load_table(spark, sf_dir, "events")
    wk = lambda c: F.date_trunc("week", c).cast("timestamp")  # noqa: E731
    fw = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort"))
    act = (
        ev.join(fw, "user_id")
        .select(
            "user_id",
            "cohort",
            F.floor(
                F.datediff(wk(F.col("ts")), F.col("cohort")) / 7
            ).cast("int").alias("week_n"),
        )
        .distinct()
    )
    size = fw.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    return (
        act.join(F.broadcast(size), "cohort")
        .groupBy("cohort", "week_n", "cohort_users")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort",
            "week_n",
            "n_active",
            F.round(
                F.col("n_active") * 100.0 / F.col("cohort_users"), 2
            ).alias("retention_pct"),
        )
    )


@q(
    "event_transitions",
    """
WITH s AS (SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
c AS (SELECT event_type, next_type, count(*) AS n FROM s
      WHERE next_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
SELECT c.event_type, c.next_type, c.n,
       round(c.n * 1.0 / t.tot, 4) AS p
FROM c JOIN t USING (event_type)
""",
)
def event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (behavioral fingerprint; bot/spam sequences show
    degenerate transition mass).  One window shuffle for the lead, two
    tiny aggs; the |types|² matrix broadcasts for the probability
    join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = s.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("tot"), 4).alias("p"),
        )
    )


@q(
    "rollup_revenue_orders",
    """
SELECT coalesce(o_orderpriority, '(all)') AS priority,
       coalesce(o_orderstatus, '(all)') AS status,
       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
            AS INTEGER) AS gid,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def rollup_revenue_orders(spark, sf_dir):
    """OLAP ROLLUP hierarchy in one pass: revenue at (priority, status),
    per-priority subtotals, and the grand total — Spark's Expand feeds
    every grouping set through ONE shuffle instead of 3 scans + union;
    grouping() disambiguates real NULL keys from subtotal rows."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            (
                F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus")
            ).cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            "gid",
            "n_orders",
            "revenue",
        )
    )


def _hits_oracle(iters: int = 5) -> str:
    """Unrolled HITS recurrence (aggregates are illegal in recursive
    CTEs — same device as the pagerank oracle)."""
    ctes = [
        """eb AS (SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS ca,
                        's' || l.l_suppkey::VARCHAR AS sb
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
h0 AS (SELECT DISTINCT ca AS node, CAST(1.0 AS DOUBLE) AS h FROM eb)"""
    ]
    for i in range(1, iters + 1):
        # MATERIALIZED is load-bearing: score CTEs are referenced twice
        # (next half-step + final total), so inlining would re-evaluate
        # the whole chain per reference — 2^iters blowup.  Recurrence is
        # END-normalized, matching graph.hits exactly.
        ctes.append(
            f"""a{i} AS MATERIALIZED (SELECT sb AS node, sum(h) AS a FROM eb
          JOIN h{i - 1} ON h{i - 1}.node = eb.ca GROUP BY 1),
h{i} AS MATERIALIZED (SELECT ca AS node, sum(a) AS h FROM eb
          JOIN a{i} ON a{i}.node = eb.sb GROUP BY 1)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, 'hub' AS role,
       round(h / (SELECT sum(h) FROM h{iters}), 6) AS score FROM h{iters}
UNION ALL
SELECT node, 'authority' AS role,
       round(a / (SELECT sum(a) FROM a{iters}), 6) AS score FROM a{iters}"""
    )


@q("hits_cust_supp", _hits_oracle(5))
def hits_cust_supp(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py hits) on the directed
    customer→supplier purchase graph: hubs = customers that select
    broadly, authorities = suppliers selected by good hubs — the
    two-sided importance signal pagerank's single rank conflates.
    Edge frame checkpointed once; each round is two broadcast map-side
    joins + two partial-agg sums, L1 totals ride broadcast 1-row
    frames.  Oracle: the identical 5-round recurrence unrolled as
    CTEs."""
    from .operators.graph import hits

    edges = _directed_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return hits(edges, iters=5)


@q(
    "kl_novelty_docs",
    """
WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
f AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
t AS (SELECT count(*) AS total FROM e),
dt AS (SELECT doc_id, tok, count(*) AS dc FROM e GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(dc) AS dl FROM dt GROUP BY 1)
SELECT dt.doc_id, CAST(sum(dc) AS BIGINT) AS n_tokens,
       round(sum((dc * 1.0 / dl) * ln((dc * 1.0 / dl)
                 / (cnt * 1.0 / total))), 4) AS kl_novelty
FROM dt JOIN dl USING (doc_id) JOIN f USING (tok) CROSS JOIN t
GROUP BY dt.doc_id
""",
)
def kl_novelty_docs(spark, sf_dir):
    """Distribution-shift scoring (operators/text.py kl_novelty):
    per-doc KL(p_doc ‖ p_corpus) over unigrams — the novelty complement
    of the unigram typicality score; against a FIXED reference table
    the same plan drift-checks a new crawl drop.  One explode,
    broadcast vocab join, and the doc-length window reuses the final
    groupBy's exchange."""
    from .operators.text import kl_novelty

    return kl_novelty(load_table(spark, sf_dir, "documents"))


@q(
    "quantile_normalize_orders",
    """
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice), 6) AS price_pr
FROM orders
""",
)
def quantile_normalize_orders(spark, sf_dir):
    """Per-group quantile normalization (rank-to-[0,1] feature
    transform): percent_rank of order value within its priority class —
    the scale-free normalization feeding comparable features into
    mixing/sampling weights.  One window shuffle; ties share a rank so
    the output is deterministic without a tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("price_pr"),
    )


@q(
    "ewma_events",
    """
WITH b AS (
  SELECT user_id, event_id, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       round((0.5 * value
              + CASE WHEN l1 IS NULL THEN 0 ELSE 0.25 * l1 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 0.125 * l2 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 0.0625 * l3 END)
             / (0.5
              + CASE WHEN l1 IS NULL THEN 0 ELSE 0.25 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 0.125 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 0.0625 END), 4) AS ewma
FROM b
""",
)
def ewma_events(spark, sf_dir):
    """Bounded-memory EWMA smoothing per user (operators/temporal.py
    rolling_ewma): α=0.5 over the last 4 observations, unrolled lag
    chain in ONE window pass — no self-join, no per-row state, and the
    truncation is exactly what makes the recursive smoother
    SQL-replayable.  Early rows renormalize over the lags that exist
    (unbiased instead of damped toward zero)."""
    from .operators.temporal import rolling_ewma

    ev = load_table(spark, sf_dir, "events")
    out = rolling_ewma(
        ev, "value", keys=["user_id"], order_by=["ts", "event_id"],
        alpha=0.5, k=4,
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("ewma"), 4).alias("ewma")
    )


def _staged_textfile(spark, sf_dir: str, fmt: str) -> str:
    """Staged text-format copy of a fixture, built once per session
    (same lifecycle as the streaming fixture staging)."""

    def build():
        d = scratch_dir(spark, f"sg_{fmt}_")
        if fmt == "jsonl":
            load_table(spark, sf_dir, "documents").write.mode("overwrite").json(d)
        elif fmt == "orc":
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            ).write.mode("overwrite").orc(d)
        else:
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            ).write.mode("overwrite").option("header", True).csv(d)
        return d

    return artifact(spark, "staged_textfile", (sf_dir, fmt), build)


@q(
    "jsonl_scan_docs",
    """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(text)) AS BIGINT) AS total_len
FROM documents GROUP BY 1
""",
)
def jsonl_scan_docs(spark, sf_dir):
    """NDJSON source (sources/textfiles.py read_jsonl): the documents
    table staged as JSON Lines (what a crawl dump actually looks like)
    and read back with a MANDATORY explicit schema — no inference pass
    (double scan + silently drifting schema at 100 TB), PERMISSIVE
    corrupt-row quarantine.  Hash-checked against the parquet table:
    the text round-trips byte-exact through the jsonl encode/decode."""
    from .sources.textfiles import read_jsonl

    path = _staged_textfile(spark, sf_dir, "jsonl")
    docs = read_jsonl(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).cast("long").alias("total_len"),
    )


@q(
    "csv_scan_orders",
    """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       count(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY 1
""",
)
def csv_scan_orders(spark, sf_dir):
    """CSV source (sources/textfiles.py read_csv): orders staged as
    headered CSV and read back schema-first (PERMISSIVE, quarantine
    column available) — numeric aggregates hash-match the parquet
    original, proving the codec round-trip."""
    from .sources.textfiles import read_csv

    path = _staged_textfile(spark, sf_dir, "csv")
    o = read_csv(
        spark,
        path,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double",
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count_distinct(F.col("o_custkey")).alias("n_cust"),
    )


@q(
    "orc_scan_orders",
    """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       round(avg(o_totalprice), 2) AS avg_price,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1
""",
)
def orc_scan_orders(spark, sf_dir):
    """ORC source (Spark builtin columnar sibling of parquet): orders
    staged as ORC and read back — aggregates hash-match the parquet
    original, proving the codec round-trip preserves every value.
    Completes the source-format family (parquet native, CSV, NDJSON,
    ORC, ES DSv2, memory/file streams).  Same scale properties as
    parquet: columnar pruning, predicate pushdown via ORC
    min/max/bloom indexes, splittable stripes — the format an
    HDFS/Hive-era lake hands a migration pipeline."""
    path = _staged_textfile(spark, sf_dir, "orc")
    o = spark.read.orc(path)
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@q(
    "triangle_docs",
    f"""
WITH {_JACCARD_CTES},
tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
        FROM jp e1
        JOIN jp e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
        JOIN jp e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b)
SELECT node, count(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY 1
""",
)
def triangle_docs(spark, sf_dir):
    """Per-node triangle counts on the exact near-dup pair graph
    (operators/graph.py triangle_count): clique-density is the
    template-spam signal — organic similarity is sparse, boilerplate
    families are near-cliques.  Degree-oriented node-iterator: wedges
    fan out from the π-minimal endpoint only, bounding total wedges by
    O(m^1.5) on ANY graph (a celebrity node cannot go quadratic).  The
    oracle counts the same triangles by plain id-ordered SQL joins —
    orientation is proven count-preserving."""
    from .operators.graph import triangle_count
    from .operators.neardup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return triangle_count(_shared_pairs(spark, sf_dir, "jaccard"))


@q(
    "winsorize_events",
    """
WITH nn AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM nn),
b AS (SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN value END) AS lo_v,
             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN value END) AS hi_v
      FROM r GROUP BY 1)
SELECT nn.event_type, count(*) AS n,
       CAST(sum(CASE WHEN nn.value < b.lo_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lo,
       CAST(sum(CASE WHEN nn.value > b.hi_v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hi,
       round(sum(least(greatest(nn.value, b.lo_v), b.hi_v)), 2) AS sum_w
FROM nn JOIN b USING (event_type)
GROUP BY 1
""",
)
def winsorize_events(spark, sf_dir):
    """Per-group winsorization (operators/profile.py winsorize): event
    values clamped to the per-type [p05, p95] discrete percentiles —
    the heavy-tail defense before any mean-based metric.  Exact path:
    rank window + bounds agg share ONE exchange, bounds broadcast back;
    `exact=False` swaps a t-digest approx_percentile (no sort) at
    corpus scale.  The oracle replays the identical ceil(q·n) rank
    definition, so the clamp is hash-checked, not approximately
    checked."""
    from .operators.profile import winsorize

    ev = load_table(spark, sf_dir, "events")
    w = winsorize(ev, "value", keys=["event_type"], lo=0.05, hi=0.95)
    return w.groupBy("event_type").agg(
        F.count("value_w").alias("n"),
        F.sum(F.col("clamped_lo").cast("int")).cast("long").alias("n_lo"),
        F.sum(F.col("clamped_hi").cast("int")).cast("long").alias("n_hi"),
        F.round(F.sum("value_w"), 2).alias("sum_w"),
    )


@q(
    "classifier_quality_docs",
    """
WITH w AS (
  SELECT bucket,
         (CAST('0x' || substr(md5('w:' || bucket::VARCHAR), 1, 8) AS BIGINT)
            % 2001 - 1000) / 1000.0 AS weight
  FROM range(1024) t(bucket)),
e AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
s AS (
  SELECT doc_id, n, sum(coalesce(w.weight, 0.0)) AS s
  FROM (SELECT doc_id, n,
               CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS b
        FROM e)
  LEFT JOIN w ON b = w.bucket
  GROUP BY doc_id, n)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(s / n))), 4) AS quality_score,
       1.0 / (1.0 + exp(-(s / n))) >= 0.5 AS keep
FROM s
UNION ALL
SELECT doc_id, round(0.5, 4) AS quality_score, TRUE AS keep
FROM documents WHERE text IS NULL
""",
)
def classifier_quality_docs(spark, sf_dir):
    """Model-based quality filtering (operators/text.py
    linear_classifier_score): fastText-style hash-kernel linear
    classifier scored over every document as a pure Spark plan —
    explode → broadcast KB-sized weight table → one doc-level hash-agg;
    inference rides the scan, no model server.  The weight table here
    is a deterministic md5-derived stand-in (a real model would load
    from parquet like the IVF/PQ codebooks); the oracle rebuilds the
    same table and replays scoring bit-for-bit."""
    from .operators.text import linear_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    w = spark.range(1024).select(
        F.col("id").cast("int").alias("bucket"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0
        ).alias("weight"),
    )
    return linear_classifier_score(docs, w, n_buckets=1024)


def _moji_fix_sql(col: str) -> str:
    """The exact fix_mojibake replace chain as nested SQL replace()."""
    from .operators.text import MOJIBAKE_MAP

    expr = col
    for bad, good in MOJIBAKE_MAP:
        expr = f"replace({expr}, '{bad}', '{good}')"
    return expr


@q(
    "fix_mojibake_docs",
    f"""
WITH damaged AS (
  SELECT doc_id,
         replace(replace(text, 'e', 'é'), 'o', 'ö') AS clean,
         replace(replace(replace(replace(text, 'e', 'é'), 'o', 'ö'),
                         'é', 'Ã©'), 'ö', 'Ã¶') AS corrupt
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(corrupt, '(â€|Ã|Â).', 0)) AS INTEGER)
         AS n_mojibake,
       {_moji_fix_sql('corrupt')} = clean AS roundtrip_ok
FROM damaged
""",
)
def fix_mojibake_docs(spark, sf_dir):
    """Encoding repair (operators/text.py fix_mojibake): the fixture is
    deterministically damaged with the classic UTF-8-read-as-cp1252
    double encoding (é→Ã©, ö→Ã¶ — exactly what a misdecoded crawl
    segment looks like), then repaired; roundtrip_ok proves byte-exact
    recovery and n_mojibake is the pre-repair damage count (the quality
    signal).  Literal-replace chain, map-only, no shuffle — the oracle
    applies the identical MOJIBAKE_MAP chain in SQL."""
    from .operators.text import fix_mojibake

    docs = load_table(spark, sf_dir, "documents")
    clean = F.replace(
        F.replace(F.col("text"), F.lit("e"), F.lit("é")), F.lit("o"), F.lit("ö")
    )
    corrupt = F.replace(
        F.replace(clean, F.lit("é"), F.lit("Ã©")), F.lit("ö"), F.lit("Ã¶")
    )
    damaged = docs.select(
        "doc_id", clean.alias("clean"), corrupt.alias("corrupt")
    )
    fixed = fix_mojibake(damaged, text_col="corrupt", out_col="fixed")
    return fixed.select(
        "doc_id",
        F.col("n_mojibake"),
        (F.col("fixed") == F.col("clean")).alias("roundtrip_ok"),
    )


@q(
    "snapshot_diff_orders",
    """
WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 100 <> 0),
     n AS (SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 13 = 0
                       THEN round(o_totalprice * 1.1, 2)
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 97 <> 0)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
""",
)
def snapshot_diff_orders(spark, sf_dir):
    """Keyed snapshot diff (operators/diff.py): two synthetic versions
    of the orders table (simulated deletes, inserts, and price updates)
    → (key, added|removed|changed).  Each side collapses to
    (key, xxhash64 digest) BEFORE the full-outer join, so the shuffle
    carries 16 bytes/row, not the payload — the data-versioning step
    that lets a 100-TB pipeline re-process only what moved.  The oracle
    compares the real columns (IS DISTINCT FROM), proving the digest
    path change-equivalent on the fixture."""
    from .operators.diff import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").filter(
        F.col("o_orderkey") % 100 != 0
    )
    new = (
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 13 == 0,
                F.round(F.col("o_totalprice") * 1.1, 2),
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py) — the tokenizer-learning step
# of an LLM data pipeline, distributed on the Zipf-tiny word-count table.
# The oracle replays the IDENTICAL recurrence as an unrolled CTE chain
# (the pagerank precedent): per merge round, pair counts → deterministic
# argmax (count desc, pair asc) → greedy left-to-right non-overlapping
# \b-anchored regexp merge, whose scan semantics Java regex and RE2 share
# (verified: "a a a" + (a,a) → "aa a" on both engines).
# ---------------------------------------------------------------------------

_BPE_N = 10

_BPE_W0 = (
    "w0 AS (SELECT syms, count(*) AS cnt FROM ("
    "SELECT array_to_string(string_split(w, ''), ' ') AS syms "
    "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS w"
    " FROM documents) WHERE w <> '') GROUP BY syms)"
)


def _bpe_iter_ctes(n: int) -> str:
    """Unrolled merge rounds: p{i} pair counts, b{i} winner, w{i} merged."""
    parts = []
    for i in range(1, n + 1):
        parts.append(
            f"""
p{i} AS (
  SELECT pr AS pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(list_transform(generate_series(1, len(a) - 1),
                                 j -> a[j] || ' ' || a[j + 1])) AS pr, cnt
    FROM (SELECT string_split(syms, ' ') AS a, cnt
          FROM w{i - 1} WHERE len(string_split(syms, ' ')) >= 2)
  ) GROUP BY pr
),
b{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1),
w{i} AS (
  SELECT regexp_replace(syms,
           '\\b' || split_part(pair, ' ', 1) || ' ' ||
                    split_part(pair, ' ', 2) || '\\b',
           replace(pair, ' ', ''), 'g') AS syms, cnt
  FROM w{i - 1} CROSS JOIN b{i}
)"""
        )
    return ",".join(parts)


@q(
    "bpe_train_docs",
    "WITH "
    + _BPE_W0
    + ","
    + _bpe_iter_ctes(_BPE_N)
    + "\nSELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, split_part(pair, ' ', 1) AS lhs,"
        f" split_part(pair, ' ', 2) AS rhs, replace(pair, ' ', '') AS merged,"
        f" c AS pair_count FROM b{i}"
        for i in range(1, _BPE_N + 1)
    )
    + ")",
)
def bpe_train_docs(spark, sf_dir):
    """Distributed BPE vocabulary training (operators/bpe.py): corpus →
    one word-count shuffle, then each merge round touches only the
    Zipf-tiny word table (pair agg + TakeOrdered(1) + broadcast 1-row
    merge application) — at 100 TB the corpus is read exactly once.
    Trains live on every invocation (the distributed path IS what this
    query certifies); vocab reuse is ``bpe_tokenize_docs``."""
    from .operators.bpe import bpe_train, word_symbol_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(word_symbol_counts(docs), _BPE_N)


#: Frozen BPE vocab — the sf0.01 training output of ``bpe_train_docs``
#: (hash-green in CORRECTNESS_r06), stated as literals so segmentation is
#: certified independently of training.  This is the production shape: a
#: tokenizer vocab is trained ONCE and shipped; re-training inside every
#: tokenize call (and inside its oracle, ~17s of unrolled DuckDB CTEs)
#: priced the wrong thing and risked a driver timeout.  Live training is
#: certified by ``bpe_train_docs``; the frozen-vocab ↔ live-training
#: handshake is pytest-locked (tests/test_bpe.py
#: test_frozen_vocab_matches_live_training_sf001 replays the full chain).
_BPE_FROZEN_MERGES = [
    (1, "e", "r", "er", 4568),
    (2, "i", "n", "in", 2760),
    (3, "o", "w", "ow", 2747),
    (4, "o", "r", "or", 2696),
    (5, "s", "t", "st", 2676),
    (6, "m", "er", "mer", 1852),
    (7, "a", "t", "at", 1845),
    (8, "l", "u", "lu", 1831),
    (9, "a", "r", "ar", 1758),
    (10, "p", "ar", "par", 1758),
]


@q(
    "bpe_tokenize_docs",
    """WITH t0 AS (SELECT doc_id,
              array_to_string(list_transform(
                regexp_extract_all(lower(text), '[a-z0-9]+', 0),
                w -> array_to_string(string_split(w, ''), ' ')), '  ') AS syms
       FROM documents),
"""
    + ",".join(
        f"""
t{i} AS (SELECT doc_id, regexp_replace(syms,
            '\\b{lhs} {rhs}\\b', '{merged}', 'g') AS syms
         FROM t{i - 1})"""
        for i, lhs, rhs, merged, _ in _BPE_FROZEN_MERGES
    )
    + f"""
SELECT doc_id,
       CAST(CASE WHEN syms = '' THEN 0
                 ELSE len(string_split_regex(syms, ' +')) END AS INTEGER)
         AS bpe_tokens,
       replace(split_part(syms, '  ', 1), ' ', '|') AS bpe_tokens_sample
FROM t{len(_BPE_FROZEN_MERGES)}
""",
)
def bpe_tokenize_docs(spark, sf_dir):
    """BPE segmentation with a FROZEN learned vocab (operators/bpe.py
    bpe_segment): the 10-merge vocab trained at sf0.01 (certified live
    by ``bpe_train_docs``) is baked in as literals and applied as a
    chained map-only regexp_replace; per-doc BPE token count +
    first-word segmentation witness.  The oracle replays segmentation
    only — training replay lives in tests/test_bpe.py so the driver
    oracle stays cheap (<1s vs ~17s full replay)."""
    from .operators.bpe import bpe_segment

    docs = load_table(spark, sf_dir, "documents")
    merges = spark.createDataFrame(
        _BPE_FROZEN_MERGES,
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count bigint",
    )
    seg = bpe_segment(docs, merges)
    return seg.select("doc_id", "bpe_tokens", "bpe_tokens_sample")


# ---------------------------------------------------------------------------
# Record linkage (operators/linkage.py), CDC upsert (operators/diff.py),
# seasonal anomalies (operators/profile.py), weighted top-k sampling
# (operators/sampling.py) — the round-7 additions, wired with oracles.
# ---------------------------------------------------------------------------


@q(
    "fuzzy_link_parts",
    """
WITH dirty AS (
  SELECT p_partkey AS d_id, p_brand,
         substring(p_name, 1, 3) || 'zz' || substring(p_name, 6) AS d_name
  FROM part WHERE p_partkey % 7 = 0
),
cand AS (
  SELECT d.d_id, c.p_partkey AS clean_id,
         levenshtein(d.d_name, c.p_name) AS dist
  FROM dirty d JOIN part c ON d.p_brand = c.p_brand
  WHERE levenshtein(d.d_name, c.p_name) <= 2
)
SELECT d_id, clean_id, CAST(dist AS INTEGER) AS dist
FROM (SELECT *, row_number() OVER (PARTITION BY d_id
                                   ORDER BY dist, clean_id) AS rn
      FROM cand)
WHERE rn = 1
""",
)
def fuzzy_link_parts(spark, sf_dir):
    """Blocked fuzzy record linkage (operators/linkage.py): every 7th
    part's name is deterministically damaged (chars 4-5 overwritten with
    'zz' — substring surgery identical in both engines), then linked
    back to the clean catalog blocked on p_brand with Levenshtein ≤ 2,
    keep='best' (min dist, ties → smallest clean id).  Candidates come
    only from the brand equi-join — the quadratic edit-distance work
    never leaves the block, so at 100 TB this is one shuffle join plus
    map-side JVM levenshtein, never all-pairs."""
    from .operators.linkage import blocked_fuzzy_join

    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("d_id"),
        "p_brand",
        F.concat(
            F.substring("p_name", 1, 3),
            F.lit("zz"),
            F.expr("substring(p_name, 6)"),
        ).alias("d_name"),
    )
    clean = part.select(
        F.col("p_partkey").alias("clean_id"), "p_brand", "p_name"
    )
    return blocked_fuzzy_join(
        dirty,
        clean,
        block_cols=["p_brand"],
        dirty_text="d_name",
        clean_text="p_name",
        dirty_id="d_id",
        clean_id="clean_id",
        max_dist=2,
        keep="best",
    )


@q(
    "apply_cdc_orders",
    """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.11
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey % 97 <> 0
""",
)
def apply_cdc_orders(spark, sf_dir):
    """CDC MERGE round-trip (operators/diff.py): derive a change batch
    from the snapshot_diff_orders old/new pair (added→I, changed→U,
    removed→D, each carrying the new row's values), then apply_cdc it
    onto the OLD snapshot.  The oracle is simply the NEW snapshot — the
    diff→apply round-trip is its own proof (apply_cdc(old,
    changes_of(old,new)) ≡ new).  Scale shape: the change batch gets
    the one window shuffle; the base is never shuffled (broadcast
    anti-join on touched keys)."""
    from .operators.diff import apply_cdc, snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 100 != 0)
    # price bump is a single IEEE add (+1.11), bit-identical across
    # engines — round(x*1.1, 2) would hit half-even-vs-half-up ties
    new = orders.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.11
        ).otherwise(F.col("o_totalprice")),
    )
    # d feeds both the I/U and the D legs; without materialization the
    # snapshot full-outer compare re-ran per leg (13 orders scans in one
    # plan pre-r16)
    d = snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    ).localCheckpoint(eager=False)
    iu = (
        d.filter(F.col("change") != "removed")
        .join(new, "o_orderkey")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.when(F.col("change") == "added", F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.lit(1).alias("seq"),
        )
    )
    dels = (
        d.filter(F.col("change") == "removed")
        .join(old, "o_orderkey")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.lit("D").alias("op"),
            F.lit(1).alias("seq"),
        )
    )
    return apply_cdc(
        old, iu.unionByName(dels), keys=["o_orderkey"]
    )


_Z_BITS = 8
_Z_COLS = [("user_id", 0.0, 2048.0), ("value", 0.0, 512.0)]


def _zorder_sql() -> str:
    """DuckDB twin of operators/layout.py zorder_key: identical
    clamp-scale-interleave integer arithmetic, terms summed (disjoint
    bit positions make + equivalent to |)."""
    d = len(_Z_COLS)
    top = (1 << _Z_BITS) - 1
    terms = []
    for i, (name, lo, hi) in enumerate(_Z_COLS):
        rank = (
            f"coalesce(least(greatest(CAST(floor((CAST({name} AS DOUBLE)"
            f" - {lo}) / {hi - lo} * {float(top)}) AS BIGINT), 0), {top}), 0)"
        )
        for k in range(_Z_BITS):
            terms.append(f"((({rank} >> {k}) & 1) << {k * d + i})")
    return (
        "SELECT event_id, CAST(" + " + ".join(terms)
        + " AS BIGINT) AS zkey FROM events"
    )


@q("zorder_events", _zorder_sql())
def zorder_events(spark, sf_dir):
    """Z-order (Morton) clustering key (operators/layout.py): the
    storage-layout lever — interleaved-bit key over (user_id, value) so
    range-partitioned files each cover a narrow box of the 2-D space
    and parquet min/max stats prune multi-column range scans at the
    file level (Delta/Iceberg ZORDER BY analog).  Pure integer bit
    arithmetic, map-only, bit-identical in the oracle; the layout
    itself (repartitionByRange + partition-disjointness + pruning win
    vs hash layout) is pytest-certified in tests/test_layout.py."""
    from .operators.layout import zorder_key

    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", zorder_key(_Z_COLS, bits=_Z_BITS))


@q(
    "incremental_rollup_orders",
    """
WITH n AS (SELECT o_orderkey, o_orderkey % 500 AS bucket,
                  CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.11
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 97 <> 0)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(o_totalprice), 2) AS total
FROM n GROUP BY bucket
""",
)
def incremental_rollup_orders(spark, sf_dir):
    """Incremental aggregate maintenance (operators/diff.py
    incremental_rollup): the maintained per-bucket rollup after a CDC
    day — untouched buckets pass through from the OLD rollup (map-side
    broadcast anti-join), buckets touched by the diff recompute from
    the new snapshot only (map-side semi-join prunes the scan).  The
    oracle is the full recompute over the new snapshot — the
    incremental ≡ full identity, hash-checked.  Third leg of the
    snapshot_diff → apply_cdc → rollup incremental loop."""
    from .operators.diff import incremental_rollup, snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bucket = (F.col("o_orderkey") % 500).alias("bucket")
    old = orders.filter(F.col("o_orderkey") % 100 != 0)
    new = orders.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.11
        ).otherwise(F.col("o_totalprice")),
    )
    old_rollup = (
        old.select(bucket, "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_totalprice").alias("total"),
        )
    )
    touched = snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    ).select(bucket)
    out = incremental_rollup(
        new.select(bucket, "o_totalprice"),
        old_rollup,
        touched,
        keys=["bucket"],
        agg_col="o_totalprice",
    )
    return out.select(
        "bucket",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round("total", 2).alias("total"),
    )


@q(
    "seasonal_anomaly_events",
    """
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
base AS (
  SELECT event_type, hour, avg(n) AS mu, stddev_samp(n) AS sd
  FROM cells GROUP BY 1, 2
)
SELECT c.event_type, c.day, c.hour, c.n,
       round((c.n - b.mu) / b.sd, 4) AS z
FROM cells c JOIN base b ON c.event_type = b.event_type AND c.hour = b.hour
WHERE b.sd IS NOT NULL AND b.sd > 0 AND abs((c.n - b.mu) / b.sd) > 2.0
""",
)
def seasonal_anomaly_events(spark, sf_dir):
    """Seasonal-baseline anomaly cells (operators/profile.py): events
    bucketed per (type, day, hour-of-day), baselined per (type,
    hour-of-day) ACROSS days, cells beyond 2σ flagged — 3am compares to
    other 3am's, catching what a recency z-score can't.  Two map-side
    hash aggs + one broadcast join of the |keys|·24-row baseline."""
    from .operators.profile import seasonal_anomalies

    events = load_table(spark, sf_dir, "events")
    return seasonal_anomalies(
        events, ts_col="ts", key_col="event_type", z_threshold=2.0
    )


@q(
    "weighted_topk_docs",
    """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
keyed AS (
  SELECT doc_id, n_tokens,
         pow((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                         || ':wtopk'), 1, 8) AS UBIGINT)
              + 1.0) / 4294967296.0,
             1.0 / n_tokens) AS key
  FROM t WHERE n_tokens IS NOT NULL AND n_tokens > 0
)
SELECT doc_id, n_tokens,
       CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC) AS INTEGER)
         AS sample_rank
FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 50
""",
)
def weighted_topk_docs(spark, sf_dir):
    """Exact-size weighted sampling without replacement (operators/
    sampling.py weighted_topk — Efraimidis–Spirakis A-ES): top-50
    documents by pow(md5-uniform, 1/n_tokens), inclusion probability
    proportional to token count.  Map-only key computation +
    TakeOrdered(50) — no global sort shuffle; the oracle replays the
    identical md5→uniform→pow keys and ranks in SQL."""
    from .operators.sampling import weighted_topk
    from .operators.text import token_count

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", token_count(F.col("text")))
        .select("doc_id", "n_tokens")
    )
    return weighted_topk(
        docs, k=50, weight_col="n_tokens", id_col="doc_id", salt="wtopk"
    )


# ---------------------------------------------------------------------------
# In-engine classifier TRAINING (operators/text.py train_linear_classifier):
# the oracle replays the identical full-batch logistic-gradient recurrence
# as unrolled CTEs (the pagerank/bpe device) — per step: per-doc z via the
# weight join, sigmoid error, per-bucket mean gradient, weight/bias update.
# ---------------------------------------------------------------------------

_CLF_STEPS = 3
_CLF_BUCKETS = 64

def _clf_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").withColumn(
        "__lbl", F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    )


def _clf_model_rows(spark, sf_dir):
    """Trained classifier model rows — the _ivf_centroids discipline: a
    static corpus trains ONCE per session and downstream CONSUMERS
    (calibration) serve the collected 65-row model, while the training
    query itself (train_classifier_docs) keeps training live so the
    bench's training cost stays honest.  Deterministic (fixed seed
    hashing + full-batch gradient), so memoized ≡ retrained."""
    from .operators.text import train_linear_classifier

    return artifact(
        spark, "clf_model", sf_dir,
        lambda: train_linear_classifier(
            _clf_docs(spark, sf_dir),
            "__lbl",
            n_buckets=_CLF_BUCKETS,
            steps=_CLF_STEPS,
            lr=1.0,
        ).collect(),
    )


def _train_clf_sql(steps: int = _CLF_STEPS, nb: int = _CLF_BUCKETS) -> str:
    head = f"""
WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                  text
           FROM documents WHERE text IS NOT NULL),
tt AS (SELECT doc_id, y, len(string_split(text, ' ')) AS n,
              unnest(string_split(text, ' ')) AS tok FROM d),
f AS (SELECT doc_id, max(y) AS y, max(n) AS n,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {nb} AS b,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM tt GROUP BY doc_id, b),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM d),
w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS DOUBLE) AS w
       WHERE 1 = 0),
bias0 AS (SELECT 0.0 AS bv)"""
    parts = [head]
    for i in range(1, steps + 1):
        parts.append(f""",
z{i} AS (SELECT f.doc_id, max(f.y) AS y,
               (SELECT bv FROM bias{i - 1})
                 + sum(coalesce(w.w, 0.0) * f.cnt) / max(f.n) AS z
         FROM f LEFT JOIN w{i - 1} w ON f.b = w.b GROUP BY f.doc_id),
e{i} AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS err FROM z{i}),
g{i} AS (SELECT f.b, sum(e.err * f.cnt / f.n) AS g
         FROM f JOIN e{i} e ON f.doc_id = e.doc_id GROUP BY f.b),
w{i} AS (SELECT COALESCE(w.b, g.b) AS b,
                COALESCE(w.w, 0.0)
                  - COALESCE(g.g, 0.0) / (SELECT nd FROM nn) AS w
         FROM w{i - 1} w FULL OUTER JOIN g{i} g ON w.b = g.b),
bias{i} AS (SELECT (SELECT bv FROM bias{i - 1})
                     - (SELECT sum(err) FROM e{i})
                       / (SELECT nd FROM nn) AS bv)""")
    parts.append(f"""
SELECT CAST(-1 AS INTEGER) AS bucket, round(bv, 4) AS weight FROM bias{steps}
UNION ALL
SELECT CAST(b AS INTEGER) AS bucket, round(w, 4) AS weight FROM w{steps}
""")
    return "".join(parts)


@q("train_classifier_docs", _train_clf_sql())
def train_classifier_docs(spark, sf_dir):
    """In-engine quality-classifier TRAINING (operators/text.py
    train_linear_classifier): 3 full-batch logistic-gradient steps over
    md5-bucket hashed features, labels = (lang == 'en') — the seed-set
    fit of the CCNet/fastText quality stage, producing exactly the
    (bucket, weight) model linear_classifier_score consumes.  Corpus
    tokenizes ONCE (one shuffle, localCheckpoint); each step is ONE
    window pass — literal-map weight lookup, per-doc z/error via a
    window over doc_id (single sort-exchange, no join), per-bucket
    gradient agg — with only model-sized (65-row) driver traffic.
    The oracle replays the identical recurrence as unrolled CTEs."""
    from .operators.text import train_linear_classifier

    docs = _clf_docs(spark, sf_dir)
    # trains LIVE on every call (no _clf_model_rows read): this query IS the
    # training benchmark; only consumers (calibration) serve the memo
    model = train_linear_classifier(
        docs, "__lbl", n_buckets=_CLF_BUCKETS, steps=_CLF_STEPS, lr=1.0
    )
    return model.select("bucket", F.round("weight", 4).alias("weight"))


def _clf_scored_sql() -> str:
    """Unrolled train + score CTEs ending in ``sc (doc_id, y, score)``
    with score rounded 4dp — shared by the calibration and conformal
    oracles so both compositions replay the identical scored frame."""
    return (
        _train_clf_sql().rsplit("SELECT CAST(-1", 1)[0]
        + f""",
sc AS (
  SELECT t.doc_id, t.y,
         round(1.0 / (1.0 + exp(-((SELECT bv FROM bias{_CLF_STEPS})
                                  + s.s / s.n))), 4) AS score
  FROM (SELECT doc_id, max(y) AS y FROM f GROUP BY doc_id) t
  JOIN (SELECT f.doc_id, max(f.n) AS n,
               sum(coalesce(w.w, 0.0) * f.cnt) AS s
        FROM f LEFT JOIN w{_CLF_STEPS} w ON f.b = w.b
        GROUP BY f.doc_id) s ON t.doc_id = s.doc_id
)"""
    )


@q(
    "classifier_calibration_docs",
    _clf_scored_sql()
    + """
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 4) AS mean_score,
       round(avg(y), 4) AS en_rate
FROM (SELECT y, score,
             CAST(ntile(4) OVER (ORDER BY score, doc_id) AS INTEGER) AS bin
      FROM sc)
GROUP BY bin
""",
)
def classifier_calibration_docs(spark, sf_dir):
    """Calibration (reliability) table for the in-engine-TRAINED
    classifier — the train→score composition certified end-to-end
    cross-engine: train 3 logistic-gradient steps (train_linear_classifier),
    feed the learned weights straight into linear_classifier_score, and
    report volume, mean score, and actual en-rate per EQUAL-MASS score
    quartile (ntile reliability bins — robust to score spread, unlike
    absolute deciles).  A well-calibrated bin has mean_score ≈ en_rate;
    the drift between them is the quality-filter threshold evidence an
    LLM-data team reads before trusting the keep flag.  (On this
    fixture the text is uninformative about the lang label, so the
    model correctly converges to the base rate — the discrimination
    path is certified separately on a separable corpus in
    tests/test_text_dedup.py.)  Scale note: ntile's global order is a
    single-partition window — fine for an eval table; at corpus scale
    use classifier_calibration_approx, the hash-certified production
    twin (broadcast quartile edges + map-side CASE binning, rank-error
    audit included — the rfm_segments_approx swap)."""
    from .operators.text import linear_classifier_score

    docs = _clf_docs(spark, sf_dir)
    # model rows come from the session's artifact store (trained on
    # this query's first call, served after; deterministic full-batch
    # gradient, so memoized ≡ retrained and the train→score composition
    # is unchanged — train_classifier_docs still prices training live)
    rows = _clf_model_rows(spark, sf_dir)
    bias = next(r.weight for r in rows if r.bucket == -1)
    w = spark.createDataFrame(
        [(r.bucket, r.weight) for r in rows if r.bucket >= 0],
        "bucket int, weight double",
    )
    scored = linear_classifier_score(
        docs.filter(F.col("text").isNotNull()),
        w,
        n_buckets=_CLF_BUCKETS,
        bias=bias,
        out_col="score",
    )
    labeled = scored.join(docs.select("doc_id", "__lbl"), "doc_id")
    w_bin = Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())
    return (
        labeled.withColumn("bin", F.ntile(4).over(w_bin).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("mean_score"),
            F.round(F.avg("__lbl"), 4).alias("en_rate"),
        )
    )


@q(
    "classifier_calibration_approx",
    _clf_scored_sql()
    + """,
e AS (
  SELECT quantile_cont(score, 0.25) AS e1,
         quantile_cont(score, 0.50) AS e2,
         quantile_cont(score, 0.75) AS e3
  FROM sc
)
SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 4) AS mean_score,
       round(avg(y), 4) AS en_rate,
       true AS edge_rank_within_1pct
FROM (SELECT y, score,
             CASE WHEN score <= e.e1 THEN 1
                  WHEN score <= e.e2 THEN 2
                  WHEN score <= e.e3 THEN 3 ELSE 4 END AS bin
      FROM sc CROSS JOIN e)
GROUP BY bin
""",
)
def classifier_calibration_approx(spark, sf_dir):
    """The PRODUCTION twin of classifier_calibration_docs for
    billion-document eval tables — the rfm_segments_approx swap
    applied to reliability bins: quartile score EDGES are computed
    once and broadcast as a 1-row frame, bin assignment is then a
    map-side CASE — no global NTILE sort anywhere in the plan (the
    exact twin's unpartitioned ntile window would serialize every
    scored document through one task at 100 TB).  Bins cut on edges
    are equal-mass up to tie-groups at the edges (a tie block lands
    in one bin wholesale, where ntile splits it by doc_id — the
    honest scale semantics: doc_id tiebreaks inside one value are
    rank bookkeeping, not calibration signal).

    Driver-hash-audited the rfm_segments_approx way: the row payload
    (bins cut on EXACT interpolated quartile edges — Spark
    percentile() ≡ DuckDB quantile_cont, and 4dp-rounded scores keep
    distinct values ≥ 1e-4 apart so interior interpolated edges
    cannot FP-straddle a score) is oracle-replayable, plus ONE bound
    boolean the oracle states as a literal: every
    approx_percentile(1e4) edge sits within 1% RANK error of its
    target quantile — rank proximity, what Greenwald–Khanna actually
    guarantees (the exact twin's docstring promise, discharged).
    Scale shape: one scored-frame agg for 3+3 percentile edges (GK
    state O(accuracy); the exact arm is the AUDIT cost, dropped in
    production), one broadcast, one map-side CASE binning into ≤4
    cells, one map-side rank-audit agg."""
    from functools import reduce

    from .operators.text import linear_classifier_score

    docs = _clf_docs(spark, sf_dir)
    rows = _clf_model_rows(spark, sf_dir)
    bias = next(r.weight for r in rows if r.bucket == -1)
    w = spark.createDataFrame(
        [(r.bucket, r.weight) for r in rows if r.bucket >= 0],
        "bucket int, weight double",
    )
    scored = linear_classifier_score(
        docs.filter(F.col("text").isNotNull()),
        w,
        n_buckets=_CLF_BUCKETS,
        bias=bias,
        out_col="score",
    )
    labeled = scored.join(
        docs.select("doc_id", "__lbl"), "doc_id"
    ).localCheckpoint(eager=True)
    edges = labeled.agg(
        F.expr("percentile(score, array(0.25D, 0.5D, 0.75D))").alias("ex"),
        F.expr(
            "approx_percentile(score, array(0.25D, 0.5D, 0.75D), 10000)"
        ).alias("ax"),
    ).localCheckpoint(eager=True)
    binned = labeled.crossJoin(F.broadcast(edges)).select(
        F.when(F.col("score") <= F.col("ex")[0], 1)
        .when(F.col("score") <= F.col("ex")[1], 2)
        .when(F.col("score") <= F.col("ex")[2], 3)
        .otherwise(4)
        .cast("int")
        .alias("bin"),
        "score",
        "__lbl",
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(3):
        aggs.append(
            F.sum((F.col("score") <= F.col("ax")[i]).cast("int")).alias(
                f"le_{i}"
            )
        )
        aggs.append(
            F.sum((F.col("score") < F.col("ax")[i]).cast("int")).alias(
                f"lt_{i}"
            )
        )
    rk = labeled.crossJoin(F.broadcast(edges)).agg(*aggs)
    checks = []
    for i, p in enumerate((0.25, 0.5, 0.75)):
        checks.append(F.col(f"le_{i}") >= (p - 0.01) * F.col("n"))
        checks.append(F.col(f"lt_{i}") <= (p + 0.01) * F.col("n"))
    audit = rk.select(
        reduce(lambda x, y: x & y, checks).alias("edge_rank_within_1pct")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("mean_score"),
            F.round(F.avg("__lbl"), 4).alias("en_rate"),
        )
        .crossJoin(F.broadcast(audit))
    )


@q(
    "stratified_topk_docs",
    """
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
keyed AS (
  SELECT doc_id, source, n_tokens,
         pow((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                         || ':swtopk'), 1, 8) AS UBIGINT)
              + 1.0) / 4294967296.0,
             1.0 / n_tokens) AS key
  FROM t WHERE n_tokens IS NOT NULL AND n_tokens > 0
)
SELECT doc_id, source, n_tokens, sample_rank FROM (
  SELECT doc_id, source, n_tokens,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY key DESC, doc_id ASC) AS INTEGER)
           AS sample_rank
  FROM keyed)
WHERE sample_rank <= 5
""",
)
def stratified_topk_docs(spark, sf_dir):
    """Exact-k-per-stratum weighted sampling (operators/sampling.py
    stratified_weighted_topk): the 5 best length-weighted docs from
    EVERY source — the mixture-building primitive where a global top-k
    would let one hot source crowd out the rest.  One hash-partition
    shuffle on source + per-group rank; md5 draws replayed identically
    by the oracle."""
    from .operators.sampling import stratified_weighted_topk
    from .operators.text import token_count

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", token_count(F.col("text")))
        .select("doc_id", "source", "n_tokens")
    )
    return stratified_weighted_topk(
        docs, k=5, weight_col="n_tokens", strata_cols="source",
        id_col="doc_id", salt="swtopk",
    )


@q(
    "tokenizer_fertility_docs",
    """WITH t0 AS (SELECT doc_id,
              array_to_string(list_transform(
                regexp_extract_all(lower(text), '[a-z0-9]+', 0),
                w -> array_to_string(string_split(w, ''), ' ')), '  ') AS syms,
              len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS words,
              lang
       FROM documents),
"""
    + ",".join(
        f"""
t{i} AS (SELECT doc_id, regexp_replace(syms,
            '\\b{lhs} {rhs}\\b', '{merged}', 'g') AS syms, words, lang
         FROM t{i - 1})"""
        for i, lhs, rhs, merged, _ in _BPE_FROZEN_MERGES
    )
    + f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS total_words,
       CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
       round(avg(CAST(bpe AS DOUBLE) / words), 4) AS fertility
FROM (SELECT doc_id, words, lang,
             CASE WHEN syms = '' THEN 0
                  ELSE len(string_split_regex(syms, ' +')) END AS bpe
      FROM t{len(_BPE_FROZEN_MERGES)})
WHERE words > 0
GROUP BY lang
""",
)
def tokenizer_fertility_docs(spark, sf_dir):
    """Tokenizer fertility per language (BPE tokens per word under the
    frozen 10-merge vocab) — the metric that tells an LLM-data team
    which languages their tokenizer under-serves (high fertility =
    more tokens per word = costlier training and shorter effective
    context).  Rides bpe_segment (map-only frozen-merge replay) + one
    per-language hash agg; the oracle replays the identical merge
    chain."""
    from .operators.bpe import bpe_segment

    docs = load_table(spark, sf_dir, "documents")
    merges = spark.createDataFrame(
        _BPE_FROZEN_MERGES,
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count bigint",
    )
    words = F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    seg = bpe_segment(docs.withColumn("words", words), merges)
    return (
        seg.filter(F.col("words") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").cast("bigint").alias("total_words"),
            F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
            F.round(
                F.avg(F.col("bpe_tokens").cast("double") / F.col("words")), 4
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 additions: native session windows (batch + streaming twins over
# the SAME gap semantics) and entity resolution (fuzzy-match graph →
# connected components), the transitive-closure step past pairwise linkage.
# ---------------------------------------------------------------------------

#: Gap-session oracle shared by the batch and streaming session-window
#: queries.  Two semantics traps, both measured against Spark: (1) events
#: EXACTLY gap apart MERGE (Spark's merge test is overlap-INCLUSIVE on the
#: [ts, ts+gap] window), so a new session starts only on strict
#: ``diff > gap``; (2) event timestamps carry microseconds, so the gap
#: compares at MICROSECOND grain — ``date_diff('second')`` would truncate
#: a 1800.5 s gap to 1800 and glue two sessions Spark splits.
_SESSION_WINDOW_SQL = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM s
GROUP BY user_id, sid
"""


@q("session_window_events", _SESSION_WINDOW_SQL)
def session_window_events(spark, sf_dir):
    """Native gap sessions in BATCH (``F.session_window`` in a plain
    groupBy): per (user, session) start/end/count/value over a 30-minute
    inactivity gap.  Complements ``sessionize_events`` (lag+cumsum windows,
    per-user session COUNTS) with the per-session table — and does it as
    ONE hash aggregation with in-JVM window merging instead of a sort
    window followed by a re-aggregation: one shuffle on user_id, partial
    aggregation map-side, no row-number pass.  At 100 TB that halves the
    exchanges of the lag formulation and never materializes the per-event
    session id.  The oracle replays the gap split with the lag/cumsum
    formulation at microsecond grain (see _SESSION_WINDOW_SQL on the two
    boundary traps)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@q("stream_session_window_events", _SESSION_WINDOW_SQL)
def stream_session_window_events(spark, sf_dir):
    """§2.9 STREAMING twin of session_window_events: the same native
    session windows as a watermarked streaming aggregation
    (streaming/services_stream.py stream_session_windows) drained with
    availableNow into the memory sink.  Session windows reject update
    mode; complete re-emits the whole session table per micro-batch (the
    memory sink replaces it), so the drain is batch-equivalent even when
    the file source splits input across triggers — and the drained table
    hash-checks against the SAME microsecond-grain gap oracle as the
    batch query.  The 45-day watermark outspans the fixture so no
    session is evicted; a deployment sizes it to real lateness, which
    bounds state at O(open sessions)."""
    import uuid

    from .streaming import run_to_memory, stream_events_typed
    from .streaming.services_stream import stream_session_windows

    name = f"sess_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        qy = run_to_memory(
            stream_session_windows(
                stream_events_typed(spark, _staged_events(spark, sf_dir))
            ),
            name,
            "complete",
        )
        qy.stop()
    return spark.table(name)


@q(
    "stream_session_watermark_events",
    _SESSION_WINDOW_SQL
    + """HAVING max(ts) + INTERVAL 30 MINUTE
       <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""",
)
def stream_session_watermark_events(spark, sf_dir):
    """The DEPLOYMENT form of stream_session_window_events: the same
    native session windows with a REALISTIC 1-hour watermark in APPEND
    mode, so sessions are finalized, EMITTED ONCE, and EVICTED as the
    watermark passes them — state is O(open sessions), bounded by
    concurrent activity, never by stream length (the suite twin's
    45-day drain-everything watermark deliberately disables eviction
    and is the one disclosed state-grows-with-corpus row; this query
    retires that to an explicitly audit-only role).

    Determinism and the oracle: after an availableNow drain the final
    watermark is (global max event time − 1h) regardless of how many
    micro-batches the file source split into (the no-data final batch
    advances it and flushes eligible state), and Spark's eviction
    predicate is session_end ≤ watermark INCLUSIVE — pinned by a
    synthetic exact-tie test (tests/test_streaming.py
    test_session_watermark_eviction_boundary_inclusive) because a
    boundary session sits in the output or the open set depending on
    it.  The oracle is therefore the batch gap-session SQL plus
    ``HAVING session_end <= max(ts) − 1h``: sessions still open at
    end-of-stream (2 of 946 at sf0.001) are exactly the rows withheld.
    Microsecond-grain gap semantics identical to _SESSION_WINDOW_SQL."""
    import uuid

    from .streaming import run_to_memory, stream_events_typed
    from .streaming.services_stream import stream_session_windows

    name = f"sess_wm_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        qy = run_to_memory(
            stream_session_windows(
                stream_events_typed(spark, _staged_events(spark, sf_dir)),
                watermark="1 hour",
            ),
            name,
            "append",
        )
        qy.stop()
    return spark.table(name)


#: full-recompute ER oracle (min-reachable-id ≡ min-label CC fixpoint),
#: shared by the batch query AND its incremental twin: the incremental
#: path hashing identical to the FULL recompute's oracle is itself the
#: certification that fold-in ≡ re-cluster.
_ENTITY_CC_SQL = """
WITH RECURSIVE
dirty AS (
  SELECT 'd:' || CAST(p_partkey AS VARCHAR) AS rid, p_brand,
         substring(p_name, 1, 3) || 'zz' || substring(p_name, 6) AS name
  FROM part WHERE p_partkey % 7 = 0),
clean AS (
  SELECT 'c:' || CAST(p_partkey AS VARCHAR) AS rid, p_brand, p_name AS name
  FROM part),
recs AS (SELECT rid FROM dirty UNION ALL SELECT rid FROM clean),
e AS (
  SELECT d.rid AS a, c.rid AS b
  FROM dirty d JOIN clean c ON d.p_brand = c.p_brand
  WHERE levenshtein(d.name, c.name) <= 2),
sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
walk(node, label) AS (
  SELECT rid, rid FROM recs
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node
)
SELECT node AS record_id, min(label) AS cluster,
       (node = min(label)) AS is_survivor
FROM walk
GROUP BY node
"""


@q("entity_clusters_parts", _ENTITY_CC_SQL)
def entity_clusters_parts(spark, sf_dir):
    """ENTITY RESOLUTION end-to-end: fuzzy-match graph → connected
    components → canonical entity per record.  fuzzy_link_parts stops at
    best pairwise links; real ER needs the transitive closure (dirty
    variant A and B both within 2 edits of clean C are the SAME entity
    even if A↔B exceeds the radius), so this keeps ALL in-radius edges
    (operators/linkage.py blocked_fuzzy_join keep='all' — candidates
    never leave the brand block) and resolves them with the SAME
    min-label connected components that powers near-dup survivor
    selection (operators/neardup.py dedup_survivors: driver union-find
    under the broadcast limit, distributed label propagation past it —
    ER piggybacks on the 100-TB path near-dup already certified).
    Output: every record (damaged + catalog) with its cluster
    representative and survivor flag.  The oracle recomputes components
    as a recursive-CTE label walk (min reachable id ≡ min-label
    fixpoint)."""
    from .operators.linkage import blocked_fuzzy_join
    from .operators.neardup import dedup_survivors

    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.concat(F.lit("d:"), F.col("p_partkey").cast("string")).alias("rid"),
        "p_brand",
        F.concat(
            F.substring("p_name", 1, 3),
            F.lit("zz"),
            F.expr("substring(p_name, 6)"),
        ).alias("name"),
    )
    clean = part.select(
        F.concat(F.lit("c:"), F.col("p_partkey").cast("string")).alias("crid"),
        "p_brand",
        F.col("p_name").alias("cname"),
    )
    edges = blocked_fuzzy_join(
        dirty,
        clean,
        block_cols=["p_brand"],
        dirty_text="name",
        clean_text="cname",
        dirty_id="rid",
        clean_id="crid",
        max_dist=2,
        keep="all",
    )
    recs = dirty.select("rid").unionByName(
        clean.select(F.col("crid").alias("rid"))
    )
    out = dedup_survivors(recs, edges.select("rid", "crid"), id_col="rid")
    return out.select(
        F.col("rid").alias("record_id"), "cluster", "is_survivor"
    )


def _er_standing_state(spark, sf_dir):
    """Shared incremental-ER fixture: (batch, clean, standing assignments).

    Splits entity_clusters_parts' damaged records into a standing set
    (odd multiples of 7) and an arriving batch (even multiples), and
    clusters standing ∪ catalog with dedup_survivors — the min-label
    state both the batch fold-in query and its streaming twin start
    from.  The assignments frame is localCheckpoint-memoized per
    session (like the minhash band stores); batch/clean are cheap scans
    rebuilt per call.  The fold-in queries thereby price the FOLD, their
    production shape: a live system's standing assignments already exist
    when a batch arrives.  The full-recompute build cost is priced live
    by entity_clusters_parts."""
    from .operators.linkage import blocked_fuzzy_join
    from .operators.neardup import dedup_survivors

    part = load_table(spark, sf_dir, "part")

    def damaged(src):
        return src.select(
            F.concat(F.lit("d:"), F.col("p_partkey").cast("string")).alias(
                "rid"
            ),
            "p_brand",
            F.concat(
                F.substring("p_name", 1, 3),
                F.lit("zz"),
                F.expr("substring(p_name, 6)"),
            ).alias("name"),
        )

    base = part.filter(F.col("p_partkey") % 7 == 0)
    batch = damaged(base.filter(F.col("p_partkey") % 14 == 0))
    standing_dirty = damaged(base.filter(F.col("p_partkey") % 14 != 0))
    clean = part.select(
        F.concat(F.lit("c:"), F.col("p_partkey").cast("string")).alias("crid"),
        "p_brand",
        F.col("p_name").alias("cname"),
    )

    def build():
        standing_edges = blocked_fuzzy_join(
            standing_dirty, clean,
            block_cols=["p_brand"], dirty_text="name", clean_text="cname",
            dirty_id="rid", clean_id="crid", max_dist=2, keep="all",
        )
        standing_recs = standing_dirty.select("rid").unionByName(
            clean.select(F.col("crid").alias("rid"))
        )
        return (
            dedup_survivors(
                standing_recs,
                standing_edges.select("rid", "crid"),
                id_col="rid",
            )
            .select("rid", "cluster")
            .localCheckpoint(eager=True)
        )

    return batch, clean, artifact(spark, "er_standing", sf_dir, build)


@q("entity_clusters_incr_parts", _ENTITY_CC_SQL)
def entity_clusters_incr_parts(spark, sf_dir):
    """INCREMENTAL entity resolution: the same corpus as
    entity_clusters_parts, but clustered in two installments — the
    standing set (odd multiples of 7 among the dirty records, plus the
    whole catalog) is clustered first with dedup_survivors, then the
    batch (even multiples of 7) is FOLDED IN with
    operators/linkage.py entity_clusters_incremental: only the batch is
    fuzzy-matched, standing endpoints contract to their min-label
    clusters, and connected components run on the tiny quotient graph
    (batch ids + touched cluster labels) instead of the corpus.  The
    oracle is the FULL-recompute recursive-CTE walk shared with
    entity_clusters_parts, so the driver hash IS the
    incremental ≡ full-recompute certification (a property test makes
    the same claim over random graphs).  Scale shape: the standing
    clustering streams past ONE broadcast (delta edges) for the label
    lookup and ONE broadcast (relabel map) for the fold-back — no
    corpus-sized shuffle touches the 100-TB side on a batch arrival."""
    from .operators.linkage import blocked_fuzzy_join, entity_clusters_incremental

    batch, clean, assignments = _er_standing_state(spark, sf_dir)
    delta_edges = blocked_fuzzy_join(
        batch, clean,
        block_cols=["p_brand"], dirty_text="name", clean_text="cname",
        dirty_id="rid", clean_id="crid", max_dist=2, keep="all",
    )
    out = entity_clusters_incremental(
        assignments,
        batch.select("rid"),
        delta_edges.select("rid", "crid"),
        id_col="rid",
    )
    return out.select(
        F.col("rid").alias("record_id"), "cluster", "is_survivor"
    )


@q("stream_entity_clusters_parts", _ENTITY_CC_SQL)
def stream_entity_clusters_parts(spark, sf_dir):
    """§2.9 STREAMING twin of entity_clusters_incr_parts: the batch
    records ARRIVE AS A FILE STREAM (4 staged parquet files,
    maxFilesPerTrigger=1 → 4 separate micro-batches) and each trigger
    folds its records into the standing clustering via foreachBatch +
    entity_clusters_incremental (streaming/er_stream.py) — continuous
    entity-resolution maintenance, the production shape for a match
    pipeline under record trickle.  Cluster state is global (any record
    can merge any two clusters), so per-key stateful operators don't
    apply; foreachBatch holds the assignments frame and advances it by
    localCheckpoint per trigger, keeping lineage flat for unbounded
    streams.  The fold is associative (property-tested over random
    splits), so the drained state hash-checks against the SAME
    full-recompute oracle as the batch queries no matter how the stream
    batches the records.  Per-trigger cost: O(micro-batch + touched
    clusters), never O(corpus)."""
    from .operators.linkage import blocked_fuzzy_join
    from .streaming.er_stream import run_stream_entity_clusters

    batch, clean, assignments = _er_standing_state(spark, sf_dir)

    def stage_batch():
        staged = scratch_dir(spark, "suite_er_stream_")
        batch.repartition(4).write.mode("overwrite").parquet(staged)
        return staged

    def edge_fn(bdf):
        return blocked_fuzzy_join(
            bdf, clean,
            block_cols=["p_brand"], dirty_text="name", clean_text="cname",
            dirty_id="rid", clean_id="crid", max_dist=2, keep="all",
        ).select("rid", "crid")

    final = run_stream_entity_clusters(
        spark,
        artifact(spark, "staged_er_batch", sf_dir, stage_batch),
        "rid string, p_brand string, name string",
        assignments,
        edge_fn,
        id_col="rid",
    )
    return final.select(
        F.col("rid").alias("record_id"),
        "cluster",
        (F.col("rid") == F.col("cluster")).alias("is_survivor"),
    )


@q(
    "linkage_weights_parts",
    """
WITH dirty AS (
  SELECT p_partkey AS dk, p_brand,
         substring(p_name, 1, 3) || 'zz' || substring(p_name, 6) AS dname,
         CASE WHEN p_partkey % 21 = 0 THEN 'DAMAGED TYPE'
              ELSE p_type END AS dtype,
         CASE WHEN p_partkey % 35 = 0 THEN p_size + 1
              ELSE p_size END AS dsize
  FROM part WHERE p_partkey % 7 = 0),
cand AS (
  SELECT d.dk, c.p_partkey AS ck,
         levenshtein(d.dname, c.p_name) <= 2 AS name_agree,
         d.dtype = c.p_type AS type_agree,
         d.dsize = c.p_size AS size_agree,
         d.dk = c.p_partkey AS is_true
  FROM dirty d JOIN part c ON d.p_brand = c.p_brand),
stats AS (
  SELECT
    least(greatest(coalesce(avg(CASE WHEN is_true
      THEN CAST(name_agree AS INT) END), 0.5), 0.01), 0.99) AS m_name,
    least(greatest(coalesce(avg(CASE WHEN NOT is_true
      THEN CAST(name_agree AS INT) END), 0.5), 0.01), 0.99) AS u_name,
    least(greatest(coalesce(avg(CASE WHEN is_true
      THEN CAST(type_agree AS INT) END), 0.5), 0.01), 0.99) AS m_type,
    least(greatest(coalesce(avg(CASE WHEN NOT is_true
      THEN CAST(type_agree AS INT) END), 0.5), 0.01), 0.99) AS u_type,
    least(greatest(coalesce(avg(CASE WHEN is_true
      THEN CAST(size_agree AS INT) END), 0.5), 0.01), 0.99) AS m_size,
    least(greatest(coalesce(avg(CASE WHEN NOT is_true
      THEN CAST(size_agree AS INT) END), 0.5), 0.01), 0.99) AS u_size
  FROM cand)
SELECT 'd:' || CAST(dk AS VARCHAR) AS dirty_id,
       'c:' || CAST(ck AS VARCHAR) AS clean_id,
       name_agree, type_agree, size_agree, is_true,
       floor((CASE WHEN name_agree THEN log2(m_name / u_name)
                   ELSE log2((1 - m_name) / (1 - u_name)) END
            + CASE WHEN type_agree THEN log2(m_type / u_type)
                   ELSE log2((1 - m_type) / (1 - u_type)) END
            + CASE WHEN size_agree THEN log2(m_size / u_size)
                   ELSE log2((1 - m_size) / (1 - u_size)) END)
             * 10000 + 0.5) / 10000 AS score
FROM cand CROSS JOIN stats
""",
)
def linkage_weights_parts(spark, sf_dir):
    """Fellegi–Sunter probabilistic record linkage over the damaged-parts
    fixture (operators/linkage.py fs_linkage_weights): every within-brand
    candidate pair is scored by per-field agreement log-likelihood
    ratios, with m-probabilities estimated from the fixture's built-in
    ground truth (a damaged record's true twin shares its partkey — the
    labeled-match subset every FS deployment needs from somewhere) and
    u-probabilities from the non-match pairs.  Three comparison fields
    with distinct error rates by construction: name (always damaged,
    matched by edit distance ≤ 2), type (damaged on every 3rd dirty
    record → m≈2/3), size (shifted on every 5th → m≈4/5) — so the
    learned weights separate: type/size disagreement on a true twin
    is priced by its measured damage rate, not assumed.  Probabilities
    clamp to [0.01, 0.99] (finite disagreement weights when a field
    never disagrees on matches).  The m/u estimation is EXACT across
    engines — conditional means of 0/1 values are integer-sum/count,
    bit-identical in IEEE — so the only cross-engine surface is libm
    log2 on identical doubles, rounded at 1e-4 with only 8 distinct
    pattern scores.  Scale shape: blocking bounds candidates (no
    all-pairs), ONE single-row agg broadcast back, scoring is a per-row
    expression — no Python, no extra shuffle."""
    from .operators.linkage import fs_linkage_weights

    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("dk"),
        "p_brand",
        F.concat(
            F.substring("p_name", 1, 3),
            F.lit("zz"),
            F.expr("substring(p_name, 6)"),
        ).alias("dname"),
        F.when(F.col("p_partkey") % 21 == 0, F.lit("DAMAGED TYPE"))
        .otherwise(F.col("p_type"))
        .alias("dtype"),
        F.when(F.col("p_partkey") % 35 == 0, F.col("p_size") + 1)
        .otherwise(F.col("p_size"))
        .alias("dsize"),
    )
    cand = dirty.join(part, "p_brand").select(
        "dk",
        F.col("p_partkey").alias("ck"),
        # bounded kernel: -1 past the threshold ⇔ oracle's lev <= 2
        (F.levenshtein("dname", "p_name", 2) >= 0).alias("name_agree"),
        (F.col("dtype") == F.col("p_type")).alias("type_agree"),
        (F.col("dsize") == F.col("p_size")).alias("size_agree"),
        (F.col("dk") == F.col("p_partkey")).alias("is_true"),
    )
    scored = fs_linkage_weights(
        cand,
        ["name_agree", "type_agree", "size_agree"],
        "is_true",
    )
    return scored.select(
        F.concat(F.lit("d:"), F.col("dk").cast("string")).alias("dirty_id"),
        F.concat(F.lit("c:"), F.col("ck").cast("string")).alias("clean_id"),
        "name_agree",
        "type_agree",
        "size_agree",
        "is_true",
        (F.floor(F.col("score") * 10000 + 0.5) / 10000).alias("score"),
    )


@q(
    "cube_status_priority",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       CAST(GROUPING(o_orderstatus) + GROUPING(o_orderpriority)
            AS INTEGER) AS agg_level
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_status_priority(spark, sf_dir):
    """CUBE completes the grouping trio (GROUPING SETS ✓ ROLLUP ✓): all
    2^2 margins of (status, priority) — cells, both one-way margins, and
    the grand total — in ONE Expand-based aggregation pass, the OLAP
    cross-tab primitive.  agg_level labels each row's margin depth with
    the built-in grouping() bits (mirrored by GROUPING() in the oracle)
    rather than NULL-counting, so the pattern survives a NULL-VALUED
    dimension: a genuine NULL cell has grouping()=0 while a rolled-up
    margin has grouping()=1, a distinction NULL-counting cannot make
    (pytest covers a frame with a NULL dimension value).  Scale shape:
    Expand multiplies rows 4× BEFORE the shuffle but partial aggregation
    collapses each margin map-side, so the exchange carries
    ~|distinct cells| × 4, not |rows| × 4."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        (
            F.grouping("o_orderstatus") + F.grouping("o_orderpriority")
        )
        .cast("int")
        .alias("agg_level"),
    )


@q(
    "moments_profile_events",
    """
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(value AS DOUBLE)) AS s1,
         sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS s2,
         sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
             * CAST(value AS DOUBLE)) AS s3,
         sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
             * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS s4
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, s1, s2, s3, s4, s1 / n AS mean,
         greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       floor(mean * 10000 + 0.5) / 10000 AS mean,
       floor(var * 10000 + 0.5) / 10000 AS variance,
       floor(((s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean)
              / pow(var, 1.5)) * 10000 + 0.5) / 10000 AS skewness,
       floor(((s4 / n - 4 * mean * (s3 / n)
               + 6 * mean * mean * (s2 / n)
               - 3 * mean * mean * mean * mean)
              / (var * var) - 3) * 10000 + 0.5) / 10000 AS excess_kurtosis
FROM m
""",
)
def moments_profile_events(spark, sf_dir):
    """Higher-moment distribution profile per event_type: mean,
    population variance, skewness, excess kurtosis — the shape stats a
    drift monitor tracks beyond min/max/quantiles (a value column going
    heavy-tailed or lopsided shows here before the median moves).
    Built from RAW POWER SUMS (Σx..Σx⁴) with the moment combination
    stated explicitly in BOTH engines, because Spark's `skewness`/
    `kurtosis` and DuckDB's use different estimator conventions
    (population vs sample corrections) — the outlier_iqr discipline
    again: state the arithmetic, trust no defaults.  Scale shape: ONE
    map-side-combined hash agg over the corpus (power sums are
    associative partials); the moment algebra runs on the tiny
    per-group frame.  The variance is clamped with greatest(var, 0) in
    BOTH engines: catastrophic cancellation (s2/n − mean²) on a
    near-constant group can produce a tiny negative, and pow(var, 1.5)
    of a negative is NaN — the clamp keeps the profile finite and the
    two engines bit-agreeing at the rounding grain."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
    skew = (s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean) / F.pow(
        var, 1.5
    )
    kurt = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    ) / (var * var) - 3

    def r4(c):
        return F.floor(c * 10000 + 0.5) / 10000

    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        r4(mean).alias("mean"),
        r4(var).alias("variance"),
        r4(skew).alias("skewness"),
        r4(kurt).alias("excess_kurtosis"),
    )


@q(
    "outlier_mad_events",
    """
WITH s AS (
  SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS v, count(*) AS n
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type,
         (v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
            * (0.5 * (n - 1) - floor(0.5 * (n - 1)))) AS med
  FROM s
),
d AS (
  SELECT e.event_type,
         list_sort(list(abs(CAST(e.value AS DOUBLE) - m.med))) AS v,
         count(*) AS n, any_value(m.med) AS med
  FROM events e JOIN m USING (event_type) GROUP BY e.event_type
),
md AS (
  SELECT event_type, med,
         (v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
            * (0.5 * (n - 1) - floor(0.5 * (n - 1)))) AS mad
  FROM d
)
SELECT e.event_type, count(*) AS n,
       count(*) FILTER (
         WHERE abs(CAST(e.value AS DOUBLE) - md.med) > 3.5 * md.mad)
         AS n_outliers,
       floor(any_value(md.med) * 100 + 0.5) / 100 AS med,
       floor(any_value(md.mad) * 100 + 0.5) / 100 AS mad
FROM events e JOIN md USING (event_type)
GROUP BY e.event_type
""",
)
def outlier_mad_events(spark, sf_dir):
    """Robust outlier detection, MAD flavor (the median/MAD sibling of
    outlier_iqr_events' Tukey fences): flag |x − median| > 3.5·MAD per
    event_type — the robust z-score that a single extreme value cannot
    drag the way it drags mean/stddev (50% breakdown point vs 0%).
    Exact interpolated medians via Spark's `percentile` aggregate; the
    oracle replays the identical index-interpolation formula over
    sorted lists (the outlier_iqr discipline — never trust two engines'
    quantile defaults to agree, state the arithmetic).  Scale shape:
    two hash aggs on event_type (the second over |x−med| needs the
    first's medians — joined back via broadcast, group count is tiny)
    plus one final agg; the corpus shuffles on event_type only — BUT
    Spark's exact `percentile` aggregate buffers EVERY value of the
    group in the agg buffer, so a 100-TB event_type (billions of
    doubles in one executor's hash-agg entry) would OOM.  This exact
    form is the ORACLE-CHECKABLE AUDIT; the production path at scale is
    outlier_mad_approx_events (constant-size approx_percentile sketch
    per group), whose agreement with this form is itself
    driver-hash-audited — the sketch family's exact-audit /
    approx-production split."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(value - med), 0.5D)").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3.5 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            (F.floor(F.first("med") * 100 + 0.5) / 100).alias("med"),
            (F.floor(F.first("mad") * 100 + 0.5) / 100).alias("mad"),
        )
    )


@q(
    "outlier_mad_approx_events",
    """
WITH s AS (
  SELECT event_type, list_sort(list(CAST(value AS DOUBLE))) AS v, count(*) AS n
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type,
         (v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
            * (0.5 * (n - 1) - floor(0.5 * (n - 1)))) AS med
  FROM s
),
d AS (
  SELECT e.event_type,
         list_sort(list(abs(CAST(e.value AS DOUBLE) - m.med))) AS v,
         count(*) AS n, any_value(m.med) AS med
  FROM events e JOIN m USING (event_type) GROUP BY e.event_type
),
md AS (
  SELECT event_type, med,
         (v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
            * (0.5 * (n - 1) - floor(0.5 * (n - 1)))) AS mad
  FROM d
)
SELECT e.event_type, count(*) AS n,
       count(*) FILTER (
         WHERE abs(CAST(e.value AS DOUBLE) - md.med) > 3.5 * md.mad)
         AS n_outliers,
       true AS med_within_1pct,
       true AS mad_within_1pct,
       true AS flags_within_half_pct
FROM events e JOIN md USING (event_type)
GROUP BY e.event_type
""",
)
def outlier_mad_approx_events(spark, sf_dir):
    """The PRODUCTION twin of outlier_mad_events for 100-TB groups:
    medians via approx_percentile (a constant-size Greenwald–Khanna
    sketch per group in the agg buffer, rank error ≤ n/accuracy) where
    the exact form buffers the whole group.  Driver-hash-audited the
    sketch-family way: the row payload is the EXACT per-group outlier
    count (oracle-computable by the same interpolated-median CTEs) plus
    three bound booleans the oracle states as literals — approx median
    within 1% of exact, approx MAD within 1%, and the approx-flagged
    outlier set disagreeing with the exact-flagged set on ≤ max(1,
    0.5%·n) rows.  Sketch drift breaks the hash instead of hiding
    behind a rows-only status.  Scale shape: identical shuffle plan to
    the exact form (two event_type aggs + broadcast-back + final agg),
    but the production arm's agg state is O(accuracy), not O(group);
    the exact arms here are the AUDIT cost, dropped in production."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5D, 10000)").alias("amed"),
        F.expr("percentile(value, 0.5D)").alias("emed"),
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("approx_percentile(abs(value - amed), 0.5D, 10000)").alias(
                "amad"
            ),
            F.expr("percentile(abs(value - emed), 0.5D)").alias("emad"),
            F.first("amed").alias("amed"),
            F.first("emed").alias("emed"),
        )
    )
    eflag = F.abs(F.col("value") - F.col("emed")) > 3.5 * F.col("emad")
    aflag = F.abs(F.col("value") - F.col("amed")) > 3.5 * F.col("amad")
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(eflag, 1).otherwise(0)).cast("bigint").alias(
                "n_outliers"
            ),
            F.sum(F.when(eflag != aflag, 1).otherwise(0)).alias("__dis"),
            F.first("amed").alias("amed"),
            F.first("emed").alias("emed"),
            F.first("amad").alias("amad"),
            F.first("emad").alias("emad"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            (
                F.abs(F.col("amed") - F.col("emed"))
                <= 0.01 * F.col("emed")
            ).alias("med_within_1pct"),
            (
                F.abs(F.col("amad") - F.col("emad"))
                <= 0.01 * F.col("emad")
            ).alias("mad_within_1pct"),
            (
                F.col("__dis")
                <= F.greatest(F.lit(1.0), 0.005 * F.col("n"))
            ).alias("flags_within_half_pct"),
        )
    )


@q(
    "training_manifest_docs",
    """
WITH s AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         (len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
            * 1000) // len(string_split(text, ' ')) AS score_bucket
  FROM documents
),
b AS (SELECT score_bucket, sum(n_tokens) AS btok FROM s GROUP BY 1),
a AS (
  SELECT score_bucket FROM (
    SELECT score_bucket,
           sum(btok) OVER (ORDER BY score_bucket DESC
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM b
  ) WHERE cum <= 20000
),
sel AS (SELECT s.doc_id, s.n_tokens FROM s SEMI JOIN a USING (score_bucket)),
tok AS (SELECT doc_id, doc_id % 64 AS shard, n_tokens FROM sel),
off AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS end_offset
  FROM tok
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       CAST(shard * 1000000000 + (end_offset - n_tokens) // 512 AS BIGINT)
         AS first_seq,
       CAST(shard * 1000000000 + (end_offset - 1) // 512 AS BIGINT) AS last_seq
FROM off
""",
)
def training_manifest_docs(spark, sf_dir):
    """The TRAINING MANIFEST end-to-end: budget-select the best quality
    buckets under a 20k-token budget (select_under_token_budget — no
    global sort, bucket thresholds broadcast back), then pack ONLY the
    selected docs into 512-token training sequences
    (pack_sequences — per-shard offset windows, globally unique seq
    ids).  This is the artifact a data team actually hands the trainer:
    which documents made the mix and exactly where each one's tokens
    land, reproducible from raw corpus in one plan.  Both stages are
    individually hash-certified (budget_select_docs,
    pack_sequences_docs); this pins their COMPOSITION — the oracle
    chains the identical CTEs, so a drift in either stage or in the
    handoff between them breaks the hash.  Scale shape: one agg + tiny
    broadcast semi-join + one per-shard window — nothing new is paid
    for composing."""
    from .operators.sampling import pack_sequences, select_under_token_budget
    from .operators.text import stopword_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        token_count(F.col("text")).alias("n_tokens"),
        stopword_count(F.col("text")).alias("__nstop"),
    ).select(
        "doc_id",
        "text",
        "n_tokens",
        F.expr("(__nstop * 1000) div n_tokens").alias("score_bucket"),
    )
    selected = select_under_token_budget(base, token_budget=20_000)
    return pack_sequences(
        selected.select("doc_id", "text"), max_tokens=512
    ).withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


@q(
    "bucketed_join_orders",
    """
SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey % 5 = 0 AND l.l_orderkey % 5 = 0
GROUP BY o.o_orderstatus
""",
)
def bucketed_join_orders(spark, sf_dir):
    """SHUFFLE-FREE co-located join via bucketing (sinks.write_bucketed):
    orders and lineitem are written as managed tables bucketed 16-ways on
    the join key, then joined with broadcast disabled — Spark's
    bucket-spec match elides the Exchange on BOTH sides, the 100-TB
    pattern where fact-to-fact joins pay the shuffle once at layout time
    and never per query.  The query SELF-AUDITS: it raises if an
    Exchange appears upstream of the join (bucketing silently falling
    back to shuffle is a layout regression, not a slower plan), so the
    driver run certifies the plan shape AND hash-checks the result
    against the plain-join oracle.  Write-then-read is the honest cost
    here, same discipline as the classifier training queries; the
    per-bucket-file layout itself is further pytest-certified in
    tests/test_scale_ops.py."""
    import uuid

    from .sinks import write_bucketed

    suffix = uuid.uuid4().hex[:8]
    bo, bl = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    # every-5th-key slice: the layout write is the honest cost of this
    # query and the plan shape is volume-independent, so keep the bench
    # contribution proportionate
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    try:
        write_bucketed(orders, bo, ["o_orderkey"], 16)
        write_bucketed(lineitem, bl, ["l_orderkey"], 16)
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(bl).join(
                spark.table(bo),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            join_plan = joined._jdf.queryExecution().executedPlan().toString()
            if "Exchange hashpartitioning" in join_plan:
                raise RuntimeError(
                    "bucketed join plan contains a shuffle Exchange — "
                    "bucket spec was not used for co-location"
                )
            res = (
                joined.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.round(
                        F.sum(
                            F.col("l_extendedprice")
                            * (F.lit(1) - F.col("l_discount"))
                        ),
                        2,
                    ).alias("revenue"),
                )
                .localCheckpoint()  # materialize before the tables drop
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bo}")
        spark.sql(f"DROP TABLE IF EXISTS {bl}")
    return res


@q(
    "url_canonical_docs",
    """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END)
         || '://'
         || (CASE WHEN doc_id % 2 = 0
                  THEN 'WWW.Site' || CAST(doc_id % 37 AS VARCHAR)
                       || '.Example.COM'
                  ELSE 'site' || CAST(doc_id % 37 AS VARCHAR)
                       || '.example.com' END)
         || (CASE WHEN doc_id % 5 = 0 THEN
                    (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
                  WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
         || '/a/B' || CAST(doc_id % 11 AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 6 = 0 THEN '?b=2&utm_source=news&a=1'
                  WHEN doc_id % 6 = 1 THEN '?a=1&b=2'
                  WHEN doc_id % 6 = 2 THEN '?fbclid=xyz'
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents)
SELECT doc_id, url,
       (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END)
       || '://site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com'
       || (CASE WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
       || '/a/B' || CAST(doc_id % 11 AS VARCHAR)
       || (CASE WHEN doc_id % 6 IN (0, 1) THEN '?a=1&b=2' ELSE '' END)
         AS canonical_url
FROM u
""",
)
def url_canonical_docs(spark, sf_dir):
    """URL canonicalization — the first primitive of crawl-scale dedup
    (functions/scalar.py canonicalize_url): lowercase scheme/host, drop
    ``www.``, strip scheme-default ports (keep explicit non-defaults),
    remove tracking params (``utm_*``/fbclid/gclid/msclkid), SORT the
    surviving params, drop fragments, strip non-root trailing slashes —
    all as ONE try_parse_url + array-builtin expression inside
    whole-stage codegen (no Python at ingest rates; malformed URLs go to
    NULL instead of killing the job, per try_parse_url).  The fixture
    synthesizes a messy URL per document from doc_id (mixed case, www,
    default and non-default ports, shuffled/tracking params, fragments,
    trailing slashes — 2×2×3×... variant grid); the ORACLE states the
    expected canonical string directly from the same arithmetic, so
    Spark's actual parse of the messy form is checked against an
    independent construction, not against itself.  Scale shape:
    map-only; URL-level dedup afterwards is one exact groupBy on the
    canonical key (dedup_exact_docs' certified path)."""
    from .functions.scalar import canonicalize_url

    k = F.col("doc_id")
    url = F.concat(
        F.when(k % 3 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(
            k % 2 == 0,
            F.concat(
                F.lit("WWW.Site"),
                (k % 37).cast("string"),
                F.lit(".Example.COM"),
            ),
        ).otherwise(
            F.concat(
                F.lit("site"), (k % 37).cast("string"), F.lit(".example.com")
            )
        ),
        F.when(
            k % 5 == 0,
            F.when(k % 3 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(k % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/a/B"),
        (k % 11).cast("string"),
        F.when(k % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 6 == 0, F.lit("?b=2&utm_source=news&a=1"))
        .when(k % 6 == 1, F.lit("?a=1&b=2"))
        .when(k % 6 == 2, F.lit("?fbclid=xyz"))
        .otherwise(F.lit("")),
        F.when(k % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", url.alias("url"))
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
    )


@q(
    "bloom_semi_join_lineitem",
    """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""",
)
def bloom_semi_join_lineitem(spark, sf_dir):
    """Bloom-pruned semi-join (operators/bloom.py): lineitem semi-joined
    to urgent orders with a KB-sized blocked Bloom bitmap pruning the
    probe side MAP-SIDE, before the sort-merge exchange — the explicit
    form of Spark's internal runtime row-level filtering (SPARK-32268),
    stated as an operator because `bloom_filter_agg` is not SQL-exposed
    and the injection heuristics are opaque.  Bloom admits every true
    match (no false negatives) + ~0.1% false positives; the exact
    semi-join scrubs those, so the result is row-identical to the plain
    semi-join oracle while the shuffle moves only the surviving sliver.
    Broadcast is disabled inside the query so the scrub join exhibits
    the sort-merge shape this pattern exists for (with broadcast on, the
    scrub would broadcast and there would be no probe exchange to
    prune); the prune-below-exchange plan shape is asserted in
    tests/test_plans_physical.py and zero-false-negative is
    property-tested in tests/test_operators.py.  Scale shape: bitmap
    size is m bits regardless of build-side rows; probe side reads
    3 columns and filters at scan rate inside whole-stage codegen."""
    from .operators.bloom import bloom_semi_join

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pruned = bloom_semi_join(
            lineitem, orders, probe_key="l_orderkey", build_key="o_orderkey"
        )
        res = (
            pruned.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(
                        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                    ),
                    2,
                ).alias("revenue"),
            )
            .localCheckpoint()  # materialize under the no-broadcast conf
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    return res


@q(
    "k_anonymity_customers",
    """
WITH ec AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS c
  FROM customer GROUP BY 1, 2
),
ks AS (SELECT unnest([2, 5, 10]) AS k)
SELECT k,
       CAST(count(*) FILTER (WHERE c < k) AS BIGINT) AS n_violating_classes,
       CAST(coalesce(sum(c) FILTER (WHERE c < k), 0) AS BIGINT)
         AS n_violating_rows,
       round(coalesce(sum(c) FILTER (WHERE c < k), 0) * 1.0 / sum(c), 6)
         AS suppression_rate
FROM ec CROSS JOIN ks
GROUP BY k
""",
)
def k_anonymity_customers(spark, sf_dir):
    """k-anonymity risk report over the quasi-identifier pair
    (nationkey, mktsegment): for each disclosure threshold k, how many
    equivalence classes are smaller than k and what fraction of rows
    would need suppression to publish k-anonymously — the re-identification
    audit a training-data pipeline runs BEFORE releasing a corpus joined
    from user-adjacent tables (small QI classes = linkable individuals;
    complements redact_pii_docs, which scrubs direct identifiers but not
    quasi-identifier combinations).  Scale shape: ONE map-side-combined
    hash agg collapses the corpus to its equivalence classes (bounded by
    the QI domain product, not rows), then the ×3 threshold explode and
    final agg run on that tiny frame — the 100-TB cost is the same as
    any single groupBy-count."""
    ec = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    k = F.col("k")
    viol = F.when(F.col("c") < k, F.col("c")).otherwise(F.lit(0))
    return (
        ec.withColumn(
            "k", F.explode(F.array(F.lit(2), F.lit(5), F.lit(10)))
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("c") < k, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_classes"),
            F.sum(viol).cast("bigint").alias("n_violating_rows"),
            F.round(F.sum(viol) / F.sum("c"), 6).alias("suppression_rate"),
        )
    )


_PSI_SPLIT_SQL = "TIMESTAMP '2024-01-16 00:00:00'"


@q(
    "drift_psi_events",
    f"""
WITH g AS (
  SELECT event_type,
         count(*) FILTER (WHERE ts < {_PSI_SPLIT_SQL}) AS nr,
         count(*) FILTER (WHERE ts >= {_PSI_SPLIT_SQL}) AS nc
  FROM events WHERE ts <= {NOW_SQL} GROUP BY 1
),
t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM g),
pq AS (
  SELECT event_type,
         greatest(nr * 1.0 / tr, 1e-6) AS p,
         greatest(nc * 1.0 / tc, 1e-6) AS q
  FROM g CROSS JOIN t
)
SELECT event_type,
       round(p, 6) AS p_ref, round(q, 6) AS q_cur,
       round((q - p) * ln(q / p), 6) AS psi_term
FROM pq
""",
)
def drift_psi_events(spark, sf_dir):
    """Population Stability Index per event_type between a reference
    window (Jan 1-15) and the current window (Jan 16-31): the standard
    feature-drift gate a training pipeline runs before folding a new
    crawl/ingest slice into the corpus (PSI > 0.2 on any feature =
    investigate before training).  Per-category terms are returned
    rather than only the scalar sum so the drifting category is
    attributable; proportions are clamped at 1e-6 in BOTH engines — a
    category absent from one window otherwise yields ln(0) = -inf, and
    the clamp is the standard PSI smoothing, stated explicitly rather
    than trusting either engine's silent NULL propagation.  Scale
    shape: ONE conditional hash agg over the corpus (both window counts
    in the same pass — no second scan), totals via a single-row
    broadcast cross join onto the ≤|event_type| grouped frame."""
    from datetime import datetime

    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    g = (
        # ts_range pushes the raw-ns upper bound to the parquet scan
        load_table(
            spark, sf_dir, "events", ts_range=(datetime(1970, 1, 1), PINNED_NOW)
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("nr"),
            F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("nc"),
        )
    )
    return _psi_tail(g)


def _psi_tail(g: DataFrame) -> DataFrame:
    """Shared PSI arithmetic over a (event_type, nr, nc) count frame —
    the batch query and its streaming twin diverge only in WHO maintains
    the counts; the O(|categories|) score math is identical."""
    t = g.agg(F.sum("nr").alias("tr"), F.sum("nc").alias("tc"))
    p = F.greatest(F.col("nr") / F.col("tr"), F.lit(1e-6))
    q = F.greatest(F.col("nc") / F.col("tc"), F.lit(1e-6))
    return g.crossJoin(F.broadcast(t)).select(
        "event_type",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("q_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


@q("stream_drift_psi_events", SUITE["drift_psi_events"][1])
def stream_drift_psi_events(spark, sf_dir):
    """§2.9 STREAMING twin of drift_psi_events, sharing its oracle: the
    per-category reference/current counts are maintained as ONE running
    streaming aggregation (streaming/monitor.py stream_drift_counts —
    state is one row per category, bounded by the feature domain, never
    by stream length) drained with availableNow into the memory sink;
    the O(|categories|) PSI arithmetic is then a static view over the
    drained state (_psi_tail, the identical expression tree as the
    batch twin).  This is the production shape of a corpus drift
    monitor: counts tick as ingest lands, the score is read off the
    maintained state without a second corpus pass."""
    import uuid

    from datetime import datetime

    from .streaming import run_to_memory
    from .streaming.monitor import stream_drift_counts

    name = f"psi_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = run_to_memory(
            stream_drift_counts(
                spark,
                _staged_events(spark, sf_dir),
                split=datetime(2024, 1, 16),
                now=PINNED_NOW,
            ),
            name,
            "complete",
        )
        q.stop()
    return _psi_tail(spark.table(name))


@q(
    "containment_neardup_docs",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 10000),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / least(sa.n, sb.n), 4) AS containment,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i * 1.0 / least(sa.n, sb.n), 4) >= 0.5
""",
)
def containment_neardup_docs(spark, sf_dir):
    """ASYMMETRIC near-dup: max-containment |A∩B|/min(|A|,|B|) ≥ 0.5
    (operators/neardup.py containment_pairs).  Jaccard punishes size
    mismatch — a short doc fully embedded in a long one (quote
    inflation, boilerplate wrappers, article+comments scrapes) scores
    J = |A|/|B| → 0 and survives a 0.8 Jaccard dedup pass; containment
    is the score that catches doc-inside-doc, and the jaccard column
    rides along to make the missed pairs visible (high C, low J).
    Shares jaccard_pairs' inverted-index core and hot-shingle cap, so
    the 100-TB posture is identical: hash joins/aggs on shingle and
    pair keys, no cross product, quadratic-blowup stop-phrases capped
    on both the intersection and size sides.

    Why the inverted index and NOT a prefix filter at THIS threshold
    (measured, sf1): at t=0.5 the containment prefix is HALF of every
    set, so prefix candidates ≈ all co-occurring pairs (12.9M of
    ~15M at sf1) and the per-candidate verify join explodes
    (155s) where the self-join's map-side-combined aggregation
    computes the same intersections in 24s.  Prefix filtering pays
    off only when (1−t)·|X| ≪ |X| — see containment_prefix_neardup_docs
    (t=0.9: 2.5k candidates, 17s vs 68s) for the high-threshold
    regime on the prefix plan.

    Scale class: OUTPUT-BOUND on duplication-heavy corpora — a dup
    group of size g contributes g²/2 true pairs, so on the sf1 scale
    fixture (10 perturbed copies per doc at C≈0.62 ≥ 0.5, tuned to
    dodge the 0.8 jaccard gate but not this one) the TRUE result
    grows ×979 (256 → 250,600 pairs) at ×10 data.  No algorithm that
    emits the qualifying pairs can beat its own output size; per-pair
    cost is flat (SCALE_r14)."""
    from .operators.neardup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@q(
    "containment_prefix_neardup_docs",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 10000),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / least(sa.n, sb.n), 4) AS containment,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i * 1.0 / least(sa.n, sb.n), 4) >= 0.9
""",
)
def containment_prefix_neardup_docs(spark, sf_dir):
    """HIGH-threshold containment (C ≥ 0.9 — the "is this doc a
    mirror/embed of another" sweep) on the CONTAINMENT-ADAPTED prefix
    filter (operators/neardup.py containment_prefix_pairs): the
    smaller set's ⌈(1−t)·|X|⌉+1 globally-rarest shingles joined
    against FULL posting lists — the asymmetric pigeonhole, since a
    tiny doc can sit anywhere inside a huge one — then exact
    verification over candidates only.

    The ORACLE states the plain inverted-index formulation, so every
    driver hash check re-certifies prefix ≡ inverted-index on the
    live corpus (the _shared_pairs("jaccard") pattern; bit-equality
    also property-tested incl. a tripped doc-freq cap).  This is the
    regime where the prefix plan WINS — measured at sf1: 2.5k
    candidates vs 15M co-occurring pairs, 17s vs 68s on the same
    corpus — whereas at t=0.5 the prefix is half of every set,
    candidates ≈ all co-occurring pairs, and the aggregation plan of
    containment_neardup_docs is the right one (its docstring carries
    the numbers).  Scale shape: one df-count agg feeding the rarity
    order, one bounded per-doc window, prefix ⋈ postings candidate
    join whose volume is Σ_{s ∈ prefixes} df(s) — bounded by per-doc
    RAREST frequencies — then candidate-restricted verify."""
    from .operators.neardup import containment_prefix_pairs

    return containment_prefix_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.9
    )


@q(
    "l_diversity_customers",
    """
WITH sv AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS c
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey,
       CAST(sum(c) AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS distinct_l,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
       count(*) < 3 AS below_l3
FROM sv GROUP BY c_nationkey
""",
)
def l_diversity_customers(spark, sf_dir):
    """l-diversity companion to k_anonymity_customers: per QI class
    (nationkey), how many DISTINCT sensitive values (mktsegment) it
    contains and their Shannon entropy — a class can be k-anonymous yet
    100% 'AUTOMOBILE', which still discloses the attribute
    (homogeneity attack; Machanavajjhala et al. 2007).  distinct-l is
    the hard floor, entropy grades how evenly the sensitive values
    spread; classes with l < 3 are flagged.  Scale shape: two
    map-side-combined hash aggs — corpus → (QI, sensitive) cells, cells
    → class stats — both bounded by domain products, never rows; the
    entropy sum runs on the tiny cell frame."""
    sv = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = F.sum("c")
    # entropy from power sums in ONE agg: -Σ(c/T)ln(c/T) =
    # ln(T) - Σ(c·ln c)/T — avoids a per-class window pass
    return sv.groupBy("c_nationkey").agg(
        total.cast("bigint").alias("class_size"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_l"),
        F.round(
            F.log(total) - F.sum(F.col("c") * F.log("c")) / total, 6
        ).alias("entropy"),
        (F.count(F.lit(1)) < 3).alias("below_l3"),
    )


@q(
    "cusum_changepoint_events",
    f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events WHERE ts <= {NOW_SQL} GROUP BY 1, 2
),
c AS (
  SELECT event_type, day, x,
         sum(x) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - (row_number() OVER (PARTITION BY event_type ORDER BY day))
           * (avg(x) OVER (PARTITION BY event_type)) AS cusum
  FROM daily
)
SELECT event_type, day AS changepoint_day,
       round(abs(cusum), 4) AS max_abs_cusum
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum) DESC, day) AS rn
  FROM c
) WHERE rn = 1
""",
)
def cusum_changepoint_events(spark, sf_dir):
    """CUSUM changepoint detection per event stream: the day where the
    cumulative deviation from the period mean peaks — the standard
    single-changepoint estimator (Page 1954) a data pipeline runs over
    ingest volumes to localize WHEN a feed changed behavior (the PSI
    gate says THAT a window drifted; CUSUM says where to cut).  Stated
    as sum(x)−t·mean rather than sum(x−mean) so both engines compute
    the identical float expression.  Scale shape: the corpus collapses
    to |type|×|days| daily counts in ONE map-side-combined agg; the
    window passes (running sum, partition mean, argmax) all share one
    partitioning on event_type over that tiny frame — rows never
    re-enter."""
    from datetime import datetime

    daily = (
        load_table(
            spark, sf_dir, "events", ts_range=(datetime(1970, 1, 1), PINNED_NOW)
        )
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    worder = Window.partitionBy("event_type").orderBy("day")
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("event_type")
    c = daily.withColumn(
        "cusum",
        F.sum("x").over(wcum)
        - F.row_number().over(worder) * F.avg("x").over(wall),
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.abs(F.col("cusum")).desc(), F.col("day")
        )
    )
    return (
        c.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("cusum")), 4).alias("max_abs_cusum"),
        )
    )


@q(
    "embed_drift_centroid",
    """
WITH d AS (SELECT vec_id % 2 AS slice, embedding::DOUBLE[] AS v
           FROM embeddings),
pos AS (SELECT slice, i, v[i] AS x
        FROM d, unnest(range(1, len(v) + 1)) AS t(i)),
c AS (SELECT slice, i, avg(x) AS m FROM pos GROUP BY 1, 2),
j AS (
  SELECT sum(a.m * b.m) AS dot,
         sum(a.m * a.m) AS n0, sum(b.m * b.m) AS n1,
         sum((a.m - b.m) * (a.m - b.m)) AS d2
  FROM c a JOIN c b USING (i)
  WHERE a.slice = 0 AND b.slice = 1
)
SELECT round(dot / (sqrt(n0) * sqrt(n1)), 6) AS cos_centroid,
       round(sqrt(n1) / sqrt(n0), 6) AS norm_ratio,
       round(sqrt(d2), 6) AS mean_shift
FROM j
""",
)
def embed_drift_centroid(spark, sf_dir):
    """Embedding-space drift: cosine / norm-ratio / euclidean shift
    between the CENTROIDS of two corpus slices — the third leg of the
    drift trio (drift_psi_events: categorical proportions;
    cusum_changepoint_events: when counts broke; this: whether the
    REPRESENTATION moved, e.g. an encoder version change or a new
    source skewing the embedding distribution, which PSI over metadata
    cannot see).  Slices here are the deterministic vec_id parity —
    stand-ins for the time windows a production monitor would use.
    Scale shape: posexplode to (slice, dim, value) is map-only; the
    ONLY corpus-sized shuffle is one avg agg on (slice, dim) with
    associative map-side partials (2·dims output rows); the centroid
    join and score math run on the dims-sized frame."""
    d = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("slice"),
        F.posexplode("embedding").alias("pos", "x"),
    )
    c = d.groupBy("slice", "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    a = c.filter(F.col("slice") == 0).select("pos", F.col("m").alias("m0"))
    b = c.filter(F.col("slice") == 1).select("pos", F.col("m").alias("m1"))
    m0, m1 = F.col("m0"), F.col("m1")
    return (
        a.join(b, "pos")
        .agg(
            F.sum(m0 * m1).alias("dot"),
            F.sum(m0 * m0).alias("n0"),
            F.sum(m1 * m1).alias("n1"),
            F.sum((m0 - m1) * (m0 - m1)).alias("d2"),
        )
        .select(
            F.round(F.col("dot") / (F.sqrt("n0") * F.sqrt("n1")), 6).alias(
                "cos_centroid"
            ),
            F.round(F.sqrt("n1") / F.sqrt("n0"), 6).alias("norm_ratio"),
            F.round(F.sqrt("d2"), 6).alias("mean_shift"),
        )
    )


@q(
    "drift_psi_value_events",
    f"""
WITH s AS (
  SELECT list_sort(list(CAST(value AS DOUBLE))) AS v, count(*) AS n
  FROM events WHERE ts < {_PSI_SPLIT_SQL}
),
ed AS (
  SELECT f,
         (v[CAST(floor(f * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(f * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(f * (n - 1)) AS BIGINT) + 1])
            * (f * (n - 1) - floor(f * (n - 1)))) AS edge
  FROM s, unnest([0.25, 0.5, 0.75]) AS t(f)
),
e AS (
  SELECT max(CASE WHEN f = 0.25 THEN edge END) AS q1,
         max(CASE WHEN f = 0.50 THEN edge END) AS q2,
         max(CASE WHEN f = 0.75 THEN edge END) AS q3
  FROM ed
),
binned AS (
  SELECT CASE WHEN CAST(value AS DOUBLE) >= q3 THEN 3
              WHEN CAST(value AS DOUBLE) >= q2 THEN 2
              WHEN CAST(value AS DOUBLE) >= q1 THEN 1
              ELSE 0 END AS bin,
         ts
  FROM events CROSS JOIN e WHERE ts <= {NOW_SQL}
),
g AS (
  SELECT bin,
         count(*) FILTER (WHERE ts < {_PSI_SPLIT_SQL}) AS nr,
         count(*) FILTER (WHERE ts >= {_PSI_SPLIT_SQL}) AS nc
  FROM binned GROUP BY bin
),
t AS (SELECT sum(nr) AS tr, sum(nc) AS tc FROM g)
SELECT bin,
       round(greatest(nr * 1.0 / tr, 1e-6), 6) AS p_ref,
       round(greatest(nc * 1.0 / tc, 1e-6), 6) AS q_cur,
       round((greatest(nc * 1.0 / tc, 1e-6) - greatest(nr * 1.0 / tr, 1e-6))
             * ln(greatest(nc * 1.0 / tc, 1e-6)
                  / greatest(nr * 1.0 / tr, 1e-6)), 6) AS psi_term
FROM g CROSS JOIN t
""",
)
def drift_psi_value_events(spark, sf_dir):
    """NUMERIC-feature PSI: the value column binned by the REFERENCE
    window's quartiles, then the same (q−p)·ln(q/p) terms as the
    categorical gate — the standard production check for a continuous
    feature (bin edges frozen on the reference so 'the distribution
    moved' is measured against a fixed ruler, not a moving one).
    Quartile edges use Spark's exact `percentile` with the oracle
    replaying the identical index-interpolation over a sorted list (the
    outlier_mad discipline); when (n−1)·f lands on an integer both
    engines return the order statistic bit-exactly, so boundary rows
    cannot flip bins.  Like outlier_mad_events, the exact-percentile
    edge pass buffers the reference window in one agg buffer — this is
    the ORACLE-CHECKABLE AUDIT form; at 100 TB the production edges
    come from approx_percentile exactly as in outlier_mad_approx_events
    (any consistent edge set is semantically valid for PSI — only
    determinism matters for the hash).  Scale shape: two corpus scans
    (edges, then binning — honest for frozen-ruler semantics), binning
    is map-side against a broadcast single-row edge frame, final PSI on
    the 4-row bin frame."""
    from datetime import datetime

    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = load_table(
        spark, sf_dir, "events", ts_range=(datetime(1970, 1, 1), PINNED_NOW)
    ).select("ts", F.col("value").cast("double").alias("x"))
    edges = (
        ev.filter(F.col("ts") < split)
        .agg(
            F.percentile(F.col("x"), F.lit(0.25)).alias("q1"),
            F.percentile(F.col("x"), F.lit(0.50)).alias("q2"),
            F.percentile(F.col("x"), F.lit(0.75)).alias("q3"),
        )
    )
    binned = ev.crossJoin(F.broadcast(edges)).select(
        F.when(F.col("x") >= F.col("q3"), 3)
        .when(F.col("x") >= F.col("q2"), 2)
        .when(F.col("x") >= F.col("q1"), 1)
        .otherwise(0)
        .alias("bin"),
        "ts",
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("nc"),
    )
    t = g.agg(F.sum("nr").alias("tr"), F.sum("nc").alias("tc"))
    p = F.greatest(F.col("nr") / F.col("tr"), F.lit(1e-6))
    q = F.greatest(F.col("nc") / F.col("tc"), F.lit(1e-6))
    return g.crossJoin(F.broadcast(t)).select(
        "bin",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("q_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


@q(
    "dp_noisy_counts_events",
    """
WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
u AS (
  SELECT event_type, n,
         (('0x' || substr(md5('dp:' || event_type), 1, 8))::BIGINT + 0.5)
           / 4294967296.0 AS u
  FROM g
)
SELECT event_type, CAST(n AS BIGINT) AS n_raw,
       round(n - sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
         AS noisy_count
FROM u
""",
)
def dp_noisy_counts_events(spark, sf_dir):
    """Differentially-private count release (ε = 1, sensitivity 1):
    per-category counts plus Laplace(1/ε) noise via inverse-CDF —
    u uniform in (0,1), noise = −b·sign(u−½)·ln(1−2|u−½|) — completing
    the privacy family (redact_pii scrubs direct identifiers,
    k_anonymity/l_diversity audit quasi-identifier risk; this is the
    RELEASE mechanism for aggregate statistics).  The uniform is
    deterministic — md5('dp:'||key) hex → (0,1), the repo's replayable-
    sampling idiom — so both engines replay the identical noise draw
    and the driver hash checks the mechanism's arithmetic end-to-end;
    a production release would draw fresh randomness per publication
    and DROP n_raw (kept here as the audit column).  Scale shape: ONE
    map-side-combined count agg; the noise math runs on the
    |categories| frame."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    noise = -F.signum(u - 0.5) * F.log(1 - 2 * F.abs(u - 0.5))
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_raw"),
        F.round(F.col("n") + noise, 4).alias("noisy_count"),
    )


@q(
    "source_overlap_docs",
    """
WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT source, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       round(i * 1.0 / sa.n, 4) AS containment_ab
FROM inter
JOIN sizes sa ON sa.source = source_a
""",
)
def source_overlap_docs(spark, sf_dir):
    """Corpus-level overlap accounting: for every ordered source pair,
    what fraction of source A's distinct shingles also appear in source
    B — the dataset-curation matrix behind 'is source X already covered
    by Y' (licensing exposure, dedup priority, mixture double-counting).
    Doc-level containment finds individual embedded documents; this
    collapses each SOURCE to its shingle set first, so the join runs on
    |sources| × shingle-vocabulary rows, not documents — at 100 TB the
    distinct-(source, shingle) agg is the only corpus-sized pass and is
    map-side combined; the self-join operates on the deduplicated
    vocabulary frame (the ordered-pair output is |sources|² rows).  No
    hot-shingle cap here, deliberately: overlap accounting must count
    common shingles — dropping them understates exposure; the quadratic
    pair risk the cap guards against does not exist at source
    granularity."""
    from .operators.neardup import shingles

    sh = shingles(
        load_table(spark, sf_dir, "documents"), n=3, id_col="source"
    ).withColumnRenamed("doc_id", "source")
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), F.col("shingle").alias("s"))
    b = sh.select(F.col("source").alias("source_b"), F.col("shingle").alias("s"))
    inter = (
        a.join(b, "s")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    return inter.join(sa, "source_a").select(
        "source_a",
        "source_b",
        F.round(F.col("i") / F.col("na"), 4).alias("containment_ab"),
    )


@q(
    "decayed_counts_events",
    f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_raw,
       round(sum(pow(0.5, date_diff('microsecond', ts, {NOW_SQL})
                          / 86400000000.0 / 7.0)), 4) AS decayed_count
FROM events WHERE ts <= {NOW_SQL}
GROUP BY event_type
""",
)
def decayed_counts_events(spark, sf_dir):
    """Exponentially time-decayed counts (half-life 7 days, pinned
    NOW): the freshness-weighted popularity statistic behind trending
    detection and recency-weighted mixture weights — a raw count treats
    a hit 30 days ago like one 3 minutes ago; the decayed count is
    dominated by the recent window without needing a hard cutoff.
    Computed as Σ 0.5^(age_days/7) in ONE map-side-combined agg (decay
    per row then sum — associative, unlike a post-hoc discount of the
    total), with age from microsecond deltas so both engines share the
    exact arithmetic.  Scale shape: identical to any groupBy-count —
    the decay is a scan-rate expression inside whole-stage codegen."""
    from datetime import datetime

    ev = load_table(
        spark, sf_dir, "events", ts_range=(datetime(1970, 1, 1), PINNED_NOW)
    )
    age_days = (
        F.unix_micros(F.lit(PINNED_NOW).cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / 86_400_000_000.0
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.round(F.sum(F.pow(F.lit(0.5), age_days / 7.0)), 4).alias(
            "decayed_count"
        ),
    )


_SCORECARD_SQL = f"""
WITH cat AS ({{cat}}),
val AS ({{val}}),
emb AS ({{emb}})
SELECT 'psi_event_type' AS monitor, round(sum(psi_term), 6) AS score FROM cat
UNION ALL
SELECT 'psi_value_quartiles' AS monitor, round(sum(psi_term), 6) AS score FROM val
UNION ALL
SELECT 'embed_centroid_shift' AS monitor, round(sum(mean_shift), 6) AS score FROM emb
"""


@q(
    "drift_scorecard_events",
    None,  # oracle bound after all three component oracles exist (below)
)
def drift_scorecard_events(spark, sf_dir):
    """The drift trio composed into ONE scorecard frame — (monitor,
    score) rows for categorical PSI, quartile-binned value PSI, and
    embedding centroid shift: the single source a monitoring dashboard
    or a train/no-train gate reads.  Composition is the point (the
    training_manifest discipline): each component is the already-
    certified query function, collapsed to its headline scalar and
    unioned, so this query pins the STAGE HANDOFF — a schema or
    semantics change in any component breaks the scorecard hash, not
    just the component's own check.  The oracle is built the same way,
    by nesting the three component oracle SQLs as CTEs.  Scale shape:
    the union of three independent subplans, each already certified
    linear at sf1; nothing is recomputed twice."""
    parts = [
        ("psi_event_type", drift_psi_events(spark, sf_dir), "psi_term"),
        (
            "psi_value_quartiles",
            drift_psi_value_events(spark, sf_dir),
            "psi_term",
        ),
        (
            "embed_centroid_shift",
            embed_drift_centroid(spark, sf_dir),
            "mean_shift",
        ),
    ]
    out = None
    for name, df, col in parts:
        one = df.agg(F.round(F.sum(col), 6).alias("score")).select(
            F.lit(name).alias("monitor"), "score"
        )
        out = one if out is None else out.unionAll(one)
    return out


SUITE["drift_scorecard_events"] = (
    SUITE["drift_scorecard_events"][0],
    _SCORECARD_SQL.format(
        cat=SUITE["drift_psi_events"][1],
        val=SUITE["drift_psi_value_events"][1],
        emb=SUITE["embed_drift_centroid"][1],
    ),
)


@q(
    "rrf_fusion_docs",
    f"""
WITH {_HASH_EMBED_CTE},
qv AS (SELECT doc_id, dim_idx, w FROM sp WHERE doc_id < 5),
dots AS (
  SELECT qv.doc_id AS query_id, e.doc_id AS neighbor_id, sum(e.w * qv.w) AS dot
  FROM sp e JOIN qv ON e.dim_idx = qv.dim_idx AND e.doc_id <> qv.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, dots.dot / (ne.nrm * nq.nrm) AS cos
  FROM dots
  JOIN n ne ON ne.doc_id = dots.neighbor_id
  JOIN n nq ON nq.doc_id = dots.query_id
),
sem AS (
  SELECT query_id, neighbor_id AS doc_id, r FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS r
    FROM scored
  ) WHERE r <= 10
),
jtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
jidx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM jtoks),
jsh0 AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM jidx),
jhot AS (SELECT s FROM jsh0 GROUP BY s HAVING count(*) > 10000),
jsh AS MATERIALIZED (SELECT doc_id, s FROM jsh0 WHERE s NOT IN (SELECT s FROM jhot)),
jsz AS (SELECT doc_id, count(*) AS nn FROM jsh GROUP BY doc_id),
jinter AS (
  SELECT q.doc_id AS query_id, d.doc_id AS doc_id, count(*) AS i
  FROM jsh q JOIN jsh d ON q.s = d.s AND q.doc_id < 5 AND d.doc_id <> q.doc_id
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id, r FROM (
    SELECT query_id, jinter.doc_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY i * 1.0 / (sq.nn + sd.nn - i) DESC, jinter.doc_id
           ) AS r
    FROM jinter
    JOIN jsz sq ON sq.doc_id = query_id
    JOIN jsz sd ON sd.doc_id = jinter.doc_id
  ) WHERE r <= 10
),
fused AS (
  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
         coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         coalesce(1.0 / (60 + lex.r), 0) + coalesce(1.0 / (60 + sem.r), 0)
           AS rrf
  FROM lex FULL JOIN sem
    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
)
SELECT query_id, doc_id, round(rrf, 6) AS rrf_score, fused_rank FROM (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS fused_rank
  FROM fused
) WHERE fused_rank <= 10
""",
)
def rrf_fusion_docs(spark, sf_dir):
    """HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): a lexical ranking (3-gram Jaccard, the sparse/keyword
    system) and a semantic ranking (hash-embedding cosine, the dense
    system) over the same query documents, fused as
    Σ 1/(60 + rank) with a full outer join — the standard production
    shape for hybrid search, where fusion needs only RANKS, never
    score calibration between incomparable systems.  Both component
    rankings are already-certified machinery (shingles/jaccard core,
    hash_embed + cosine_topk); fusion adds one tiny outer join and a
    re-rank over ≤ 20 rows per query.  Scale shape: each system's
    top-k is corpus-scale work already certified linear; the fusion
    stage is O(queries × k).  RRF scores are sums of exact small
    rationals (1/61..1/70), so both engines agree bit-for-bit before
    the 1e-6 rounding."""
    from .operators.similarity import cosine_topk
    from .operators.text import hash_embed

    docs = load_table(spark, sf_dir, "documents")
    # semantic arm: dense hash-embeddings, exact cosine top-10
    emb = hash_embed(docs, dim=64)
    sem = cosine_topk(
        emb, emb.filter(F.col("doc_id") < 5), k=10, id_col="doc_id"
    ).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem")
    )
    # lexical arm: capped 3-gram Jaccard, top-10 per query doc
    sh = _shared_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nn"))
    q = sh.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    d = sh.select(F.col("doc_id").alias("doc_id"), "shingle")
    inter = (
        q.join(d, "shingle")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sq = sizes.select(F.col("doc_id").alias("query_id"), F.col("nn").alias("nq"))
    sd = sizes.select("doc_id", F.col("nn").alias("nd"))
    jac = F.col("i") / (F.col("nq") + F.col("nd") - F.col("i"))
    wl = Window.partitionBy("query_id").orderBy(jac.desc(), F.col("doc_id"))
    lex = (
        inter.join(sq, "query_id")
        .join(sd, "doc_id")
        .withColumn("r_lex", F.row_number().over(wl))
        .filter(F.col("r_lex") <= 10)
        .select("query_id", "doc_id", "r_lex")
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(1.0 / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("rrf"), 6).alias("rrf_score"),
            "fused_rank",
        )
    )


@q("entity_clusters_star_parts", _ENTITY_CC_SQL)
def entity_clusters_star_parts(spark, sf_dir):
    """The SAME entity-resolution clustering as entity_clusters_parts,
    resolved by large-star/small-star contraction
    (operators/graph.py connected_components_star, Kiveris et al. SoCC
    2014) instead of min-label propagation — and hash-checked against
    the SAME recursive-CTE oracle, so the two distributed CC kernels
    are proven interchangeable on real fuzzy-match edges, not just on
    synthetic property-test graphs.  Why two kernels: label propagation
    moves one hop per round (O(diameter) shuffles — fine for near-dup
    pairs/triples), star contraction rewires the graph and converges in
    O(log n) rounds on ANY topology — on a 100-TB edge set with long
    merge chains that is ~6 shuffle rounds instead of ~60.  Singleton
    records never enter the edge set; the join-back labels them as
    their own cluster."""
    from .operators.graph import connected_components_star
    from .operators.linkage import blocked_fuzzy_join

    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.concat(F.lit("d:"), F.col("p_partkey").cast("string")).alias("rid"),
        "p_brand",
        F.concat(
            F.substring("p_name", 1, 3),
            F.lit("zz"),
            F.expr("substring(p_name, 6)"),
        ).alias("name"),
    )
    clean = part.select(
        F.concat(F.lit("c:"), F.col("p_partkey").cast("string")).alias("crid"),
        "p_brand",
        F.col("p_name").alias("cname"),
    )
    edges = blocked_fuzzy_join(
        dirty,
        clean,
        block_cols=["p_brand"],
        dirty_text="name",
        clean_text="cname",
        dirty_id="rid",
        clean_id="crid",
        max_dist=2,
        keep="all",
    )
    recs = dirty.select("rid").unionByName(
        clean.select(F.col("crid").alias("rid"))
    )
    comp = connected_components_star(edges.select("rid", "crid"))
    return recs.join(
        comp.withColumnRenamed("node", "rid"), "rid", "left"
    ).select(
        F.col("rid").alias("record_id"),
        F.coalesce(F.col("component"), F.col("rid")).alias("cluster"),
        (
            F.coalesce(F.col("component"), F.col("rid")) == F.col("rid")
        ).alias("is_survivor"),
    )


@q(
    "rendezvous_shard_docs",
    """
WITH h AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || i), 1, 12))::BIGINT
           AS hv
  FROM documents, unnest(range(0, 11)) AS t(i)
),
a10 AS (SELECT doc_id, arg_max(i, hv) AS s FROM h WHERE i < 10 GROUP BY doc_id),
a11 AS (SELECT doc_id, arg_max(i, hv) AS s FROM h GROUP BY doc_id)
SELECT a10.s AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE a10.s <> a11.s) AS BIGINT) AS n_moved,
       CAST(count(*) FILTER (WHERE a10.s <> a11.s AND a11.s = 10) AS BIGINT)
         AS n_moved_to_new
FROM a10 JOIN a11 USING (doc_id)
GROUP BY a10.s
""",
)
def rendezvous_shard_docs(spark, sf_dir):
    """Rendezvous sharding under a RESIZE (functions/scalar.py
    rendezvous_shard): every document assigned at 10 shards and again
    at 11, reporting per-shard occupancy and churn.  The consistency
    contract is IN the output: n_moved == n_moved_to_new for every
    shard (a key only ever moves to the shard that newly won it —
    pmod-placement would scatter movers everywhere), and Σ n_moved ≈
    |docs|/11.  Both engines replay the identical md5-derived weights,
    so the assignment — not just the statistics — is hash-checked.
    Scale shape: the assignment is a map-only array_max expression at
    scan rate (no explode on the Spark side; the oracle's unnest is
    DuckDB's formulation); ONE shuffle for the per-shard aggregate."""
    from .functions.scalar import rendezvous_shard

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        rendezvous_shard(F.col("doc_id"), 10).alias("s10"),
        rendezvous_shard(F.col("doc_id"), 11).alias("s11"),
    )
    moved = F.col("s10") != F.col("s11")
    return docs.groupBy(F.col("s10").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(moved, 1).otherwise(0)).cast("bigint").alias("n_moved"),
        F.sum(F.when(moved & (F.col("s11") == 10), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved_to_new"),
    )


# ---------------------------------------------------------------------------
# Statistical inference: the measure-the-difference family.  Drift monitors
# (PSI/CUSUM/centroid) say THAT a distribution moved; these say whether the
# move is DISTINGUISHABLE FROM NOISE — the gate a data-quality alert or an
# A/B rollout reads before paging anyone.  All test statistics are stated as
# explicit power-sum arithmetic in BOTH engines (the moments_profile /
# outlier_mad discipline): no scipy, no engine stats builtins whose
# estimator conventions could differ.
# ---------------------------------------------------------------------------

@q(
    "welch_ttest_events",
    f"""
WITH g AS (
  SELECT event_type,
         count(*) FILTER (WHERE ts >= {NOW_SQL} - INTERVAL 15 DAY) AS na,
         sum(value) FILTER (WHERE ts >= {NOW_SQL} - INTERVAL 15 DAY) AS sa1,
         sum(value * value) FILTER (WHERE ts >= {NOW_SQL} - INTERVAL 15 DAY)
           AS sa2,
         count(*) FILTER (WHERE ts < {NOW_SQL} - INTERVAL 15 DAY) AS nb,
         sum(value) FILTER (WHERE ts < {NOW_SQL} - INTERVAL 15 DAY) AS sb1,
         sum(value * value) FILTER (WHERE ts < {NOW_SQL} - INTERVAL 15 DAY)
           AS sb2
  FROM events
  WHERE ts >= {NOW_SQL} - INTERVAL 30 DAY AND ts <= {NOW_SQL}
  GROUP BY event_type
),
w AS (
  SELECT event_type, na, nb,
         sa1 / na AS mean_a, sb1 / nb AS mean_b,
         greatest((sa2 - sa1 * sa1 / na) / (na - 1), 0) / na AS qa,
         greatest((sb2 - sb1 * sb1 / nb) / (nb - 1), 0) / nb AS qb
  FROM g WHERE na > 1 AND nb > 1
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_recent, CAST(nb AS BIGINT) AS n_prior,
       round(mean_a, 4) AS mean_recent, round(mean_b, 4) AS mean_prior,
       round(CASE WHEN qa + qb > 0
                  THEN (mean_a - mean_b) / sqrt(qa + qb) END, 4) AS t_stat,
       round(CASE WHEN qa + qb > 0
                  THEN (qa + qb) * (qa + qb)
                       / (qa * qa / (na - 1) + qb * qb / (nb - 1)) END, 1)
         AS df,
       CAST(CASE WHEN qa + qb > 0 AND
                      abs((mean_a - mean_b) / sqrt(qa + qb)) > 1.96 THEN 1
                 WHEN qa + qb > 0 THEN 0 END AS INT) AS significant
FROM w
""",
)
def welch_ttest_events(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test per event_type: value
    in the last 15 days vs the prior 15 — the is-this-shift-real gate
    that drift_psi_events' effect-size number deliberately does not
    answer.  One conditional aggregation computes both windows' power
    sums (n, Σx, Σx²) in a single corpus pass; t and the
    Welch–Satterthwaite df are then exact arithmetic on the six sums,
    with sample variance clamped at 0 (the moments_profile guard
    against catastrophic cancellation on near-constant groups).  The
    significance flag uses the normal-approximation 1.96 critical value
    (df here is ~10^4, where t and z are indistinguishable) so no
    t-distribution CDF is needed in either engine.  Scale shape: ONE
    map-side-combined agg on event_type; everything after runs on the
    |event_type| frame."""
    from .operators.stats import welch_ttest

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.expr(f"{NOW_SQL} - INTERVAL 30 DAY"))
        & (F.col("ts") <= F.expr(NOW_SQL))
    )
    recent = F.col("ts") >= F.expr(f"{NOW_SQL} - INTERVAL 15 DAY")
    w = welch_ttest(ev, "event_type", "value", recent, ~recent)
    return w.select(
        "event_type",
        F.col("n_a").alias("n_recent"),
        F.col("n_b").alias("n_prior"),
        F.round("mean_a", 4).alias("mean_recent"),
        F.round("mean_b", 4).alias("mean_prior"),
        F.round("t_stat", 4).alias("t_stat"),
        F.round("df", 1).alias("df"),
        "significant",
    )


@q(
    "chi2_independence_events",
    """
WITH cells AS (
  SELECT event_type,
         CAST(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS INT)
           AS is_weekend,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT sum(o) AS n, count(DISTINCT event_type) AS r,
         count(DISTINCT is_weekend) AS c
  FROM cells
),
m AS (
  SELECT cells.*, tot.n, tot.r, tot.c,
         sum(o) OVER (PARTITION BY event_type) AS row_tot,
         sum(o) OVER (PARTITION BY is_weekend) AS col_tot
  FROM cells CROSS JOIN tot
),
x AS (
  SELECT *, row_tot * col_tot * 1.0 / n AS e FROM m
)
SELECT event_type, is_weekend, CAST(o AS BIGINT) AS n_obs,
       round(e, 4) AS expected,
       round((o - e) * (o - e) / e, 4) AS contrib,
       round(sum((o - e) * (o - e) / e) OVER (), 4) AS chi2_stat,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof
FROM x
""",
)
def chi2_independence_events(spark, sf_dir):
    """Pearson chi-squared test of independence between event_type and
    a weekend indicator: is traffic mix different on weekends, or is
    the contingency table consistent with independent margins?  The
    observed table is ONE corpus aggregation; expected counts
    e = row·col/N, per-cell contributions (o−e)²/e, the summed χ²
    statistic, and dof = (R−1)(C−1) are all computed on the
    |types|×2 cell frame — window sums over a ~10-row frame, stated
    identically in both engines (weekday via ISO day-of-week ≥ 6 ==
    Spark `weekday(ts) >= 5`, both Sat/Sun).  Emitting per-cell rows
    (not just the scalar χ²) hash-checks the margin arithmetic, and
    the repeated chi2_stat/dof columns make the verdict readable off
    any row.  Scale shape: one map-side-combined agg; the test itself
    is O(cells)."""
    from .operators.stats import chi2_independence

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.expr("weekday(ts)") >= 5, 1).otherwise(0).cast("int").alias(
            "is_weekend"
        ),
    )
    x = chi2_independence(ev, "event_type", "is_weekend")
    return x.select(
        "event_type",
        "is_weekend",
        "n_obs",
        F.round("expected", 4).alias("expected"),
        F.round("contrib", 4).alias("contrib"),
        F.round("chi2_stat", 4).alias("chi2_stat"),
        "dof",
    )


@q(
    "kaplan_meier_events",
    f"""
WITH per_user AS (
  SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
  FROM events GROUP BY user_id, event_type
),
life AS (
  SELECT date_diff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE))
           AS t_day,
         count(*) FILTER (WHERE last_ts <  {NOW_SQL} - INTERVAL 3 DAY) AS d,
         count(*) FILTER (WHERE last_ts >= {NOW_SQL} - INTERVAL 3 DAY) AS c
  FROM per_user GROUP BY 1
),
r AS (
  SELECT t_day, d, c,
         sum(d + c) OVER ()
           - coalesce(sum(d + c) OVER (
               ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_risk
  FROM life
),
s AS (
  SELECT t_day, d, c, n_risk,
         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t_day) AS dead_seen,
         sum(CASE WHEN d > 0 AND d < n_risk THEN ln(1 - d * 1.0 / n_risk)
                  ELSE 0 END) OVER (ORDER BY t_day) AS logsum
  FROM r
)
SELECT CAST(t_day AS BIGINT) AS t_day, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
       round(CASE WHEN dead_seen = 1 THEN 0.0 ELSE exp(logsum) END, 4)
         AS survival
FROM s
""",
)
def kaplan_meier_events(spark, sf_dir):
    """Kaplan-Meier survival estimator over engagement episodes: the
    subject is a (user, event_type) pair, lifetime = calendar days
    between its first and last event; episodes whose last event falls
    within 3 days of the pinned NOW are right-CENSORED (still active —
    their lifetime is a lower bound, which naive avg(lifetime) silently
    treats as exact; handling that bias is the entire point of KM).
    The life table groups lifetimes by day:
    at-risk nₜ = total − Σ_{{s<t}}(dₛ+cₛ), survival
    S(t) = Π_{{s≤t}}(1 − dₛ/nₛ) computed as exp of a cumulative log-sum
    (associative; the Π stated as identical ln/exp arithmetic in both
    engines), with a cumulative dead_seen flag instead of ln(0) when a
    day absorbs everyone at risk.  Scale shape: ONE corpus shuffle
    (per-episode min/max agg on (user_id, event_type), map-side
    combined); the life table is
    O(max lifetime in days) — 31 rows here — so the
    single-partition windows run on a constant-size frame."""
    from .operators.stats import kaplan_meier

    now = F.expr(NOW_SQL)
    episodes = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .select(
            F.datediff(
                F.col("last_ts").cast("date"), F.col("first_ts").cast("date")
            ).alias("t_day"),
            F.when(F.col("last_ts") < now - F.expr("INTERVAL 3 DAY"), 1)
            .otherwise(0)
            .alias("observed"),
        )
    )
    km = kaplan_meier(episodes)
    return km.withColumn("survival", F.round("survival", 4))


@q(
    "basket_rules_lineitem",
    """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
i AS (SELECT item, count(*) AS n_item FROM b GROUP BY item),
p AS (
  SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab
  FROM b x JOIN b y ON x.bk = y.bk AND x.item < y.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(n_ab * 1.0 / n_baskets, 4) AS support,
       round(n_ab * 1.0 / ia.n_item, 4) AS conf_a_to_b,
       round(n_ab * 1.0 / ib.n_item, 4) AS conf_b_to_a,
       round(n_ab * 1.0 * n_baskets / (ia.n_item * ib.n_item), 4) AS lift
FROM p JOIN i ia ON p.item_a = ia.item
       JOIN i ib ON p.item_b = ib.item
       CROSS JOIN n
WHERE n_ab * 1.0 / n_baskets >= 0.02
""",
)
def basket_rules_lineitem(spark, sf_dir):
    """Market-basket association rules over order baskets: which part
    brands co-occur in one order beyond what independent demand
    predicts (operators/rules.py basket_rules) — support, both
    directed confidences, and lift per unordered brand pair at 2%
    minimum support.  Scale shape: brand lookup is a broadcast dim
    join; ONE corpus shuffle collapses each order to its brand SET,
    pair generation is a map-side double-explode over the sorted array
    (bounded by Σ basket_size² — basket size is a data contract, not
    corpus size) into a map-side-combined count whose shuffle carries
    ≤ |brands|² rows; per-brand counts (25 rows) and the basket total
    are broadcast.  Apriori pruning is unnecessary at pair depth: the
    candidate space is |brands|², already enumerable."""
    from .operators.rules import basket_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(pt), li.l_partkey == pt.p_partkey
    ).select(F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("item"))
    r = basket_rules(baskets, "bk", "item", min_support=0.02)
    return r.select(
        "item_a",
        "item_b",
        "n_ab",
        F.round("support", 4).alias("support"),
        F.round("conf_a_to_b", 4).alias("conf_a_to_b"),
        F.round("conf_b_to_a", 4).alias("conf_b_to_a"),
        F.round("lift", 4).alias("lift"),
    )


@q(
    "theil_sen_trend_events",
    """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2
),
pr AS (
  SELECT a.event_type,
         list_sort(list((b.y - a.y) * 1.0 / (b.x - a.x))) AS v,
         count(*) AS n
  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.x < b.x
  GROUP BY 1
),
sl AS (
  SELECT event_type, n AS n_pairs,
         (v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
          + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
             - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
            * (0.5 * (n - 1) - floor(0.5 * (n - 1)))) AS slope
  FROM pr
),
ic AS (
  SELECT d.event_type, any_value(sl.slope) AS slope,
         any_value(sl.n_pairs) AS n_pairs,
         list_sort(list(d.y - sl.slope * d.x)) AS v, count(*) AS n
  FROM daily d JOIN sl USING (event_type) GROUP BY d.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       round(slope, 4) AS slope,
       round(v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
             + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
                - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
               * (0.5 * (n - 1) - floor(0.5 * (n - 1))), 4) AS intercept
FROM ic
""",
)
def theil_sen_trend_events(spark, sf_dir):
    """Theil-Sen robust trend per event_type over the daily count
    series (operators/profile.py theil_sen): slope = median of all
    pairwise day-slopes, intercept = median residual — up to ~29% of
    days can be arbitrarily corrupted (outage, backfill spike) without
    bending the line, where OLS breaks on one bad day.  Complements
    cusum_changepoint (WHEN it broke) with HOW FAST it's moving,
    robustly.  Scale shape: the corpus collapses to |types|×31 daily
    rows in ONE map-side-combined agg; the pairwise self-join is then
    O(days²) per type — 465 pairs here — independent of corpus size,
    and the exact interpolated-percentile medians (stated as the same
    index arithmetic in the oracle) buffer pairs-of-days, not corpus
    rows."""
    from .operators.profile import theil_sen

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    t = theil_sen(daily, "event_type", "x", "y")
    return t.select(
        "event_type",
        "n_points",
        "n_pairs",
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
    )


def _bootstrap_ci_sql(n_reps: int = 32) -> str:
    from .operators.stats import poisson_weight_case_sql

    interp = (
        "v[CAST(floor({q} * (n - 1)) AS BIGINT) + 1]"
        " + (v[CAST(ceil({q} * (n - 1)) AS BIGINT) + 1]"
        " - v[CAST(floor({q} * (n - 1)) AS BIGINT) + 1])"
        " * ({q} * (n - 1) - floor({q} * (n - 1)))"
    )
    # one md5 salt covers 8 reps (8 × 4-hex slices per digest); generate
    # the CASE arms from n_reps like bootstrap_mean_ci derives n_salts,
    # so raising n_reps can never silently reuse the last salt
    n_salts = -(-n_reps // 8)
    arms = "\n".join(
        f"                WHEN {s} THEN"
        f" md5(CAST(e.event_id AS VARCHAR) || ':{s}')"
        for s in range(n_salts - 1)
    )
    return f"""
WITH x AS (
  SELECT e.event_type, e.value, r.rep,
         (('0x' || substr(
              CASE CAST(r.rep // 8 AS INT)
{arms}
                ELSE md5(CAST(e.event_id AS VARCHAR) || ':{n_salts - 1}') END,
              CAST((r.rep % 8) * 4 + 1 AS INT), 4))::BIGINT
          + 0.5) / 65536.0 AS u
  FROM events e CROSS JOIN (SELECT unnest(range(0, {n_reps})) AS rep) r
),
w AS (
  SELECT event_type, rep, value,
{poisson_weight_case_sql("u")} AS wt
  FROM x
),
m AS (
  SELECT event_type, rep, sum(wt * value) / sum(wt) AS mboot
  FROM w GROUP BY 1, 2
),
ci AS (
  SELECT event_type, list_sort(list(mboot)) AS v, count(*) AS n
  FROM m GROUP BY 1
),
base AS (
  SELECT event_type, count(*) AS n_rows, sum(value) / count(*) AS mean
  FROM events GROUP BY 1
)
SELECT b.event_type, CAST(b.n_rows AS BIGINT) AS n_rows,
       round(b.mean, 4) AS mean,
       round({interp.format(q=0.025)}, 4) AS boot_lo,
       round({interp.format(q=0.975)}, 4) AS boot_hi,
       CAST(ci.n AS BIGINT) AS n_reps
FROM base b JOIN ci ON b.event_type = ci.event_type
"""


@q("bootstrap_ci_events", _bootstrap_ci_sql())
def bootstrap_ci_events(spark, sf_dir):
    """Poisson-bootstrap 95% confidence interval for mean(value) per
    event_type (operators/stats.py bootstrap_mean_ci): the classic
    bootstrap's resample-with-replacement is a per-replicate global
    pass, but giving each (row, replicate) an independent Poisson(1)
    weight makes every replicate mean an ordinary associative
    aggregation — 32 replicates ride ONE map-side-combined shuffle over
    the exploded row×replicate stream, no resampling pass, no driver
    state.  Weights are the repo's replayable md5-uniform idiom pushed
    through the cumulative-Poisson thresholds (POISSON1_CUM — the SAME
    Python floats are interpolated into this oracle and the Spark CASE,
    so both engines replay bit-identical draws and the driver hash
    checks the whole mechanism).  The CI is the interpolated
    [2.5%, 97.5%] percentile of the 32 replicate means — an exact
    `percentile` whose buffer is 32 doubles per group, constant.
    Welch (welch_ttest_events) answers is-A-different-from-B; this
    answers how-sure-are-we-about-A without any normality assumption."""
    from .operators.stats import bootstrap_mean_ci

    ev = load_table(spark, sf_dir, "events")
    ci = bootstrap_mean_ci(
        ev, "event_type", "event_id", "value", n_reps=32, alpha=0.05
    )
    return ci.select(
        "event_type",
        "n_rows",
        F.round("mean", 4).alias("mean"),
        F.round("boot_lo", 4).alias("boot_lo"),
        F.round("boot_hi", 4).alias("boot_hi"),
        "n_reps",
    )


@q(
    "compaction_bins_docs",
    """
WITH files AS (
  SELECT source, doc_id % 64 AS file_id, sum(n_chars) AS bytes
  FROM documents GROUP BY 1, 2
),
x AS (
  SELECT source, file_id, bytes,
         coalesce(sum(bytes) OVER (
           PARTITION BY source ORDER BY file_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM files
)
SELECT source, CAST(floor(cum_before / 32768.0) AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(file_id) AS BIGINT) AS first_file,
       CAST(max(file_id) AS BIGINT) AS last_file
FROM x GROUP BY 1, 2
""",
)
def compaction_bins_docs(spark, sf_dir):
    """Small-file compaction planner (the OPTIMIZE/bin-packing step
    every long-lived parquet table needs once streaming ingest has
    sprayed it with KiB-sized files): synthetic per-(source, doc_id%64)
    'files' are packed into ~32 KiB output bins by cumulative
    chunking — bin = floor(running_bytes_before / target) in stable
    file order.  This is next-fit packing where a bin may overflow by
    at most one file (never underfill-then-split), the same policy
    table-compactors use because it is a single window pass: no greedy
    sequential state, no driver loop.  Each bin's files are contiguous
    in layout order by construction, so one compaction task reads one
    consecutive file range (first_file..last_file).  Scale shape: ONE
    shuffle to build the file manifest (corpus → |files| rows), a
    per-source window and tiny agg on the manifest — planning cost is
    O(files), never O(rows); at a real 100-TB table the manifest comes
    from file metadata, not a data scan, and the window partitions by
    table partition exactly as here."""
    files = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", (F.col("doc_id") % 64).alias("file_id"))
        .agg(F.sum("n_chars").alias("bytes"))
    )
    w_prev = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w_prev), F.lit(0))
    )
    return x.groupBy(
        "source",
        F.floor(F.col("cum_before") / 32768.0).cast("bigint").alias(
            "bin_id"
        ),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("file_id").cast("bigint").alias("first_file"),
        F.max("file_id").cast("bigint").alias("last_file"),
    )


def _mmr_sql(k: int = 5, lam: float = 0.7) -> str:
    """Unrolled-greedy MMR oracle: the k-step argmax recurrence as k−1
    mechanical CTE stages (generated, like _bootstrap_ci_sql).  The
    1−lam literal is repr'd from the SAME Python float the Spark side
    multiplies by, so both engines score with bit-identical constants."""
    lit_l, lit_m = repr(lam), repr(1.0 - lam)
    parts = [
        f"""
WITH jtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
jidx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM jtoks),
jsh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM jidx),
jhot AS (SELECT s FROM jsh0 GROUP BY s HAVING count(*) > 10000),
jsh AS (SELECT doc_id, s FROM jsh0 WHERE s NOT IN (SELECT s FROM jhot)),
jsz AS MATERIALIZED (SELECT doc_id, count(*) AS nn FROM jsh GROUP BY doc_id),
jinter AS (
  SELECT q.doc_id AS query_id, d.doc_id AS doc_id, count(*) AS i
  FROM jsh q JOIN jsh d ON q.s = d.s AND q.doc_id < 5 AND d.doc_id <> q.doc_id
  GROUP BY 1, 2
),
rel0 AS (
  SELECT query_id, jinter.doc_id, i * 1.0 / (sq.nn + sd.nn - i) AS rel
  FROM jinter JOIN jsz sq ON sq.doc_id = query_id
              JOIN jsz sd ON sd.doc_id = jinter.doc_id
),
cand AS MATERIALIZED (
  SELECT query_id, doc_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id) AS rn
    FROM rel0
  ) WHERE rn <= 20
),
csh AS (SELECT * FROM jsh WHERE doc_id IN (SELECT DISTINCT doc_id FROM cand)),
pint AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM csh x JOIN csh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
sim0 AS (
  SELECT a, b, i * 1.0 / (sa.nn + sb.nn - i) AS sim
  FROM pint JOIN jsz sa ON sa.doc_id = a JOIN jsz sb ON sb.doc_id = b
),
sims AS MATERIALIZED (SELECT a, b, sim FROM sim0
         UNION ALL SELECT b AS a, a AS b, sim FROM sim0),
prev1 AS MATERIALIZED (
  SELECT query_id, doc_id, 1 AS rank, {lit_l} * rel AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    ]
    for s in range(2, k + 1):
        parts.append(
            f""",
scored{s} AS (
  SELECT c.query_id, c.doc_id, c.rel, coalesce(max(sm.sim), 0.0) AS ms
  FROM cand c
  JOIN prev{s - 1} p ON p.query_id = c.query_id
  LEFT JOIN sims sm ON sm.a = c.doc_id AND sm.b = p.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM prev{s - 1} x
                    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
  GROUP BY 1, 2, 3
),
sel{s} AS (
  SELECT query_id, doc_id, {s} AS rank,
         {lit_l} * rel - {lit_m} * ms AS mmr_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {lit_l} * rel - {lit_m} * ms DESC, doc_id) AS rn
    FROM scored{s}
  ) WHERE rn = 1
),
prev{s} AS MATERIALIZED (SELECT * FROM prev{s - 1} UNION ALL SELECT * FROM sel{s})"""
        )
    parts.append(
        f"""
SELECT query_id, doc_id, rank, round(mmr_score, 6) AS mmr_score
FROM prev{k}
"""
    )
    return "".join(parts)


@q("mmr_rerank_docs", _mmr_sql())
def mmr_rerank_docs(spark, sf_dir):
    """Maximal Marginal Relevance diversity rerank
    (operators/retrieval.py mmr_rerank) completing the retrieval
    family's third axis: bm25/knn RANK, rrf FUSES, MMR DIVERSIFIES —
    greedily pick 5 of the top-20 lexical candidates per query
    maximizing 0.7·rel − 0.3·max-sim-to-selected, so the result set
    stops being five near-copies of the best hit.  rel and
    candidate-pair sim are both the certified capped-3-gram Jaccard
    core; scores are raw floats of integer ratios with identical
    lam/(1−lam) literals in both engines, so the oracle's unrolled
    greedy CTE picks bit-identical argmaxes (doc_id tiebreak).  Scale
    shape: the corpus-scale work is the one inverted-index candidate
    build (already linear-certified for jaccard/rrf); candidate
    pair-sims restrict the index to ≤ |queries|×20 docs before the
    self-join, and the greedy unroll is k−1 fixed stages over the
    candidate frame — O(queries × 20 × k), no collect, no driver
    loop over data.  Candidates and sims are localCheckpointed once
    (the serving-tail pattern: 5 reuse sites each)."""
    from .operators.retrieval import mmr_rerank

    sh = _shared_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nn"))
    q_sh = sh.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    inter = (
        q_sh.join(sh, "shingle")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sq = sizes.select(
        F.col("doc_id").alias("query_id"), F.col("nn").alias("nq")
    )
    sd = sizes.select("doc_id", F.col("nn").alias("nd"))
    rel = F.col("i") / (F.col("nq") + F.col("nd") - F.col("i"))
    wc = Window.partitionBy("query_id").orderBy(rel.desc(), F.col("doc_id"))
    cand = (
        inter.join(sq, "query_id")
        .join(sd, "doc_id")
        .withColumn("rel", rel)
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= 20)
        .select("query_id", "doc_id", "rel")
        .localCheckpoint(eager=True)
    )
    cids = cand.select("doc_id").distinct()
    csh = sh.join(F.broadcast(cids), "doc_id")
    x = csh.select(F.col("doc_id").alias("a"), "shingle")
    y = csh.select(F.col("doc_id").alias("b"), "shingle")
    pint = (
        x.join(y, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("nn").alias("nsa"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("nn").alias("nsb"))
    sims = (
        pint.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            (F.col("i") / (F.col("nsa") + F.col("nsb") - F.col("i"))).alias(
                "sim"
            ),
        )
        .localCheckpoint(eager=True)
    )
    out = mmr_rerank(cand, sims, k=5, lam=0.7)
    return out.select(
        "query_id",
        "doc_id",
        "rank",
        F.round("mmr_score", 6).alias("mmr_score"),
    )


@q("stream_welch_ttest_events", SUITE["welch_ttest_events"][1])
def stream_welch_ttest_events(spark, sf_dir):
    """§2.9 STREAMING twin of welch_ttest_events, sharing its oracle:
    the six Welch power sums (n, Σx, Σx²) for both windows are
    maintained per event_type as ONE running streaming aggregation
    (streaming/monitor.py stream_welch_sums — state is six numbers per
    group, bounded by the group domain, never by stream length) drained
    with availableNow into the memory sink; t and the
    Welch–Satterthwaite df are then a static view over the drained
    state (operators/stats.py welch_from_sums — the IDENTICAL
    expression tree as the batch form).  This is the production shape
    of a live A/B significance monitor: sums tick as ingest lands, the
    verdict is read off the maintained state without a second corpus
    pass.  Micro-batch accumulation reorders the double summation
    (~1e-12 relative vs batch), far below the 4-dp rounding grain —
    the same disclosure as the PSI twin."""
    import uuid
    from datetime import datetime

    from .operators.stats import welch_from_sums
    from .streaming import run_to_memory
    from .streaming.monitor import stream_welch_sums

    name = f"welch_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        sq = run_to_memory(
            stream_welch_sums(
                spark,
                _staged_events(spark, sf_dir),
                split=datetime(2024, 1, 16),
                lower=datetime(2024, 1, 1),
                now=PINNED_NOW,
            ),
            name,
            "complete",
        )
        sq.stop()
    w = welch_from_sums(spark.table(name), "event_type")
    return w.select(
        "event_type",
        F.col("n_a").alias("n_recent"),
        F.col("n_b").alias("n_prior"),
        F.round("mean_a", 4).alias("mean_recent"),
        F.round("mean_b", 4).alias("mean_prior"),
        F.round("t_stat", 4).alias("t_stat"),
        F.round("df", 1).alias("df"),
        "significant",
    )


@q(
    "ab_test_report_events",
    """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase'
                  AND ts >= TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 3 DAY
                  THEN 1 ELSE 0 END) AS converted,
         sum(value) AS value_sum
  FROM events GROUP BY user_id
),
pa AS (
  SELECT *,
         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))
           ::BIGINT % 2 AS arm
  FROM pu
),
conv AS (
  SELECT count(*) FILTER (WHERE arm = 0) AS na,
         sum(converted) FILTER (WHERE arm = 0) AS sa,
         count(*) FILTER (WHERE arm = 1) AS nb,
         sum(converted) FILTER (WHERE arm = 1) AS sb
  FROM pa
),
convm AS (
  SELECT 'conversion_rate' AS metric, na, nb,
         sa * 1.0 / na AS mean_a, sb * 1.0 / nb AS mean_b,
         CASE WHEN na > 0 AND nb > 0
                   AND (sa + sb) > 0 AND (sa + sb) < (na + nb)
              THEN (sa * 1.0 / na - sb * 1.0 / nb)
                   / sqrt(((sa + sb) * 1.0 / (na + nb))
                          * (1 - (sa + sb) * 1.0 / (na + nb))
                          * (1.0 / na + 1.0 / nb)) END AS stat
  FROM conv
),
vg AS (
  SELECT count(*) FILTER (WHERE arm = 0) AS na,
         sum(value_sum) FILTER (WHERE arm = 0) AS sa1,
         sum(value_sum * value_sum) FILTER (WHERE arm = 0) AS sa2,
         count(*) FILTER (WHERE arm = 1) AS nb,
         sum(value_sum) FILTER (WHERE arm = 1) AS sb1,
         sum(value_sum * value_sum) FILTER (WHERE arm = 1) AS sb2
  FROM pa
),
vw AS (
  SELECT na, nb, sa1 / na AS mean_a, sb1 / nb AS mean_b,
         greatest((sa2 - sa1 * sa1 / na) / (na - 1), 0) / na AS qa,
         greatest((sb2 - sb1 * sb1 / nb) / (nb - 1), 0) / nb AS qb
  FROM vg
  WHERE na > 1 AND nb > 1
),
vm AS (
  SELECT 'value_per_user' AS metric, na, nb, mean_a, mean_b,
         CASE WHEN qa + qb > 0
              THEN (mean_a - mean_b) / sqrt(qa + qb) END AS stat
  FROM vw
),
u AS (SELECT * FROM convm UNION ALL SELECT * FROM vm)
SELECT metric, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(mean_a, 4) AS mean_a, round(mean_b, 4) AS mean_b,
       round(stat, 4) AS stat,
       CAST(CASE WHEN stat IS NULL THEN NULL
                 WHEN abs(stat) > 1.96 THEN 1 ELSE 0 END AS INT)
         AS significant
FROM u
""",
)
def ab_test_report_events(spark, sf_dir):
    """The A/B EXPERIMENT REPORT end-to-end, composing the inference
    family the way a rollout gate consumes it: users are assigned to
    arms by the deterministic md5 hash of their id (exactly how a real
    experiment service buckets — sticky, uniform, replayable; both
    engines replay the identical assignment), per-user outcomes are ONE
    corpus aggregation (converted = purchased within the last 3 days —
    the month-long window is degenerate at p=1 on this corpus, and a
    degenerate proportion is exactly what the pooled-z denominator
    sqrt(p̂(1−p̂)·…) = 0 guards you from trusting; value_sum), and the
    report emits one row per metric: conversion rate under the pooled
    two-proportion z-test, value-per-user under Welch's t
    (operators/stats.py welch_ttest on the per-user frame).  On this
    synthetic corpus the arms are exchangeable, so the expected verdict
    is NOT significant — an A/A test; the report showing |stat| < 1.96
    on both metrics is the null-calibration check an experiment
    platform runs before anyone trusts its positives.  Scale shape: ONE
    corpus shuffle (per-user agg); arm assignment is a map-side hash;
    both tests are arithmetic over a 2-arm frame."""
    from .operators.stats import welch_ttest

    pu = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (
                        F.col("ts")
                        >= F.expr(f"{NOW_SQL} - INTERVAL 3 DAY")
                    ),
                    1,
                ).otherwise(0)
            ).alias("converted"),
            F.sum("value").alias("value_sum"),
        )
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    pa = pu.withColumn("arm", arm)
    conv = pa.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted"))).alias("sa"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted"))).alias("sb"),
    )
    p_a = F.col("sa") * 1.0 / F.col("na")
    p_b = F.col("sb") * 1.0 / F.col("nb")
    pool = (F.col("sa") + F.col("sb")) * 1.0 / (F.col("na") + F.col("nb"))
    # degenerate guard mirroring welch_from_sums: a pooled rate of
    # exactly 0 or 1 (or an empty arm) zeroes the z denominator; emit
    # NULL stat/significant on BOTH engines rather than Inf/NaN-vs-NULL
    z_defined = (
        (F.col("na") > 0)
        & (F.col("nb") > 0)
        & ((F.col("sa") + F.col("sb")) > 0)
        & ((F.col("sa") + F.col("sb")) < (F.col("na") + F.col("nb")))
    )
    z = F.when(
        z_defined,
        (p_a - p_b)
        / F.sqrt(
            pool * (1 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        ),
    )
    convm = conv.select(
        F.lit("conversion_rate").alias("metric"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(p_a, 4).alias("mean_a"),
        F.round(p_b, 4).alias("mean_b"),
        F.round(z, 4).alias("stat"),
        F.when(F.abs(z) > 1.96, 1)
        .when(z.isNotNull(), 0)
        .cast("int")
        .alias("significant"),
    )
    vw = welch_ttest(
        pa.withColumn("metric", F.lit("value_per_user")),
        "metric",
        "value_sum",
        F.col("arm") == 0,
        F.col("arm") == 1,
    )
    vm = vw.select(
        "metric",
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("t_stat", 4).alias("stat"),
        "significant",
    )
    return convm.unionByName(vm)


def _quality_gate_sql() -> str:
    fk = SUITE["fk_integrity_audit"][1]
    fresh = SUITE["freshness_lag_events"][1]
    dup = SUITE["dup_rate_daily_docs"][1]
    return f"""
WITH fk_rows AS ({fk}),
fresh_rows AS ({fresh}),
dup_rows AS ({dup}),
gate AS (
  SELECT 'fk_orphans' AS check_name, relation AS target,
         (n_null_fk + n_orphans) * 100.0 / n_rows AS value,
         CAST(0.5 AS DOUBLE) AS threshold
  FROM fk_rows
  UNION ALL
  SELECT 'freshness_min', event_type, staleness_min * 1.0, CAST(1440.0 AS DOUBLE)
  FROM fresh_rows
  UNION ALL
  SELECT 'dup_pct', 'documents',
         sum(n_dup_docs) * 100.0 / sum(n_docs), CAST(10.0 AS DOUBLE)
  FROM dup_rows
)
SELECT check_name, target, round(value, 4) AS value, threshold,
       CAST(CASE WHEN value <= threshold THEN 1 ELSE 0 END AS INT)
         AS passed
FROM gate
"""


@q("data_quality_gate", _quality_gate_sql())
def data_quality_gate(spark, sf_dir):
    """The DATA QUALITY GATE: referential integrity, freshness, and
    duplicate-rate checks composed into the single (check, target,
    value, threshold, passed) frame an ingest pipeline reads before
    promoting a drop — the drift_scorecard pattern applied to data
    CONTRACTS rather than distributions.  Each row derives from an
    already-certified component RESULT frame (fk_integrity_audit's
    orphan counts, freshness_lag_events' staleness, dup_rate_daily's
    duplicate counts aggregated corpus-wide), and the oracle nests the
    same three component oracle SQLs as CTEs — the Spark composition
    and the SQL composition check each other, so a drift in any
    component surfaces twice.  Thresholds (0.5% orphans, 1440 min
    staleness, 10% duplicates) are the gate's contract, stated as
    literals in both engines.  Scale shape: inherits each component's
    certified shape (anti-join audits, one agg, hash-group dups);
    the gate itself is a union of tiny result frames."""
    fk = SUITE["fk_integrity_audit"][0](spark, sf_dir).select(
        F.lit("fk_orphans").alias("check_name"),
        F.col("relation").alias("target"),
        (
            (F.col("n_null_fk") + F.col("n_orphans"))
            * 100.0
            / F.col("n_rows")
        ).alias("value"),
        F.lit(0.5).alias("threshold"),
    )
    fresh = SUITE["freshness_lag_events"][0](spark, sf_dir).select(
        F.lit("freshness_min").alias("check_name"),
        F.col("event_type").alias("target"),
        (F.col("staleness_min") * 1.0).alias("value"),
        F.lit(1440.0).alias("threshold"),
    )
    dup = (
        SUITE["dup_rate_daily_docs"][0](spark, sf_dir)
        .agg(
            (
                F.sum("n_dup_docs") * 100.0 / F.sum("n_docs")
            ).alias("value")
        )
        .select(
            F.lit("dup_pct").alias("check_name"),
            F.lit("documents").alias("target"),
            "value",
            F.lit(10.0).alias("threshold"),
        )
    )
    gate = fk.unionByName(fresh).unionByName(dup)
    return gate.select(
        "check_name",
        "target",
        F.round("value", 4).alias("value"),
        "threshold",
        F.when(F.col("value") <= F.col("threshold"), 1)
        .otherwise(0)
        .cast("int")
        .alias("passed"),
    )


@q(
    "attribution_credit_events",
    """
WITH t AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE event_type IN ('click', 'view')
),
p AS (
  SELECT user_id, ts AS pts, event_id AS conv_id FROM events
  WHERE event_type = 'purchase'
),
pr AS (
  SELECT t.event_type AS channel, t.ts, t.event_id, p.conv_id
  FROM t JOIN p ON t.user_id = p.user_id
   AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL 7 DAY
),
sc AS (
  SELECT *, count(*) OVER (PARTITION BY conv_id) AS n_t,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY ts DESC, event_id) AS rk
  FROM pr
)
SELECT 'linear' AS model, channel,
       round(sum(1.0 / n_t), 4) AS credit,
       CAST(count(*) AS BIGINT) AS n_touchpoints
FROM sc GROUP BY 1, 2
UNION ALL
SELECT 'last_touch', channel, round(sum(1.0), 4),
       CAST(count(*) AS BIGINT)
FROM sc WHERE rk = 1 GROUP BY 1, 2
""",
)
def attribution_credit_events(spark, sf_dir):
    """Multi-touch MARKETING ATTRIBUTION: every purchase's credit split
    across the click/view touchpoints that preceded it within a 7-day
    lookback, under two standard models side by side — last_touch (all
    credit to the latest touch; ties broken by event_id) and linear
    (1/n to each touch).  Per-model-per-channel credit sums answer the
    budget question the conversion count can't: which channel ASSISTS
    vs which channel CLOSES.  The touch↔conversion pairing rides the
    certified banded equi-join (operators/temporal.py band_join —
    bucketed epochs, never a theta cross-product) filtered one-sided
    (touch strictly before purchase); per-conversion windows partition
    on the globally-unique conversion event_id.  Scale shape: ONE
    banded shuffle on (user, epoch-bucket); pair volume is
    density-quadratic per user-week like the streaming attribution
    twin (stream_band_join_attrib), bounded by per-user activity, not
    corpus size; credit aggregation is map-side combined over
    |models|×|channels| groups."""
    from .operators.temporal import band_join

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(
        F.col("event_type").isin("click", "view")
    ).select("user_id", "ts", "event_id", F.col("event_type").alias("channel"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("conv_id")
    )
    pairs = band_join(
        touches, purch, on="user_id", band_seconds=7 * 86400
    ).filter(F.col("ts") < F.col("ts_r"))
    w_n = Window.partitionBy("conv_id")
    w_rk = Window.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("event_id")
    )
    sc = pairs.withColumn("n_t", F.count(F.lit(1)).over(w_n)).withColumn(
        "rk", F.row_number().over(w_rk)
    )
    linear = sc.groupBy("channel").agg(
        F.round(F.sum(1.0 / F.col("n_t")), 4).alias("credit"),
        F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
    ).select(F.lit("linear").alias("model"), "channel", "credit", "n_touchpoints")
    last = (
        sc.filter(F.col("rk") == 1)
        .groupBy("channel")
        .agg(
            F.round(F.sum(F.lit(1.0)), 4).alias("credit"),
            F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
        )
        .select(
            F.lit("last_touch").alias("model"),
            "channel",
            "credit",
            "n_touchpoints",
        )
    )
    return linear.unionByName(last)


@q(
    "partitioned_scan_events",
    """
SELECT CAST(ts AS DATE) AS event_date,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-24'
GROUP BY 1
""",
)
def partitioned_scan_events(spark, sf_dir):
    """DIRECTORY PARTITION PRUNING certified with file-level evidence:
    events written out partitioned by event_date (the Hive-style layout
    every 100-TB log table uses), read back with a date filter, and the
    query SELF-AUDITS twice before aggregating — it raises unless (a)
    the scan's PartitionFilters actually carries the date predicate
    (pruning at PLANNING time, the mechanism column-level PushedFilters
    asserts elsewhere cannot see), and (b) the pruned scan touches
    strictly fewer concrete files than the unfiltered read (distinct
    input_file_name() over an EXECUTED scan — evidence at the FILE
    level, not the plan level; DataFrame.inputFiles() is a
    logical-relation snapshot that ignores pruning, measured 30/30).  At 100 TB this is the
    difference between scanning 7 days and scanning 3 years; a filter
    that silently lands post-scan is a cost regression the result hash
    can never catch, which is exactly why it is an in-query error
    here.  Write-then-read is the honest cost, as with the bucketed
    join; the tiny per-date agg is map-side combined."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="suite_part_")
    try:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.col("ts").cast("date")
        )
        # cluster by the partition key before the partitioned write: an
        # unclustered write fans out |tasks| x |dates| small files (at
        # sf0.1 the scan is one task so it hides; at 100 TB it's
        # thousands of files per date), the clustered layout writes one
        # file per date — also measurably faster and steadier here
        # (r15 watch item: this query's wall time is FS-bound)
        ev.repartition("event_date").write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(path)
        full = spark.read.parquet(path)
        back = full.filter(
            F.col("event_date") >= F.lit("2024-01-24").cast("date")
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        if "PartitionFilters" not in plan or "PartitionFilters: []" in plan:
            raise RuntimeError(
                "date predicate did not reach the scan's PartitionFilters "
                "— partition pruning regressed to a full-table scan"
            )
        def _files_read(df) -> int:
            # input_file_name() on an EXECUTED scan reflects pruning;
            # DataFrame.inputFiles() is a logical-relation snapshot that
            # ignores it (measured: 30/30) — execution is the evidence
            return (
                df.select(F.input_file_name().alias("f")).distinct().count()
            )

        n_pruned, n_all = _files_read(back), _files_read(full)
        if not n_pruned < n_all:
            raise RuntimeError(
                f"pruned scan read {n_pruned} of {n_all} files — "
                "partition pruning had no file-level effect"
            )
        res = (
            back.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .localCheckpoint()  # materialize before the directory drops
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return res


@q(
    "conformal_threshold_docs",
    _clf_scored_sql()
    + """,
labeled AS (
  SELECT doc_id, y, score,
         (('0x' || substr(md5('cf:' || CAST(doc_id AS VARCHAR)), 1, 8))
            ::BIGINT + 0.5) / 4294967296.0 AS u,
         abs(y - score) AS nonconf
  FROM sc
),
calib AS (SELECT * FROM labeled WHERE u < 0.5),
test AS (SELECT * FROM labeled WHERE u >= 0.5),
cs AS (SELECT list_sort(list(nonconf)) AS v, count(*) AS n FROM calib),
qs AS (
  SELECT alpha, n,
         CAST(least(ceil((1 - alpha) * (n + 1)), n) AS BIGINT) AS k,
         v[CAST(least(ceil((1 - alpha) * (n + 1)), n) AS BIGINT)] AS qhat
  FROM cs CROSS JOIN (SELECT unnest([0.1, 0.2]::DOUBLE[]) AS alpha) a
)
SELECT qs.alpha, CAST(qs.n AS BIGINT) AS n_calib,
       CAST(count(*) AS BIGINT) AS n_test,
       qs.k, round(qs.qhat, 6) AS qhat,
       round(sum(CASE WHEN t.nonconf <= qs.qhat THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS coverage
FROM test t CROSS JOIN qs
GROUP BY qs.alpha, qs.n, qs.k, qs.qhat
""",
)
def conformal_threshold_docs(spark, sf_dir):
    """SPLIT CONFORMAL PREDICTION over the in-engine classifier — the
    distribution-free sibling of classifier_calibration_docs'
    reliability table: hash-split documents into calibration/test,
    nonconformity = |label − score| (absolute residual on the
    probability), threshold q̂ = the k-th smallest calibration
    nonconformity with k = min(⌈(1−α)(n+1)⌉, n) — the EXACT order
    statistic the finite-sample coverage guarantee is stated for (no
    interpolation, so both engines index the identical element), and
    measured test coverage alongside.  Scores ride the memoized
    trained model (the calibration pattern; training priced live by
    train_classifier_docs), the hash split is the replayable md5
    idiom, and score is the scorer's 4-dp rounded output so the order
    statistic is bit-identical cross-engine.  Scale note: the sorted
    calibration list is ONE collect_list agg buffer — right for an
    eval-set-sized calibration frame (the standard split-conformal
    setup); a corpus-scale calibration set would swap in
    approx_percentile exactly as the MAD family documents."""
    from .operators.text import linear_classifier_score

    docs = _clf_docs(spark, sf_dir)
    rows = _clf_model_rows(spark, sf_dir)
    bias = next(r.weight for r in rows if r.bucket == -1)
    w = spark.createDataFrame(
        [(r.bucket, r.weight) for r in rows if r.bucket >= 0],
        "bucket int, weight double",
    )
    scored = linear_classifier_score(
        docs.filter(F.col("text").isNotNull()),
        w,
        n_buckets=_CLF_BUCKETS,
        bias=bias,
        out_col="score",
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cf:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    lab = scored.join(docs.select("doc_id", "__lbl"), "doc_id").select(
        "doc_id",
        F.col("__lbl").cast("double").alias("y"),
        "score",
        u.alias("u"),
        F.abs(F.col("__lbl") - F.col("score")).alias("nonconf"),
    ).localCheckpoint(eager=False)  # calib AND test consume this; without
    # materialization the tokenize+score subtree runs once per arm.
    # CARDINALITY HONESTY (r17): lab is one NARROW row (id + 4 doubles)
    # per scored document — corpus-ROW-cardinality, though a small
    # fraction of the corpus payload.  Executor-local and
    # non-replicated; the cluster-scale form is
    # persist(MEMORY_AND_DISK) — DESIGN.md "localCheckpoint vs persist"
    calib = lab.filter(F.col("u") < 0.5)
    test = lab.filter(F.col("u") >= 0.5)
    cs = calib.agg(
        F.array_sort(F.collect_list("nonconf")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    alphas = spark.createDataFrame([(0.1,), (0.2,)], "alpha double")
    k = F.least(
        F.ceil((1 - F.col("alpha")) * (F.col("n") + 1)), F.col("n")
    ).cast("bigint")
    qs = (
        cs.crossJoin(F.broadcast(alphas))
        .withColumn("k", k)
        .select(
            "alpha",
            F.col("n").cast("bigint").alias("n_calib"),
            "k",
            F.element_at("v", F.col("k").cast("int")).alias("qhat"),
        )
    )
    return (
        test.crossJoin(F.broadcast(qs))
        .groupBy("alpha", "n_calib", "k", "qhat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(
                F.sum(
                    F.when(F.col("nonconf") <= F.col("qhat"), 1).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("coverage"),
        )
        .select(
            "alpha",
            "n_calib",
            "n_test",
            "k",
            F.round("qhat", 6).alias("qhat"),
            "coverage",
        )
    )


def _holt_sql(alpha: float = 0.5, beta: float = 0.3) -> str:
    """Recursive-CTE oracle for the Holt fold: the same recurrence with
    the same operand order (l2 expanded inline, d·d not pow), constants
    repr'd from the SAME Python floats the Spark fold multiplies by."""
    a, oma = repr(alpha), repr(1.0 - alpha)
    b, omb = repr(beta), repr(1.0 - beta)
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
ord AS (
  SELECT event_type, y,
         -- (x, y) not x alone: sort_array orders structs
         -- lexicographically, so duplicate-x ties must break on y
         -- identically here or the two engines fold different sequences
         row_number() OVER (PARTITION BY event_type ORDER BY x, y) AS i
  FROM daily
),
nn AS (SELECT event_type, max(i) AS n FROM ord GROUP BY 1),
rec AS (
  SELECT o1.event_type, CAST(2 AS BIGINT) AS i,
         o2.y AS l, o2.y - o1.y AS b, CAST(0.0 AS DOUBLE) AS sse
  FROM ord o1 JOIN ord o2 USING (event_type)
  WHERE o1.i = 1 AND o2.i = 2
  UNION ALL
  SELECT r.event_type, r.i + 1,
         {a} * o.y + {oma} * (r.l + r.b),
         {b} * (({a} * o.y + {oma} * (r.l + r.b)) - r.l) + {omb} * r.b,
         r.sse + (o.y - (r.l + r.b)) * (o.y - (r.l + r.b))
  FROM rec r
  JOIN ord o ON o.event_type = r.event_type AND o.i = r.i + 1
)
SELECT r.event_type, CAST(nn.n AS BIGINT) AS n_points,
       round(r.l, 4) AS level, round(r.b, 4) AS trend,
       round(r.sse, 4) AS sse,
       round(r.l + 1.0 * r.b, 4) AS forecast_1,
       round(r.l + 2.0 * r.b, 4) AS forecast_2,
       round(r.l + 3.0 * r.b, 4) AS forecast_3
FROM rec r JOIN nn ON r.event_type = nn.event_type AND r.i = nn.n
"""


@q("holt_forecast_events", _holt_sql())
def holt_forecast_events(spark, sf_dir):
    """FORECASTING: Holt's linear-trend exponential smoothing over each
    event_type's daily count series (operators/temporal.py
    holt_linear) — level/trend state, one-step-ahead SSE, and a 3-day
    forecast.  The recurrence is inherently SEQUENTIAL — the shape that
    usually forces a Python loop — but here it folds through the
    collected series as a JVM-side F.aggregate (whole-stage-codegen
    arithmetic, zero UDFs), and the oracle replays the identical chain
    as a recursive CTE with the same operand order (l2 expanded inline,
    squared error as d·d never pow(d,2) — Java Math.pow and C pow can
    disagree in the last ulp), constants repr'd from the same Python
    floats — so a 29-step float recurrence is bit-identical
    cross-engine before the 4-dp rounding.  Complements the trend
    family: theil_sen says how fast it HAS been moving (robust, no
    model), holt says where it is GOING (recency-weighted state).
    Scale shape: ONE corpus shuffle to daily series; the fold is
    O(days) per group inside the agg projection — the array is the
    series, never corpus rows."""
    from .operators.temporal import holt_linear

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    h = holt_linear(daily, "event_type", "x", "y", alpha=0.5, beta=0.3)
    return h.select(
        "event_type",
        "n_points",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("sse", 4).alias("sse"),
        F.round("forecast_1", 4).alias("forecast_1"),
        F.round("forecast_2", 4).alias("forecast_2"),
        F.round("forecast_3", 4).alias("forecast_3"),
    )


@q(
    "leadlag_corr_events",
    """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT * FROM (VALUES ('click', 'purchase'), ('view', 'purchase'))
    AS t(leader, follower)
),
lags AS (SELECT unnest(range(-3, 4)) AS lag),
m AS (
  SELECT p.leader, p.follower, lg.lag,
         count(*) AS n, sum(a.y) AS sx, sum(b.y) AS sy,
         sum(a.y * a.y) AS sxx, sum(b.y * b.y) AS syy,
         sum(a.y * b.y) AS sxy
  FROM pairs p CROSS JOIN lags lg
  JOIN daily a ON a.event_type = p.leader
  JOIN daily b ON b.event_type = p.follower AND b.x = a.x + lg.lag
  GROUP BY 1, 2, 3
)
SELECT leader, follower, CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
         AS corr
FROM m
WHERE n >= 3 AND (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
""",
)
def leadlag_corr_events(spark, sf_dir):
    """LEAD-LAG cross-correlation between daily event series: Pearson r
    between the leader's count on day t and the follower's on day
    t+lag, for lags −3..+3 — the does-click-volume-LEAD-purchase-volume
    question a forecasting/attribution analysis starts from (the lag
    maximizing r is the candidate causal delay; attribution_credit then
    allocates within it).  r is stated as raw power sums
    (nΣxy−ΣxΣy)/√(…) — the moments discipline, no engine corr()
    builtin whose NULL/ddof conventions could differ — and degenerate
    lags (constant series, <3 overlapping days) are filtered on the
    same computed values in both engines.  Scale shape: ONE corpus
    shuffle to the daily frame; the lag×pair join and the correlation
    arithmetic run on |types|×|days| rows — constant-size, corpus-
    independent."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    pairs = F.broadcast(
        daily.sparkSession.createDataFrame(
            [("click", "purchase"), ("view", "purchase")],
            "leader string, follower string",
        )
    )
    a = daily.select(
        F.col("event_type").alias("leader"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    ).join(pairs, "leader")
    al = a.withColumn(
        "lag", F.explode(F.sequence(F.lit(-3), F.lit(3)))
    )
    b = daily.select(
        F.col("event_type").alias("follower"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    m = (
        al.join(
            b,
            (al.follower == b.follower) & (b.xb == al.xa + al.lag),
        )
        .drop(b.follower)
        .groupBy("leader", "follower", "lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ya").alias("sx"),
            F.sum("yb").alias("sy"),
            F.sum(F.col("ya") * F.col("ya")).alias("sxx"),
            F.sum(F.col("yb") * F.col("yb")).alias("syy"),
            F.sum(F.col("ya") * F.col("yb")).alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_term = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return m.filter((n >= 3) & (var_term > 0)).select(
        "leader",
        "follower",
        F.col("lag").cast("bigint").alias("lag"),
        n.cast("bigint").alias("n_days"),
        F.round((n * sxy - sx * sy) / F.sqrt(var_term), 4).alias("corr"),
    )


def _ivf_incr_store(spark, sf_dir: str):
    """Incremental IVF index: centroids trained ONCE on the standing
    corpus (vec_id % 5 != 0), standing assignment persisted as a parquet
    store — the _minhash_store pattern for the ANN family.  The
    incremental query folds the delta batch in WITHOUT retraining or
    touching the standing lists."""

    def build():
        from .operators.similarity import ivf_assign, ivf_train

        emb = load_table(spark, sf_dir, "embeddings")
        standing = emb.filter(F.col("vec_id") % 5 != 0)
        cents = ivf_train(standing)
        path = scratch_dir(spark, "suite_ivfstore_")
        ivf_assign(standing, cents).write.mode("overwrite").parquet(path)
        return cents, path

    return artifact(spark, "ivf_incr_store", sf_dir, build)


@q("embed_knn_ivf_incr", _KNN_SQL)
def embed_knn_ivf_incr(spark, sf_dir):
    """INCREMENTAL ANN index maintenance (the minhash_incremental
    pattern applied to IVF): the standing store holds assignments for
    80% of the corpus under centroids trained on that standing corpus
    alone; the 20% delta batch folds in as ONE stateless map-side
    assignment against the FROZEN centroids (operators/similarity.py
    ivf_assign — no retrain, no rewrite of standing lists, the
    append-only maintenance a production vector index runs per ingest
    batch).  Serving probes the UNION of standing parquet + fresh delta
    at nprobe = n_centroids, and the oracle is the EXACT brute-force
    KNN SQL — full probe through the incrementally-built store must
    reproduce exact top-10 EXACTLY, so a fold-in bug (wrong list, lost
    vector, stale centroid matrix) breaks the driver hash rather than
    surfacing as a quiet recall dip.  (Partial-probe recall economics
    are certified separately: embed_knn_ivf + recall_ivf_full_probe.)
    Scale shape: delta assignment is map-only over the batch; the
    standing store is read, never recomputed; probe cost is the
    served-query path, independent of how many batches were folded."""
    from .operators.similarity import ivf_assign, ivf_probe

    cents, path = _ivf_incr_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    store = spark.read.parquet(path).unionByName(ivf_assign(delta, cents))
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_probe(store, queries, cents, k=10, nprobe=len(cents))


@q(
    "event_paths_top",
    """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, d, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM e WHERE rn <= 3 GROUP BY user_id, d
),
c AS (SELECT path, count(*) AS n FROM p GROUP BY path)
SELECT path, CAST(n AS BIGINT) AS n_journeys, CAST(rnk AS INT) AS rnk
FROM (SELECT path, n,
             row_number() OVER (ORDER BY n DESC, path) AS rnk
      FROM c)
WHERE rnk <= 10
""",
)
def event_paths_top(spark, sf_dir):
    """JOURNEY PATH MINING: the top 10 most common 3-step user-day
    journey prefixes (first three events of each user's day, in time
    order, joined 'a>b>c') — the sequence-level view event_transitions'
    one-step Markov matrix cannot give: a Markov chain sees P(b|a) and
    P(c|b) but not which full OPENINGS dominate, and openings are what
    onboarding/funnel design reads.  Ties in the per-day ordering break
    on event_id, path ranking breaks on the path string — deterministic
    in both engines.  Scale shape: ONE corpus window partitioned by
    (user, day) — the key's cardinality grows with the corpus, so the
    sort is fully parallel with no hot partition — then two tiny aggs;
    the path domain is ≤ |types|³ rows, and the final top-10 window
    runs on that constant-size frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.col("ts").cast("date").alias("d"),
    )
    w_rn = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    e = ev.withColumn("rn", F.row_number().over(w_rn)).filter(
        F.col("rn") <= 3
    )
    p = e.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rn").alias("rn"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ),
                lambda x: x["et"],
            ),
            ">",
        ).alias("path")
    )
    c = p.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    w_top = Window.partitionBy().orderBy(F.col("n").desc(), F.col("path"))
    return (
        c.withColumn("rnk", F.row_number().over(w_top))
        .filter(F.col("rnk") <= 10)
        .select(
            "path",
            F.col("n").cast("bigint").alias("n_journeys"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@q(
    "randomized_response_events",
    """
WITH cats AS (
  SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS ci
  FROM (SELECT DISTINCT event_type FROM events)
),
k AS (SELECT count(*) AS k FROM cats),
r AS (
  SELECT e.event_id, e.event_type,
         (('0x' || substr(md5('rr1:' || CAST(e.event_id AS VARCHAR)), 1, 8))
            ::BIGINT + 0.5) / 4294967296.0 AS u_lie,
         ('0x' || substr(md5('rr2:' || CAST(e.event_id AS VARCHAR)), 1, 8))
            ::BIGINT AS h_pick
  FROM events e
),
rep AS (
  SELECT CASE WHEN r.u_lie < 0.75 THEN r.event_type
              ELSE (SELECT event_type FROM cats
                    WHERE ci = r.h_pick % (SELECT k FROM k)) END
           AS reported
  FROM r
),
truth AS (SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
obs AS (SELECT reported AS event_type, count(*) AS n_reported
        FROM rep GROUP BY 1),
tot AS (SELECT count(*) AS n FROM events)
SELECT t.event_type, CAST(t.n_true AS BIGINT) AS n_true,
       CAST(o.n_reported AS BIGINT) AS n_reported,
       round((o.n_reported - 0.25 * tot.n / k.k) / 0.75, 4) AS n_est,
       round(abs((o.n_reported - 0.25 * tot.n / k.k) / 0.75 - t.n_true),
             4) AS abs_err
FROM truth t JOIN obs o USING (event_type)
CROSS JOIN tot CROSS JOIN k
""",
)
def randomized_response_events(spark, sf_dir):
    """LOCAL differential privacy via k-ary randomized response — the
    collection-side mechanism completing the privacy family
    (redact_pii scrubs, k_anonymity/l_diversity audit,
    dp_noisy_counts is the CENTRAL release; here each record lies
    about its category with probability 1−p BEFORE aggregation, so the
    aggregator never holds the truth).  Each row draws two replayable
    md5 uniforms: keep-truth at p = 0.75, else report the hash-picked
    category; the de-biased estimator n̂_c = (reported_c − (1−p)·n/k)/p
    is exact arithmetic, and emitting n_true/abs_err beside it makes
    the mechanism's utility (not just its output) hash-checked — both
    engines replay identical lies.  Category indexing is alphabetical
    row_number, stated in both engines.  Scale shape: the perturbation
    is map-side (category table broadcast: tiny by construction); ONE
    count agg each for truth and reported."""
    ev = load_table(spark, sf_dir, "events")
    cats = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "ci",
            F.row_number().over(
                Window.partitionBy().orderBy("event_type")
            )
            - 1,
        )
    )
    kk = cats.agg(F.count(F.lit(1)).alias("k"))

    def u(salt):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt), F.col("event_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    r = ev.select(
        "event_id",
        "event_type",
        ((u("rr1:").cast("double") + 0.5) / 4294967296.0).alias("u_lie"),
        u("rr2:").alias("h_pick"),
    ).crossJoin(F.broadcast(kk))
    pick = cats.select(
        F.col("ci").alias("pick_ci"), F.col("event_type").alias("lie_type")
    )
    rep = r.withColumn("pick_ci", (F.col("h_pick") % F.col("k"))).join(
        F.broadcast(pick), "pick_ci"
    ).select(
        F.when(F.col("u_lie") < 0.75, F.col("event_type"))
        .otherwise(F.col("lie_type"))
        .alias("reported")
    )
    truth = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    obs = rep.groupBy(F.col("reported").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_reported")
    )
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    est = (F.col("n_reported") - 0.25 * F.col("n") / F.col("k")) / 0.75
    return (
        truth.join(obs, "event_type")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(kk))
        .select(
            "event_type",
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_reported").cast("bigint").alias("n_reported"),
            F.round(est, 4).alias("n_est"),
            F.round(F.abs(est - F.col("n_true")), 4).alias("abs_err"),
        )
    )


@q(
    "cumulative_users_daily",
    """
WITH fs AS (
  SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_d
  FROM events GROUP BY 1, 2
),
daily AS (SELECT event_type, first_d AS d, count(*) AS new_users
          FROM fs GROUP BY 1, 2)
SELECT event_type, d AS day, CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily
""",
)
def cumulative_users_daily(spark, sf_dir):
    """Running DISTINCT-user ADOPTION curve per event_type via the
    first-seen trick: window count(DISTINCT) does not exist in any
    engine, and the naive per-day distinct-over-growing-prefix rescans
    the corpus once per day (O(days × corpus)); instead each (type,
    user) collapses to its FIRST day (one agg), and the running
    distinct count is a cumulative sum of daily first-appearances —
    exactly equivalent because a user enters a type's distinct set
    once, on their first day, and never leaves.  Scale shape: ONE
    corpus shuffle (per-(type, user) min), then a |types|×|days| frame;
    the per-type cumsum windows run on that constant-size frame."""
    fs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_d"))
    )
    daily = fs.groupBy("event_type", F.col("first_d").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return daily.select(
        "event_type",
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@q(
    "benford_audit_lineitem",
    """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1
),
o AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT sum(n) AS tot FROM o)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / tot, 4) AS observed_freq,
       round(log10(1.0 + 1.0 / digit), 4) AS benford_freq,
       round((n * 1.0 / tot - log10(1.0 + 1.0 / digit))
             * (n * 1.0 / tot - log10(1.0 + 1.0 / digit))
             / log10(1.0 + 1.0 / digit), 6) AS chi2_term
FROM o CROSS JOIN t
""",
)
def benford_audit_lineitem(spark, sf_dir):
    """BENFORD'S LAW forensic audit over line-item prices: leading
    digits of naturally-spanning monetary amounts should follow
    P(d) = log₁₀(1 + 1/d) ≈ 30.1% ones down to 4.6% nines, and
    fabricated or truncated data visibly doesn't — the data-forensics
    screen auditors and quality teams run before deeper review (this
    TPC-H-ish price column is uniform-ish by construction, so the
    observed-vs-Benford gap here IS the signal: the audit correctly
    flags synthetic pricing).  Per-digit chi-square terms ride along so
    the divergence is attributable to specific digits.  Leading digit
    extracted via integer-string truncation, identical in both engines
    (never log-based extraction, whose floor(log10) edge cases at
    powers of ten differ in the last ulp).  Scale shape: map-side digit
    extraction, ONE 9-group count agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    d = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    o = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = o.agg(F.sum("n").alias("tot"))
    freq = F.col("n") * 1.0 / F.col("tot")
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return o.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(freq, 4).alias("observed_freq"),
        F.round(ben, 4).alias("benford_freq"),
        F.round((freq - ben) * (freq - ben) / ben, 6).alias("chi2_term"),
    )


@q(
    "gini_revenue_customers",
    """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS r
  FROM orders GROUP BY 1
),
rk AS (
  SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
         count(*) OVER () AS n, sum(r) OVER () AS tot
  FROM rev
),
g AS (
  SELECT max(n) AS n, max(tot) AS tot,
         sum(i * r) AS weighted,
         sum(CASE WHEN i > max_i - CAST(floor(max_i * 0.2) AS BIGINT)
                  THEN r ELSE 0 END) AS top20_rev
  FROM (SELECT *, max(i) OVER () AS max_i FROM rk)
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(tot, 2) AS total_revenue,
       round(2.0 * weighted / (n * tot) - (n + 1.0) / n, 4) AS gini,
       round(top20_rev / tot, 4) AS top20_share
FROM g
""",
)
def gini_revenue_customers(spark, sf_dir):
    """REVENUE CONCENTRATION: the Gini coefficient of per-customer
    revenue (G = 2Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over ascending-ranked
    revenues) plus the top-20% revenue share (the Pareto 80/20 check) —
    the concentration view skew_report_events' hot-KEY histogram
    doesn't give: skew_report answers 'will a partition hotspot', this
    answers 'how dependent is the business on few customers'.  Rank
    ties break on customer key, stated in both engines.  Scale shape:
    ONE corpus shuffle (per-customer agg); the rank is a global sort of
    the CUSTOMER frame (dimension-sized, not fact-sized) and the Gini
    arithmetic is one agg over it.  At a truly fact-scale entity count
    the global row_number becomes the bottleneck — use
    gini_revenue_customers_dist, the hash-certified distributed-rank
    twin (broadcast value-bucket edges + bucket-partitioned rank +
    offset cumsum over the ≤32-row bucket frame)."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    w_rank = Window.partitionBy().orderBy("r", "o_custkey")
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = rev.select(
        "r",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("r").over(w_all).alias("tot"),
    ).withColumn("max_i", F.max("i").over(w_all))
    g = rk.agg(
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
        F.sum(F.col("i") * F.col("r")).alias("weighted"),
        F.sum(
            F.when(
                F.col("i")
                > F.col("max_i")
                - F.floor(F.col("max_i") * 0.2).cast("bigint"),
                F.col("r"),
            ).otherwise(0)
        ).alias("top20_rev"),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round("tot", 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("tot"))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
        F.round(F.col("top20_rev") / F.col("tot"), 4).alias("top20_share"),
    )


@q(
    "gini_revenue_customers_dist",
    """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS r
  FROM orders GROUP BY 1
),
rk AS (
  SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
         count(*) OVER () AS n, sum(r) OVER () AS tot
  FROM rev
),
g AS (
  SELECT max(n) AS n, max(tot) AS tot,
         sum(i * r) AS weighted,
         sum(CASE WHEN i > max_i - CAST(floor(max_i * 0.2) AS BIGINT)
                  THEN r ELSE 0 END) AS top20_rev
  FROM (SELECT *, max(i) OVER () AS max_i FROM rk)
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(tot, 2) AS total_revenue,
       round(2.0 * weighted / (n * tot) - (n + 1.0) / n, 4) AS gini,
       round(top20_rev / tot, 4) AS top20_share
FROM g
""",
)
def gini_revenue_customers_dist(spark, sf_dir):
    """The DISTRIBUTED-rank twin of gini_revenue_customers — the
    'range-partitioned sort + partition-offset cumsum' plan that
    query's docstring promises for fact-scale entity counts, with the
    range partitioner made DETERMINISTIC via driver-collected edges
    (the classifier_calibration_approx precedent): 31
    approx_percentile(1e4) value edges split the revenue axis into 32
    ordered buckets (bucket = #edges < r, 31 codegen'd literal
    comparisons — rows tied on r can never
    straddle an edge because assignment depends on the value alone,
    which is what keeps the composed rank EXACT and the oracle the
    exact twin's SQL verbatim), per-bucket ranks come from a
    PARTITIONED window, bucket offsets from one cumulative window
    over the ≤32-row bucket-count frame (config-sized, annotated in
    the lint allowlist — the budget_select_docs precedent), and
    global rank = offset + local rank.  No single-partition sort of
    the entity frame anywhere: where the exact twin serializes every
    customer through one task, every corpus-sized stage here is
    hash-parallel, and per-bucket skew is bounded by the edge grid
    (~n/32 per bucket up to revenue tie mass — revenue sums are
    effectively continuous).  Same result, same oracle, hash-certified
    equal.  Scale shape: one corpus shuffle (per-customer agg), one
    GK-sketch edges agg collected (31 floats), one bucket-partitioned
    rank window, two broadcast joins (offsets + totals), one final
    agg."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
        .localCheckpoint(eager=True)
    )
    # edges collected ONCE to the driver (31 floats, bounded by the
    # config grid — the classifier_calibration_approx precedent), then
    # folded into 31 literal comparisons: the prior broadcast-array +
    # size(filter(ax, e -> r > e)) form was a higher-order function,
    # which is CodegenFallback — the optimizer pushed its isnotnull
    # into the broadcast-join condition and the whole entity-frame
    # stage feeding the rank-window exchange ran interpreted (the r15
    # bloom class).  sum((r > edge_i)::int) ≡ count of edges < r, and
    # a single driver evaluation pins determinism harder than the
    # checkpoint did (GK merge order can no longer matter).
    edge_vals = rev.agg(
        F.expr(
            "approx_percentile(r, array("
            + ", ".join(f"{i / 32.0}D" for i in range(1, 32))
            + "), 10000)"
        ).alias("ax")
    ).first()["ax"]
    # ONE F.expr string, not 31 Column ops: per-operation py4j round
    # trips cost ~0.5 s of driver time per build (the F.lit(list)
    # lesson, scaled down); cast('…' as double) round-trips repr()
    # exactly, so the embedded edges equal the collected doubles
    bkt = F.expr(
        " + ".join(
            f"cast(r > cast('{float(e)!r}' as double) as int)"
            for e in edge_vals
        )
    )
    binned = rev.select("r", "o_custkey", bkt.alias("__bkt"))
    counts = binned.groupBy("__bkt").agg(
        F.count(F.lit(1)).alias("c"), F.sum("r").alias("s")
    )
    # ≤32-row cumulative window (bucket-count frame, config-sized) —
    # allowlisted: the frame is the bucket grid, never the corpus
    w_off = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "__bkt",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("__off"),
    )
    tot = counts.agg(
        F.sum("c").alias("n"), F.sum("s").alias("tot")
    )
    w_local = Window.partitionBy("__bkt").orderBy("r", "o_custkey")
    local = binned.withColumn(
        "__lrank", F.row_number().over(w_local).cast("bigint")
    )
    i = F.col("__off") + F.col("__lrank")
    g = (
        local.join(F.broadcast(offs), "__bkt")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.max("tot").alias("tot"),
            F.sum(i * F.col("r")).alias("weighted"),
            F.sum(
                F.when(
                    i
                    > F.col("n")
                    - F.floor(F.col("n") * 0.2).cast("bigint"),
                    F.col("r"),
                ).otherwise(0)
            ).alias("top20_rev"),
        )
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round("tot", 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("tot"))
            - (F.col("n") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
        F.round(F.col("top20_rev") / F.col("tot"), 4).alias("top20_share"),
    )


@q(
    "dpp_scan_events",
    """
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS event_date,
         CASE WHEN isodow(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END
           AS is_weekend
  FROM events
)
SELECT f.event_date, CAST(count(*) AS BIGINT) AS n,
       round(sum(f.value), 4) AS total_value
FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) f
JOIN dim ON f.event_date = dim.event_date
WHERE dim.is_weekend = 1
GROUP BY 1
""",
)
def dpp_scan_events(spark, sf_dir):
    """DYNAMIC PARTITION PRUNING certified: the fact table is written
    partitioned by event_date, the date DIMENSION is written as its own
    parquet (so Catalyst cannot constant-fold it away), and the join
    filters the dim on is_weekend — a predicate the fact scan cannot
    see statically.  DPP injects the dim's surviving keys into the fact
    scan's PartitionFilters AT RUNTIME, and the query RAISES unless the
    executed plan carries the `dynamicpruning` subquery on the fact
    scan — completing the scan-economy trio (partitioned_scan_events:
    static pruning; bucketed_join_orders: shuffle elision; here:
    join-driven pruning, the mechanism star-schema dashboards live on
    at 100 TB, where 'weekend days only' must prune 5/7 of the fact
    files before IO, not after).  Result is hash-checked against the
    plain filtered join.  Write-then-read is the honest cost, as with
    the trio's other members."""
    import shutil
    import tempfile

    fact_path = tempfile.mkdtemp(prefix="suite_dppf_")
    dim_path = tempfile.mkdtemp(prefix="suite_dppd_")
    try:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.col("ts").cast("date")
        )
        ev.select("event_date", "value").write.mode(
            "overwrite"
        ).partitionBy("event_date").parquet(fact_path)
        ev.select("event_date").distinct().withColumn(
            "is_weekend",
            F.when(F.expr("weekday(event_date)") >= 5, 1)
            .otherwise(0)
            .cast("int"),
        ).write.mode("overwrite").parquet(dim_path)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter(
            F.col("is_weekend") == 1
        )
        joined = fact.join(dim, "event_date")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "dynamicpruning" not in plan:
            raise RuntimeError(
                "fact scan carries no dynamicpruning subquery — DPP "
                "regressed to a full-partition scan behind the join"
            )
        res = (
            joined.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .localCheckpoint()  # materialize before the dirs drop
        )
    finally:
        shutil.rmtree(fact_path, ignore_errors=True)
        shutil.rmtree(dim_path, ignore_errors=True)
    return res


@q(
    "daily_percentiles_events",
    """
WITH s AS (
  SELECT CAST(ts AS DATE) AS day,
         list_sort(list(CAST(value AS DOUBLE))) AS v, count(*) AS n
  FROM events GROUP BY 1
)
SELECT day, CAST(n AS BIGINT) AS n,
       round(v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1]
             + (v[CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1]
                - v[CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1])
               * (0.5 * (n - 1) - floor(0.5 * (n - 1))), 4) AS p50,
       round(v[CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1]
             + (v[CAST(ceil(0.95 * (n - 1)) AS BIGINT) + 1]
                - v[CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1])
               * (0.95 * (n - 1) - floor(0.95 * (n - 1))), 4) AS p95,
       round(v[CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1]
             + (v[CAST(ceil(0.99 * (n - 1)) AS BIGINT) + 1]
                - v[CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1])
               * (0.99 * (n - 1) - floor(0.99 * (n - 1))), 4) AS p99
FROM s
""",
)
def daily_percentiles_events(spark, sf_dir):
    """The OBSERVABILITY staple: daily P50/P95/P99 of value — the
    tail-latency band chart every service dashboard opens with, as one
    grouped percentile aggregation with the family's exact
    interpolated-index arithmetic stated in both engines.  Scale
    shape: ONE shuffle on day; exact `percentile` buffers each day's
    values in the agg buffer — the outlier_mad disclosure applies
    verbatim (a 100-TB day swaps in approx_percentile's constant-state
    sketch, certified by the outlier_mad_approx_events twin, or the
    MERGEABLE k-mins quantile sketch — quantile_sketch_events — when
    per-batch sketches must union across ingest without a re-read; the
    exact form is the oracle-checkable audit)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.col("value").cast("double").alias("value"),
    )
    return ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(value, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95D)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99D)"), 4).alias("p99"),
    )


def _hll_distinct_sql() -> str:
    from .operators.sketches import hll_estimate_body_sql, hll_registers_sql

    return f"""
WITH {hll_registers_sql("user_id", src="events", group_expr="event_type").lstrip()},
hreg_all AS (
  SELECT 'ALL' AS grp, idx, max(r) AS r FROM hreg GROUP BY 2
),
hest AS ({hll_estimate_body_sql('hreg')}),
hest_all AS ({hll_estimate_body_sql('hreg_all')}),
exact AS (
  SELECT event_type AS grp, count(DISTINCT user_id) AS n
  FROM events GROUP BY 1
  UNION ALL
  SELECT 'ALL', count(DISTINCT user_id) FROM events
),
u AS (SELECT * FROM hest UNION ALL SELECT * FROM hest_all)
SELECT u.grp AS scope, CAST(e.n AS BIGINT) AS n_exact,
       round(u.hll_estimate, 2) AS hll_estimate,
       round((u.hll_estimate - e.n) / e.n * 100, 2) AS rel_err_pct
FROM u JOIN exact e ON u.grp = e.grp
"""


@q("hll_distinct_events", _hll_distinct_sql())
def hll_distinct_events(spark, sf_dir):
    """MERGEABLE-SKETCH cardinality: a portable HyperLogLog (p=10,
    md5-derived hashes, operators/sketches.py) estimating distinct
    users per event_type PLUS an 'ALL' row whose registers are the
    max-MERGE of the per-type sketches — the union-without-rescanning
    property that makes HLL the 100-TB distinct-count workhorse
    (pre-aggregate per ingest batch / partition, merge at query time;
    the shuffle carries 1024 registers per group, never user ids).
    Unlike cardinality_sketches (Spark's engine-internal
    approx_count_distinct, rows-only checked), every register and the
    estimator arithmetic here replay bit-identically in the DuckDB
    oracle — the sketch itself is hash-checked, exactness engineered
    via integer-scaled register sums (order-free) and bin()-length
    rho (no float log2).  The exact-distinct twin and relative error
    ride along in-frame, so the artifact self-reports its accuracy
    (~±1% expected at m=1024: 1.04/√1024 ≈ 3.25% one-sigma bound).
    Scale shape: two map-side-combinable aggs over ≤ groups×1024
    register rows; the exact twin is the only corpus-width distinct
    (dropped in production, kept here as the audit)."""
    from .operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, ["event_type"], "user_id")
    per_type = hll_estimate(regs, ["event_type"]).withColumnRenamed(
        "event_type", "scope"
    )
    merged = hll_merge(
        regs.withColumn("scope", F.lit("ALL")), ["scope"]
    )
    all_row = hll_estimate(merged, ["scope"])
    est = per_type.unionByName(all_row)
    exact = (
        ev.groupBy(F.col("event_type").alias("scope"))
        .agg(F.count_distinct("user_id").alias("n_exact"))
        .unionByName(
            ev.agg(
                F.count_distinct("user_id").alias("n_exact")
            ).select(F.lit("ALL").alias("scope"), "n_exact")
        )
    )
    return est.join(exact, "scope").select(
        "scope",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round("hll_estimate", 2).alias("hll_estimate"),
        F.round(
            (F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact")
            * 100,
            2,
        ).alias("rel_err_pct"),
    )


def _cms_hh_sql() -> str:
    from .operators.sketches import cms_oracle_sql

    return f"""
WITH {cms_oracle_sql("user_id", src="events").lstrip()},
exact AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
),
top20 AS (
  SELECT user_id, n_exact FROM exact
  ORDER BY n_exact DESC, user_id LIMIT 20
)
SELECT t.user_id, CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(c.cms_estimate AS BIGINT) AS cms_estimate,
       CAST(CASE WHEN c.cms_estimate >= t.n_exact THEN 1 ELSE 0 END AS INT)
         AS never_undercounts
FROM top20 t JOIN cms_est c ON c.k = t.user_id
"""


@q("cms_heavy_hitters_events", _cms_hh_sql())
def cms_heavy_hitters_events(spark, sf_dir):
    """COUNT-MIN SKETCH frequency estimation (Cormode-Muthukrishnan,
    operators/sketches.py): d=4 md5-salted hash rows × w=2048 buckets
    summarize the full event stream in 8k mergeable BIGINT cells; the
    top-20 users' counts are then point-read as min-over-d cells and
    compared against exact counts in-frame, with the CMS one-sided
    guarantee (estimate ≥ truth, error ≤ εN with ε = e/w) surfaced as
    a never_undercounts column the hash check pins to 1.  This is the
    heavy-hitter shape for key spaces too large to groupBy exactly:
    the shuffle carries d·w cells regardless of corpus or key-space
    size, and cells merge across batches by addition — the same
    pre-aggregate/merge contract as the HLL twin.  heavy_hitters_
    sources demonstrates Spark's own freqItems + exact verify; this
    one makes the sketch itself portable and hash-checked.  Scale
    shape: one map-side-combinable agg over ≤ d·w cells (the explode
    is map-local ×d); the exact top-20 is the audit twin."""
    from .operators.sketches import cms_cells, cms_estimate

    ev = load_table(spark, sf_dir, "events")
    cells = cms_cells(ev, "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    top20 = exact.orderBy(
        F.col("n_exact").desc(), F.col("user_id").asc()
    ).limit(20)
    est = cms_estimate(cells, top20.select("user_id"), "user_id")
    return top20.join(est, "user_id").select(
        "user_id",
        "n_exact",
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("n_exact"))
        .cast("int")
        .alias("never_undercounts"),
    )


@q(
    "mann_whitney_events",
    """
WITH per_v AS (
  SELECT round(value, 2) AS qv,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
scored AS (
  SELECT *,
         coalesce(sum(cb) OVER (ORDER BY qv
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_b_less
  FROM per_v
),
agg AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
         sum(ca::DOUBLE * (cum_b_less::DOUBLE + cb::DOUBLE / 2.0)) AS u_a,
         sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb))
           AS tie_cubes
  FROM scored
),
z AS (
  SELECT na::DOUBLE AS na, nb::DOUBLE AS nb, u_a, tie_cubes::DOUBLE AS tc
  FROM agg
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(u_a, 2) AS u_stat,
       round(CASE WHEN na * nb / 12.0 * ((na + nb + 1.0)
                       - tc / ((na + nb) * (na + nb - 1.0))) > 0
                  THEN (u_a - na * nb / 2.0)
                       / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                              - tc / ((na + nb) * (na + nb - 1.0))))
                  END, 4) AS z,
       CAST(CASE WHEN na * nb / 12.0 * ((na + nb + 1.0)
                      - tc / ((na + nb) * (na + nb - 1.0))) <= 0 THEN NULL
                 WHEN abs((u_a - na * nb / 2.0)
                      / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                             - tc / ((na + nb) * (na + nb - 1.0))))) > 1.96
                 THEN 1 ELSE 0 END AS INT) AS significant
FROM z
""",
)
def mann_whitney_events(spark, sf_dir):
    """NONPARAMETRIC inference: Mann-Whitney U comparing `value`
    between click and purchase events (operators/stats.py
    mann_whitney_u) — the rank-sum sibling of welch_ttest_events for
    skewed metrics where a mean-based t chases outliers.  The rank
    arithmetic never builds a global rank: U_A = Σ_v ca(v)·(cumB(<v) +
    ½cb(v)) over DISTINCT 2-decimal-QUANTIZED values, so the corpus
    collapses in one aggregation and the single ordered window runs
    over the bounded distinct-value frame (value range × 100 rows, not
    corpus rows — the quantization is what makes rank stats scale, and
    the ties it introduces are handled exactly by the tie-corrected
    variance).  Tie cubes stay BIGINT until one final conversion;
    U sums half-integers (exact in double at any accumulation order) —
    both engines replay the identical arithmetic.  Scale shape: one
    corpus agg → one bounded window → one scalar row."""
    from .operators.stats import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    r = mann_whitney_u(
        ev,
        "value",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    )
    return r.select(
        "n_a",
        "n_b",
        F.round("u_stat", 2).alias("u_stat"),
        F.round("z", 4).alias("z"),
        "significant",
    )


def _bh_fdr_sql() -> str:
    welch = SUITE["welch_ttest_events"][1]
    return f"""
WITH wre AS ({welch}),
pv AS (
  SELECT event_type, t_stat,
         round(2.0 / (1.0 + exp(1.702 * abs(t_stat))), 6) AS p
  FROM wre WHERE t_stat IS NOT NULL
),
ranked AS (
  SELECT event_type, t_stat, p,
         row_number() OVER (ORDER BY p, event_type) AS bh_rank,
         count(*) OVER () AS m
  FROM pv
),
kk AS (
  SELECT max(CASE WHEN p <= bh_rank * 0.05 / m THEN bh_rank ELSE 0 END) AS k
  FROM ranked
)
SELECT r.event_type, r.t_stat,
       round(r.p, 6) AS p_value,
       CAST(r.bh_rank AS INT) AS bh_rank,
       round(r.bh_rank * 0.05 / r.m, 6) AS bh_thresh,
       CAST(CASE WHEN r.bh_rank <= kk.k THEN 1 ELSE 0 END AS INT) AS rejected
FROM ranked r CROSS JOIN kk
UNION ALL
SELECT event_type, t_stat, NULL, NULL, NULL, 0
FROM wre WHERE t_stat IS NULL
"""


@q("bh_fdr_events", _bh_fdr_sql())
def bh_fdr_events(spark, sf_dir):
    """MULTIPLE-TESTING control: Benjamini-Hochberg FDR over the
    per-event-type Welch tests (operators/stats.py bh_fdr composing
    welch_ttest_events' certified frame) — the step a drift dashboard
    needs once it tests many segments at once: m tests at α=.05 expect
    m/20 false alarms, BH caps the expected false-discovery FRACTION
    at q=.05 instead.  p-values come from the logistic approximation
    to the normal ogive, p = 2/(1+exp(1.702·|t|)) (the classic 1.702
    scaling; df is huge here so t≈z) — stated identically in both
    engines AND rounded to 6 decimals BEFORE ranking/thresholding:
    exp() is libm-dependent, so a 1-ulp cross-engine difference could
    otherwise flip a rejected flag when p sits exactly at a step-up
    boundary (the threshold side, bh_rank·q/m, is already exact small-
    integer float arithmetic and needs no rounding).  With that, the
    whole chain t → p → rank → step-up threshold → reject set is
    hash-checked, and the oracle nests the welch oracle
    as a CTE so a drift in the upstream test surfaces twice.  Scale
    shape: upstream already collapsed the corpus; BH's two windows run
    over m = |event types| rows."""
    from .operators.stats import bh_fdr

    w = SUITE["welch_ttest_events"][0](spark, sf_dir)
    tests = w.select(
        "event_type",
        "t_stat",
        F.when(
            F.col("t_stat").isNotNull(),
            F.round(
                2.0 / (1.0 + F.exp(1.702 * F.abs(F.col("t_stat")))), 6
            ),
        ).alias("p"),
    )
    r = bh_fdr(tests, "event_type", "p")
    return r.select(
        "event_type",
        "t_stat",
        F.round("p", 6).alias("p_value"),
        F.col("bh_rank").cast("int").alias("bh_rank"),
        F.round("bh_thresh", 6).alias("bh_thresh"),
        F.col("rejected").cast("int").alias("rejected"),
    )


@q("stream_hll_distinct_events", _hll_distinct_sql())
def stream_hll_distinct_events(spark, sf_dir):
    """§2.9 STREAMING twin of hll_distinct_events, sharing its oracle:
    the HLL register frame is maintained as ONE running streaming
    aggregation (groupBy(event_type, idx).max(rho) — state is ≤
    groups×1024 BIGINT registers, bounded by the sketch, never by
    stream length) drained availableNow into the memory sink; the
    estimator, the max-merge 'ALL' row, and the exact-distinct audit
    twin are then static views over the drained registers.  This is
    the production shape of a live cardinality monitor: registers tick
    as ingest lands, the estimate reads off maintained state without a
    corpus pass — and because registers are max-merged integers, the
    streaming result is BIT-IDENTICAL to batch (no accumulation-order
    caveat at all, unlike the float-sum twins).  The exact twin runs
    batch-side over the same staged fixture — it is the audit column,
    not part of the streaming contract."""
    import uuid

    from .operators.sketches import hll_estimate, hll_merge, hll_registers
    from .streaming import run_to_memory
    from .streaming.services_stream import EVENTS_STREAM_SCHEMA

    ev_s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 8)
        .parquet(_staged_events(spark, sf_dir))
        .select("event_type", "user_id")
    )
    name = f"hll_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        sq = run_to_memory(
            hll_registers(ev_s, ["event_type"], "user_id"),
            name,
            "complete",
        )
        sq.stop()
    regs = spark.table(name)
    per_type = hll_estimate(regs, ["event_type"]).withColumnRenamed(
        "event_type", "scope"
    )
    all_row = hll_estimate(
        hll_merge(regs.withColumn("scope", F.lit("ALL")), ["scope"]),
        ["scope"],
    )
    est = per_type.unionByName(all_row)
    ev = load_table(spark, sf_dir, "events")
    exact = (
        ev.groupBy(F.col("event_type").alias("scope"))
        .agg(F.count_distinct("user_id").alias("n_exact"))
        .unionByName(
            ev.agg(F.count_distinct("user_id").alias("n_exact")).select(
                F.lit("ALL").alias("scope"), "n_exact"
            )
        )
    )
    return est.join(exact, "scope").select(
        "scope",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round("hll_estimate", 2).alias("hll_estimate"),
        F.round(
            (F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact")
            * 100,
            2,
        ).alias("rel_err_pct"),
    )


def _quantile_sketch_sql() -> str:
    from .operators.sketches import kmins_oracle_sql, kmins_quantile_body_sql

    return f"""
WITH {kmins_oracle_sql("event_id", "value", src="events",
                       group_expr="event_type").lstrip()},
km_all AS (
  SELECT 'ALL' AS grp, idx, hh, v FROM (
    SELECT *, row_number() OVER (PARTITION BY idx ORDER BY hh, v) AS rn
    FROM km
  ) WHERE rn = 1
),
kq_all AS ({kmins_quantile_body_sql('km_all')}),
u AS (SELECT * FROM kq UNION ALL SELECT * FROM kq_all),
corp AS (
  SELECT event_type AS grp, value FROM events
  UNION ALL
  SELECT 'ALL' AS grp, value FROM events
),
audit AS (
  SELECT u.grp, u.p_permille, u.q_est, u.m_sample,
         round(sum(CASE WHEN c.value <= u.q_est THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS rank_frac
  FROM u JOIN corp c ON c.grp = u.grp
  GROUP BY 1, 2, 3, 4
)
SELECT grp AS scope, p_permille, round(q_est, 4) AS q_est, m_sample,
       rank_frac,
       abs(rank_frac - p_permille / 1000.0) <= 0.05 + 1.0 / m_sample
         AS within_bound
FROM audit
"""


@q("quantile_sketch_events", _quantile_sketch_sql())
def quantile_sketch_events(spark, sf_dir):
    """MERGEABLE-SKETCH quantiles — the third portable sketch,
    completing the algebra (HLL: distinct; CMS: frequency; this:
    rank/quantile): a k-mins row-sample sketch (k=1024 hash buckets,
    each keeping its min-hash row's value — operators/sketches.py
    kmins_sample, the stochastic-averaging layout HLL uses for rho
    applied to value sampling) estimates p50/p90/p99 of `value` per
    event_type PLUS an 'ALL' row whose sample is the min-MERGE of the
    per-type sketches — union-without-rescanning, exact like HLL's
    max-merge (the bucket minimum of a union is the min of the parts'
    minima), demonstrated in-query.  This is the production backend
    the exact-percentile queries disclose toward (rfm_segments_approx
    bins, daily_percentiles' O(day) buffers): per-batch sketches
    merge at query time, the shuffle carries ≤ groups×1024 rows.

    Oracle-replayable to the BIT (the sketches.py contract): md5-
    derived integer bucket split, struct-min build (order-free — the
    253-query partition-invariance property holds by construction),
    integer nearest-rank selection ((p·m + 999) DIV 1000 — no float
    multiply at an integer boundary).  Where KLL/GK compact
    sequentially (not order-free, not SQL-replayable), the k-mins
    sample trades bytes for determinism: rank error O(1/√k) with
    Hoeffding tail 2e^(−2kt²) — at k=1024, the audited 5% bound has
    ~1e−22 failure mass.  The audit is COMPUTED IN BOTH ENGINES, not
    stated: each estimate's true rank fraction #{value ≤ q_est}/n is
    aggregated in-frame and the within_bound flag hash-checks the
    sketch against its own guarantee.  Scale shape: one map-side-
    combinable struct-min agg, one ≤k-row merge, rank windows over the
    sketch frame only, one broadcast audit join + corpus agg (the
    audit is the only corpus-width pass — dropped in production)."""
    from .operators.sketches import (
        kmins_merge,
        kmins_quantiles,
        kmins_sample,
    )

    ev = load_table(spark, sf_dir, "events")
    # the sample feeds the per-type estimates AND the ALL-merge
    sample = kmins_sample(
        ev, ["event_type"], "event_id", "value"
    ).localCheckpoint(eager=True)
    per_type = kmins_quantiles(
        sample.withColumnRenamed("event_type", "grp"), ["grp"]
    )
    merged = kmins_merge(sample.withColumn("grp", F.lit("ALL")), ["grp"])
    u = per_type.unionByName(kmins_quantiles(merged, ["grp"]))
    corp = ev.select(F.col("event_type").alias("grp"), "value").unionByName(
        ev.select(F.lit("ALL").alias("grp"), "value")
    )
    audit = (
        corp.join(F.broadcast(u), "grp")
        .groupBy("grp", "p_permille", "q_est", "m_sample")
        .agg(
            F.round(
                F.sum((F.col("value") <= F.col("q_est")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("rank_frac")
        )
    )
    return audit.select(
        F.col("grp").alias("scope"),
        "p_permille",
        F.round("q_est", 4).alias("q_est"),
        "m_sample",
        "rank_frac",
        (
            F.abs(F.col("rank_frac") - F.col("p_permille") / 1000.0)
            <= 0.05 + 1.0 / F.col("m_sample")
        ).alias("within_bound"),
    )


@q("stream_quantile_sketch_events", _quantile_sketch_sql())
def stream_quantile_sketch_events(spark, sf_dir):
    """§2.9 STREAMING twin of quantile_sketch_events, sharing its
    oracle: the k-mins sample is maintained as ONE running streaming
    aggregation (groupBy(event_type, idx).min(struct(hh, v)) — state
    is ≤ groups×1024 rows, bounded by the sketch, never by stream
    length) drained availableNow into the memory sink; the estimators,
    the min-merged 'ALL' row, and the exact rank-fraction audit are
    static views over the drained sample.  Because the build is a
    plain min (order-free), the streaming result is BIT-IDENTICAL to
    batch — like the HLL/CMS twins, no accumulation-order caveat.
    This is the live latency/price-quantile monitor shape: the sample
    ticks as ingest lands, quantiles read off maintained state without
    a corpus pass."""
    import uuid

    from .operators.sketches import (
        kmins_merge,
        kmins_quantiles,
        kmins_sample,
    )
    from .streaming import run_to_memory
    from .streaming.services_stream import EVENTS_STREAM_SCHEMA

    ev_s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 8)
        .parquet(_staged_events(spark, sf_dir))
        .select("event_type", "event_id", "value")
    )
    name = f"kmins_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        sq = run_to_memory(
            kmins_sample(ev_s, ["event_type"], "event_id", "value"),
            name,
            "complete",
        )
        sq.stop()
    sample = spark.table(name)
    per_type = kmins_quantiles(
        sample.withColumnRenamed("event_type", "grp"), ["grp"]
    )
    merged = kmins_merge(sample.withColumn("grp", F.lit("ALL")), ["grp"])
    u = per_type.unionByName(kmins_quantiles(merged, ["grp"]))
    ev = load_table(spark, sf_dir, "events")
    corp = ev.select(F.col("event_type").alias("grp"), "value").unionByName(
        ev.select(F.lit("ALL").alias("grp"), "value")
    )
    audit = (
        corp.join(F.broadcast(u), "grp")
        .groupBy("grp", "p_permille", "q_est", "m_sample")
        .agg(
            F.round(
                F.sum((F.col("value") <= F.col("q_est")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("rank_frac")
        )
    )
    return audit.select(
        F.col("grp").alias("scope"),
        "p_permille",
        F.round("q_est", 4).alias("q_est"),
        "m_sample",
        "rank_frac",
        (
            F.abs(F.col("rank_frac") - F.col("p_permille") / 1000.0)
            <= 0.05 + 1.0 / F.col("m_sample")
        ).alias("within_bound"),
    )


def _quantile_rollup_sql() -> str:
    from .operators.sketches import kmins_quantile_body_sql

    return f"""
WITH base AS (
  SELECT date_trunc('week', CAST(ts AS DATE))::DATE AS week,
         CAST(ts AS DATE) AS day,
         h % 1024 AS idx, h // 1024 AS hh, CAST(value AS DOUBLE) AS v,
         value
  FROM (
    SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
             AS h, *
    FROM events
  )
),
kmd AS (
  SELECT week, day, idx, hh, v FROM (
    SELECT *, row_number() OVER (PARTITION BY day, idx
                                 ORDER BY hh, v) AS rn
    FROM base
  ) WHERE rn = 1
),
kmw AS (
  SELECT week AS grp, idx, hh, v FROM (
    SELECT *, row_number() OVER (PARTITION BY week, idx
                                 ORDER BY hh, v) AS rn
    FROM kmd
  ) WHERE rn = 1
),
kmw_direct AS (
  SELECT week AS grp, idx, hh, v FROM (
    SELECT *, row_number() OVER (PARTITION BY week, idx
                                 ORDER BY hh, v) AS rn
    FROM base
  ) WHERE rn = 1
),
eq AS (
  SELECT m.grp,
         count(*) = sum(CASE WHEN d.hh IS NOT NULL THEN 1 ELSE 0 END)
           AND count(*) = max(dm.m_direct) AS merge_exact
  FROM kmw m
  LEFT JOIN kmw_direct d
    ON d.grp = m.grp AND d.idx = m.idx AND d.hh = m.hh AND d.v = m.v
  JOIN (SELECT grp, count(*) AS m_direct FROM kmw_direct GROUP BY 1) dm
    ON dm.grp = m.grp
  GROUP BY 1
),
kq AS ({kmins_quantile_body_sql('kmw')}),
audit AS (
  SELECT kq.grp, kq.p_permille, kq.q_est, kq.m_sample,
         round(sum(CASE WHEN b.value <= kq.q_est THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS rank_frac
  FROM kq JOIN base b ON b.week = kq.grp
  GROUP BY 1, 2, 3, 4
)
SELECT a.grp AS week, a.p_permille, round(a.q_est, 4) AS q_est,
       a.m_sample, a.rank_frac,
       abs(a.rank_frac - a.p_permille / 1000.0) <= 0.05 + 1.0 / a.m_sample
         AS within_bound,
       eq.merge_exact
FROM audit a JOIN eq ON eq.grp = a.grp
"""


@q("quantile_rollup_weekly", _quantile_rollup_sql())
def quantile_rollup_weekly(spark, sf_dir):
    """TEMPORAL SKETCH ROLLUP — the production pattern the mergeable
    quantile sketch exists for: build ONE k-mins sketch per DAY as
    ingest lands, then answer weekly (or monthly, or all-time) P50/
    P90/P99 by MERGING the day sketches — never re-reading the rows.
    This query runs the whole hierarchy in-frame: per-day sketches →
    min-merged per ISO week → nearest-rank estimates, plus TWO
    computed-in-both-engines audit columns: ``merge_exact`` pins the
    mergeability CONTRACT itself (the merged weekly sketch equals the
    sketch built directly from the week's rows — bucket minima
    compose; a hash break here means the merge algebra regressed),
    and ``within_bound`` is the 5%-rank-error check from
    quantile_sketch_events (weekly groups are ~10× smaller than the
    per-type groups, so occupancy m < k and the audited bound leans
    on the +1/m discreteness term — still ~3σ at the check SF).
    Scale shape: day sketches are one struct-min agg (the streaming
    twin's state shape), the weekly merge touches ≤ |days|×k sketch
    rows, estimates window over ≤k-row frames; only the audits scan
    the corpus (dropped in production)."""
    from .operators.sketches import (
        kmins_merge,
        kmins_quantiles,
        kmins_sample,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts").cast("date"))
        .cast("date")
        .alias("week"),
        F.col("ts").cast("date").alias("day"),
        "event_id",
        "value",
    )
    daily = kmins_sample(ev, ["week", "day"], "event_id", "value")
    merged = kmins_merge(daily.withColumnRenamed("week", "grp"), ["grp"])
    direct = kmins_sample(
        ev.withColumnRenamed("week", "grp"), ["grp"], "event_id", "value"
    ).localCheckpoint(eager=True)
    m_direct = direct.groupBy("grp").agg(
        F.count(F.lit(1)).alias("__m_direct")
    )
    eq = (
        merged.join(
            direct.withColumn("__hit", F.lit(1)),
            ["grp", "idx", "hh", "v"],
            "left",
        )
        .join(F.broadcast(m_direct), "grp")
        .groupBy("grp")
        .agg(
            (
                (F.count(F.lit(1)) == F.sum(F.coalesce("__hit", F.lit(0))))
                & (F.count(F.lit(1)) == F.max("__m_direct"))
            ).alias("merge_exact")
        )
    )
    kq = kmins_quantiles(merged, ["grp"])
    audit = (
        ev.select(F.col("week").alias("grp"), "value")
        .join(F.broadcast(kq), "grp")
        .groupBy("grp", "p_permille", "q_est", "m_sample")
        .agg(
            F.round(
                F.sum((F.col("value") <= F.col("q_est")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("rank_frac")
        )
    )
    return audit.join(F.broadcast(eq), "grp").select(
        F.col("grp").alias("week"),
        "p_permille",
        F.round("q_est", 4).alias("q_est"),
        "m_sample",
        "rank_frac",
        (
            F.abs(F.col("rank_frac") - F.col("p_permille") / 1000.0)
            <= 0.05 + 1.0 / F.col("m_sample")
        ).alias("within_bound"),
        "merge_exact",
    )


_OVERLAP_BRANDS = ("Brand#1", "Brand#10", "Brand#11", "Brand#12")


def _kmv_overlap_sql() -> str:
    blist = ", ".join(f"'{b}'" for b in _OVERLAP_BRANDS)
    return f"""
WITH lp AS (
  SELECT DISTINCT p.p_brand AS brand, l.l_orderkey AS ok
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand IN ({blist})
),
uh AS (
  SELECT brand,
         ('0x' || substr(md5(CAST(ok AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM lp
),
sig AS (
  SELECT brand, h FROM (
    SELECT brand, h,
           row_number() OVER (PARTITION BY brand ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= 1024
),
pr AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b
  FROM (SELECT DISTINCT brand FROM sig) a
  JOIN (SELECT DISTINCT brand FROM sig) b ON a.brand < b.brand
),
u AS (
  SELECT coalesce(pa.brand_a, pb.brand_a) AS brand_a,
         coalesce(pa.brand_b, pb.brand_b) AS brand_b,
         coalesce(pa.h, pb.h) AS h,
         CASE WHEN pa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN pb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM (SELECT pr.brand_a, pr.brand_b, s.h FROM pr
        JOIN sig s ON s.brand = pr.brand_a) pa
  FULL JOIN (SELECT pr.brand_a, pr.brand_b, s.h FROM pr
             JOIN sig s ON s.brand = pr.brand_b) pb
    ON pa.brand_a = pb.brand_a AND pa.brand_b = pb.brand_b
   AND pa.h = pb.h
),
est AS (
  SELECT brand_a, brand_b,
         CAST(count(*) AS BIGINT) AS k_eff,
         round(sum(in_a * in_b) * 1.0 / count(*), 6) AS j_est
  FROM (
    SELECT *, row_number() OVER (PARTITION BY brand_a, brand_b
                                 ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 1024
  GROUP BY 1, 2
),
sz AS (SELECT brand, count(*) AS n FROM lp GROUP BY 1),
inter AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS ninter
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT e.brand_a, e.brand_b, e.k_eff, e.j_est,
       round(i.ninter * 1.0 / (sa.n + sb.n - i.ninter), 6) AS j_exact,
       abs(e.j_est - i.ninter * 1.0 / (sa.n + sb.n - i.ninter)) <= 0.04
         AS within_bound
FROM est e
JOIN inter i ON i.brand_a = e.brand_a AND i.brand_b = e.brand_b
JOIN sz sa ON sa.brand = e.brand_a
JOIN sz sb ON sb.brand = e.brand_b
"""


@q("kmv_overlap_brands", _kmv_overlap_sql())
def kmv_overlap_brands(spark, sf_dir):
    """SET-OVERLAP estimation from mergeable BOTTOM-k (KMV / theta)
    SKETCHES — basket overlap in the small-Jaccard regime where the
    r11 HLL inclusion-exclusion overlap is at its WORST (est(A)+est(B)
    −est(A∪B): three ±1σ estimates differenced, so the error is a
    constant fraction of |A∪B| while the signal |A∩B| shrinks — at
    J≈0.07 the noise can exceed the answer; the bottom-k estimator's
    error scales with J itself: σ = √(J(1−J)/k)).  Which orders
    contain brand X AND brand Y: each brand's sketch keeps the k=1024
    SMALLEST distinct order-key hashes (Beyer et al. 2007 KMV /
    DataSketches theta); for a pair, the k smallest of the sketch
    UNION are a uniform sample of A∪B, and the fraction of them
    present in BOTH sketches estimates J(A,B) — unbiased at every
    occupancy, and EXACT when a set is smaller than k (the sketch is
    then the whole set; a one-permutation bucket-min variant was
    tried first and rejected — with occupancy ≪ 1 its empty-bin drop
    inflates J several-fold, measured 0.49 vs true 0.09 at sf0.001).
    Sketches are union-mergeable (merge = union, re-truncate to the k
    smallest — per-ingest-batch sketches combine without re-reading),
    ship k BIGINTs per set, and every pairwise overlap among S sets
    needs ONE corpus pass + S·k state — the all-pairs |A∩B| join this
    replaces at 100 TB touches the corpus per pair.

    Oracle-replayable to the bit (sketches.py md5 contract): integer
    bottom-k ranks, integer membership counts, one division rounded
    at 6dp.  The estimator is operators/sketches.py kmv_overlap —
    THE reusable surface (any (set, key) frame; pair frame built
    from S·k signature rows only), this query is its thin wrapper
    adding the exact Jaccard audit in-frame (computed in BOTH
    engines — the only corpus-pair pass, dropped in production) with
    a within-±0.04 boolean = 5σ at k=1024.  Scale shape: one
    broadcast dim join + distinct, a per-brand top-k window (k-row
    output per brand), pair unions over ≤ 2k-row frames, and the
    audit's exact set join."""
    from .operators.sketches import kmv_overlap

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey"
    )
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(*_OVERLAP_BRANDS))
        .select("p_partkey", "p_brand")
    )
    lp = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("p_brand").alias("brand"), F.col("l_orderkey").alias("ok"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds signatures + exact audit
    )
    est = kmv_overlap(lp, "brand", "ok", k=1024).select(
        F.col("set_a").alias("brand_a"),
        F.col("set_b").alias("brand_b"),
        "k_eff",
        "j_est",
    )
    sz = lp.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    la = lp.select(F.col("brand").alias("brand_a"), "ok")
    lb = lp.select(F.col("brand").alias("brand_b"), "ok")
    inter = (
        la.join(lb, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    j_exact = F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter"))
    return (
        est.join(inter, ["brand_a", "brand_b"])
        .join(
            F.broadcast(sz.select(F.col("brand").alias("brand_a"), F.col("n").alias("na"))),
            "brand_a",
        )
        .join(
            F.broadcast(sz.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb"))),
            "brand_b",
        )
        .select(
            "brand_a",
            "brand_b",
            "k_eff",
            "j_est",
            F.round(j_exact, 6).alias("j_exact"),
            (F.abs(F.col("j_est") - j_exact) <= 0.04).alias("within_bound"),
        )
    )


def _kmv_sources_sql(bucketed: bool = False) -> str:
    """Shared oracle text for the batch and streaming source-overlap
    twins: identical shingle/hash/pair/audit chains; the streaming
    variant inserts the bucketed-min pre-reduction (one min per
    h % 64k bucket) between hashing and the bottom-k — the DuckDB
    restatement of operators/sketches.py kmv_bucketed_minima."""
    sig_src = (
        """bm AS (
  SELECT source, h % 65536 AS bidx, min(h) AS h FROM uh GROUP BY 1, 2
),
sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM bm
  ) WHERE rn <= 1024
),"""
        if bucketed
        else """sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= 1024
),"""
    )
    return f"""
WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS t
              FROM documents),
idx AS (SELECT source, doc_id, t,
               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        FROM toks),
ss AS (SELECT DISTINCT source,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM idx),
uh AS (
  SELECT source, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ss
),
{sig_src}
pr AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM sig) a
  JOIN (SELECT DISTINCT source FROM sig) b ON a.source < b.source
),
u AS (
  SELECT coalesce(pa.src_a, pb.src_a) AS src_a,
         coalesce(pa.src_b, pb.src_b) AS src_b,
         coalesce(pa.h, pb.h) AS h,
         CASE WHEN pa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN pb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM (SELECT pr.src_a, pr.src_b, s.h FROM pr
        JOIN sig s ON s.source = pr.src_a) pa
  FULL JOIN (SELECT pr.src_a, pr.src_b, s.h FROM pr
             JOIN sig s ON s.source = pr.src_b) pb
    ON pa.src_a = pb.src_a AND pa.src_b = pb.src_b AND pa.h = pb.h
),
est AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS k_eff,
         round(sum(in_a * in_b) * 1.0 / count(*), 6) AS j_est
  FROM (
    SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                 ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 1024
  GROUP BY 1, 2
),
sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS ninter
  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, e.k_eff, e.j_est,
       round(coalesce(i.ninter, 0) * 1.0
             / (sa.n + sb.n - coalesce(i.ninter, 0)), 6) AS j_exact,
       abs(e.j_est - coalesce(i.ninter, 0) * 1.0
             / (sa.n + sb.n - coalesce(i.ninter, 0))) <= 0.04
         AS within_bound
FROM est e
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN sz sa ON sa.source = e.src_a
JOIN sz sb ON sb.source = e.src_b
"""


def _kmv_sources_ss(spark, sf_dir):
    """The distinct (source, shingle) set frame the KMV source family
    (overlap/containment estimates + both audit arms) sketches and
    audits against, checkpointed once per session like
    _shared_shingles: the frame is deterministic, three queries consume
    it identically, and at 100 TB it is built once per corpus snapshot."""
    from .operators.neardup import shingles

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return (
            shingles(docs)
            .join(docs.select("doc_id", "source"), "doc_id")
            .select("source", "shingle")
            .distinct()
            .localCheckpoint(eager=True)
        )

    return artifact(spark, "kmv_source_shingles", sf_dir, build)


def _kmv_sources_audit_frame(spark, sf_dir, est, ss=None):
    """Exact-audit JOIN FRAME shared by the source-overlap family:
    ``est`` (keyed src_a, src_b) + the corpus truth columns
    (ninter — LEFT-joined so a zero-overlap pair audits as 0 —
    plus set sizes na/nb) from the STATIC documents table.  The
    shingle-equality intersection is the audit arm, the only
    corpus-pair pass, dropped in production.  Consumers derive their
    metric (Jaccard, containment) from the same three columns."""
    if ss is None:
        ss = _kmv_sources_ss(spark, sf_dir)
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sa = ss.select(F.col("source").alias("src_a"), "shingle")
    sb = ss.select(F.col("source").alias("src_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("src_a"), F.col("n").alias("na")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("src_b"), F.col("n").alias("nb")
                )
            ),
            "src_b",
        )
    )


def _kmv_sources_audit(spark, sf_dir, est, ss=None):
    """The Jaccard form of the audit tail (overlap + streaming twins)."""
    ninter = F.coalesce(F.col("ninter"), F.lit(0))
    j_exact = ninter / (F.col("na") + F.col("nb") - ninter)
    return _kmv_sources_audit_frame(spark, sf_dir, est, ss=ss).select(
        "src_a",
        "src_b",
        "k_eff",
        "j_est",
        F.round(j_exact, 6).alias("j_exact"),
        (F.abs(F.col("j_est") - j_exact) <= 0.04).alias("within_bound"),
    )


@q("kmv_overlap_sources", _kmv_sources_sql())
def kmv_overlap_sources(spark, sf_dir):
    """CORPUS CROSS-CONTAMINATION MATRIX from KMV sketches — the
    operator-reuse demonstration kmv_overlap_brands' extraction was
    for, on a genuinely different domain: pairwise 3-gram SHINGLE
    overlap between document SOURCES (which feeds duplicate each
    other's content — the question an LLM-data team asks before
    weighting a source mix, and the aggregate view the per-pair
    near-dup families don't give).  Each source's distinct shingle
    set (~1.4k here, > k — the sketch genuinely estimates, unlike a
    small-set exact regime) compresses to a k=1024 bottom-k
    signature via operators/sketches.py kmv_overlap on the
    (source, shingle) frame, and all S(S−1)/2 = 190 pair estimates
    come from S·k signature rows — at 100 TB the corpus is read
    ONCE per snapshot, and every cross-source question after that is
    sketch algebra.  Fixture overlap sits at J ≈ 0.02–0.05 at the
    sf0.01 gate (the small-Jaccard regime where HLL
    inclusion–exclusion is noise-dominated and KMV's
    σ = √(J(1−J)/k) shines; ±0.04 ≈ 8σ) and J ≈ 0.22–0.26 at sf0.1
    (±0.04 = 3σ; measured max error 0.034, all 190 bounds hold —
    deterministic md5 draws, so the boolean cannot flake).  Shingles reuse the neardup operator (same whitespace
    3-gram contract as the _JACCARD_CTES oracle family); the exact
    Jaccard audit rides in-frame (both engines; LEFT-joined so a
    zero-overlap pair audits as J=0, the only corpus-pair pass,
    dropped in production).  Scale shape: one shingle
    explode+distinct, one per-source top-k window (k-row output per
    source), pair unions over ≤2k-row frames, the audit's
    shingle-equality join (Σ per-shingle df² with df ≤ S)."""
    from .operators.sketches import kmv_overlap

    ss = _kmv_sources_ss(spark, sf_dir)  # signatures + exact audit
    est = kmv_overlap(ss, "source", "shingle", k=1024).select(
        F.col("set_a").alias("src_a"),
        F.col("set_b").alias("src_b"),
        "k_eff",
        "j_est",
    )
    return _kmv_sources_audit(spark, sf_dir, est, ss=ss)


@q("stream_kmv_overlap_sources", _kmv_sources_sql(bucketed=True))
def stream_kmv_overlap_sources(spark, sf_dir):
    """§2.9 STREAMING twin of kmv_overlap_sources — the live
    cross-source contamination monitor: the KMV substrate is
    maintained as ONE plain running aggregation over the raw document
    stream (operators/sketches.py kmv_bucketed_minima —
    groupBy(source, h % 64k).min(h); ``min`` is order-free AND
    idempotent under duplicates, so the stream needs NO distinct and
    NO custom state, and state is ≤ S·64k BIGINT rows, bounded by
    sketch geometry, never by stream length) drained availableNow
    into the memory sink; the bottom-k truncation, the pair
    estimates (kmv_overlap_from_sketch), and the exact audit are
    static views over the drained minima.  The bucketed pre-reduction
    perturbs the union sample only when a smaller same-set hash
    shares a bucket — expected ≈ k²/(2·64k) = 8 of 1024, and the
    oracle replays the SAME bucketed construction bit-identically,
    so the ±0.04 audit bound is checked on exactly what the stream
    computes (this is NOT the rejected one-permutation estimator —
    bucketing pre-reduces the candidate pool; the estimator stays
    the union-sample membership test).  Unlike the HLL/CMS/quantile
    twins whose state is a plain min/sum, the KMV bottom-k is not
    itself an aggregate — the bucket grid is what buys streaming
    aggregability at a disclosed sub-1% sample perturbation."""
    import uuid

    from .operators.neardup import shingles
    from .operators.sketches import kmv_bucketed_minima, kmv_overlap_from_sketch
    from .streaming import run_to_memory

    docs_s = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 8)
        .parquet(_staged_docs(spark, sf_dir))
        .select("source", "text")
    )
    # duplicates are harmless under the bucketed min (idempotent), so
    # the stream skips the unbounded dropDuplicates a distinct would need
    # shingles() always emits the canonical 'doc_id' output name — here
    # it carries SOURCE values (id_col picks the input column only)
    sh_s = shingles(docs_s, id_col="source", distinct=False)
    name = f"kmv_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        sq = run_to_memory(
            kmv_bucketed_minima(sh_s, "doc_id", "shingle"),
            name,
            "complete",
        )
        sq.stop()
    minima = spark.table(name)
    w_b = Window.partitionBy("set_id").orderBy("h")
    sig = (
        minima.withColumn("rn", F.row_number().over(w_b))
        .filter(F.col("rn") <= 1024)
        .select("set_id", "h")
        .localCheckpoint(eager=True)
    )
    est = kmv_overlap_from_sketch(sig, k=1024).select(
        F.col("set_a").alias("src_a"),
        F.col("set_b").alias("src_b"),
        "k_eff",
        "j_est",
    )
    return _kmv_sources_audit(spark, sf_dir, est)


@q(
    "kmv_containment_sources",
    """
WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS t
              FROM documents),
idx AS (SELECT source, doc_id, t,
               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        FROM toks),
ss AS (SELECT DISTINCT source,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM idx),
uh AS (
  SELECT source, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ss
),
sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= 1024
),
pr AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM sig) a
  JOIN (SELECT DISTINCT source FROM sig) b ON a.source < b.source
),
u AS (
  SELECT coalesce(pa.src_a, pb.src_a) AS src_a,
         coalesce(pa.src_b, pb.src_b) AS src_b,
         coalesce(pa.h, pb.h) AS h,
         CASE WHEN pa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN pb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM (SELECT pr.src_a, pr.src_b, s.h FROM pr
        JOIN sig s ON s.source = pr.src_a) pa
  FULL JOIN (SELECT pr.src_a, pr.src_b, s.h FROM pr
             JOIN sig s ON s.source = pr.src_b) pb
    ON pa.src_a = pb.src_a AND pa.src_b = pb.src_b AND pa.h = pb.h
),
est AS (
  SELECT src_a, src_b,
         CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
  FROM (
    SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                 ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 1024
  GROUP BY 1, 2
),
sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS ninter
  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT e.src_a, e.src_b,
       round(CASE WHEN e.n_a > 0
                  THEN e.n_inter * 1.0 / e.n_a ELSE 0.0 END, 6) AS c_a_est,
       round(CASE WHEN e.n_b > 0
                  THEN e.n_inter * 1.0 / e.n_b ELSE 0.0 END, 6) AS c_b_est,
       round(coalesce(i.ninter, 0) * 1.0 / sa.n, 6) AS c_a_exact,
       round(coalesce(i.ninter, 0) * 1.0 / sb.n, 6) AS c_b_exact,
       abs(CASE WHEN e.n_a > 0
                THEN e.n_inter * 1.0 / e.n_a ELSE 0.0 END
           - coalesce(i.ninter, 0) * 1.0 / sa.n) <= 0.1
       AND
       abs(CASE WHEN e.n_b > 0
                THEN e.n_inter * 1.0 / e.n_b ELSE 0.0 END
           - coalesce(i.ninter, 0) * 1.0 / sb.n) <= 0.1
         AS within_bound
FROM est e
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN sz sa ON sa.source = e.src_a
JOIN sz sb ON sb.source = e.src_b
""",
)
def kmv_containment_sources(spark, sf_dir):
    """ASYMMETRIC set CONTAINMENT from the SAME KMV sketches as
    kmv_overlap_sources — the theta-sketch surface Jaccard can't
    give: C(A⊆B) = |A∩B|/|A| per direction, the "is source A a
    mirror/subset of source B" question (a 10%-sized mirror has
    J ≈ 0.1 but containment ≈ 1.0 — Jaccard buries exactly the
    signal that matters for dropping a redundant source).  Estimator:
    over the k-smallest union sample, n_inter/n_a — the sampled
    elements of A also present in B over the sampled elements of A
    (operators/sketches.py kmv_overlap_from_sketch now exposes the
    raw n_a/n_b/n_inter membership counts precisely so containment
    and relative-size reads cost NO extra pass over the same k
    rows).  Ratio-estimator σ ≈ √(c(1−c)/n_a) with n_a ≈ k/2 here;
    the ±0.1 audit bound is ≥4σ at every measured point (max error
    0.026 at sf0.01, 0.057 at sf0.1 — deterministic md5 draws, the
    boolean cannot flake).  Exact containments ride in-frame from
    the corpus-pair audit join (dropped in production), LEFT-joined
    so zero-overlap pairs audit as 0.  Scale shape: identical to
    kmv_overlap_sources — one sketch pass, S·k signature rows,
    pair frames ≤2k rows."""
    from .operators.sketches import kmv_overlap_from_sketch, kmv_sketch

    ss = _kmv_sources_ss(spark, sf_dir)
    sig = kmv_sketch(ss, "source", "shingle", k=1024).localCheckpoint(
        eager=True
    )
    est = kmv_overlap_from_sketch(sig, k=1024).select(
        F.col("set_a").alias("src_a"),
        F.col("set_b").alias("src_b"),
        "n_a",
        "n_b",
        "n_inter",
    )
    ninter = F.coalesce(F.col("ninter"), F.lit(0))
    c_a_est = F.when(
        F.col("n_a") > 0, F.col("n_inter") / F.col("n_a")
    ).otherwise(F.lit(0.0))
    c_b_est = F.when(
        F.col("n_b") > 0, F.col("n_inter") / F.col("n_b")
    ).otherwise(F.lit(0.0))
    c_a_exact = ninter / F.col("na")
    c_b_exact = ninter / F.col("nb")
    return _kmv_sources_audit_frame(spark, sf_dir, est, ss=ss).select(
        "src_a",
        "src_b",
        F.round(c_a_est, 6).alias("c_a_est"),
        F.round(c_b_est, 6).alias("c_b_est"),
        F.round(c_a_exact, 6).alias("c_a_exact"),
        F.round(c_b_exact, 6).alias("c_b_exact"),
        (
            (F.abs(c_a_est - c_a_exact) <= 0.1)
            & (F.abs(c_b_est - c_b_exact) <= 0.1)
        ).alias("within_bound"),
    )


@q(
    "kmv_candidates_sources",
    """
WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS t
              FROM documents),
idx AS (SELECT source, doc_id, t,
               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        FROM toks),
ss AS (SELECT DISTINCT source,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM idx),
uh AS (
  SELECT source, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ss
),
sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= 1024
),
sz AS (
  SELECT source, CAST(count(*) AS BIGINT) AS k_rows FROM sig GROUP BY 1
),
pr0 AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sig a JOIN sig b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
),
pr AS (
  SELECT pr0.src_a, pr0.src_b, pr0.n_shared
  FROM pr0
  JOIN sz za ON za.source = pr0.src_a
  JOIN sz zb ON zb.source = pr0.src_b
  WHERE pr0.n_shared >= greatest(1, floor(
          greatest(za.k_rows, zb.k_rows) * 0.1
          - sqrt(greatest(za.k_rows, zb.k_rows) * ln(100.0) / 2)))
),
u AS (
  SELECT coalesce(pa.src_a, pb.src_a) AS src_a,
         coalesce(pa.src_b, pb.src_b) AS src_b,
         coalesce(pa.h, pb.h) AS h,
         CASE WHEN pa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN pb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM (SELECT pr.src_a, pr.src_b, s.h FROM pr
        JOIN sig s ON s.source = pr.src_a) pa
  FULL JOIN (SELECT pr.src_a, pr.src_b, s.h FROM pr
             JOIN sig s ON s.source = pr.src_b) pb
    ON pa.src_a = pb.src_a AND pa.src_b = pb.src_b AND pa.h = pb.h
),
est AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS k_eff,
         round(sum(in_a * in_b) * 1.0 / count(*), 6) AS j_est
  FROM (
    SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                 ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 1024
  GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, p.n_shared, e.k_eff, e.j_est
FROM est e
JOIN pr p ON p.src_a = e.src_a AND p.src_b = e.src_b
""",
)
def kmv_candidates_sources(spark, sf_dir):
    """CANDIDATE-pruned KMV overlap — the LARGE-S production form of
    kmv_overlap_sources (operators/sketches.py kmv_candidate_pairs):
    at S = thousands of sets the all-pairs S(S−1)/2 estimation frame
    is itself the bottleneck, so pairs are first GENERATED by
    self-joining the signatures on the HASH (the inverted-index move
    at the sketch level — per-hash fan-out is the number of sketches
    actually containing that element, so the join is candidate-sized)
    and only pairs sharing enough sampled hashes are estimated.
    E[n_shared] ≈ k·min-containment ≥ k·J because a shared element
    occupies the same position in both sets' hash order.  The prune
    is the OPERATOR-derived bound, not a fixture literal:
    threshold_jaccard=0.1 at k=1024 with 99% retention →
    kmv_min_shared's Hoeffding tail ⌊k_eff·t − √(k_eff·ln(1/δ)/2)⌋,
    clamped PER-PAIR to k_eff = max of the two sketch row counts so
    under-full (exact) sketches are never pruned by the full-sketch
    literal (53 at k_eff = 1024; the oracle replays the same formula
    over per-source sketch sizes).  On this fixture
    n_shared spans 24–145 at the sf0.01 gate (the threshold genuinely
    prunes: 50 of 190 pairs survive) and 346–430 at sf0.1 (all pass —
    J grows with SF here; disclosed, the mechanism not the split is
    what's certified).  Deterministic md5 draws make the
    survivor set hash-stable; the estimator tail is
    kmv_overlap_from_sketch restricted to the candidate frame — the
    identical math the unpruned twin certifies, so the exact-audit
    arm is not repeated here.  Scale shape: one sketch build, one
    hash-equi self-join over S·k rows, estimation over candidates
    only."""
    from .operators.sketches import (
        kmv_candidate_pairs,
        kmv_overlap_from_sketch,
        kmv_sketch,
    )

    ss = _kmv_sources_ss(spark, sf_dir)
    sig = kmv_sketch(ss, "source", "shingle", k=1024).localCheckpoint(
        eager=True
    )
    cand = kmv_candidate_pairs(
        sig, threshold_jaccard=0.1, k=1024
    ).localCheckpoint(eager=True)
    est = kmv_overlap_from_sketch(sig, k=1024, pairs=cand)
    return (
        est.join(cand, ["set_a", "set_b"])
        .select(
            F.col("set_a").alias("src_a"),
            F.col("set_b").alias("src_b"),
            "n_shared",
            "k_eff",
            "j_est",
        )
    )


@q(
    "kmv_incremental_sources",
    """
WITH toks AS (SELECT source, doc_id, string_split(text, ' ') AS t
              FROM documents),
idx AS (SELECT source, doc_id, t,
               unnest(range(1, greatest(len(t) - 1, 1))) AS i
        FROM toks),
shd AS (SELECT DISTINCT source, doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM idx),
uh_stand AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM shd
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 5 <> 0
),
uh_delta AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM shd
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 5 = 0
),
uh_full AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM shd
),
sig_stand AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh_stand) WHERE rn <= 1024
),
sig_delta AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh_delta) WHERE rn <= 1024
),
merged AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM (SELECT DISTINCT source, h FROM (
            SELECT * FROM sig_stand UNION ALL SELECT * FROM sig_delta))
  ) WHERE rn <= 1024
),
direct AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM uh_full) WHERE rn <= 1024
),
cmp AS (
  SELECT coalesce(m.source, d.source) AS source,
         CAST(sum(CASE WHEN m.h IS NULL OR d.h IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
         CAST(sum(CASE WHEN m.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS m_merged
  FROM merged m
  FULL JOIN direct d ON m.source = d.source AND m.h = d.h
  GROUP BY 1
)
SELECT c.source,
       (SELECT CAST(count(*) AS BIGINT) FROM sig_stand s
        WHERE s.source = c.source) AS m_standing,
       (SELECT CAST(count(*) AS BIGINT) FROM sig_delta s
        WHERE s.source = c.source) AS m_delta,
       c.m_merged,
       c.n_mismatch = 0 AS merge_exact
FROM cmp c
""",
)
def kmv_incremental_sources(spark, sf_dir):
    """INCREMENTAL KMV index maintenance, mergeability contract
    HASH-CHECKED (the quantile_rollup_weekly merge_exact pattern
    applied to bottom-k): the standing corpus (80% of documents)
    sketches once, the 20% delta batch sketches independently, and
    kmv_merge folds the two signatures WITHOUT re-reading either
    corpus — the per-ingest-batch maintenance shape at 100 TB, where
    re-sketching history per batch is the cost this kills.  The
    merge_exact boolean pins the algebra itself in BOTH engines:
    bottom-k(dedup(bottom-k(A) ∪ bottom-k(B))) ≡ bottom-k(A ∪ B) —
    true by the subset argument (any of the k smallest of A∪B is
    among the k smallest of its home set), so a regression in the
    merge (a dropped dedup, a wrong truncation order) breaks the
    driver hash instead of silently degrading downstream overlap
    estimates.  Scale shape: two bounded sketch builds (the delta
    build touches ONLY the delta), one ≤2k-row-per-source merge
    window, and the direct-build arm — the AUDIT cost, dropped in
    production where merged state simply replaces standing."""
    from .operators.neardup import shingles
    from .operators.sketches import kmv_merge, kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=True)  # feeds standing/delta/full frames
    )
    def _sets(frame):
        return frame.select("source", "shingle").distinct()

    # md5-hash split, NOT doc_id % 5: source is doc_id % 20 on this
    # fixture, so any arithmetic-mod split correlates with the set key
    # and leaves some sources standing-only/delta-only (measured: a
    # %5 split gave 4 delta-only sources and an empty inner join)
    is_delta = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("int")
        % 5
        == 0
    )
    standing = _sets(sh.filter(~is_delta))
    delta = _sets(sh.filter(is_delta))
    full = _sets(sh)
    sig_s = kmv_sketch(standing, "source", "shingle", k=1024)
    sig_d = kmv_sketch(delta, "source", "shingle", k=1024)
    merged = kmv_merge(sig_s.unionByName(sig_d), k=1024)
    direct = kmv_sketch(full, "source", "shingle", k=1024)
    m = merged.select(
        F.col("set_id").alias("source"), F.col("h").alias("mh")
    )
    d = direct.select(
        F.col("set_id").alias("source"), F.col("h").alias("dh")
    )
    cmp = (
        m.join(
            d,
            (m["source"] == d["source"]) & (m["mh"] == d["dh"]),
            "full",
        )
        .select(
            F.coalesce(m["source"], d["source"]).alias("source"),
            m["mh"].alias("mh"),
            d["dh"].alias("dh"),
        )
        .groupBy("source")
        .agg(
            F.sum(
                (F.col("mh").isNull() | F.col("dh").isNull()).cast("int")
            )
            .cast("bigint")
            .alias("n_mismatch"),
            F.sum(F.col("mh").isNotNull().cast("int"))
            .cast("bigint")
            .alias("m_merged"),
        )
    )
    cs = sig_s.groupBy("set_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_standing")
    ).withColumnRenamed("set_id", "source")
    cd = sig_d.groupBy("set_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_delta")
    ).withColumnRenamed("set_id", "source")
    # LEFT joins + coalesce(0): a source whose documents land entirely
    # in one split has no sketch on the other side, and the oracle's
    # scalar subqueries emit that source with a 0 count — an inner
    # join would silently drop its mergeability certificate instead
    return (
        cmp.join(F.broadcast(cs), "source", "left")
        .join(F.broadcast(cd), "source", "left")
        .select(
            "source",
            F.coalesce("m_standing", F.lit(0).cast("bigint")).alias(
                "m_standing"
            ),
            F.coalesce("m_delta", F.lit(0).cast("bigint")).alias(
                "m_delta"
            ),
            "m_merged",
            (F.col("n_mismatch") == 0).alias("merge_exact"),
        )
    )


@q(
    "skyline_parts",
    """
SELECT p.p_retailprice, p.p_size, count(*) AS n_dup
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
GROUP BY 1, 2
""",
)
def skyline_parts(spark, sf_dir):
    """SKYLINE / Pareto frontier over parts: cheapest-for-its-size —
    rows no other part dominates on (price ↓, size ↑), with the
    duplicate count per frontier point (operators/profile.py
    skyline_2d).  The oracle states the INDEPENDENT O(n²) dominance
    semantics (NOT EXISTS a dominator); the Spark side exploits the
    2-D structure: collapse to distinct points, keep each price's best
    size, then one cumulative-max window over price ascending — a
    point survives iff it strictly beats every cheaper point's best.
    The hash check therefore proves the O(n log n) formulation
    EQUALS the quadratic definition, the same
    fast-plan-vs-definitional-oracle pattern as the banded near-dup
    family.  Scale shape: one groupBy collapses the corpus to the
    attribute domain; the window runs over distinct price values only
    (domain-bounded, like mann_whitney's quantized rank frame)."""
    from .operators.profile import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return skyline_2d(part, "p_retailprice", "p_size").select(
        "p_retailprice",
        "p_size",
        F.col("n_dup").cast("bigint").alias("n_dup"),
    )


@q(
    "pmi_cooccur_docs",
    """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
nn AS (SELECT count(*) AS n FROM documents),
v AS (
  SELECT t, count(*) AS dfq FROM tok GROUP BY 1
  ORDER BY dfq DESC, t LIMIT 50
),
tv AS (SELECT tok.doc_id, tok.t FROM tok JOIN v ON tok.t = v.t),
p AS (
  SELECT a.t AS ta, b.t AS tb, count(*) AS n_ab
  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2
),
s AS (
  SELECT ta, tb, n_ab,
         n_ab::DOUBLE / (va.dfq * vb.dfq) AS ratio
  FROM p JOIN v va ON va.t = ta JOIN v vb ON vb.t = tb
),
r AS (
  SELECT ta, tb, n_ab, ratio,
         row_number() OVER (ORDER BY ratio DESC, ta, tb) AS rnk
  FROM s
)
SELECT ta AS term_a, tb AS term_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(ln(ratio * nn.n), 4) AS pmi, CAST(rnk AS INT) AS rnk
FROM r CROSS JOIN nn
WHERE rnk <= 20
""",
)
def pmi_cooccur_docs(spark, sf_dir):
    """COLLOCATION mining: top-20 pointwise-mutual-information token
    pairs over within-document co-occurrence (operators/text.py
    pmi_cooccur; Church-Hanks 1990) — which vocabulary terms travel
    together more than chance predicts.  The pair space caps to the
    top-50 document-frequency vocabulary BEFORE pairing, so pair
    generation is bounded by vocab² per document and the co-occurrence
    shuffle carries ≤ C(50,2) keys — the cap is what keeps corpus
    co-occurrence linear at 100 TB.  Cross-engine ranking orders by
    the exact integer-ratio n_ab/(df_a·df_b) (one IEEE division), with
    ln() applied only to the displayed value, so a 1-ulp libm
    difference cannot reorder the top-k.  Scale shape: distinct-token
    explode → df agg → broadcast vocab semi-join → bounded pair agg →
    window over ≤1225 scored pairs."""
    from .operators.text import pmi_cooccur

    docs = load_table(spark, sf_dir, "documents")
    return pmi_cooccur(docs, vocab_size=50, top_k=20)


@q(
    "prefix_filter_neardup_docs",
    f"WITH {_JACCARD_CTES}\nSELECT doc_a, doc_b, jaccard FROM jp",
)
def prefix_filter_neardup_docs(spark, sf_dir):
    """PREFIX-FILTERING set-similarity join (PPJoin family,
    operators/neardup.py prefix_filter_pairs): 3-gram Jaccard ≥ 0.8
    pairs where candidates come from joining only each document's
    RAREST few shingles — the pigeonhole guarantee that two sets with
    J ≥ t must overlap within their (1−t)-fraction prefixes, so
    candidate generation is lossless and the exact verify makes the
    output identical to the full inverted-index join.  The oracle is
    the SAME definitional all-pairs SQL as jaccard_neardup_docs, so
    the driver hash certifies zero false negatives AND that two
    completely different physical strategies (full inverted index vs
    prefix-filtered candidates) agree row-for-row — banding
    (minhash_neardup_docs) gets probabilistic recall certified by
    audit; prefix filtering gets EXACT recall certified by equality, a
    third candidate-generation lever next to banding and bloom
    pruning.  Shingle order is 3 because prefix filtering lives on
    rarity: on this corpus the median prefix 3-gram touches 7 docs vs
    265 for 2-grams (measured) — a 37× candidate cut for free; the
    PPJoin length filter (min size ≥ t·max) prunes the rest before
    verification.  Scale shape: df agg → per-doc bounded window →
    prefix self-join → length filter → candidate-restricted verify; no
    all-pairs stage, no df cap needed (prefixes self-select away from
    hot shingles)."""
    from .operators.neardup import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, threshold=0.8, n=3)


@q(
    "bfs_khop_custsupp",
    """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
seeds AS (
  SELECT DISTINCT c_custkey AS c FROM customer WHERE c_custkey % 97 = 0
),
s1 AS (
  SELECT DISTINCT e.s FROM edges e JOIN seeds ON e.c = seeds.c
),
c2 AS (
  SELECT DISTINCT e.c FROM edges e JOIN s1 ON e.s = s1.s
  WHERE e.c NOT IN (SELECT c FROM seeds)
),
s3 AS (
  SELECT DISTINCT e.s FROM edges e JOIN c2 ON e.c = c2.c
  WHERE e.s NOT IN (SELECT s FROM s1)
),
c4 AS (
  SELECT DISTINCT e.c FROM edges e JOIN s3 ON e.s = s3.s
  WHERE e.c NOT IN (SELECT c FROM seeds UNION ALL SELECT c FROM c2)
)
SELECT 'customer' AS node_type, c AS node_id, 0 AS dist FROM seeds
UNION ALL SELECT 'supplier', s, 1 FROM s1
UNION ALL SELECT 'customer', c, 2 FROM c2
UNION ALL SELECT 'supplier', s, 3 FROM s3
UNION ALL SELECT 'customer', c, 4 FROM c4
""",
)
def bfs_khop_custsupp(spark, sf_dir):
    """BOUNDED-DEPTH BFS (operators/graph.py bfs_khop): minimum hop
    distance ≤ 4 from a seed customer set over the customer↔supplier
    co-transaction graph — the k-hop neighborhood / blast-radius query
    (who is within k relationship steps of these accounts).  The
    oracle UNROLLS the four relaxation rounds as layered CTEs (each
    layer = neighbors of the previous minus everyone already
    reached), which on the bipartite graph is exactly min-hop BFS —
    so the iterative frontier/anti-join implementation is
    hash-certified round by round.  Unlike connected_components_star
    (O(log n) rounds to a fixpoint), the round count here is the HOP
    BOUND k — fixed by the question, independent of graph size or
    diameter; per-round localCheckpoint truncates lineage.  Scale
    shape: one distinct-edge build, then k partitioned hash joins
    whose frontier never exceeds the node set."""
    from .operators.graph import bfs_khop

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    ce = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
    )
    # materialize the distinct edge build once: every BFS round joins
    # against it, and a lazy frame would replay the orders⋈lineitem
    # join + distinct k times
    edges = (
        ce.select(F.col("cn").alias("src"), F.col("sn").alias("dst"))
        .unionByName(
            ce.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
        )
        .localCheckpoint()
    )
    seeds = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("node")
    )
    reach = bfs_khop(edges, seeds, k=4)
    return reach.select(
        F.when(F.substring("node", 1, 2) == "c:", "customer")
        .otherwise("supplier")
        .alias("node_type"),
        F.substring("node", 3, 100).cast("bigint").alias("node_id"),
        F.col("dist").cast("int").alias("dist"),
    )


def _label_prop_round_sql(cur: str, prev: str) -> str:
    return f"""
{cur} AS (
  SELECT node, label FROM (
    SELECT ev.node, p.label,
           row_number() OVER (PARTITION BY ev.node
                              ORDER BY count(*) DESC, p.label)
             AS rk
    FROM ev JOIN {prev} p ON p.node = ev.nbr
    GROUP BY ev.node, p.label
  ) WHERE rk = 1
)"""


@q(
    "label_prop_custsupp",
    """
WITH ce AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS cn,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS sn
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (SELECT cn AS node, sn AS nbr FROM ce
          UNION ALL SELECT sn, cn FROM ce),
nodes AS (SELECT DISTINCT node FROM edges),
ev AS (SELECT node, nbr FROM edges
       UNION ALL SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS label FROM nodes),"""
    + _label_prop_round_sql("l1", "l0")
    + ","
    + _label_prop_round_sql("l2", "l1")
    + ","
    + _label_prop_round_sql("l3", "l2")
    + """
SELECT l3.label AS community,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN l3.node LIKE 'c:%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(sum(CASE WHEN l3.node LIKE 's:%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers,
       CAST(sum(CASE WHEN l3.label <> l2.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed_final
FROM l3 JOIN l2 ON l2.node = l3.node
GROUP BY 1
""",
)
def label_prop_custsupp(spark, sf_dir):
    """COMMUNITY DETECTION via deterministic label propagation
    (operators/graph.py label_propagation; Raghavan et al. 2007) over
    the customer↔supplier co-transaction graph — the graph family's
    community member alongside k-core (density tiers), connected
    components (reachability), and PageRank (centrality): which
    customer/supplier groups transact among THEMSELVES more than with
    the rest.  Three synchronous rounds, every node voting the most
    frequent label among neighbors + itself (the self-vote damps
    bipartite sync oscillation), ties to the smallest label — both
    nondeterminism sources of classic LPA (visit order, random ties)
    removed, so the oracle UNROLLS the rounds as layered CTEs and
    hash-checks the refinement round for round, the bfs_khop
    certification pattern.  Output is the community census (label,
    member counts by node type) plus the CONVERGENCE AUDIT column
    ``n_changed_final`` — how many members changed label in round 3
    (audit_churn=True; the oracle joins l3 to l2, which the unrolled
    CTEs already materialize) — making rounds=3 evidence rather than
    convention.  Measured decay on this graph at sf0.01: rounds 2–5
    churn 1498 → 56 → 16 → 0 (fixpoint at 5), so rounds=3 carries a
    disclosed 3.5% refinement tail — visible in the hash, where a
    regression (oscillation returning, decay stalling) breaks the
    driver row instead of hiding behind a converged-looking census.  Scale shape: one
    distinct-edge build, then per round ONE partitioned hash join +
    (node, label) agg + node-PARTITIONED rank window — state one
    label row per node, rounds fixed by the question, never a global
    window or a fixpoint loop; the audit adds one node-sized join."""
    from .operators.graph import label_propagation

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ce = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
    )
    edges = ce.select(
        F.col("cn").alias("src"), F.col("sn").alias("dst")
    ).unionByName(
        ce.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
    )
    labels = label_propagation(edges, rounds=3, audit_churn=True)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(
            (F.substring("node", 1, 2) == "c:").cast("int")
        ).cast("bigint").alias("n_customers"),
        F.sum(
            (F.substring("node", 1, 2) == "s:").cast("int")
        ).cast("bigint").alias("n_suppliers"),
        F.sum(F.col("changed").cast("int"))
        .cast("bigint")
        .alias("n_changed_final"),
    )


@q(
    "mutual_knn_embeddings",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  -- round to the 4-dp grain BEFORE the argmax: the Spark side's
  -- Arrow/BLAS kernel emits 4-dp cosines, so the reciprocal-best
  -- selection must compare at the same grain on both engines
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.v, a.v)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(a.v, a.v))), 4) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
top1 AS (
  SELECT query_id, neighbor_id, cos FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk = 1
)
SELECT t.query_id AS vec_a, t.neighbor_id AS vec_b, t.cos
FROM top1 t
JOIN top1 r ON r.query_id = t.neighbor_id AND r.neighbor_id = t.query_id
WHERE t.query_id < t.neighbor_id
""",
)
def mutual_knn_embeddings(spark, sf_dir):
    """RECIPROCAL BEST MATCH over the embedding corpus
    (operators/similarity.py mutual_top1_pairs): pairs where each
    vector is the other's single nearest cosine neighbor — the
    zero-threshold high-precision candidate generator for entity
    resolution and alignment (hub vectors attract many ONE-sided
    nearest neighbors; requiring reciprocity filters hubs with no
    tuning knob).  Exact all-pairs scoring here is the definitional
    baseline the oracle can restate verbatim; at 100 TB the same
    reciprocity join composes over LSH/IVF candidates instead
    (reciprocity is a per-pair property, so any complete candidate set
    preserves it — the recall_* audits certify those generators
    separately).  Scale shape of THIS form: broadcast the vector frame
    once, score partition-locally, one argmax window per query, then a
    self-join on the 1-row-per-vector top-1 frame."""
    from .operators.similarity import mutual_top1_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return mutual_top1_pairs(emb).select(
        "vec_a", "vec_b", F.round("cos", 4).alias("cos")
    )


_MUTUAL_SAMPLED_AUDIT_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 256),
scored AS (
  -- 4-dp grain BEFORE the argmax: the Spark audit arm's numpy kernel
  -- (cosine_best_match) rounds to 4 dp so its per-batch argmax is
  -- batch-boundary invariant; the oracle must tie-break at the same
  -- grain (the mutual_knn_embeddings precedent)
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.v, a.v)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(a.v, a.v))), 4) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
top1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk = 1
),
ms AS (
  SELECT DISTINCT least(t.query_id, t.neighbor_id) AS vec_a,
                  greatest(t.query_id, t.neighbor_id) AS vec_b
  FROM top1 t
  JOIN top1 r ON r.query_id = t.neighbor_id AND r.neighbor_id = t.query_id
  WHERE t.query_id IN (SELECT vec_id FROM q)
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_sampled,
       true AS recall_ge_95
FROM ms
"""


def _mutual_sampled_audit(spark, sf_dir, approx_pairs):
    """The sampled-exact reciprocal audit shared by the LSH and IVF
    compositions: 256 md5-ordered probes get true top-1 via two
    bounded cosine_best_match scans, their truly-mutual pairs are the
    exact arm (oracle-replayable count), and the floor boolean pins
    recall ≥ 95% against ``approx_pairs`` (vec_a, vec_b)."""
    from .operators.similarity import cosine_best_match

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")),
            F.col("vec_id"),
        )
        .limit(256)
        .localCheckpoint(eager=True)
    )
    t1 = (
        cosine_best_match(emb, sample)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    partners = (
        t1.select(F.col("neighbor_id").alias("vec_id"))
        .distinct()
        .join(emb, "vec_id")
    )
    t2 = cosine_best_match(emb, partners).select(
        F.col("query_id").alias("neighbor_id"),
        F.col("neighbor_id").alias("back"),
    )
    exact = (
        t1.join(t2, "neighbor_id")
        .filter(F.col("back") == F.col("query_id"))
        .select(
            F.least("query_id", "neighbor_id").alias("vec_a"),
            F.greatest("query_id", "neighbor_id").alias("vec_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hit = exact.join(approx_pairs, ["vec_a", "vec_b"])
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_sampled"))
        .crossJoin(
            F.broadcast(hit.agg(F.count(F.lit(1)).alias("__n_hit")))
        )
        .select(
            F.col("n_exact_sampled").cast("bigint").alias(
                "n_exact_sampled"
            ),
            (
                F.lit(100.0) * F.col("__n_hit")
                >= 95.0 * F.col("n_exact_sampled")
            ).alias("recall_ge_95"),
        )
    )


@q("mutual_knn_lsh", _MUTUAL_SAMPLED_AUDIT_SQL)
def mutual_knn_lsh(spark, sf_dir):
    """RECIPROCAL BEST MATCH **at scale**: mutual_top1_pairs'
    reciprocity composed over the LSH candidate generator
    (operators/similarity.py mutual_top1_pairs_lsh) instead of exact
    all-pairs — the 100-TB form the exact twin's docstring promises.
    The per-bucket Arrow kernel reduces each bucket to one
    best-candidate row per member BEFORE any shuffle (~bands·N partial
    rows, never Σ|bucket|² pairs), and the global argmax is a
    map-side-combinable struct-min.  Planes auto-scale with the corpus
    (planes ≈ log2(N²/1e5), floored at the quality default 4, capped
    at 20) so per-band bucket compute Σ|bucket|² stays ~bounded as N
    grows — the corpus-size knob is LOG-priced, which is what makes
    the composition linear-class where the exact baseline is
    quadratic by definition.  Recall inherits the generator's
    1−(1−p^planes)^bands curve: on this structureless random fixture
    (top-1 cosines ~0.37, the sign-LSH worst case) the driver-checked
    sf0.01 setting is planes=4/bands=32 → measured recall 99.3%;
    production corpora whose reciprocal pairs are near-dups (cos ≥
    0.8) keep high recall at deep planes, and bands is the linear-cost
    recovery knob — disclosed, not hidden.

    Driver-hash-audited with a SAMPLED exact baseline so the audit
    itself stays linear (the recall_lsh_vs_exact_cosine pattern runs
    exact all-pairs — fine for pair generators, but it would make THIS
    query quadratic again): 256 md5-ordered probe vectors get true
    top-1 by bounded brute force (two broadcast |Q|×N scans — the
    second resolves the partners' own top-1), their truly-mutual
    pairs are the exact arm, and the row carries that count
    (oracle-replayable: DuckDB recomputes it from the same md5 sample
    order) plus the literal-true floor boolean recall_pct ≥ 95.
    Scale shape: one TakeOrdered sample, two broadcast top-1 scans,
    the banded LSH build (bounded buckets via max_bucket), one
    reciprocity agg+self-join, one hit join on the tiny pair frames."""
    import math

    from .operators.similarity import mutual_top1_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # hold planes at the quality default while the per-band pair-compute
    # budget (~2.6M candidate pairs = N²/2^planes) allows, deepen past
    # it: N ≤ ~6.4k keeps planes=4 (measured recall 99.3% here), then
    # +1 plane per 2× N — compute stays ~budget·bands, linear-class.
    planes = min(
        20, max(4, math.ceil(math.log2(max(n * n / 2.6e6, 2.0))))
    )
    approx = mutual_top1_pairs_lsh(emb, planes=planes, bands=32).select(
        "vec_a", "vec_b"
    )
    return _mutual_sampled_audit(spark, sf_dir, approx)


@q("mutual_knn_ivf", _MUTUAL_SAMPLED_AUDIT_SQL)
def mutual_knn_ivf(spark, sf_dir):
    """RECIPROCAL BEST MATCH over the IVF candidate generator
    (operators/similarity.py mutual_top1_pairs_ivf) — the
    data-ADAPTIVE sibling of mutual_knn_lsh, completing the pair of
    compositions the exact twin promises: coarse k-means posting
    lists follow the corpus distribution where sign-LSH buckets are
    data-independent, so on clustered corpora reciprocal pairs share
    their home list and recall ≈ 1 with FEW probes, while LSH needs
    bands to recover the same.  Candidates = vectors co-probing a
    list (each vector replicated to its nprobe=8 nearest centroids);
    every list runs the same per-group argmax Arrow kernel (hot lists
    block-decomposed) and partials merge via the shared struct-min.
    n_centroids scales with the corpus (max(16, N/512) — bounded list
    occupancy keeps compute ~ N·nprobe·list_size, the IVF linear-
    class lever; measured recall 100% at the check SF, floor-audited
    at 95 by the same sampled exact baseline and shared oracle as
    mutual_knn_lsh).  Centroids are trained ONCE per corpus and
    reused across runs (the "mutual_ivf_centroids" artifact — the production
    train-per-ingest shape; save_centroids/load_centroids is the
    cross-process form); the train itself stays a bounded-sample
    collect (≤4096 rows) so even the cold run is corpus-size-free.
    Scale shape: one map-side probe pass against the frozen broadcast
    matrix, per-list kernel tasks, the struct-min merge, and the
    linear sampled audit."""
    from .operators.similarity import ivf_train, mutual_top1_pairs_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    # k-means is corpus-deterministic (bounded md5-free sample + fixed
    # seed): the production shape trains ONCE per ingest and every query
    # batch probes the frozen matrix (the reciprocity kernel re-derives
    # lists per run; only the train is worth memoizing).  The corpus
    # count only sizes the one-time train — inside the build so warm
    # runs pay zero extra jobs.
    centroids = artifact(
        spark, "mutual_ivf_centroids", sf_dir,
        lambda: ivf_train(emb, n_centroids=max(16, emb.count() // 512)),
    )
    approx = mutual_top1_pairs_ivf(
        emb, nprobe=8, centroids=centroids
    ).select("vec_a", "vec_b")
    return _mutual_sampled_audit(spark, sf_dir, approx)


@q("stream_cms_heavy_hitters", _cms_hh_sql())
def stream_cms_heavy_hitters(spark, sf_dir):
    """§2.9 STREAMING twin of cms_heavy_hitters_events, sharing its
    oracle: the d×w Count-Min cells are maintained as ONE running
    streaming aggregation (the map-side ×d explode feeds
    groupBy(depth, bucket).count — state is ≤ 8192 BIGINT cells,
    bounded by the sketch geometry, never by stream length or key
    cardinality) drained availableNow into the memory sink; the top-20
    point reads and the exact audit twin are static views over the
    drained cells.  Cells are plain integer sums, so like the HLL twin
    the streaming result is BIT-IDENTICAL to batch — no
    accumulation-order caveat.  This is the live heavy-hitter monitor
    shape: the sketch ticks per micro-batch, queries read state."""
    import uuid

    from .operators.sketches import cms_cells, cms_estimate
    from .streaming import run_to_memory
    from .streaming.services_stream import EVENTS_STREAM_SCHEMA

    ev_s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 8)
        .parquet(_staged_events(spark, sf_dir))
        .select("user_id")
    )
    name = f"cms_stream_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        sq = run_to_memory(cms_cells(ev_s, "user_id"), name, "complete")
        sq.stop()
    cells = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    top20 = exact.orderBy(
        F.col("n_exact").desc(), F.col("user_id").asc()
    ).limit(20)
    est = cms_estimate(cells, top20.select("user_id"), "user_id")
    return top20.join(est, "user_id").select(
        "user_id",
        "n_exact",
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("n_exact"))
        .cast("int")
        .alias("never_undercounts"),
    )


@q(
    "degree_powerlaw_custsupp",
    """
WITH deg AS (
  SELECT l.l_suppkey AS s, count(DISTINCT o.o_custkey) AS degree
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
),
hist AS (
  SELECT degree, count(*) AS n_suppliers FROM deg GROUP BY 1
),
ols AS (
  SELECT count(*) AS k,
         sum(ln(degree::DOUBLE)) AS sx,
         sum(ln(n_suppliers::DOUBLE)) AS sy,
         sum(ln(degree::DOUBLE) * ln(n_suppliers::DOUBLE)) AS sxy,
         sum(ln(degree::DOUBLE) * ln(degree::DOUBLE)) AS sxx
  FROM hist
)
SELECT h.degree, CAST(h.n_suppliers AS BIGINT) AS n_suppliers,
       round(CASE WHEN o.sxx - o.sx * o.sx / o.k > 0
                  THEN (o.sxy - o.sx * o.sy / o.k)
                       / (o.sxx - o.sx * o.sx / o.k) END, 4)
         AS loglog_slope
FROM hist h CROSS JOIN ols o
""",
)
def degree_powerlaw_custsupp(spark, sf_dir):
    """GRAPH DEGREE PROFILE: the supplier-side degree histogram of the
    customer↔supplier co-transaction graph plus the log-log OLS slope —
    the first diagnostic any graph pipeline runs, because every
    downstream choice (salting hot keys, broadcast thresholds, frontier
    sizing for bfs_khop/star-CC) hinges on whether the degree tail is
    exponential or power-law.  The slope is closed-form least squares
    over (ln degree, ln count) — two aggs and arithmetic, no iterative
    fitter — repeated per histogram row like chi2's repeated statistic
    so the margin data AND the fit are both hash-checked.  Scale shape:
    one distinct-edge agg (the corpus shuffle), a histogram agg over
    the degree domain, and a scalar OLS over the histogram frame."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    deg = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(F.col("l_suppkey").alias("s"))
        .agg(F.count_distinct("o_custkey").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers")
    )
    lx = F.log(F.col("degree").cast("double"))
    ly = F.log(F.col("n_suppliers").cast("double"))
    ols = hist.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    denom = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    slope = F.when(
        denom > 0,
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / denom,
    )
    return hist.crossJoin(F.broadcast(ols)).select(
        "degree",
        "n_suppliers",
        F.round(slope, 4).alias("loglog_slope"),
    )


@q(
    "embed_covariance",
    """
WITH pe AS (
  SELECT vec_id, i AS d, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
nn AS (SELECT count(*) AS n FROM embeddings),
mu AS (SELECT d, sum(v) AS sv FROM pe GROUP BY 1),
xp AS (
  SELECT a.d AS di, b.d AS dj, sum(a.v * b.v) AS svv
  FROM pe a JOIN pe b ON a.vec_id = b.vec_id AND a.d <= b.d
  GROUP BY 1, 2
)
SELECT CAST(xp.di AS INT) AS dim_i, CAST(xp.dj AS INT) AS dim_j,
       round((xp.svv / nn.n - (ma.sv / nn.n) * (mb.sv / nn.n)) * 1000000, 2)
         AS cov_ppm
FROM xp
JOIN mu ma ON ma.d = xp.di
JOIN mu mb ON mb.d = xp.dj
CROSS JOIN nn
""",
)
def embed_covariance(spark, sf_dir):
    """LINEAR ALGEBRA AS AGGREGATION: the upper-triangular covariance
    matrix of the embedding corpus — (64·65)/2 entries from ONE
    explode→self-join→sum pass, the building block for PCA whitening,
    Mahalanobis outlier scoring, and embed_drift_centroid's
    second-moment upgrade.  The point at 100 TB: a d×d covariance
    never needs the vectors twice — per-vector outer-product terms
    map-side-combine into d²/2 running sums, so the shuffle carries
    the MATRIX (2080 cells), not the corpus, exactly like the sketch
    family.  Population covariance stated as Σxy/n − μᵢμⱼ identically
    in both engines, reported in PARTS-PER-MILLION rounded to 2dp:
    entries span 5e-9..2e-2, so a raw 6-dp rounding sits AT signal
    scale and cross-engine accumulation-order noise (~1e-15) flips the
    last digit — scaling first puts the grain 7 orders above the
    noise while keeping 4+ significant digits on typical entries (the
    same grain-vs-noise reasoning as the sketch family's integer
    scaling, applied to display).
    Eigen-decomposition on the resulting 64×64 frame is a DRIVER-side
    numpy step (tests/test_frontier_ops.py exercises the operator);
    the distributed part — the only part that touches data — is this
    query."""
    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id", (F.col("pos") + 1).alias("d"), F.col("col").alias("v")
    )
    n = emb.count()
    mu = pe.groupBy("d").agg(F.sum("v").alias("sv"))
    a = pe.select(F.col("d").alias("di"), "vec_id", F.col("v").alias("va"))
    b = pe.select(F.col("d").alias("dj"), "vec_id", F.col("v").alias("vb"))
    xp = (
        a.join(b, "vec_id")
        .filter(F.col("di") <= F.col("dj"))
        .groupBy("di", "dj")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("svv"))
    )
    return (
        xp.join(
            F.broadcast(mu.select(F.col("d").alias("di"), F.col("sv").alias("sva"))),
            "di",
        )
        .join(
            F.broadcast(mu.select(F.col("d").alias("dj"), F.col("sv").alias("svb"))),
            "dj",
        )
        .select(
            F.col("di").cast("int").alias("dim_i"),
            F.col("dj").cast("int").alias("dim_j"),
            F.round(
                (F.col("svv") / n - (F.col("sva") / n) * (F.col("svb") / n))
                * 1000000,
                2,
            ).alias("cov_ppm"),
        )
    )


def _kcore_sql(k: int = 80, rounds: int = 12) -> str:
    """Unrolled peel oracle: ``rounds`` generated keep/filter CTE pairs.
    Exact whenever the Spark side converges within ``rounds`` — which
    kcore_membership RAISES about if violated, so a returned result is
    always comparable (the DPP self-audit pattern).  Fixpoint rounds
    measured: 6 at sf0.01 and sf0.1; 12 gives 2× margin."""
    # AS MATERIALIZED: each u{r} is referenced twice by round r+1 (the
    # edge side and the survivor agg) — without materialization DuckDB
    # re-expands the whole chain per reference (2^rounds base scans;
    # observed as an fd exhaustion on the parquet view)
    ctes = [
        """e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
u0 AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""k{r} AS MATERIALIZED (SELECT a FROM u{r - 1} GROUP BY a HAVING count(*) >= {k}),
u{r} AS MATERIALIZED (
  SELECT c.a, c.b FROM u{r - 1} c
  JOIN k{r} x ON c.a = x.a JOIN k{r} y ON c.b = y.a
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a AS part_id, CAST(count(*) AS BIGINT) AS core_degree
FROM u{rounds} GROUP BY a"""
    )


@q("kcore_parts", _kcore_sql())
def kcore_parts(spark, sf_dir):
    """k-CORE decomposition (operators/graph.py kcore_membership) of
    the part CO-PURCHASE graph (parts sharing an order): the maximal
    subgraph where every part keeps ≥ 80 in-subgraph co-purchase
    partners — the dense-community extractor whose peeling CASCADES
    (removing a node can drop its neighbors below k), which is what
    separates it from a one-shot degree filter: this graph takes 6
    genuine peel rounds and sheds ~7% of nodes.  The oracle UNROLLS 12
    peel rounds as generated CTE pairs; the Spark side iterates to a
    CERTIFIED fixpoint and RAISES past 12 rounds, so any returned
    result is exactly comparable (the self-auditing unrolled-oracle
    contract shared with dpp_scan and bfs_khop).  Output carries each
    survivor's within-core degree — the ≥ k invariant rides in-frame.
    Scale shape: the order-wise pair explode is bounded by basket
    size² (the basket_rules shape); each peel round is one degree agg
    + broadcast survivor semi-joins on a shrinking frame,
    localCheckpointed per round."""
    from .operators.graph import kcore_membership

    l = load_table(spark, sf_dir, "lineitem")
    a = l.select("l_orderkey", F.col("l_partkey").alias("a"))
    b = l.select("l_orderkey", F.col("l_partkey").alias("b"))
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    core = kcore_membership(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        k=80,
        max_rounds=12,
        canonical=True,
    )
    return core.select(
        F.col("node").alias("part_id"),
        F.col("core_degree").cast("bigint").alias("core_degree"),
    )


@q(
    "ks_test_events",
    f"""
WITH f AS (
  SELECT round(value, 2) AS qv,
         CASE WHEN ts >= {NOW_SQL} - INTERVAL 15 DAY THEN 1 ELSE 0 END AS ia,
         CASE WHEN ts < {NOW_SQL} - INTERVAL 15 DAY THEN 1 ELSE 0 END AS ib
  FROM events
  WHERE ts >= {NOW_SQL} - INTERVAL 30 DAY AND ts <= {NOW_SQL}
),
per_v AS (
  SELECT qv, sum(ia)::BIGINT AS ca, sum(ib)::BIGINT AS cb
  FROM f GROUP BY 1
),
cum AS (
  SELECT sum(ca) OVER (ORDER BY qv) AS cum_a,
         sum(cb) OVER (ORDER BY qv) AS cum_b
  FROM per_v
),
tot AS (SELECT max(cum_a) AS na, max(cum_b) AS nb FROM cum),
d AS (
  SELECT max(abs(cum_a::DOUBLE / tot.na - cum_b::DOUBLE / tot.nb)) AS ks
  FROM cum CROSS JOIN tot
)
SELECT CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
       round(d.ks, 6) AS ks_stat,
       round(1.358 * sqrt((tot.na + tot.nb) * 1.0 / (tot.na * tot.nb)), 6)
         AS ks_crit,
       CAST(CASE WHEN d.ks > 1.358 * sqrt((tot.na + tot.nb) * 1.0
                                          / (tot.na * tot.nb))
                 THEN 1 ELSE 0 END AS INT) AS significant
FROM d CROSS JOIN tot
""",
)
def ks_test_events(spark, sf_dir):
    """DISTRIBUTION-SHAPE drift: two-sample Kolmogorov-Smirnov over
    `value`, last 15 days vs the prior 15 (operators/stats.py ks_test,
    same time split as welch_ttest_events) — D = max CDF gap catches
    shape changes that mean tests miss and needs NO bin choice, the
    tuning knob PSI's verdict hinges on.  The welch/PSI/KS trio now
    covers level, binned divergence, and shape.  Scale skeleton shared
    with mann_whitney_u: one corpus agg to quantized per-value counts,
    one ordered window over the bounded value domain for both running
    CDFs; every |gap| is a subtraction of two single-division ratios
    (identical IEEE ops both engines), max is order-free.  An A/A-style
    expected verdict on this synthetic corpus: not significant."""
    from .operators.stats import ks_test

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.expr(f"{NOW_SQL} - INTERVAL 30 DAY"))
        & (F.col("ts") <= F.expr(NOW_SQL))
    )
    split = F.col("ts") >= F.expr(f"{NOW_SQL} - INTERVAL 15 DAY")
    r = ks_test(ev, "value", split, ~split)
    return r.select(
        "n_a",
        "n_b",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("ks_crit", 6).alias("ks_crit"),
        "significant",
    )


@q(
    "spearman_corr_events",
    """
WITH base AS (
  SELECT round(value, 2) AS qx,
         CAST(extract(hour FROM ts) AS DOUBLE) AS qy
  FROM events
),
rx AS (
  SELECT qx,
         coalesce(sum(c) OVER (ORDER BY qx
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::DOUBLE
           + (c::DOUBLE + 1.0) / 2.0 AS rx
  FROM (SELECT qx, count(*) AS c FROM base GROUP BY 1)
),
ry AS (
  SELECT qy,
         coalesce(sum(c) OVER (ORDER BY qy
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::DOUBLE
           + (c::DOUBLE + 1.0) / 2.0 AS ry
  FROM (SELECT qy, count(*) AS c FROM base GROUP BY 1)
),
g AS (
  SELECT count(*)::DOUBLE AS n,
         sum(rx.rx) AS sx, sum(ry.ry) AS sy,
         sum(rx.rx * ry.ry) AS sxy,
         sum(rx.rx * rx.rx) AS sxx,
         sum(ry.ry * ry.ry) AS syy
  FROM base JOIN rx USING (qx) JOIN ry USING (qy)
)
SELECT CAST(n AS BIGINT) AS n,
       round(CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  END, 6) AS rho
FROM g
""",
)
def spearman_corr_events(spark, sf_dir):
    """MONOTONE association: Spearman rank correlation between `value`
    and hour-of-day (operators/stats.py spearman_corr) — Pearson on
    average ranks, the outlier-robust "do these move together at all"
    measure completing the nonparametric family (mann_whitney: two
    groups; ks: two distributions; spearman: two variables).  Ranks
    never materialize per row: each axis's average-rank table is one
    window over its bounded quantized-value domain, broadcast back to
    the corpus, and the Pearson tail is ONE power-sum agg (the
    welch/moments shape).  Average ranks are half-integers, so every
    power sum is exact binary arithmetic at suite scales — the rounded
    rho is bit-stable across engines and partitionings."""
    from .operators.stats import spearman_corr

    ev = load_table(spark, sf_dir, "events").select(
        "value", F.hour("ts").cast("double").alias("hr")
    )
    r = spearman_corr(ev, "value", "hr")
    return r.select("n", F.round("rho", 6).alias("rho"))


@q(
    "cohort_ltv_events",
    """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1
),
rev AS (
  SELECT c.cohort_week,
         CAST(floor(date_diff('day', c.cohort_week,
                              date_trunc('week', e.ts)) / 7) AS BIGINT)
           AS week_offset,
         sum(e.value) AS wk_revenue
  FROM events e JOIN cohort c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.cohort_week
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_week AS TIMESTAMP) AS cohort_week,
       r.week_offset,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(sum(r.wk_revenue)
               OVER (PARTITION BY r.cohort_week ORDER BY r.week_offset)
             / s.cohort_size, 4) AS cum_ltv_per_user
FROM rev r JOIN sizes s USING (cohort_week)
""",
)
def cohort_ltv_events(spark, sf_dir):
    """COHORT LIFETIME VALUE: cumulative purchase revenue per signup
    cohort divided by cohort size, by week offset — the LTV curve that
    sits next to cohort_retention_events' engagement matrix in every
    growth dashboard (retention answers "do they come back", this
    answers "what are they worth by week N").  Shape: the same
    two-aggregate cohort-anchor join, one (cohort, offset) revenue
    agg, then a cumulative window PER COHORT over week offsets — the
    window frame is |offsets| (the corpus's week span), never raw
    events.  The per-user normalization divides by cohort size once
    per row (exact bigint→double), so curves are comparable across
    cohorts of different sizes."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .filter(F.col("ts") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum("value").alias("wk_revenue"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "week_offset",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.sum("wk_revenue").over(w) / F.col("cohort_size"), 4
            ).alias("cum_ltv_per_user"),
        )
    )


@q(
    "conversion_lag_events",
    """
WITH first_click AS (
  SELECT user_id, min(ts) AS click_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
  SELECT f.user_id, f.click_ts, min(e.ts) AS purchase_ts
  FROM first_click f
  JOIN events e ON e.user_id = f.user_id
   AND e.event_type = 'purchase' AND e.ts >= f.click_ts
  GROUP BY 1, 2
),
lags AS (
  -- floor(epoch()) per timestamp FIRST: Spark's unix_timestamp
  -- truncates each microsecond timestamp to whole seconds before the
  -- subtraction (and date_diff('minute') would count boundary
  -- crossings, a different quantity entirely)
  SELECT CAST(floor((floor(epoch(purchase_ts)) - floor(epoch(click_ts)))
                    / 60.0) AS BIGINT) AS lag_min
  FROM conv
),
nn AS (SELECT count(*) AS n_clickers FROM first_click)
SELECT CAST(nn.n_clickers AS BIGINT) AS n_clickers,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(count(*) * 100.0 / nn.n_clickers, 2) AS conv_pct,
       CAST(min(lag_min) AS BIGINT) AS min_lag_min,
       round(quantile_cont(lag_min, 0.5), 1) AS p50_lag_min,
       round(quantile_cont(lag_min, 0.9), 1) AS p90_lag_min,
       CAST(max(lag_min) AS BIGINT) AS max_lag_min
FROM lags CROSS JOIN nn
GROUP BY nn.n_clickers
""",
)
def conversion_lag_events(spark, sf_dir):
    """TIME-TO-CONVERT: from each user's FIRST click to their first
    subsequent purchase — the latency distribution (min/p50/p90/max
    minutes) plus the conversion rate, the number a funnel's step
    counts (funnel_events) deliberately don't carry: not just HOW MANY
    convert but HOW LONG it takes.  Shape: two per-user aggregates
    (first click, first qualifying purchase — the min-over-join form
    of an as-of FORWARD join, same semantics as asof_forward_clicks'
    operator applied at user grain), then one scalar summary with
    exact percentiles over the |converting users| lag frame.  Exact
    `percentile` carries the O(users) agg-buffer disclosure; the
    approx_percentile production twin pattern (daily_percentiles)
    applies verbatim at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id", "click_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    lag = (
        F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
    ) / 60
    lags = conv.select(F.floor(lag).cast("bigint").alias("lag_min"))
    n_clickers = fc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clickers")
    )
    return lags.crossJoin(F.broadcast(n_clickers)).groupBy("n_clickers").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(
            F.count(F.lit(1)) * 100.0 / F.col("n_clickers").cast("double"),
            2,
        ).alias("conv_pct"),
        F.min("lag_min").cast("bigint").alias("min_lag_min"),
        F.round(F.expr("percentile(lag_min, 0.5D)"), 1).alias("p50_lag_min"),
        F.round(F.expr("percentile(lag_min, 0.9D)"), 1).alias("p90_lag_min"),
        F.max("lag_min").cast("bigint").alias("max_lag_min"),
    ).select(
        "n_clickers",
        "n_converted",
        "conv_pct",
        "min_lag_min",
        "p50_lag_min",
        "p90_lag_min",
        "max_lag_min",
    )


def _hll_overlap_sql() -> str:
    from .operators.sketches import hll_estimate_body_sql, hll_registers_sql

    regs = hll_registers_sql(
        "user_id",
        src="(SELECT * FROM events WHERE event_type IN ('click', 'purchase'))",
        group_expr="event_type",
    )
    return f"""
WITH {regs.lstrip()},
hreg_u AS (
  SELECT 'U' AS grp, idx, max(r) AS r FROM hreg GROUP BY 2
),
hest AS ({hll_estimate_body_sql('hreg')}),
hest_u AS ({hll_estimate_body_sql('hreg_u')}),
est AS (
  SELECT max(CASE WHEN grp = 'click' THEN hll_estimate END) AS ea,
         max(CASE WHEN grp = 'purchase' THEN hll_estimate END) AS eb,
         max(CASE WHEN grp = 'U' THEN hll_estimate END) AS eu
  FROM (SELECT * FROM hest UNION ALL SELECT * FROM hest_u)
),
exact AS (
  SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
           AS xa,
         count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
           AS xb,
         count(DISTINCT user_id) AS xu
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT CAST(exact.xa AS BIGINT) AS n_click_exact,
       CAST(exact.xb AS BIGINT) AS n_purchase_exact,
       CAST(exact.xa + exact.xb - exact.xu AS BIGINT) AS n_overlap_exact,
       round(est.ea, 2) AS hll_click,
       round(est.eb, 2) AS hll_purchase,
       round(est.ea + est.eb - est.eu, 2) AS hll_overlap
FROM est CROSS JOIN exact
"""


@q("hll_overlap_events", _hll_overlap_sql())
def hll_overlap_events(spark, sf_dir):
    """SKETCH SET ALGEBRA: estimate the click∩purchase user overlap by
    inclusion-exclusion over three HLL estimates (|A| + |B| − |A∪B|,
    where the union sketch is the max-MERGE of the two group sketches —
    no third corpus pass) — the audience-overlap / cross-segment
    question every marketing and dedup surface asks, answered from
    per-segment sketches that were maintainable independently.  This is
    the operation that makes mergeable sketches an ALGEBRA rather than
    a counter: union is exact on registers, intersection derives by
    arithmetic (error compounds — the exact twin rides along so the
    artifact self-reports it).  Scale shape: one register agg over the
    two segments, merges and estimates on 1024-row frames, one exact
    audit agg."""
    from .operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    regs = hll_registers(ev, ["event_type"], "user_id")
    per = hll_estimate(regs, ["event_type"])
    union_est = hll_estimate(
        hll_merge(regs.withColumn("u", F.lit("U")), ["u"]), ["u"]
    )
    est = (
        per.groupBy()
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("hll_estimate"))
        .crossJoin(
            F.broadcast(
                union_est.select(F.col("hll_estimate").alias("eu"))
            )
        )
    )
    exact = ev.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("xa"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("xb"),
        F.count_distinct("user_id").alias("xu"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("xa").cast("bigint").alias("n_click_exact"),
        F.col("xb").cast("bigint").alias("n_purchase_exact"),
        (F.col("xa") + F.col("xb") - F.col("xu"))
        .cast("bigint")
        .alias("n_overlap_exact"),
        F.round("click", 2).alias("hll_click"),
        F.round("purchase", 2).alias("hll_purchase"),
        F.round(
            F.col("click") + F.col("purchase") - F.col("eu"), 2
        ).alias("hll_overlap"),
    )


@q(
    "assortativity_custsupp",
    """
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
dc AS (SELECT c, count(*) AS dc FROM e GROUP BY 1),
ds AS (SELECT s, count(*) AS ds FROM e GROUP BY 1),
x AS (
  SELECT dc.dc::DOUBLE AS x, ds.ds::DOUBLE AS y
  FROM e JOIN dc USING (c) JOIN ds USING (s)
),
g AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM x
)
SELECT CAST(n AS BIGINT) AS n_edges,
       round(CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  END, 6) AS assortativity
FROM g
""",
)
def assortativity_custsupp(spark, sf_dir):
    """DEGREE ASSORTATIVITY of the customer↔supplier graph: the Pearson
    correlation of endpoint degrees across edges — do high-degree
    customers transact with high-degree suppliers (assortative, r > 0)
    or with the long tail (disassortative, r < 0)?  With
    degree_powerlaw_custsupp's tail shape, this pins the two numbers
    that determine how a graph workload skews at scale: heavy tails
    say WHICH keys are hot, assortativity says whether hot keys MEET
    each other in joins (the worst case for shuffle balance —
    assortative hubs concentrate pairs; disassortative graphs
    self-spread).  Shape: one distinct-edge agg, two degree aggs
    joined back edge-wise (degree frames broadcast), one power-sum
    Pearson tail; degrees are integers so every sum is exact binary
    arithmetic at suite scales."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    x = (
        e.join(F.broadcast(dc), "c")
        .join(F.broadcast(ds), "s")
        .select(
            F.col("dc").cast("double").alias("x"),
            F.col("ds").cast("double").alias("y"),
        )
    )
    g = x.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return g.select(
        n.cast("bigint").alias("n_edges"),
        F.round(F.when(den > 0, num / den), 6).alias("assortativity"),
    )


@q(
    "join_skew_advisor",
    """
WITH lk AS (
  SELECT l_orderkey AS k, count(*) AS n_left FROM lineitem GROUP BY 1
),
rk AS (
  SELECT o_orderkey AS k, count(*) AS n_right FROM orders GROUP BY 1
),
j AS (
  SELECT coalesce(lk.k, rk.k) AS k,
         coalesce(lk.n_left, 0) AS n_left,
         coalesce(rk.n_right, 0) AS n_right,
         coalesce(lk.n_left, 0) * coalesce(rk.n_right, 0) AS pair_rows
  FROM lk FULL OUTER JOIN rk ON lk.k = rk.k
),
tot AS (SELECT sum(pair_rows) AS total_pairs FROM j),
ranked AS (
  SELECT k, n_left, n_right, pair_rows,
         row_number() OVER (ORDER BY pair_rows DESC, k) AS rnk
  FROM j
)
SELECT r.rnk AS rank, r.k AS join_key,
       CAST(r.n_left AS BIGINT) AS n_left,
       CAST(r.n_right AS BIGINT) AS n_right,
       CAST(r.pair_rows AS BIGINT) AS pair_rows,
       round(r.pair_rows * 100.0 / tot.total_pairs, 4) AS pct_of_join
FROM ranked r CROSS JOIN tot
WHERE r.rnk <= 15
""",
)
def join_skew_advisor(spark, sf_dir):
    """JOIN-SKEW ADVISOR: before running lineitem⋈orders, report the
    top keys by PAIR volume (left freq × right freq — the actual rows
    the join materializes per key, which is what lands on one reducer
    in a shuffle join) and each key's share of the total — the
    pre-flight a planner or an engineer runs to decide between plain
    shuffle, AQE skew split, salting (salted_join_mktsegment), or
    broadcast.  skew_report_events profiles ONE column's value skew;
    this prices the JOIN — the product distribution differs from
    either side's own (assortativity_custsupp tells you whether hot
    meets hot in general; this names the keys).  Shape: two
    key-frequency aggs, a key-aligned full-outer merge, one total, a
    TakeOrderedAndProject top-15 on the key-domain frame and a rank
    window over only those 15 survivors — cost ~ two map-side aggs,
    never the join itself and never a single-reducer global window."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lk = l.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    rk = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    j = (
        lk.join(rk, "k", "full_outer")
        .select(
            "k",
            F.coalesce("n_left", F.lit(0)).alias("n_left"),
            F.coalesce("n_right", F.lit(0)).alias("n_right"),
            (
                F.coalesce("n_left", F.lit(0))
                * F.coalesce("n_right", F.lit(0))
            ).alias("pair_rows"),
        )
    )
    tot = j.agg(F.sum("pair_rows").alias("total_pairs"))
    # Top-k via orderBy().limit() (TakeOrderedAndProject: per-partition
    # top-15 then a 15-row merge), then rank only the 15 survivors —
    # never a no-partition row_number window over the full key domain,
    # which would serialize O(|orders|) distinct keys through one task
    # at 100 TB.  Deterministic tiebreak on k keeps rows identical to
    # the rank-then-filter formulation, so the oracle is unchanged.
    # Same pattern as operators/skew.py:116.
    top = j.orderBy(F.col("pair_rows").desc(), F.col("k").asc()).limit(15)
    w = Window.orderBy(F.col("pair_rows").desc(), F.col("k"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            F.col("k").alias("join_key"),
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.col("pair_rows").cast("bigint").alias("pair_rows"),
            F.round(
                F.col("pair_rows") * 100.0 / F.col("total_pairs"), 4
            ).alias("pct_of_join"),
        )
    )


@q(
    "bot_rate_users",
    """
WITH pm AS (
  SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS n
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT user_id, sum(n) AS n_events,
         count(*) AS active_minutes, max(n) AS peak_per_minute
  FROM pm GROUP BY 1
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(active_minutes AS BIGINT) AS active_minutes,
       CAST(peak_per_minute AS BIGINT) AS peak_per_minute,
       round(n_events * 1.0 / active_minutes, 4) AS mean_per_active_minute,
       CAST(CASE WHEN peak_per_minute >= 3
                  OR n_events * 1.0 / active_minutes >= 1.5
                 THEN 1 ELSE 0 END AS INT) AS bot_suspect
FROM u
""",
)
def bot_rate_users(spark, sf_dir):
    """RATE-BASED ABUSE FLAGGING: per-user event-rate profile (peak
    events in any one minute, mean per active minute) with a
    bot-suspect flag — the traffic-hygiene filter a training-data
    pipeline runs BEFORE counting engagement signals as quality labels
    (a scraper's clicks poison everything downstream; the dedup family
    removes duplicate CONTENT, this removes synthetic BEHAVIOR).
    Thresholds are contract literals in both engines.  Shape: one
    (user, minute) pre-aggregation — the classic two-level rollup that
    keeps the minute histogram out of memory (max/sum fold over the
    first agg, never a per-user collect) — then arithmetic on the
    per-user frame.  At 100 TB both aggs map-side combine and shuffle
    once on user_id."""
    ev = load_table(spark, sf_dir, "events")
    pm = ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    u = pm.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("active_minutes"),
        F.max("n").alias("peak_per_minute"),
    )
    rate = F.col("n_events") * 1.0 / F.col("active_minutes")
    return u.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("active_minutes").cast("bigint").alias("active_minutes"),
        F.col("peak_per_minute").cast("bigint").alias("peak_per_minute"),
        F.round(rate, 4).alias("mean_per_active_minute"),
        F.when(
            (F.col("peak_per_minute") >= 3) | (rate >= 1.5), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("bot_suspect"),
    )


@q("dedup_survivors_prefix", _SURVIVORS_SQL)
def dedup_survivors_prefix(spark, sf_dir):
    """The end-to-end dedup pipeline on the PREFIX-FILTER candidate
    path — third interchangeable generator behind the same survivor
    tail (exact inverted index = dedup_survivors_docs, banded LSH =
    dedup_survivors_minhash, prefix filtering = this).  All three share
    ONE recursive-CC oracle: prefix filtering is provably lossless
    (pigeonhole), so its pair set — and therefore the clusters and
    survivors — must equal the exact path's bit-for-bit, and the
    driver hash enforces that at the PIPELINE level, not just the pair
    level (prefix_filter_neardup_docs).  The practical point: at
    100 TB you pick the candidate generator by corpus shape (banding
    for raw scale, prefix for exactness with skew-free posting lists,
    bloom for semi-join pruning) and the downstream dedup contract
    does not move."""
    from .operators.neardup import dedup_survivors, prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_pairs(docs, threshold=0.8, n=3)
    return dedup_survivors(docs, pairs)


def _hll_daily_sql() -> str:
    from .operators.sketches import hll_estimate_body_sql, hll_registers_sql

    regs = hll_registers_sql(
        "user_id", src="events", group_expr="CAST(ts AS DATE)"
    )
    return f"""
WITH {regs.lstrip()},
days AS (SELECT DISTINCT grp AS day FROM hreg),
-- every day carries its FULL running register set: densify by joining
-- the day spine to all earlier days' registers and max-merging (a
-- plain cum-max window can't densify days where an idx saw no new
-- value)
dense AS (
  SELECT d.day, c.idx, max(c.r) AS r
  FROM days d JOIN hreg c ON c.grp <= d.day
  GROUP BY 1, 2
),
hest AS (
  SELECT day AS grp, idx, r FROM dense
),
est AS ({hll_estimate_body_sql('hest')}),
exact AS (
  SELECT d.day, count(DISTINCT e.user_id) AS n_exact
  FROM days d JOIN events e ON CAST(e.ts AS DATE) <= d.day
  GROUP BY 1
)
SELECT CAST(x.day AS DATE) AS day,
       CAST(x.n_exact AS BIGINT) AS n_exact_cum,
       round(est.hll_estimate, 2) AS hll_cum
FROM exact x JOIN est ON est.grp = x.day
"""


@q("hll_cumulative_users_daily", _hll_daily_sql())
def hll_cumulative_users_daily(spark, sf_dir):
    """The RUNNING DISTINCT-USER CURVE from mergeable sketches:
    cumulative distinct users by day, computed as a per-day HLL
    register frame whose registers CUM-MAX forward over days — ONE
    corpus pass total, versus the exact twin
    (cumulative_users_daily) whose every point re-asks a distinct
    question over a growing prefix.  This is the sketch family's
    killer time-series form at 100 TB: per-day sketches are what an
    ingest pipeline already maintains (one per batch/partition), and
    any as-of curve, window, or union over time derives by register
    max — no corpus re-scan, ever.  The exact cumulative count rides
    along per day as the audit column.  Scale shape: one register agg
    (day×1024 rows max), a day-spine densify join on the register
    frame, per-day estimates — everything after the first agg is
    sketch-sized."""
    from .operators.sketches import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(
        ev.select(F.col("ts").cast("date").alias("day"), "user_id"),
        ["day"],
        "user_id",
    )
    days = regs.select("day").distinct()
    dense = (
        days.alias("d")
        .join(regs.alias("c"), F.col("c.day") <= F.col("d.day"))
        .groupBy(F.col("d.day").alias("day"), F.col("c.idx").alias("idx"))
        .agg(F.max("c.r").alias("r"))
    )
    est = hll_estimate(dense, ["day"])
    ue = ev.select(F.col("ts").cast("date").alias("eday"), "user_id")
    exact = (
        days.join(ue, F.col("eday") <= F.col("day"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("n_exact_cum"))
    )
    return est.join(exact, "day").select(
        F.col("day").cast("date").alias("day"),
        F.col("n_exact_cum").cast("bigint").alias("n_exact_cum"),
        F.round("hll_estimate", 2).alias("hll_cum"),
    )


def _cms_join_size_sql() -> str:
    from .operators.sketches import cms_oracle_sql

    left = cms_oracle_sql("l_orderkey", src="lineitem").lstrip()
    right = (
        cms_oracle_sql("o_orderkey", src="orders")
        .lstrip()
        .replace("cms_cells", "cms_cells_r")
        .replace("cms_keys", "cms_keys_r")
        .replace("cms_est", "cms_est_r")
    )
    return f"""
WITH {left},
{right},
ip AS (
  SELECT a.depth, sum(a.n * b.n) AS dot
  FROM cms_cells a JOIN cms_cells_r b
    ON a.depth = b.depth AND a.bucket = b.bucket
  GROUP BY 1
),
est AS (SELECT min(dot) AS join_size_est FROM ip),
exact AS (
  SELECT count(*) AS join_size_exact
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CAST(exact.join_size_exact AS BIGINT) AS join_size_exact,
       CAST(est.join_size_est AS BIGINT) AS join_size_est,
       CAST(CASE WHEN est.join_size_est >= exact.join_size_exact
                 THEN 1 ELSE 0 END AS INT) AS never_undercounts
FROM est CROSS JOIN exact
"""


@q("cms_join_size_lineitem", _cms_join_size_sql())
def cms_join_size_lineitem(spark, sf_dir):
    """SKETCH-BASED JOIN-SIZE ESTIMATION: |lineitem ⋈ orders| estimated
    as the minimum over depths of the INNER PRODUCT of the two sides'
    Count-Min rows (Σ_b cellsA[d][b]·cellsB[d][b] ≥ Σ_k fa(k)·fb(k),
    the AMS/CMS join-size bound — never an underestimate, one-sided
    like the point query) — the cardinality question a cost-based
    planner asks BEFORE choosing broadcast vs shuffle vs skew-split,
    answered from two single-pass sketches with no key-level
    aggregation and no join.  Completes the sketch ALGEBRA the HLL/CMS
    family demonstrates: union = register max (hll 'ALL'),
    intersection = inclusion-exclusion (hll_overlap), inner product =
    CMS row dot (this).  join_skew_advisor names the hot keys exactly;
    this prices the whole join in O(d·w) after two scans.  The exact
    join count rides along, with the ≥ guarantee as a hash-pinned
    column.  Scale shape: two map-side-combined cell aggs (≤ d·w rows
    each), one 8k-row dot product, one exact audit join."""
    from .operators.sketches import cms_cells

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ca = cms_cells(l.select(F.col("l_orderkey").alias("k")), "k")
    cb = cms_cells(o.select(F.col("o_orderkey").alias("k")), "k")
    ip = (
        ca.join(
            cb.select(
                "depth", "bucket", F.col("n").alias("nb")
            ),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("n") * F.col("nb")).alias("dot"))
    )
    est = ip.agg(F.min("dot").alias("join_size_est"))
    exact = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .agg(F.count(F.lit(1)).alias("join_size_exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("join_size_exact").cast("bigint").alias("join_size_exact"),
        F.col("join_size_est").cast("bigint").alias("join_size_est"),
        (F.col("join_size_est") >= F.col("join_size_exact"))
        .cast("int")
        .alias("never_undercounts"),
    )


@q(
    "woe_iv_events",
    """
WITH base AS (
  SELECT value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS target
  FROM events
),
edges AS (
  SELECT quantile_cont(value, 0.25) AS e1,
         quantile_cont(value, 0.50) AS e2,
         quantile_cont(value, 0.75) AS e3
  FROM base
),
binned AS (
  SELECT CASE WHEN value <= e1 THEN 1
              WHEN value <= e2 THEN 2
              WHEN value <= e3 THEN 3
              ELSE 4 END AS bin,
         value, target
  FROM base CROSS JOIN edges
),
g AS (
  SELECT bin, count(*) AS n,
         sum(target) AS n_pos, count(*) - sum(target) AS n_neg,
         round(min(value), 4) AS bin_min, round(max(value), 4) AS bin_max
  FROM binned GROUP BY 1
),
tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM g),
w AS (
  SELECT g.*,
         ln(((g.n_pos + 0.5) / tot.tp) / ((g.n_neg + 0.5) / tot.tn)) AS woe,
         ((g.n_pos + 0.5) / tot.tp - (g.n_neg + 0.5) / tot.tn)
           * ln(((g.n_pos + 0.5) / tot.tp) / ((g.n_neg + 0.5) / tot.tn))
           AS ivc
  FROM g CROSS JOIN tot
)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       bin_min, bin_max,
       round(woe, 6) AS woe,
       round(sum(ivc) OVER (), 6) AS iv_total
FROM w
""",
)
def woe_iv_events(spark, sf_dir):
    """FEATURE DIAGNOSTICS: Weight-of-Evidence binning and Information
    Value of `value` against the purchase target — the credit-scoring
    staple that tells a feature pipeline whether a numeric column
    carries any signal BEFORE a model trains on it (IV < 0.02 = drop
    it; the per-bin WOE doubles as the monotone encoding).  Bins are
    exact quartile EDGES computed first and broadcast as a 1-row frame
    — binning is then a map-side CASE, so there is NO global sort or
    rank (the equal-frequency form a global ntile would need; the
    exact-percentile agg carries the usual O(n) buffer disclosure with
    the approx_percentile production swap, daily_percentiles pattern).
    Laplace +0.5 smoothing keeps WOE finite on empty-class bins,
    stated identically in both engines.  An A/A-style expectation on
    this corpus: value is independent of event type, so IV ≈ 0 — the
    null calibration, like ab_test_report.  Scale shape: one
    percentile agg, one map-side binning pass into a 4-row group, IV
    as a window over 4 rows."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("target"),
    )
    edges = base.agg(
        F.expr("percentile(value, 0.25D)").alias("e1"),
        F.expr("percentile(value, 0.50D)").alias("e2"),
        F.expr("percentile(value, 0.75D)").alias("e3"),
    )
    binned = base.crossJoin(F.broadcast(edges)).select(
        F.when(F.col("value") <= F.col("e1"), 1)
        .when(F.col("value") <= F.col("e2"), 2)
        .when(F.col("value") <= F.col("e3"), 3)
        .otherwise(4)
        .alias("bin"),
        "value",
        "target",
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("target").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("target")).alias("n_neg"),
        F.round(F.min("value"), 4).alias("bin_min"),
        F.round(F.max("value"), 4).alias("bin_max"),
    )
    tot = g.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    pp = (F.col("n_pos") + 0.5) / F.col("tp")
    pn = (F.col("n_neg") + 0.5) / F.col("tn")
    w = g.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        "n_neg",
        "bin_min",
        "bin_max",
        F.log(pp / pn).alias("woe"),
        ((pp - pn) * F.log(pp / pn)).alias("ivc"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return w.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        "bin_min",
        "bin_max",
        F.round("woe", 6).alias("woe"),
        F.round(F.sum("ivc").over(wall), 6).alias("iv_total"),
    )


@q(
    "dsir_weights_docs",
    """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         (len(string_split(text, ' ')) BETWEEN 10 AND 1000)
           AND len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) > 0
           AS tgt
  FROM documents),
g AS (
  SELECT doc_id, tgt,
         CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 1024 AS b
  FROM (SELECT doc_id, tgt,
               unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS gram
        FROM d WHERE len(tk) >= 2)),
bk AS (SELECT b, count(*) AS cs,
              sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
       FROM g GROUP BY b),
tot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM bk),
lr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 1024))
              - ln((cs + 1) * 1.0 / (ns + 1024)) AS lr
       FROM bk CROSS JOIN tot),
s AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(sum(lr.lr), 4) AS dsir_logw
      FROM g JOIN lr USING (b) GROUP BY g.doc_id)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.dsir_logw, 0.0) AS dsir_logw,
       coalesce(s.dsir_logw, 0.0) > 0 AS selected
FROM d LEFT JOIN s ON d.doc_id = s.doc_id
""",
)
def dsir_weights_docs(spark, sf_dir):
    """DATA SELECTION via importance resampling (DSIR, Xie et al.
    NeurIPS 2023): per-document log-likelihood ratio of the hashed-
    bigram bag under the quality_keep target subset vs the whole
    corpus (operators/text.py dsir_importance) — the closed-form
    generative counterpart of train_classifier_docs' gradient-trained
    gate and the feature-level counterpart of mixture_resample_docs'
    domain weights.  Both n-gram distributions are add-1-smoothed over
    1024 portable md5 buckets, so the oracle replays the hash exactly.
    Scale shape: one explode, one bucket-bounded agg broadcast back,
    two doc-keyed shuffles, no window, no Python."""
    from .operators.text import dsir_importance, stopword_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    keep = (
        (n_tok >= F.lit(10))
        & (n_tok <= F.lit(1000))
        & (stopword_count(F.col("text")) > F.lit(0))
    )
    return dsir_importance(docs, target=keep)


# ---------------------------------------------------------------------------
# Literal fixture oracles.  The synthetic-media queries are deterministic
# pure functions of seed-fixed fixtures (no sf_dir dependence), so their
# exact expected rows are stated as VALUES literals generated once by
# tools/gen_fixture_oracles.py — the same invariant-row idea as the
# recall_*_bands_vs_exact audits, extended to full row sets.  Regenerate
# after any INTENTIONAL fixture/kernel change; an unintentional change
# breaks the driver hash, which is the point.
# ---------------------------------------------------------------------------
try:
    from .fixture_oracles import FIXTURE_ORACLES as _FIXTURE_ORACLES
except ImportError:  # pragma: no cover - module is generated
    _FIXTURE_ORACLES = {}
for _name, _sql in _FIXTURE_ORACLES.items():
    if _name in SUITE:
        SUITE[_name] = (SUITE[_name][0], _sql)
