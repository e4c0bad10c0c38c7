#!/usr/bin/env python3
"""A/B: label_propagation with int-encoded node ids (order-preserving
dictionary) vs the committed string-id form, on the label_prop_custsupp
graph at sf0.1.  Interleaved warm A/B in ONE JVM (the r16 protocol for
iterative-plan experiments).  Checks result equality first, then times
ROUNDS alternating variants.
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_PURE_DECODE", "1")
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from elastic_asset_etl_poc_spark.session import get_spark
from elastic_asset_etl_poc_spark.sources.registry import load_table
from elastic_asset_etl_poc_spark.operators.graph import label_propagation

SF = "/root/testdata/sf0.1"


def edges_frame(spark):
    o = load_table(spark, SF, "orders")
    l = load_table(spark, SF, "lineitem")
    ce = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
    )
    return ce.select(F.col("cn").alias("src"), F.col("sn").alias("dst")).unionByName(
        ce.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
    )


def lpa_int(edges, rounds=3):
    """Int-encoded variant: encode ids to an order-preserving long,
    run the rounds on longs, decode at the end."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # order-preserving encoding: range-sort then monotonically increasing
    # id (nondeterministic expr stays above the sort; the dict is frozen
    # by the eager checkpoint so one mapping serves the whole action)
    dic = (
        nodes.orderBy("node")
        .select("node", F.monotonically_increasing_id().alias("__i"))
        .localCheckpoint(eager=True)
    )
    ds = F.broadcast(dic.select(F.col("node").alias("src"), F.col("__i").alias("si")))
    dd = F.broadcast(dic.select(F.col("node").alias("dst"), F.col("__i").alias("di")))
    e_enc = (
        edges.join(ds, "src").join(dd, "dst")
        .select(F.col("si").alias("node"), F.col("di").alias("nbr"))
    )
    nodes_enc = dic.select(F.col("__i").alias("node"))
    e = e_enc.unionByName(
        nodes_enc.select("node", F.col("node").alias("nbr"))
    ).localCheckpoint(eager=True)
    labels = nodes_enc.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )
    w = Window.partitionBy("node").orderBy(F.col("__c").desc(), F.col("label").asc())
    for rnd in range(rounds):
        final = rnd == rounds - 1
        votes = (
            e.join(labels.select(F.col("node").alias("nbr"), "label"), "nbr")
            .groupBy("node", "label")
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.max(F.when(F.col("nbr") == F.col("node"), 1).otherwise(0)).alias(
                    "__self"
                ),
            )
        )
        ranked = votes.withColumn("__rk", F.row_number().over(w)).filter(
            F.col("__rk") == 1
        )
        if final:
            enc = ranked.select(
                "node", "label", (F.col("__self") == 0).alias("changed")
            )
            dn = F.broadcast(dic.select(F.col("__i").alias("node"), F.col("node").alias("__node_s")))
            dl = F.broadcast(dic.select(F.col("__i").alias("label"), F.col("node").alias("__label_s")))
            return (
                enc.join(dn, "node")
                .join(dl, "label")
                .select(
                    F.col("__node_s").alias("node"),
                    F.col("__label_s").alias("label"),
                    "changed",
                )
            )
        labels = ranked.select("node", "label").localCheckpoint(eager=True)


def census(labels):
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum((F.substring("node", 1, 2) == "c:").cast("int")).cast("bigint").alias("n_customers"),
        F.sum((F.substring("node", 1, 2) == "s:").cast("int")).cast("bigint").alias("n_suppliers"),
        F.sum(F.col("changed").cast("int")).cast("bigint").alias("n_changed_final"),
    )


def main():
    spark = get_spark(app_name="lpa_int_ab")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    e = edges_frame(spark)
    # equality check
    a = census(label_propagation(e, rounds=3, audit_churn=True))
    b = census(lpa_int(e, rounds=3))
    diff = a.exceptAll(b).unionByName(b.exceptAll(a)).count()
    print("census diff rows:", diff)
    assert diff == 0, "int-encoded LPA diverges!"
    spark.catalog.clearCache()
    # interleaved warm timing
    for rnd in range(3):
        for tag, fn in (("str", lambda: label_propagation(e, rounds=3, audit_churn=True)),
                        ("int", lambda: lpa_int(e, rounds=3))):
            t0 = time.perf_counter()
            census(fn()).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(f"round{rnd} {tag}: {dt:.2f}s", flush=True)
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
