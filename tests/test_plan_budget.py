"""Mechanical plan-shape regression net: every lazy batch query must stay
within its recorded shuffle/cartesian/python budget, and every queries()
entry must be EITHER budgeted OR listed in the exclusion registry with a
reason (tests/plan_budget.json, generated by tools/gen_plan_budget.py).

The r4 lesson generalized: hand-written plan asserts catch regressions
one query at a time; this catches "a shuffle sneaked in" or "an operator
fell out of the JVM" across all budgeted queries at once.  The r9 gap
closed: a NEW query used to escape the net silently — now an entry
absent from both the budgets and the justified-exclusion registry fails
here, so opting out is a reviewed diff (a registry line naming why), not
drift.  A budget increase likewise requires regenerating the file.
"""

import json
import os

from conftest import SF_DIR

HERE = os.path.dirname(os.path.abspath(__file__))


def _plan_counts(df):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from gen_plan_budget import plan_counts

    return plan_counts(df)


def _load():
    with open(os.path.join(HERE, "plan_budget.json")) as fh:
        data = json.load(fh)
    return data["budgets"], data["exclusions"]


def _load_window_ok():
    with open(os.path.join(HERE, "plan_budget.json")) as fh:
        return json.load(fh).get("single_partition_window_ok", {})


def _load_hof_ok():
    with open(os.path.join(HERE, "plan_budget.json")) as fh:
        return json.load(fh).get("hof_hot_condition_ok", {})


def _load_tail_only():
    with open(os.path.join(HERE, "plan_budget.json")) as fh:
        return json.load(fh).get("tail_only", {})


def test_every_query_budgeted_or_justified():
    """Completeness of the net itself: queries() == budgets ∪ exclusions,
    both directions — a new query must enter one side deliberately, and
    a renamed/removed query must leave the artifact."""
    import __spark_entry__ as e

    budgets, exclusions = _load()
    qs = set(e.queries())
    overlap = set(budgets) & set(exclusions)
    assert not overlap, f"both budgeted and excluded: {sorted(overlap)}"
    unaccounted = qs - set(budgets) - set(exclusions)
    assert not unaccounted, (
        "queries neither budgeted nor in the exclusion registry "
        f"(run tools/gen_plan_budget.py and review the diff): {sorted(unaccounted)}"
    )
    stale = (set(budgets) | set(exclusions)) - qs
    assert not stale, f"budget/registry entries for absent queries: {sorted(stale)}"
    assert all(isinstance(r, str) and r for r in exclusions.values())


def test_all_budgeted_queries_within_plan_budget(spark):
    import __spark_entry__ as e

    # budgets are recorded against uncached plans; a frame an earlier
    # test left cached (a .cache() inside an operator or a test) makes a
    # query over the same plan read the InMemoryRelation instead,
    # swapping broadcast exchanges for shuffles and shifting the counts.
    # The asset collectors cache nothing: their top-1 frame is shared
    # through exchange reuse within one action
    spark.catalog.clearCache()

    budgets, _ = _load()
    window_ok = _load_window_ok()
    hof_ok = _load_hof_ok()
    tail_only = _load_tail_only()
    qs = e.queries()
    violations = []
    for name, want in budgets.items():
        if name not in qs:  # renamed/removed → regenerate the budget
            violations.append(f"{name}: missing from queries()")
            continue
        got = _plan_counts(qs[name](spark, SF_DIR))
        # advisor r16: a lazy in-query localCheckpoint truncates the
        # explained plan, making the budget counts tail-only — such a
        # query must be NAMED in the tail_only registry so its low
        # counts are never mistaken for shuffle-free execution
        if got.get("existing_rdd_scans", 0) > 0 and name not in tail_only:
            violations.append(
                f"{name}: plan contains Scan ExistingRDD (in-query "
                "localCheckpoint truncation) but is not in the "
                "tail_only registry — regenerate tools/gen_plan_budget.py"
            )
        for metric in (
            "shuffle_exchanges",
            "cartesian",
            "python_eval",
            "single_partition_windows",
            "hof_hot_conditions",
        ):
            if got[metric] > want.get(metric, 0):
                violations.append(
                    f"{name}: {metric} {got[metric]} > budget "
                    f"{want.get(metric, 0)}"
                )
        if got["single_partition_windows"] > 0 and name not in window_ok:
            violations.append(
                f"{name}: plans a no-partition window without a "
                "bounded-frame annotation (SINGLE_PARTITION_WINDOW_OK "
                "in tools/gen_plan_budget.py)"
            )
        if got["hof_hot_conditions"] > 0 and name not in hof_ok:
            violations.append(
                f"{name}: plans a higher-order function in a Filter/"
                "Join condition feeding a shuffle Exchange — the stage "
                "is CodegenFallback and runs interpreted (the r15 "
                "bloom class: 39 s vs 3.3 s at sf1).  Rewrite without "
                "the HOF (array_remove fold / array_except containment "
                "/ literal fold) or argue the frame bounded in "
                "HOF_HOT_CONDITION_OK (tools/gen_plan_budget.py)"
            )
    assert not violations, "\n".join(violations)


def test_hof_hot_condition_detector_catches_a_planted_probe(spark):
    """The net must actually fire: a deliberately HOF-ified corpus
    filter feeding a shuffle (exactly the shape of the r15 bloom
    regression — F.forall in the probe predicate) is detected, and the
    codegen-clean rewrite of the same predicate is not."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    arr = F.array("l_orderkey", "l_partkey")
    bad = (
        df.withColumn("a", arr)
        .filter(F.forall("a", lambda x: x > 0))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    assert _plan_counts(bad)["hof_hot_conditions"] == 1
    good = (
        df.withColumn("a", arr)
        .filter((F.col("l_orderkey") > 0) & (F.col("l_partkey") > 0))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    assert _plan_counts(good)["hof_hot_conditions"] == 0
    # a HOF ABOVE the shuffle (bounded aggregated frame) is allowed
    above = (
        df.groupBy("l_returnflag")
        .agg(F.collect_list("l_quantity").alias("qs"))
        .filter(F.forall("qs", lambda x: x > 0))
    )
    assert _plan_counts(above)["hof_hot_conditions"] == 0


def test_window_annotations_are_current():
    """Registry hygiene both ways: every annotation names an existing
    query, and every budgeted single_partition_windows > 0 entry has an
    annotation — a new global window cannot land silently, and a stale
    annotation cannot linger after a fix."""
    import __spark_entry__ as e

    budgets, _ = _load()
    window_ok = _load_window_ok()
    qs = set(e.queries())
    stale = set(window_ok) - qs
    assert not stale, f"annotations for absent queries: {sorted(stale)}"
    flagged = {
        n for n, b in budgets.items() if b.get("single_partition_windows", 0) > 0
    }
    unannotated = flagged - set(window_ok)
    assert not unannotated, (
        f"budgeted global windows without annotation: {sorted(unannotated)}"
    )
    orphaned = set(window_ok) - flagged
    assert not orphaned, (
        "annotated but not planning a global window (regenerate the "
        f"budget): {sorted(orphaned)}"
    )
    assert all(isinstance(r, str) and r for r in window_ok.values())


def test_hof_annotations_are_current():
    """Same registry hygiene for the interpreted-hot-predicate lint:
    every budgeted hof_hot_conditions > 0 entry needs an annotation,
    and no annotation may outlive its flagged plan."""
    import __spark_entry__ as e

    budgets, _ = _load()
    hof_ok = _load_hof_ok()
    qs = set(e.queries())
    stale = set(hof_ok) - qs
    assert not stale, f"annotations for absent queries: {sorted(stale)}"
    flagged = {n for n, b in budgets.items() if b.get("hof_hot_conditions", 0) > 0}
    unannotated = flagged - set(hof_ok)
    assert not unannotated, (
        f"budgeted interpreted hot predicates without annotation: {sorted(unannotated)}"
    )
    orphaned = set(hof_ok) - flagged
    assert not orphaned, (
        f"annotated but no longer planning a hot HOF (regenerate): {sorted(orphaned)}"
    )
    assert all(isinstance(r, str) and r for r in hof_ok.values())
