#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/dump_plans.py <round> before|after q1 q2 ...
e.g. ``python tools/dump_plans.py r17 before pagerank_cust_supp``.
Writes plans/<round>/<query>_<tag>.txt.  For queries whose build is eager
(checkpoint/collect chains), the captured plan is the serving tail —
noted in the file header.
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_PURE_DECODE", "1")
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(HERE, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(app_name=f"dump_plans_{rnd}")
    qs = e.queries()
    for n in names:
        df = qs[n](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# {n} — explain('formatted'), tag={tag}, sf_dir={sf_dir}\n"
                "# NOTE: for eager-build queries (checkpoint/collect/stream"
                " chains) this is the serving-tail plan; the build phase is"
                f" measured in OPTIMIZATION_{rnd}.md.\n"
            )
            fh.write(plan)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
