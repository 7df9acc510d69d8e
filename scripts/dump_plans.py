"""Print the physical plans of ``__spark_entry__.queries()`` entries at
sf0.01 (or $SPARK_GRAFT_ORACLE_SF): for each named query, or every
query when none is named, its ``PLAN_AUDIT`` row as
``tests/test_oracle_differential.py`` pins it (the nonzero
``plan_audit`` counters, cache cleared first) and the tree section of
its formatted plan.  Writes to stdout only.

Usage: python scripts/dump_plans.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(names: list[str]) -> None:
    import __spark_entry__ as entry
    from dqmtools_spark.plans.audit import explain_str, plan_audit
    from dqmtools_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    spark = get_spark(app_name="dump_plans", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names or sorted(qs):
        # an earlier eager query's cached output would change this plan
        spark.catalog.clearCache()
        df = qs[name](spark, sf)
        row = ", ".join(f"{k}={v}" for k, v in plan_audit(df).items() if v)
        # the tree section, before the per-node detail blocks, with
        # expression ids stripped
        tree = re.sub(r"#\d+L?", "", explain_str(df).split("\n\n")[0])
        print(f'"{name}": dict({row}),\n\n{tree.strip()}\n', flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
