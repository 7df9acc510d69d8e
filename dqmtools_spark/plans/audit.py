"""Physical-plan audit: the checks a human would run with
``.explain('formatted')`` before shipping a job to a 1000-executor
cluster, as assertable predicates.

Used by tests to pin down scale properties that correctness tests
can't see: broadcast joins staying broadcast, exchanges not
multiplying, no all-pairs joins, filters reaching the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def plan_audit(df: DataFrame) -> dict[str, int]:
    """Counts of the plan features that matter at scale.

    Node counts match the tree form ``NodeName (n)`` — formatted mode
    prints every node twice (tree + per-node detail), so a raw
    substring count would double everything."""
    import re

    plan = explain_str(df, "formatted")

    def nodes(name: str) -> int:
        # match tree lines "NodeName [qualifiers] (n)"; the lookbehind
        # keeps "Exchange" from matching "BroadcastExchange", and the
        # trailing "(n)" excludes the per-node detail section (which
        # prints "(n) NodeName" instead)
        return len(re.findall(rf"(?<![A-Za-z]){name}\b[^\n]*\(\d+\)", plan))

    return {
        "exchanges": nodes("Exchange") + nodes("BroadcastExchange"),
        # shuffle exchanges are the ones that cost a full repartition
        "shuffle_exchanges": nodes("Exchange"),
        "broadcast_joins": nodes("BroadcastHashJoin"),
        "sort_merge_joins": nodes("SortMergeJoin"),
        # all-pairs joins: what a banded or equi-join must never become
        "nested_loop_joins": nodes("BroadcastNestedLoopJoin")
        + nodes("CartesianProduct"),
        "python_evals": nodes("ArrowEvalPython")
        + nodes("BatchEvalPython")
        + nodes("MapInPandas")
        + nodes("MapInArrow"),
        "row_python_evals": nodes("BatchEvalPython"),
        "pushed_filters": plan.count("PushedFilters: ["),
    }
