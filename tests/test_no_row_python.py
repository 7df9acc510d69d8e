"""Static hot-path guard (SURVEY §7 hard parts): the BASELINE
input_hint bans per-row Python.  Grep the package for the banned
constructs so a regression fails CI, not a 100 TB run.

Allowed: @F.pandas_udf (vectorized), mapInPandas and mapInArrow (Arrow
batches).
Banned in dqmtools_spark/: F.udf( / udf( row UDFs, .rdd access
(except the documented partition-count probe), driver-side .collect()
in operator modules (collect belongs to reports/checkpoint bookkeeping,
plus the one bounded pair read of dedup.drop_duplicate_clusters).
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "dqmtools_spark"

# module -> substrings allowed to appear there (reviewed exceptions)
COLLECT_ALLOWED = {
    "sources/checkpoint.py",   # tiny progress/counter bookkeeping
    "rules/core.py",           # dataset-level fold: 1-row agg
    "rules/report.py",         # the collected rule-metrics cube + history
    "operators/similarity.py", # query-vector .first() for knn entry
}


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(PKG)): p.read_text()
        for p in PKG.rglob("*.py")
    }


def test_no_row_at_a_time_udfs():
    for rel, src in _sources().items():
        assert not re.search(r"(?<!pandas_)\budf\s*\(", src.replace("pandas_udf", "PANDAS")), (
            f"row-at-a-time udf( in {rel}"
        )


def test_no_rdd_usage():
    # the ONE allowed .rdd form is the metadata-only partition-count
    # probe (dedup._parallelize_input) — it reads planner state, never
    # rows; any other .rdd access is the slow path and fails here
    for rel, src in _sources().items():
        if rel == "operators/dedup.py":
            src = src.replace(".rdd.getNumPartitions()", "")
        assert ".rdd" not in src, f".rdd access in {rel}"


def test_collect_only_in_reviewed_modules():
    for rel, src in _sources().items():
        if rel == "operators/dedup.py":
            # the ONE allowed operator collect: drop_duplicate_clusters
            # reads at most DRIVER_CLUSTER_BOUND + 1 pair rows; any other
            # collect in the module still fails here
            src = src.replace(".limit(DRIVER_CLUSTER_BOUND + 1).collect()", "")
        if ".collect()" in src or ".toPandas()" in src:
            assert rel in COLLECT_ALLOWED, (
                f"driver-side collect/toPandas in {rel} — distributed "
                "operators must stay lazy"
            )


def test_no_python_for_loops_over_rows():
    """`for row in df.collect()` style loops are the anti-pattern the
    reference used everywhere (df.apply); none may exist here."""
    for rel, src in _sources().items():
        assert not re.search(r"for\s+\w+\s+in\s+\w+\.collect\(\)", src), (
            f"driver-side row loop in {rel}"
        )
