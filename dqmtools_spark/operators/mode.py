"""Per-group mode / majority vote (reference G3/J4).

Reference: ``common_tests.py:41-53`` — most frequent
``timestamp_first_dts`` per (run,trigger,sequence), joined back to flag
minority rows.  numpy ``argmax`` takes the first maximum; over
``np.unique`` output (sorted ascending) that means ties break to the
SMALLEST value — reproduced exactly here (SURVEY §7 hard-parts note).

Spark-native: count per (keys, value) → row_number ordered by
(count desc, value asc).  Two shuffles total (count agg + window share
the same key hash); no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_mode(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """One row per key group: ``keys..., <value_col> (modal value)``."""
    counted = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.partitionBy(*keys).orderBy(
        F.col("_cnt").desc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cnt")
    )

