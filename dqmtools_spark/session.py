"""SparkSession factory.

One place to pin the configs that matter at 100 TB:

- AQE on (runtime coalesce + skew-join splitting — the north rule names
  skew handling explicitly; web-domain keys are Zipfian).
- Arrow on (every Python touchpoint is a vectorized pandas UDF; the
  reference's per-row ``df.apply`` lambdas are banned here).
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a
  real cluster AQE coalesces from a deliberately-high initial number.
- AQE may change the output partitioning of a cached plan
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``), so
  it coalesces the shuffles inside a persisted frame too: the eager LSH
  pair cache holds one partition, not ``spark.sql.shuffle.partitions``
  mostly empty ones that every later scan runs a task for.
- No Python call-site capture per Column call
  (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
  PySpark 4 walks the Python stack and sends it over Py4J on every
  Column call (about 5 extra round trips each), which made building one
  MinHash plan cost thousands of round trips.  The trade: a runtime
  error (say an ANSI overflow inside a task) no longer names the Python
  line that built the failing expression.  Analysis errors (a missing
  column, a type mismatch) still raise at the call site in classic
  mode, and nothing in this package reads the query context.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "dqmtools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox.
    Pass ``master=""`` to leave the master unset so ``spark-submit
    --master yarn/k8s`` decides (the cluster path).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # overwrite replaces only the partitions present in the write —
        # the Iceberg overwritePartitions() semantic on plain parquet
        # (sources/tables.py relies on this for --force re-runs)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
