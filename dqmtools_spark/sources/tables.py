"""Parquet/Iceberg table IO behind one seam.

The reference persists every frame to an HDF5 store with selectable
compression (``write_dqm_dataframes.py:17-18,61-62``) and re-reads by
key (``read_dqm_dataframes.py:16-33``).  Here: partitioned
parquet-or-Iceberg tables.  In the sandbox there is no Iceberg catalog
jar, so ``format='parquet'`` is the default; the write path is
partition-atomic either way (parquet: directory-per-partition rename;
Iceberg: snapshot commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    codec: str = "zstd",
) -> None:
    """Append/overwrite a partitioned table.

    ``mode='append'`` is the reference's ``--append``; ``'overwrite'``
    is ``--force`` (write_dqm_dataframes.py:24-33).  With
    ``partitionOverwriteMode=dynamic`` an overwrite only replaces the
    partitions present in ``df`` — the Iceberg
    ``overwritePartitions()`` semantic on plain parquet.
    """
    w = df.write.option("compression", codec).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read a table; pass ``schema`` for a table this program wrote.

    Without a schema, Spark runs a job that reads parquet footers to
    infer one.  With it, the read plans on the driver alone.  The schema
    must match what was written: a column it names that the files lack
    reads back as NULL rather than failing.
    """
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


def table_exists(spark: SparkSession, path: str) -> bool:
    """True once anything was written at ``path``: a Hadoop FileSystem
    ``exists`` call, so it works on any supported store (local, HDFS,
    s3a) and runs no Spark job.  A table whose every append was empty
    holds only ``_SUCCESS`` and counts as existing; read with its
    schema, it is an empty frame."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_by: list[str] | None = None,
    codec: str = "zstd",
) -> dict:
    """Small-file compaction: rewrite a parquet table into
    ~``target_rows_per_file``-row files, content-identical.

    The 100 TB housekeeping op: incremental/streaming appends produce
    thousands of KB-sized files per partition, and scan planning cost
    grows with FILE COUNT, not bytes (driver-side listing + one task
    per tiny split).  Compaction reads once, repartitions to
    ``ceil(rows / target)`` and atomically swaps via a staging
    directory + rename — on Iceberg this whole routine is
    ``rewrite_data_files`` (snapshot-committed); this is the plain
    parquet equivalent behind the same seam.

    Returns {files_before, files_after, rows}.  ``target_rows_per_file``
    is enforced in BOTH layouts via ``maxRecordsPerFile``; the
    partitioned branch additionally salts the shuffle so a heavy
    partition value is written by many tasks (hashing on the partition
    columns alone would funnel each value through ONE task).

    Crash recovery: a crash between the two renames leaves the data in
    the ``._precompact`` backup — the next invocation restores it; a
    crash after the swap but before backup cleanup leaves a stale
    backup — the next invocation removes it.  The rename window itself
    is the non-transactional gap Iceberg's snapshot commit closes;
    acceptable for maintenance windows on plain parquet.
    """
    import math
    import os
    import shutil

    from pyspark.sql import functions as F

    staging = path.rstrip("/") + "._compacting"
    backup = path.rstrip("/") + "._precompact"
    # recover from an earlier interrupted run (see docstring)
    shutil.rmtree(staging, ignore_errors=True)  # always partial output
    if os.path.exists(backup):
        if os.path.exists(path):
            shutil.rmtree(backup)  # swap finished, cleanup didn't
        else:
            os.rename(backup, path)  # crashed between the renames

    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, math.ceil(rows / max(1, target_rows_per_file)))

    def _count_files(p: str) -> int:
        total = 0
        for _, _, fs in os.walk(p):
            total += sum(1 for f in fs if f.endswith(".parquet"))
        return total

    before = _count_files(path)
    if partition_by:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(16)
        ).alias("_salt")
        out = (
            df.withColumn("_salt", salt)
            .repartition(n_files, *partition_by, "_salt")
            .drop("_salt")
        )
        w = out.write.partitionBy(*partition_by)
    else:
        w = df.repartition(n_files).write
    (
        w.option("compression", codec)
        .option("maxRecordsPerFile", target_rows_per_file)
        .mode("overwrite")
        .parquet(staging)
    )
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return {
        "files_before": before,
        "files_after": _count_files(path),
        "rows": rows,
    }
