"""Checkpointed, resumable pipeline runs (north rule).

Semantics rebuilt from the reference's checkpoint pair
(``write_dqm_dataframes.py`` → ``read_dqm_dataframes.py``), upgraded
from "re-run the whole file" to partition-level resume:

- doc_results land in a table partitioned by ``part_key``
  (= ``pmod(xxhash64(url), n_buckets)`` — deterministic, so the same
  url always belongs to the same partition across runs/cluster sizes).
- a ``progress`` table records per-partition lineage + counters
  (docs_in/docs_out, run_id, timestamps).
- resume = process only buckets NOT marked done; within a re-run of an
  unfinished bucket, ``left_anti`` against already-written urls makes
  the write idempotent (no duplicate outputs after a mid-bucket kill).

At 100 TB the anti-join is bucket-local: both sides are filtered to the
resuming buckets first, so the join input is the unfinished slice, not
the whole corpus, and AQE picks a broadcast when the written slice is
small.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dqmtools_spark.schemas import DOC_RESULTS_SCHEMA, PROGRESS_SCHEMA
from dqmtools_spark.sources.tables import read_table, table_exists, write_table


def _now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


class CheckpointedRun:
    """Manage one resumable pipeline output location."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str = "run"):
        self.spark = spark
        self.base = base_dir
        self.run_id = run_id
        self.results_path = os.path.join(base_dir, "doc_results")
        self.progress_path = os.path.join(base_dir, "progress")

    # ---------------------------------------------------------- state

    def done_buckets(self) -> set[int]:
        if not table_exists(self.spark, self.progress_path):
            return set()
        rows = (
            read_table(self.spark, self.progress_path, PROGRESS_SCHEMA)
            .filter(F.col("status") == "done")
            .select("part_key")
            .distinct()
            .collect()
        )
        return {r["part_key"] for r in rows}

    def written_urls(self, buckets: list[int]) -> DataFrame | None:
        """urls already persisted for the given (unfinished) buckets."""
        if not table_exists(self.spark, self.results_path):
            return None
        return (
            read_table(self.spark, self.results_path, DOC_RESULTS_SCHEMA)
            .filter(F.col("part_key").isin(buckets))
            .select("url", "part_key")
        )

    # ---------------------------------------------------------- run

    def run(self, doc_results: DataFrame, n_buckets: int) -> dict:
        """Write pending work idempotently; returns counter summary.

        ``doc_results`` must carry ``part_key`` (added by the pipeline).
        """
        done = self.done_buckets()
        pending = [b for b in range(n_buckets) if b not in done]
        if not pending:
            return {"buckets_done": len(done), "docs_written": 0, "skipped": True}

        work = doc_results.filter(F.col("part_key").isin(pending))
        already = self.written_urls(pending)
        if already is not None:
            work = work.join(
                already.select("url"), on="url", how="left_anti"
            )

        # one exchange: cluster by bucket so each output partition is a
        # single task's atomic write
        work = work.repartition(max(len(pending), 1), "part_key")
        # run totals ride the write as observation metrics — the INPUT
        # is still scanned exactly once.  Only a CONSTANT pair of
        # aggregates is observed: the former per-bucket count_if pairs
        # (2 x n_buckets expressions) were a codegen/driver-payload
        # hazard at corpus-scale bucket counts (10^4+ buckets => 10^4+
        # aggregate expressions in one projection).  Counter caveat
        # shared with accumulators: a re-executed task counts twice —
        # counters are lineage diagnostics, not the resume gate (the
        # gate is the anti-join + progress table).
        obs = Observation()
        work = work.observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("keep")).alias("total_keep"),
        )
        # the write runs even when the pending slice turns out empty
        # (an empty append writes no part files) — knowing total before
        # the action would cost the extra counting pass this rewrite
        # removed; one empty job per fully-resumed re-submit is cheaper
        write_table(work, self.results_path, partition_by=["part_key"])
        total = int(obs.get["total"])
        # per-bucket counters come from the WRITTEN partitions: one
        # partition-pruned codegen scan of only the pending buckets'
        # files (never the whole table).  Bonus over the observation
        # form: after a mid-bucket kill the resumed run's counters now
        # reflect the bucket's COMPLETE contents (pre-kill rows + the
        # resumed delta), not just the delta this attempt appended.
        per_bucket: dict[int, tuple[int, int]] = {}
        if table_exists(self.spark, self.results_path):
            stat_rows = (
                read_table(self.spark, self.results_path, DOC_RESULTS_SCHEMA)
                .filter(F.col("part_key").isin(pending))
                .groupBy("part_key")
                .agg(
                    F.count(F.lit(1)).alias("docs_in"),
                    F.count_if(F.col("keep")).alias("docs_out"),
                )
                .collect()
            )
            per_bucket = {
                int(r["part_key"]): (int(r["docs_in"]), int(r["docs_out"]))
                for r in stat_rows
            }

        # mark progress AFTER data is durable (write-ahead ordering:
        # a kill between the two writes re-runs the bucket; the
        # anti-join makes that re-run a no-op — idempotence, not loss).
        # Built from pandas so the rows cross over Arrow: a list of
        # dicts would be pickled and decoded by a Python worker job.
        prog = pd.DataFrame(
            {
                "part_key": pending,
                "status": "done",
                "docs_in": [per_bucket.get(b, (0, 0))[0] for b in pending],
                "docs_out": [per_bucket.get(b, (0, 0))[1] for b in pending],
                # lineage: which run completed this bucket — a resumed
                # job's buckets carry the resuming run's id
                "run_id": self.run_id,
                "updated": _now(),
            }
        )
        write_table(
            self.spark.createDataFrame(prog, PROGRESS_SCHEMA), self.progress_path
        )
        return {
            "buckets_done": len(done) + len(pending),
            "docs_written": total,
            "skipped": False,
        }
