"""Resume idempotence (north rule; SURVEY §5 property 4).

Kill-after-partial-write is simulated by running with a subset of
buckets persisted, then resuming: the final table must equal the
one-shot run exactly, with no duplicate urls.
"""

from __future__ import annotations

import datetime as dt
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dqmtools_spark.pipeline import python_phase, run_pipeline, run_pipeline_staged
from dqmtools_spark.rules.report import ResultsHistory
from dqmtools_spark.schemas import (
    DOC_RESULTS_SCHEMA,
    OK,
    PROGRESS_SCHEMA,
    RULE_RESULTS_SCHEMA,
)
from dqmtools_spark.sources import checkpoint
from dqmtools_spark.sources.checkpoint import CheckpointedRun
from dqmtools_spark.sources.tables import read_table
from dqmtools_spark.synth import synth_pages

N_BUCKETS = 8


@pytest.fixture()
def doc_results(spark):
    pages = synth_pages(spark, 200, seed=11)
    res, _ = run_pipeline(spark, pages, n_buckets=N_BUCKETS)
    return res.cache()


def test_run_then_resume_is_noop(spark, tmp_path, doc_results):
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    first = ck.run(doc_results, N_BUCKETS)
    assert first["docs_written"] == 200 and not first["skipped"]
    again = ck.run(doc_results, N_BUCKETS)
    assert again["skipped"] and again["docs_written"] == 0
    table = read_table(spark, ck.results_path)
    assert table.count() == 200
    assert table.select("url").distinct().count() == 200


def test_partial_write_resumes_without_duplicates(spark, tmp_path, doc_results):
    """Simulate a kill after data landed but before progress was marked
    for half the buckets — the write-ahead ordering's failure window."""
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    from dqmtools_spark.sources.tables import write_table
    from pyspark.sql import functions as F

    # data for buckets 0-3 is durable, but NO progress rows exist (the
    # crash happened between the two writes)
    partial = doc_results.filter(F.col("part_key") < 4)
    write_table(partial, ck.results_path, partition_by=["part_key"])

    summary = ck.run(doc_results, N_BUCKETS)
    assert not summary["skipped"]
    table = read_table(spark, ck.results_path)
    assert table.count() == 200, "anti-join must prevent duplicates"
    assert table.select("url").distinct().count() == 200
    # progress now covers every bucket
    assert ck.done_buckets() == set(range(N_BUCKETS))


def test_progress_counters(spark, tmp_path, doc_results):
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    ck.run(doc_results, N_BUCKETS)
    prog = read_table(spark, ck.progress_path).toPandas()
    assert int(prog["docs_in"].sum()) == 200
    assert 0 < int(prog["docs_out"].sum()) <= 200


def test_counters_complete_after_resume(spark, tmp_path, doc_results):
    """Per-bucket counters are derived from the WRITTEN partitions, so
    after a kill/resume they reflect each bucket's complete contents
    (pre-kill rows + resumed delta), not just this attempt's delta."""
    from pyspark.sql import functions as F

    from dqmtools_spark.sources.tables import write_table

    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    partial = doc_results.filter(F.col("part_key") < 4)
    write_table(partial, ck.results_path, partition_by=["part_key"])
    ck.run(doc_results, N_BUCKETS)
    prog = read_table(spark, ck.progress_path).toPandas()
    assert int(prog["docs_in"].sum()) == 200, "resumed counters must be complete"


def test_wide_bucket_count_constant_observe_width(spark, tmp_path):
    """n_buckets=4096: the run must not build O(n_buckets) observation
    expressions (the r2 form put 2 x 4096 count_if aggregates into one
    projection — a codegen hazard).  The input is still scanned once;
    per-bucket counters come from a partition-pruned scan of the
    written files."""
    from dqmtools_spark.pipeline import run_pipeline
    from dqmtools_spark.synth import synth_pages

    wide = 4096
    pages = synth_pages(spark, 150, seed=13)
    res, _ = run_pipeline(spark, pages, n_buckets=wide)
    ck = CheckpointedRun(spark, str(tmp_path / "wide"))
    summary = ck.run(res.cache(), wide)
    assert summary["docs_written"] == 150
    assert summary["buckets_done"] == wide
    table = read_table(spark, ck.results_path)
    assert table.count() == 150
    prog = read_table(spark, ck.progress_path).toPandas()
    assert len(prog) == wide
    assert int(prog["docs_in"].sum()) == 150
    again = ck.run(res, wide)
    assert again["skipped"]


@contextmanager
def _count_jobs(spark):
    """Yields a one-item list that holds, on exit, the number of Spark
    jobs started inside the block."""
    sc = spark.sparkContext
    group = f"test-checkpoint-jobs-{uuid.uuid4().hex}"
    n_jobs = [0]
    sc.setJobGroup(group, group)
    try:
        yield n_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        n_jobs[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_and_resubmit_job_counts(spark, tmp_path, doc_results):
    """Owned tables are read with their schemas and the progress rows
    cross over Arrow, so no job infers a schema or decodes pickled
    rows.  A fresh run is the bucketed write, the per-bucket counter
    aggregate and the progress write; the resubmit is the done-bucket
    read alone.  Two more footer-inference jobs break either bound."""
    doc_results.count()
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    with _count_jobs(spark) as fresh:
        assert not ck.run(doc_results, N_BUCKETS)["skipped"]
    with _count_jobs(spark) as resubmit:
        assert ck.run(doc_results, N_BUCKETS)["skipped"]
    assert fresh[0] <= 6, fresh[0]
    assert resubmit[0] <= 2, resubmit[0]


def test_staged_pipeline_over_complete_checkpoint_runs_no_job(spark, tmp_path):
    """Over a complete text checkpoint, building the staged plan costs
    no job: completeness is a FileSystem call and the checkpoint is read
    with phase 1's own schema."""
    pages = synth_pages(spark, 40, seed=17)
    ckpt = str(tmp_path / "text_checkpoint")
    run_pipeline_staged(spark, pages, ckpt, n_buckets=N_BUCKETS)
    with _count_jobs(spark) as n_jobs:
        res, _ = run_pipeline_staged(spark, pages, ckpt, n_buckets=N_BUCKETS)
    assert n_jobs[0] == 0, n_jobs[0]
    assert res.count() == 40


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_owned_schemas_match_written_tables(spark, tmp_path, doc_results):
    """Each table is read with a schema the code owns.  A stale schema
    would not fail: a column the files lack reads back as NULL.  So
    every owned schema must equal, by name and type, the one Spark
    infers from what the program wrote (nullability aside: parquet
    reads make every column nullable)."""
    pages = synth_pages(spark, 30, seed=19)
    ckpt = str(tmp_path / "text_checkpoint")
    run_pipeline_staged(spark, pages, ckpt, n_buckets=N_BUCKETS)
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    ck.run(doc_results, N_BUCKETS)
    hist = ResultsHistory(spark, str(tmp_path / "hist"))
    hist.append([{"name": "r1", "status": OK, "message": None}])

    for path, owned in (
        (ckpt, python_phase(pages).schema),
        (ck.results_path, DOC_RESULTS_SCHEMA),
        (ck.progress_path, PROGRESS_SCHEMA),
        (hist.path, RULE_RESULTS_SCHEMA),
    ):
        assert _fields(spark.read.parquet(path).schema) == _fields(owned), path


def test_empty_append_writes_zero_progress_then_skips(spark, tmp_path):
    """An empty doc_results frame leaves a results directory holding
    only ``_SUCCESS``.  That directory exists, so the counters read it
    with its schema: every bucket gets an all-zero progress row, and a
    resubmit is skipped."""
    empty = spark.createDataFrame([], DOC_RESULTS_SCHEMA)
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    first = ck.run(empty, N_BUCKETS)
    assert first == {"buckets_done": N_BUCKETS, "docs_written": 0, "skipped": False}
    assert read_table(spark, ck.results_path, DOC_RESULTS_SCHEMA).count() == 0
    prog = read_table(spark, ck.progress_path, PROGRESS_SCHEMA).toPandas()
    assert sorted(prog["part_key"]) == list(range(N_BUCKETS))
    assert (prog["docs_in"] == 0).all() and (prog["docs_out"] == 0).all()
    assert (prog["status"] == "done").all()
    assert ck.run(empty, N_BUCKETS)["skipped"]


def test_timestamps_read_back_as_stamped(spark, tmp_path, monkeypatch, doc_results):
    """``progress.updated`` and the history's ``last_update`` are naive
    UTC stamps.  Driver rows cross over Arrow, which reads a naive
    stamp in the session time zone (UTC), so the stored instant is the
    stamped one whatever the host's zone.  The stamp falls in a US
    daylight-saving gap, where a host-zone conversion would shift it."""
    stamp = dt.datetime(2024, 3, 10, 2, 30, 15, 123456)
    shown = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts")
    expect = stamp.strftime("%Y-%m-%d %H:%M:%S.%f")

    monkeypatch.setattr(checkpoint, "_now", lambda: stamp)
    ck = CheckpointedRun(spark, str(tmp_path / "out"))
    ck.run(doc_results, N_BUCKETS)
    prog = read_table(spark, ck.progress_path, PROGRESS_SCHEMA)
    assert {r["ts"] for r in prog.select(F.col("updated").alias("ts")).select(shown).collect()} == {
        expect
    }
    assert set(prog.toPandas()["updated"]) == {stamp}

    hist = ResultsHistory(spark, str(tmp_path / "hist"))
    hist.append([{"name": "r1", "status": OK, "message": "ok"}], now=stamp)
    got = hist.all()
    assert [r["ts"] for r in got.select(F.col("last_update").alias("ts")).select(shown).collect()] == [
        expect
    ]
    assert list(got.toPandas()["last_update"]) == [stamp]
