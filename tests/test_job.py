"""The quality job, ``job.submit``: its rule-metrics cube against the
independent pandas labeler, its status rows against
``rule_level_results``, the report's kill window, and its Spark jobs
per layer."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dqmtools_spark import job
from dqmtools_spark.functions import textproc
from dqmtools_spark.pipeline import run_pipeline
from dqmtools_spark.rules.builtin import default_registry
from dqmtools_spark.rules.core import rule_level_results
from dqmtools_spark.rules.report import ResultsHistory
from dqmtools_spark.schemas import DOC_RESULTS_SCHEMA, OK, PAGES_SCHEMA
from dqmtools_spark.sources.checkpoint import CheckpointedRun
from dqmtools_spark.sources.tables import read_table
from dqmtools_spark.synth import gen_pages_pdf, synth_pages
from tests.reference_impl import label_pages

N_BUCKETS = 8
CHANGED_THRESHOLDS = {"min_word_count": 25, "max_repeated_line_fraction": 0.2}


def _metrics(spark, out: str) -> dict:
    """``<out>/rule_metrics`` as {lang_pred: row}; the grand total is the
    None key (these inputs have no NULL ``lang_pred``)."""
    rows = read_table(spark, f"{out}/rule_metrics").toPandas()
    assert rows["lang_pred"].is_unique
    return {
        (None if pd.isna(r["lang_pred"]) else r["lang_pred"]): r
        for r in rows.to_dict("records")
    }


def _without_stamp(rows) -> list[dict]:
    return [{k: v for k, v in r.items() if k != "last_update"} for r in rows]


def test_submit_rule_metrics_match_reference(spark, tmp_path):
    """Every count of the written cube, per language and in total,
    equals the one tallied from the pandas labeler's own labels."""
    seed, n = 7, 300
    out = str(tmp_path / "out")
    summary, status = job.submit(
        spark, synth_pages(spark, n, seed=seed), out, n_buckets=N_BUCKETS
    )
    assert summary["docs_written"] == n and status

    ref = label_pages(gen_pages_pdf(seed, list(range(n))))
    rules = summary["rules"]

    def tally(df: pd.DataFrame) -> dict:
        counts = {"docs_in": len(df), "docs_out": int(df["keep"].sum())}
        for r in rules:
            counts[f"fail_{r}"] = int(df["reasons"].map(lambda rs: r in rs).sum())
        return counts

    expect = {lang: tally(grp) for lang, grp in ref.groupby("lang_pred")}
    expect[None] = tally(ref)
    got = _metrics(spark, out)
    assert set(got) == set(expect)
    for lang, counts in expect.items():
        assert {c: int(got[lang][c]) for c in counts} == counts, lang
    assert sorted(got[None]) == sorted(["lang_pred", *expect[None]])


def test_status_rows_with_null_lang_equal_rule_level_results(spark, tmp_path):
    """Documents whose language is NULL form a cube row with a NULL key
    beside the grand total; the status rows come from the total alone,
    so they equal ``rule_level_results`` over the same doc_results."""
    predict = textproc.predict_lang

    def langid(t):
        # a local closure ships by value; about a third of pages unlabelled
        return None if t and len(t) % 3 == 0 else predict(t)

    out = str(tmp_path / "out")
    pages = synth_pages(spark, 200, seed=23)
    summary, status = job.submit(
        spark, pages, out, n_buckets=N_BUCKETS, models={"langid_fn": langid}
    )
    written = read_table(spark, f"{out}/doc_results", DOC_RESULTS_SCHEMA)
    n_null = written.filter(F.col("lang_pred").isNull()).count()
    assert 0 < n_null < 200

    metrics = read_table(spark, f"{out}/rule_metrics").toPandas()
    null_key = metrics[metrics["lang_pred"].isna()]
    assert sorted(null_key["docs_in"]) == [n_null, 200]

    _, outcomes = run_pipeline(spark, pages, n_buckets=N_BUCKETS)
    applied = [o.rule.name for o in outcomes if o.column is not None]
    passes = written.select(
        *[(~F.array_contains("reasons", n)).alias(f"pass_{n}") for n in applied]
    )
    assert _without_stamp(status) == _without_stamp(rule_level_results(passes, outcomes))
    assert [r["name"] for r in status][-1] == "suite:ALL"

    history = ResultsHistory(spark, f"{out}/history").latest().collect()
    assert sorted(_without_stamp(r.asDict() for r in history), key=str) == sorted(
        _without_stamp(status), key=str
    )


def test_report_written_after_kill_between_data_and_report(spark, tmp_path):
    """A kill after ``CheckpointedRun.run`` committed its progress but
    before the report leaves no ``rule_metrics``.  The resubmit is
    ``skipped`` for the data, still writes the report, equal to a fresh
    run's, and a further resubmit writes nothing."""
    pages = synth_pages(spark, 150, seed=29)
    killed = str(tmp_path / "killed")
    res, _ = run_pipeline(spark, pages, n_buckets=N_BUCKETS)
    CheckpointedRun(spark, killed).run(res, n_buckets=N_BUCKETS)

    summary, status = job.submit(spark, pages, killed, n_buckets=N_BUCKETS)
    assert summary["skipped"] and status

    fresh = str(tmp_path / "fresh")
    _, fresh_status = job.submit(spark, pages, fresh, n_buckets=N_BUCKETS)
    got, expect = _metrics(spark, killed), _metrics(spark, fresh)
    assert set(got) == set(expect)
    for lang in expect:
        assert got[lang] == expect[lang], lang
    assert _without_stamp(status) == _without_stamp(fresh_status)

    again, again_status = job.submit(spark, pages, killed, n_buckets=N_BUCKETS)
    assert again["skipped"] and again_status == []
    assert ResultsHistory(spark, f"{killed}/history").all().count() == len(status)


def test_submit_empty_input_reports_zero_documents(spark, tmp_path):
    """No documents: the cube has no grand-total row, every applied rule
    is OK with 0/0 failed, and ``rule_metrics`` is written empty."""
    out = str(tmp_path / "out")
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    summary, status = job.submit(spark, empty, out, n_buckets=N_BUCKETS)
    assert summary["docs_written"] == 0
    by_name = {r["name"]: r for r in status}
    assert by_name["min_word_count"]["message"] == "0/0 documents failed"
    assert by_name["suite:ALL"]["status"] == OK
    assert read_table(spark, f"{out}/rule_metrics").count() == 0


def _jobs_per_layer(spark, monkeypatch, call) -> dict[str, int]:
    """Run ``call`` with each layer of ``submit`` tagged by its own job
    group and return the Spark jobs per layer; ``other`` counts jobs
    started outside every layer."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    layers = {
        "plan": (job, "run_pipeline_staged"),
        "checkpoint": (CheckpointedRun, "run"),
        "cube": (job, "collect_rule_metrics"),
        "history": (ResultsHistory, "append"),
        "rule_metrics": (job, "write_table"),
    }

    def tagged(layer, fn):
        def run(*a, **kw):
            sc.setJobGroup(f"{tag}-{layer}", layer)
            try:
                return fn(*a, **kw)
            finally:
                sc.setJobGroup(f"{tag}-other", "other")

        return run

    with monkeypatch.context() as m:
        for layer, (owner, name) in layers.items():
            m.setattr(owner, name, tagged(layer, getattr(owner, name)))
        sc.setJobGroup(f"{tag}-other", "other")
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return {
        layer: len(tracker.getJobIdsForGroup(f"{tag}-{layer}"))
        for layer in [*layers, "other"]
    }


@pytest.mark.parametrize(
    "first, out, thresholds, expect",
    [
        # phase 1 written to the text checkpoint, then as below: 10 jobs
        pytest.param(
            False, "out", None,
            dict(plan=1, checkpoint=5, cube=2, history=1, rule_metrics=1, other=0),
            id="fresh",
        ),
        # changed thresholds over the complete checkpoint, a new output:
        # the plan reads no file, the cube is its shuffle and result
        # stages, and each write is one job; 9 jobs
        pytest.param(
            True, "rerun", CHANGED_THRESHOLDS,
            dict(plan=0, checkpoint=5, cube=2, history=1, rule_metrics=1, other=0),
            id="rerun",
        ),
        # the first output again: the done-bucket read and nothing else
        pytest.param(
            True, "out", None,
            dict(plan=0, checkpoint=2, cube=0, history=0, rule_metrics=0, other=0),
            id="resubmit",
        ),
    ],
)
def test_submit_job_counts(spark, tmp_path, monkeypatch, first, out, thresholds, expect):
    """Spark jobs per layer of a staged submit, after a first submit
    into ``out`` when ``first``.  No layer infers a schema, and the
    report scans ``doc_results`` once."""
    pages_path = str(tmp_path / "pages")
    synth_pages(spark, 120, seed=31).write.parquet(pages_path)
    pages = read_table(spark, pages_path, PAGES_SCHEMA)
    ckpt = str(tmp_path / "out" / "text_checkpoint")

    def submit(out, thresholds=None):
        registry = default_registry(thresholds) if thresholds else None
        return job.submit(
            spark, pages, str(tmp_path / out), checkpoint_path=ckpt,
            registry=registry, n_buckets=N_BUCKETS,
        )

    if first:
        submit("out")
    got = _jobs_per_layer(spark, monkeypatch, lambda: submit(out, thresholds))
    assert got == expect, sorted(got.items())
