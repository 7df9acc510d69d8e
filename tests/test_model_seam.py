"""The model swap point must be REAL, not documentation (VERDICT r2
item 7): injecting a different langid / LM through
``python_phase(models=...)`` must change what the Python WORKERS compute —
proving the closure-captured models reach the executors, which is
exactly how a real fastText / KenLM model would ride in.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from dqmtools_spark.pipeline import run_pipeline
from dqmtools_spark.synth import synth_pages


def _const_lang_fn():
    """A fastText stand-in built as a LOCAL closure: cloudpickle
    serializes it by value, so workers need no importable module — the
    same way a wrapper around a loaded fastText model would ship."""
    tag = "xx"
    return lambda t: tag if t else "und"


def test_default_models_unchanged(spark):
    pages = synth_pages(spark, 40, seed=5)
    res, _ = run_pipeline(spark, pages, n_buckets=4)
    langs = {r["lang_pred"] for r in res.select("lang_pred").distinct().collect()}
    assert "xx" not in langs
    assert langs & {"en", "de", "es", "fr"}


def test_injected_langid_relabels_everything(spark):
    pages = synth_pages(spark, 40, seed=5)
    res, _ = run_pipeline(
        spark, pages, n_buckets=4, models={"langid_fn": _const_lang_fn()}
    )
    langs = {r["lang_pred"] for r in res.select("lang_pred").distinct().collect()}
    assert langs == {"xx"}, "injected langid did not reach the workers"


def test_injected_lm_changes_perplexity(spark):
    """A degenerate LM (every token OOV at log2prob -1) gives
    perplexity exactly 2^1 = 2.0 — closed form, so the injection is
    verifiable to the digit, not just 'different'."""
    from dqmtools_spark.pipeline import python_phase

    pages = synth_pages(spark, 20, seed=6)
    out = python_phase(pages, models={"lm": ({}, -1.0)}).select("perplexity")
    vals = [r["perplexity"] for r in out.collect()]
    assert vals, "no rows"
    for v in vals:
        assert v == 2.0, f"expected 2.0, got {v}"


def test_injected_models_flow_through_staged_pipeline(spark, tmp_path):
    from dqmtools_spark.pipeline import run_pipeline_staged

    pages = synth_pages(spark, 30, seed=7)
    res, _ = run_pipeline_staged(
        spark,
        pages,
        str(tmp_path / "ck"),
        n_buckets=4,
        models={"langid_fn": _const_lang_fn()},
    )
    assert res.filter(F.col("lang_pred") != "xx").count() == 0
