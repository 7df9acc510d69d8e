"""End-to-end quality pipeline: pages -> doc_results (+ metrics).

Two composable phases:

  PHASE 1 (Python, one fused Arrow stage):
    scan(url, warc_ts, html, lang)           -- column-pruned to html
      -> process_page_udf(html)              -- extract + langid +
                                                perplexity + scrub in
                                                ONE Arrow round-trip
    WARC input (an untransformed read_warc frame):
    binaryFile scan(path, content)
      -> ONE mapInPandas                     -- parse each file into
                                                bounded page frames,
                                                then extract + langid +
                                                perplexity + scrub in
                                                the same Python worker;
                                                html never returns to
                                                the JVM
  PHASE 2 (JVM codegen, zero Python):
      -> stats columns (regex expressions)
      -> broadcast join 5-row lang-threshold dim   (no shuffle)
      -> rule columns -> reasons/keep              (same codegen stage)
      -> write, repartitioned by part_key          (the ONLY shuffle)

``run_pipeline`` fuses both phases into one job (scan -> one narrow
Python stage -> codegen -> write).  ``run_pipeline_staged`` materializes
phase 1 to parquet between the phases — the reference's
write-dataframes-then-analyze flow (``scripts/write_dqm_dataframes.py``
-> ``dqm_analyzer.py``, SURVEY S6/S7): the decoded/scrubbed text
checkpoint is durable (resume re-reads it instead of re-extracting),
and each phase runs as a pure stage.  A pure Python stage and a pure
codegen stage each scale near-linearly with cores; the fused stage
interleaves both per task and is more sensitive to batch pipelining
(see perfbench), so the staged form is also what the scaling benchmark
exercises.

Rule metrics aggregate the written ``doc_results``; a whole job
submission, pipeline to report, is :func:`dqmtools_spark.job.submit`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqmtools_spark.functions import textstats
from dqmtools_spark.functions.udfs import (
    PROC_SCHEMA,
    make_process_udfs,
    pii_hits_map_col,
    process_page_udf,
    process_pages,
    process_text_udf,
)
from dqmtools_spark.rules.builtin import default_registry, join_lang_thresholds
from dqmtools_spark.rules.core import RuleBuildOutcome, RuleRegistry, evaluate_rules
from dqmtools_spark.schemas import PAGES_SCHEMA
from dqmtools_spark.sources.tables import read_table, table_exists
from dqmtools_spark.sources.warc import arrow_batch_rows, warc_page_frames

DEFAULT_PART_BUCKETS = 64

# the input columns phase 1 carries through beside the fused output
_PASS_COLS = ["url", "warc_ts", "lang"]


def _warc_one_pass(files: DataFrame, models: dict) -> DataFrame:
    """Phase 1 straight from ``read_warc``'s binaryFile scan: each
    task parses its files and scores every frame of pages in the same
    Python worker, so ``html`` never goes back to the JVM."""
    max_rows = arrow_batch_rows(files.sparkSession)
    schema = T.StructType([PAGES_SCHEMA[c] for c in _PASS_COLS] + PROC_SCHEMA.fields)

    def one_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pages in warc_page_frames(batches, max_rows):
            proc = process_pages(pages["html"], **models)
            yield pd.concat([pages[_PASS_COLS], proc], axis=1)

    return files.mapInPandas(one_pass, schema=schema)


def python_phase(
    df: DataFrame, reextract: bool = True, models: dict | None = None
) -> DataFrame:
    """PHASE 1: pages -> flat (url, warc_ts, lang, text_ex, lang_pred,
    perplexity, scrubbed_text, hits_*) — all Python work of the
    pipeline, one fused Arrow stage, flattened so the result can be
    checkpointed to parquet as-is.

    ``reextract=True`` recomputes text from html (the byte-identical
    invariant path); False trusts the incoming ``text`` column.
    ``models`` injects real models through the swap point — a dict with
    optional keys ``lm`` and ``langid_fn`` passed to
    :func:`~dqmtools_spark.functions.udfs.make_process_udfs`.

    An untransformed, uncached ``read_warc`` frame with
    ``reextract=True`` takes one ``mapInPandas`` from the WARC bytes
    (:func:`_warc_one_pass`); every other input takes the fused Arrow
    UDF.  Both give the same rows and schema.
    """
    files = df.__dict__.get("_warc_files")  # set by sources.warc.read_warc
    if reextract and files is not None and not df.is_cached:
        return _warc_one_pass(files, models or {})
    if models:
        page_udf, text_udf = make_process_udfs(**models)
    else:
        page_udf, text_udf = process_page_udf, process_text_udf
    proc = page_udf(F.col("html")) if reextract else text_udf(F.col("text"))
    return df.select(*_PASS_COLS, proc.alias("_proc")).select(
        *_PASS_COLS, *[F.col(f"_proc.{f}").alias(f) for f in PROC_SCHEMA.fieldNames()]
    )


def jvm_phase(
    processed: DataFrame,
    spark: SparkSession,
    n_buckets: int = DEFAULT_PART_BUCKETS,
) -> DataFrame:
    """PHASE 2a: attach stats columns + partition key + per-lang
    thresholds — pure whole-stage-codegen expressions over phase-1
    output (fresh from the UDF or re-read from a checkpoint)."""
    df = processed
    stats = textstats.all_stats(F.col("text_ex"))
    df = df.select("*", *[c.alias(name) for name, c in stats.items()])
    # deterministic partition key: hash-bucket of url (skew-free even
    # when one domain holds 30% of rows — url, not domain, is hashed)
    df = df.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    return join_lang_thresholds(df, spark)


def _fold_results(
    enriched: DataFrame, registry: RuleRegistry
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """PHASE 2b: rule columns -> reasons/keep -> doc_results."""
    evaluated, outcomes = evaluate_rules(enriched, registry)
    n_applied = max(len([o for o in outcomes if o.column is not None]), 1)
    # quality score: fraction of rules passed (diagnostic, not gate)
    score = (
        (F.lit(n_applied) - F.size(F.col("reasons"))).cast("double") / n_applied
    ).alias("quality_score")
    result = evaluated.select(
        F.col("url"),
        F.col("keep"),
        F.col("reasons"),
        F.col("scrubbed_text"),
        F.col("lang_pred"),
        score,
        pii_hits_map_col(prefix="hits_").alias("pii_hits"),
        F.col("part_key"),
    )
    return result, outcomes


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    registry: RuleRegistry | None = None,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    models: dict | None = None,
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """Full per-document pipeline, one fused job; returns
    (doc_results, rule outcomes).  ``models`` swaps in real
    langid/perplexity models (see :func:`python_phase`)."""
    phase1 = python_phase(pages, reextract=reextract, models=models)
    return _fold_results(
        jvm_phase(phase1, spark, n_buckets=n_buckets), registry or default_registry()
    )


def staged_checkpoint_complete(spark: SparkSession, checkpoint_path: str) -> bool:
    """True when the phase-1 text checkpoint finished writing (Spark's
    ``_SUCCESS`` commit marker exists)."""
    return table_exists(spark, checkpoint_path.rstrip("/") + "/_SUCCESS")


def run_pipeline_staged(
    spark: SparkSession,
    pages: DataFrame,
    checkpoint_path: str,
    registry: RuleRegistry | None = None,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    force: bool = False,
    models: dict | None = None,
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """Pipeline with the phase-1 output materialized to
    ``checkpoint_path`` (parquet) — the durable decoded-text checkpoint
    (SURVEY S6/S7).  Returns the same (doc_results, outcomes) contract;
    the returned DataFrame reads from the checkpoint, so downstream
    actions never re-run the Python stage.

    Resumability: when the checkpoint is already complete (``_SUCCESS``
    marker), phase 1 is SKIPPED entirely — a re-submitted job goes
    straight to the cheap JVM phase, which is the point of the durable
    checkpoint.  A half-written checkpoint (no marker after a
    mid-write kill) is rewritten.  Pass ``force=True`` when the INPUT
    changed and the checkpoint must be rebuilt despite being complete.
    """
    registry = registry or default_registry()
    phase1 = python_phase(pages, reextract=reextract, models=models)
    if force or not staged_checkpoint_complete(spark, checkpoint_path):
        phase1.write.mode("overwrite").parquet(checkpoint_path)
    # the checkpoint is phase 1's output, so its schema is known here:
    # reading with it spares the footer-inference job on every submit
    processed = read_table(spark, checkpoint_path, phase1.schema)
    enriched = jvm_phase(processed, spark, n_buckets=n_buckets)
    return _fold_results(enriched, registry)


def rule_metrics_aggs(rule_names: list[str]) -> list[Column]:
    """Docs in/out and one ``fail_<rule>`` count per rule, read from
    the ``reasons`` array: a rule's failure is recorded there, so
    ``fail_<rule> = count_if(array_contains(reasons, rule))``."""
    return [
        F.count(F.lit(1)).alias("docs_in"),
        F.count_if(F.col("keep")).alias("docs_out"),
    ] + [
        F.count_if(F.array_contains(F.col("reasons"), name)).alias(f"fail_{name}")
        for name in rule_names
    ]


def rule_metrics_from_results(doc_results: DataFrame, rule_names: list[str]) -> DataFrame:
    """Docs in/out per rule per language over the WRITTEN
    ``doc_results``, and their grand totals: cube() gives both in one
    shuffle (the reference's nested suite summaries, SURVEY §2.5) of one
    codegen scan, which never re-runs the Python phase over the input.
    """
    return doc_results.cube("lang_pred").agg(*rule_metrics_aggs(rule_names))
