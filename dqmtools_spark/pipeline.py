"""End-to-end quality pipeline: pages -> doc_results (+ metrics).

Two composable phases:

  PHASE 1 (Python, ONE mapInArrow for every input):
    pages: scan(url, warc_ts, lang, html)    -- column-pruned
    WARC:  binaryFile scan(path, content)    -- an untransformed
                                                read_warc frame; each
                                                file parsed into
                                                bounded page frames in
                                                the same pass, so html
                                                never returns to the JVM
      -> extract + langid + perplexity + scrub over each Arrow batch;
         url/warc_ts/lang pass through as the batch's own arrays
  PHASE 2 (JVM codegen, zero Python, no join; SQL text):
      -> non-empty lines (inner projection)
      -> stats + part_key + per-language thresholds (CASE lang_pred)
      -> rule columns -> reasons/keep/quality_score/pii_hits
                                                   (same codegen stage)
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
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dqmtools_spark.functions import textstats
from dqmtools_spark.functions.textproc import SCRUB_KINDS
from dqmtools_spark.functions.udfs import PROC_SCHEMA, _process_texts, process_pages
from dqmtools_spark.rules.builtin import default_registry, lang_threshold_sql
from dqmtools_spark.rules.core import RuleBuildOutcome, RuleRegistry, evaluate_rules
from dqmtools_spark.schemas import PAGES_SCHEMA
from dqmtools_spark.sqltext import sql_ident, sql_str
from dqmtools_spark.sources.tables import read_table, table_exists
from dqmtools_spark.sources.warc import arrow_batch_rows, warc_page_frames

DEFAULT_PART_BUCKETS = 64

# the input columns phase 1 carries through beside the fused output
_PASS_COLS = ["url", "warc_ts", "lang"]


def python_phase(
    df: DataFrame, reextract: bool = True, models: dict | None = None
) -> DataFrame:
    """PHASE 1: pages -> flat (url, warc_ts, lang, text_ex, lang_pred,
    perplexity, scrubbed_text, hits_*) — all Python work of the
    pipeline in ONE ``mapInArrow``, flat so the result can be
    checkpointed to parquet as-is.

    ``reextract=True`` recomputes text from html (the byte-identical
    invariant path, :func:`~dqmtools_spark.functions.udfs.process_pages`);
    False trusts the incoming ``text`` column
    (:func:`~dqmtools_spark.functions.udfs._process_texts`).

    Only the source of the Arrow batches differs.  An untransformed,
    uncached ``read_warc`` frame with ``reextract=True`` feeds its
    binaryFile scan through
    :func:`~dqmtools_spark.sources.warc.warc_page_frames`, so each worker
    parses its files and scores the pages in the same pass and html
    never goes back to the JVM.  Any other input feeds
    ``select(url, warc_ts, lang, html | text)``, and its ``url``,
    ``warc_ts`` and ``lang`` go back out as the input batch's own Arrow
    arrays, never converted, so any timestamp type or range passes
    untouched.  The output keeps the source's fields for those three
    columns; the scored columns follow as ``PROC_SCHEMA``.

    ``models`` is THE model swap point: a dict with optional keys that
    replace the deterministic stand-ins.

    - ``lm``: a ``(logprob_dict, oov_logprob)`` pair, the shape
      :func:`textproc.lm_and_oov` returns — swap in a real KenLM-style
      table here (load it driver-side; the closure ships it to workers
      via cloudpickle, or broadcast it first for very large tables).
    - ``langid_fn``: ``text -> lang_code`` callable — swap in a real
      fastText ``model.predict`` wrapper here.  Must be picklable.
    - ``ppl_fn``: ``text -> float | None`` callable overriding the
      whole perplexity computation (takes precedence over ``lm``) —
      the hook for a full backoff LM like
      :class:`~dqmtools_spark.functions.models.ArpaLM.text_perplexity`,
      whose scoring recursion doesn't fit the flat dict shape.

    Batch protocol: when both ``langid_fn`` and ``ppl_fn`` also have a
    ``batch(token_lists)`` method, each Arrow batch is tokenized once
    (``text.lower().split()``, ``None`` for a missing or empty text)
    and each model scores the whole batch in one call, returning one
    value per text equal to what the per-text call returns.  The
    path-loaded models (``models.langid_fn_from_path`` and
    ``models.ppl_fn_from_path``) have it; any other callable is called
    once per text.

    Without ``models`` the lazy per-executor singletons are used, so
    nothing is shipped in the closure.  The injection reaches the
    Python WORKERS (not just the driver) because the captured objects
    ride the serialized closure — asserted by
    ``tests/test_model_seam.py``.
    """
    models = models or {}
    files = df.__dict__.get("_warc_files")  # set by sources.warc.read_warc
    if reextract and files is not None and not df.is_cached:
        source, fields = files, [PAGES_SCHEMA[c] for c in _PASS_COLS]
        max_rows = arrow_batch_rows(df.sparkSession)
        pass_schema = to_arrow_schema(T.StructType(fields))

        def frames(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[list, pd.Series]]:
            for pages in warc_page_frames((b.to_pandas() for b in batches), max_rows):
                passed = pa.RecordBatch.from_pandas(
                    pages[_PASS_COLS], pass_schema, preserve_index=False
                )
                yield passed.columns, pages["html"]

    else:
        source = df.select(*_PASS_COLS, "html" if reextract else "text")
        fields = [df.schema[c] for c in _PASS_COLS]

        def frames(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[list, pd.Series]]:
            for b in batches:
                yield b.columns[:-1], b.columns[-1].to_pandas()

    score = process_pages if reextract else _process_texts
    proc_schema = to_arrow_schema(PROC_SCHEMA)
    schema = T.StructType(fields + PROC_SCHEMA.fields)

    def phase1(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for passed, texts in frames(batches):
            proc = score(texts, **models)
            scored = pa.RecordBatch.from_pandas(proc, proc_schema, preserve_index=False)
            yield pa.RecordBatch.from_arrays(passed + scored.columns, schema.fieldNames())

    return source.mapInArrow(phase1, schema)


def jvm_phase(
    processed: DataFrame,
    spark: SparkSession,
    n_buckets: int = DEFAULT_PART_BUCKETS,
) -> DataFrame:
    """PHASE 2a: attach the stats columns, the partition key and the
    per-language thresholds to phase-1 output (fresh from the Python
    stage or re-read from a checkpoint): pure codegen SQL text, no join.

    ``part_key`` is a hash bucket of url, not of the domain, so it stays
    skew-free when one domain holds 30% of rows.  The non-empty lines
    come from an inner projection that the three line stats share.
    ``spark`` is unused; the signature is kept for its callers."""
    lined = processed.selectExpr("*", f"{textstats.nonempty_lines_sql('text_ex')} AS _lines")
    return lined.selectExpr(
        *[sql_ident(c) for c in processed.columns],
        *textstats.all_stats("text_ex", "_lines"),
        f"CAST(pmod(xxhash64(url), {int(n_buckets)}) AS INT) AS part_key",
        *lang_threshold_sql(),
    )


def _fold_results(
    enriched: DataFrame, registry: RuleRegistry
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """PHASE 2b: rule columns -> reasons/keep -> doc_results.  The
    quality score is the fraction of applied rules passed (diagnostic,
    not a gate)."""
    evaluated, outcomes = evaluate_rules(enriched, registry)
    n_applied = max(len([o for o in outcomes if o.column is not None]), 1)
    hits = ", ".join(f"'{k}', hits_{k}" for k in SCRUB_KINDS)
    result = evaluated.selectExpr(
        "url",
        "keep",
        "reasons",
        "scrubbed_text",
        "lang_pred",
        f"CAST({n_applied} - size(reasons) AS DOUBLE) / {n_applied} AS quality_score",
        f"map({hits}) AS pii_hits",
        "part_key",
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
    return [F.expr("count(1) AS docs_in"), F.expr("count_if(keep) AS docs_out")] + [
        F.expr(f"count_if(array_contains(reasons, {sql_str(n)})) AS {sql_ident('fail_' + n)}")
        for n in rule_names
    ]


def rule_metrics_from_results(doc_results: DataFrame, rule_names: list[str]) -> DataFrame:
    """Docs in/out per rule per language over the WRITTEN
    ``doc_results``, and their grand totals: cube() gives both in one
    shuffle (the reference's nested suite summaries, SURVEY §2.5) of one
    codegen scan, which never re-runs the Python phase over the input.
    """
    return doc_results.cube("lang_pred").agg(*rule_metrics_aggs(rule_names))
