"""spark-submit entry point for the quality pipeline (north rule).

Cluster usage (the intended deployment — N or 4N executors):

    python scripts/package_pyfiles.py                 # -> dist/dqmtools_spark.zip
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 \
        --py-files dist/dqmtools_spark.zip \
        scripts/run_quality_pipeline.py \
        --input  s3://bucket/pages_table \
        --output s3://bucket/quality_out \
        --n-buckets 4096

Sandbox usage (local[N] stands in for N executors):

    python scripts/package_pyfiles.py
    spark-submit --master 'local[32]' \
        --py-files dist/dqmtools_spark.zip \
        scripts/run_quality_pipeline.py \
        --synth-docs 20000 --output /tmp/quality_out

Real model artifacts (fastText-format langid + ARPA LM) replace the
deterministic stand-ins via --langid-model/--arpa-model (ship the
files to executors with --files on a cluster); --input-warc ingests
Common-Crawl .warc.gz segments directly.

The job is checkpoint-resumable: re-submitting with the same --output
processes only buckets not yet marked done (kill-safe, idempotent —
see dqmtools_spark/sources/checkpoint.py).  Counters (docs in/out per
rule per language) land in <output>/rule_metrics; per-partition lineage
in <output>/progress.

Rebuilt role of the reference's ``scripts/dqm_analyzer.py`` +
``scripts/write_dqm_dataframes.py`` CLI pair (click options at
dqm_analyzer.py:12-22), re-expressed as one resumable Spark job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# under spark-submit --py-files the zip is on sys.path already; when run
# directly from the repo, add the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="quality-filter pipeline job")
    ap.add_argument("--input", help="pages table path (parquet/iceberg)")
    ap.add_argument("--input-warc",
                    help="ingest *.warc.gz files under this path (the "
                         "Common Crawl wire format) instead of a pages "
                         "table — one task per segment, shuffle-free")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True, help="output base dir")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="url-hash partition buckets (resume granularity)")
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--no-reextract", action="store_true",
                    help="trust incoming text column instead of decoding html")
    ap.add_argument("--staged", action="store_true",
                    help="materialize the decoded-text checkpoint between the "
                         "Python and JVM phases (<output>/text_checkpoint) so "
                         "rule changes never re-run extraction; a re-submit "
                         "with a complete checkpoint skips extraction entirely")
    ap.add_argument("--force-reextract", action="store_true",
                    help="with --staged: rebuild the text checkpoint even if "
                         "complete (use when the INPUT changed)")
    ap.add_argument("--config", help="JSON file overriding rule thresholds "
                                     "(the reference's per-detector config, "
                                     "dqm_analyzer.py:29-45)")
    ap.add_argument("--langid-model",
                    help="fastText .bin langid model path (e.g. "
                         "artifacts/langid_synth.bin); replaces the "
                         "deterministic stand-in.  Workers load it once "
                         "per process — on a cluster ship it with "
                         "spark-submit --files")
    ap.add_argument("--arpa-model",
                    help="ARPA n-gram LM path (.arpa/.arpa.gz, the "
                         "KenLM interchange format) for perplexity "
                         "scoring; replaces the stand-in unigram LM")
    ap.add_argument("--metrics-png", action="store_true",
                    help="also render the rule-metrics cube to "
                         "<output>/rule_metrics.png (S9 image sink; "
                         "pure-Python encoder, no plotting libs)")
    args = ap.parse_args()

    from dqmtools_spark.pipeline import run_pipeline, rule_metrics_from_results
    from dqmtools_spark.rules.builtin import default_registry
    from dqmtools_spark.session import get_spark
    from dqmtools_spark.sources.checkpoint import CheckpointedRun
    from dqmtools_spark.sources.tables import write_table

    # master="" -> spark-submit decides (yarn/k8s/local[N])
    spark = get_spark(app_name="quality_pipeline", master="")
    spark.sparkContext.setLogLevel("WARN")

    if args.synth_docs:
        from dqmtools_spark.synth import synth_pages
        pages = synth_pages(spark, args.synth_docs, seed=42)
    elif args.input_warc:
        from dqmtools_spark.sources.warc import read_warc
        pages = read_warc(spark, args.input_warc)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --input-warc / --synth-docs is required")

    registry = None
    if args.config:
        with open(args.config) as f:
            registry = default_registry(json.load(f))

    models = None
    if args.langid_model or args.arpa_model:
        from dqmtools_spark.functions.models import (
            langid_fn_from_path,
            ppl_fn_from_path,
        )

        models = {}
        if args.langid_model:
            models["langid_fn"] = langid_fn_from_path(args.langid_model)
        if args.arpa_model:
            models["ppl_fn"] = ppl_fn_from_path(args.arpa_model)

    t0 = time.perf_counter()
    if args.staged:
        from dqmtools_spark.pipeline import run_pipeline_staged

        result, outcomes = run_pipeline_staged(
            spark, pages, os.path.join(args.output, "text_checkpoint"),
            registry=registry,
            reextract=not args.no_reextract, n_buckets=args.n_buckets,
            force=args.force_reextract, models=models,
        )
    else:
        result, outcomes = run_pipeline(
            spark, pages, registry=registry,
            reextract=not args.no_reextract, n_buckets=args.n_buckets,
            models=models,
        )
    ckpt = CheckpointedRun(spark, args.output, run_id=args.run_id)
    summary = ckpt.run(result, n_buckets=args.n_buckets)

    # rule counters: one cheap codegen scan of the WRITTEN results
    # (reasons array -> per-rule fail counts) — never a second run of
    # the fused Python phase over the raw input
    if not summary.get("skipped"):
        from dqmtools_spark.schemas import DOC_RESULTS_SCHEMA
        from dqmtools_spark.sources.tables import read_table

        applied = [o.rule.name for o in outcomes if o.column is not None]
        metrics = rule_metrics_from_results(
            read_table(spark, ckpt.results_path, DOC_RESULTS_SCHEMA), applied
        )
        write_table(metrics, os.path.join(args.output, "rule_metrics"))
        if args.metrics_png:
            from dqmtools_spark.sources.imagesink import write_metrics_png

            write_metrics_png(
                metrics, os.path.join(args.output, "rule_metrics.png"),
                row_key="lang_pred",
            )

    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    summary["rules"] = [o.rule.name for o in outcomes]
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
