"""spark-submit entry point for the quality job: argv ->
``dqmtools_spark.job.submit`` -> the folded status table (one row per
rule, per rule group and for the whole suite: INVALID/BAD/OK/WARNING),
then one JSON summary line.  The rebuilt role of the reference's
``dqm_analyzer.py`` + ``write_dqm_dataframes.py`` CLI pair.

    python scripts/package_pyfiles.py                 # -> dist/dqmtools_spark.zip
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 \
        --py-files dist/dqmtools_spark.zip scripts/run_quality_pipeline.py \
        --input s3://bucket/pages_table --output s3://bucket/quality_out \
        --n-buckets 4096

(``--master 'local[32]'`` and ``--synth-docs 20000`` in a sandbox.)
Outputs under --output: doc_results, per-bucket lineage in progress,
docs in/out per rule per language in rule_metrics, every submit's status
rows in history.  Re-submitting to the same --output finishes only
unfinished buckets (kill-safe, idempotent); once the report has run it
prints an empty status table.
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
    ap.add_argument("--input-warc", help="read the *.warc.gz files under this "
                    "path (one task per segment) instead of a pages table")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True, help="output base dir")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="url-hash partition buckets (resume granularity)")
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--no-reextract", action="store_true",
                    help="trust incoming text column instead of decoding html")
    ap.add_argument("--staged", action="store_true", help="keep the decoded text "
                    "in <output>/text_checkpoint, so a resubmit with changed "
                    "rules skips extraction")
    ap.add_argument("--force-reextract", action="store_true",
                    help="with --staged: rebuild a complete text checkpoint")
    ap.add_argument("--config", help="JSON file overriding rule thresholds "
                    "(the reference's per-detector config)")
    ap.add_argument("--langid-model", help="fastText .bin langid model path "
                    "(ship it with spark-submit --files on a cluster)")
    ap.add_argument("--arpa-model", help="ARPA n-gram LM path (.arpa/.arpa.gz) "
                    "for perplexity")
    ap.add_argument("--metrics-png", action="store_true",
                    help="also render rule_metrics to <output>/rule_metrics.png")
    args = ap.parse_args()

    from dqmtools_spark.functions.models import langid_fn_from_path, ppl_fn_from_path
    from dqmtools_spark.job import submit
    from dqmtools_spark.rules.builtin import default_registry
    from dqmtools_spark.rules.report import ascii_table
    from dqmtools_spark.session import get_spark

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

    models = {}
    if args.langid_model:
        models["langid_fn"] = langid_fn_from_path(args.langid_model)
    if args.arpa_model:
        models["ppl_fn"] = ppl_fn_from_path(args.arpa_model)

    t0 = time.perf_counter()
    summary, status = submit(
        spark, pages, args.output,
        checkpoint_path=(
            os.path.join(args.output, "text_checkpoint") if args.staged else None
        ),
        registry=registry, reextract=not args.no_reextract,
        n_buckets=args.n_buckets, force=args.force_reextract,
        models=models or None, run_id=args.run_id, metrics_png=args.metrics_png,
    )
    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    print(ascii_table(status))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
