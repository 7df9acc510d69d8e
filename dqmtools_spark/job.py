"""One submission of the quality job, from pages to the folded status
(the reference's INVALID/BAD/OK/WARNING lattice, ``dqmtools.py:106-120``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dqmtools_spark.pipeline import DEFAULT_PART_BUCKETS, run_pipeline, run_pipeline_staged
from dqmtools_spark.rules.core import RuleRegistry, fold_rule_results
from dqmtools_spark.rules.report import ResultsHistory, collect_rule_metrics
from dqmtools_spark.schemas import DOC_RESULTS_SCHEMA
from dqmtools_spark.sources.checkpoint import CheckpointedRun
from dqmtools_spark.sources.imagesink import write_metrics_png
from dqmtools_spark.sources.tables import read_table, table_exists, write_table


def submit(
    spark: SparkSession,
    pages: DataFrame,
    output: str,
    checkpoint_path: str | None = None,
    registry: RuleRegistry | None = None,
    reextract: bool = True,
    n_buckets: int = DEFAULT_PART_BUCKETS,
    force: bool = False,
    models: dict | None = None,
    run_id: str = "run",
    metrics_png: bool = False,
) -> tuple[dict, list[dict]]:
    """Run the job into ``output``; returns (summary, status rows).

    ``checkpoint_path=None`` runs the fused pipeline, a path the staged
    one.  :class:`CheckpointedRun` writes ``doc_results`` and ``progress``
    and skips finished buckets.  The report is one rule-metrics cube over
    the written ``doc_results``, collected once: its grand-total row
    folds into the status rows, which are appended to
    ``<output>/history``; then the same rows overwrite
    ``<output>/rule_metrics`` (and its PNG).  The report runs while
    ``rule_metrics`` has no ``_SUCCESS`` marker, so a kill anywhere
    before that marker is written only repeats it; once it has run, the
    status rows are ``[]``.
    """
    kw = dict(registry=registry, reextract=reextract, models=models, n_buckets=n_buckets)
    if checkpoint_path is None:
        result, outcomes = run_pipeline(spark, pages, **kw)
    else:
        result, outcomes = run_pipeline_staged(
            spark, pages, checkpoint_path, force=force, **kw
        )
    ckpt = CheckpointedRun(spark, output, run_id=run_id)
    summary = ckpt.run(result, n_buckets=n_buckets)
    summary["rules"] = [o.rule.name for o in outcomes]

    metrics_path = os.path.join(output, "rule_metrics")
    if table_exists(spark, os.path.join(metrics_path, "_SUCCESS")):
        return summary, []
    applied = [o.rule.name for o in outcomes if o.column is not None]
    cube, schema = collect_rule_metrics(
        read_table(spark, ckpt.results_path, DOC_RESULTS_SCHEMA), applied
    )
    counts = ["docs_in", *(f"fail_{n}" for n in applied)]
    # summed, so an empty doc_results (no grand-total row) counts 0
    total = cube.loc[cube["_gid"] == 1, counts].sum()
    rows = fold_rule_results(
        outcomes, int(total["docs_in"]), {n: int(total[f"fail_{n}"]) for n in applied}
    )
    ResultsHistory(spark, os.path.join(output, "history")).append(rows)
    metrics = cube.drop(columns="_gid")
    # a few rows: one file, as the cube's own coalesced shuffle wrote it
    write_table(
        spark.createDataFrame(metrics, schema).coalesce(1), metrics_path, mode="overwrite"
    )
    if metrics_png:
        write_metrics_png(
            metrics, os.path.join(output, "rule_metrics.png"), row_key="lang_pred"
        )
    return summary, rows
