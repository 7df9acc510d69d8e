"""Physical-plan audits: assert the scale properties a human checks
with .explain('formatted') — filters pushed to the scan, small dims
broadcast, no row-at-a-time Python, no surprise shuffles.

These tests pin the 100 TB story: a plan regression (broadcast falling
back to sort-merge, a UDF blocking pushdown, an extra exchange) fails
CI even though results stay correct.  They cover the pipeline,
operators called directly and plan text the counters cannot see
(pushed and partition filters).  The counters of every
``__spark_entry__.queries()`` entry are pinned by ``PLAN_AUDIT`` in
``tests/test_oracle_differential.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dqmtools_spark.plans.audit import explain_str, plan_audit


def _python_node_counts(df) -> dict[str, int]:
    """Tree-form counts ("Node (n)") of the Python evaluation nodes;
    formatted mode prints each node twice (tree + detail)."""
    import re

    plan = explain_str(df)
    return {
        n: len(re.findall(rf"{n} \(\d+\)", plan))
        for n in ("MapInArrow", "MapInPandas", "ArrowEvalPython")
    }


ONE_MAP_IN_ARROW = {"MapInArrow": 1, "MapInPandas": 0, "ArrowEvalPython": 0}


def _no_joins(audit: dict) -> bool:
    joins = ("broadcast_joins", "sort_merge_joins", "nested_loop_joins")
    return all(audit[j] == 0 for j in joins)


def test_pipeline_plan_one_python_stage_no_shuffle(spark, tmp_path):
    """The per-doc pipeline over a pages table must be: scan -> ONE
    fused ``mapInArrow`` -> codegen stats, per-language thresholds and
    rules.  No join and zero shuffle exchanges (the only exchange in
    production is the partitioned write).  The synth pages are written
    to parquet first, so their own generator is not in the plan."""
    from dqmtools_spark.pipeline import run_pipeline
    from dqmtools_spark.schemas import PAGES_SCHEMA
    from dqmtools_spark.sources.tables import read_table
    from dqmtools_spark.synth import synth_pages

    path = str(tmp_path / "pages")
    synth_pages(spark, 50, seed=1).write.parquet(path)
    result, _ = run_pipeline(spark, read_table(spark, path, PAGES_SCHEMA))
    audit = plan_audit(result)
    assert audit["python_evals"] == 1, audit
    assert audit["row_python_evals"] == 0, "row-at-a-time Python in hot path"
    assert audit["shuffle_exchanges"] == 0, "unexpected shuffle in per-doc path"
    assert _no_joins(audit), audit
    assert _python_node_counts(result) == ONE_MAP_IN_ARROW, "phase 1 not one pass"


def test_warc_pipeline_plan_one_map_in_arrow_no_shuffle(spark, tmp_path):
    """WARC input: binaryFile scan -> ONE mapInArrow that parses and
    scores the pages -> codegen stats and rules, with no join.  No other
    Python node: html never crosses back to the JVM."""
    from dqmtools_spark.pipeline import run_pipeline
    from dqmtools_spark.sources.warc import read_warc, write_warc_gz

    d = tmp_path / "warcs"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(
        write_warc_gz([{"uri": "https://a.example/", "body": b"<html>hi</html>"}])
    )
    result, _ = run_pipeline(spark, read_warc(spark, str(d)))
    audit = plan_audit(result)
    assert audit["python_evals"] == 1, audit
    assert audit["row_python_evals"] == 0, audit
    assert audit["shuffle_exchanges"] == 0, audit
    assert _no_joins(audit), audit
    assert _python_node_counts(result) == ONE_MAP_IN_ARROW


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    # column pruning: scan schema must not include unprojected columns
    assert "l_comment" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_salted_agg_two_exchanges_max(spark, sf_dir):
    """Two-phase salted aggregation: partials shuffle on (key, salt),
    merge shuffles on key — no third exchange."""
    from dqmtools_spark.operators.skew import salted_agg

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = salted_agg(d, ["source"], {"n": ("count", "*")}, unit_col="doc_id")
    audit = plan_audit(out)
    assert audit["shuffle_exchanges"] <= 2


def test_minhash_banded_join_not_cartesian(spark, sf_dir):
    """The LSH candidate join must be an equi-join on (band, bucket) —
    never a cartesian/broadcast-nested-loop over all pairs."""
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", persist_shingles=False)
    assert plan_audit(pairs)["nested_loop_joins"] == 0


def test_global_line_dedup_one_aggregate_one_regroup(spark):
    """Global line dedup is the winner aggregate and the regroup by
    document, nothing else: each winner carries its line, so no line
    joins back to its winner and no id list is joined on.  The input
    has at least defaultParallelism partitions, so ``_parallelize_input``
    adds no round-robin exchange.  A collect runs 3 jobs."""
    import uuid

    from dqmtools_spark.operators.dedup import global_line_dedup

    sc = spark.sparkContext
    n_parts = max(8, sc.defaultParallelism)
    docs = spark.range(0, 400, numPartitions=n_parts).select(
        F.col("id").alias("doc_id"),
        F.concat_ws("\n", F.lit("boiler"), F.md5(F.col("id").cast("string")))
        .alias("text"),
    )
    out = global_line_dedup(docs, "text", "doc_id")
    audit = plan_audit(out)
    assert audit["broadcast_joins"] == 0 and audit["sort_merge_joins"] == 0, audit
    assert audit["shuffle_exchanges"] <= 2, audit

    group = f"test-plans-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == 400 and sum(r["n_kept"] for r in rows) == 401
    assert n_jobs <= 3, n_jobs


def test_drop_duplicate_clusters_below_bound_one_job_no_join(spark):
    """Below ``DRIVER_CLUSTER_BOUND`` clusters finish on the driver: one
    job reads the pair list (cached in one partition, as the eager LSH
    pair cache is), and the survivors are the input behind one filter,
    with no join in their plan."""
    import uuid

    from dqmtools_spark.operators.dedup import drop_duplicate_clusters

    sc = spark.sparkContext
    pairs = (
        spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(40)], "id_a long, id_b long"
        )
        .coalesce(1)
        .cache()
    )
    pairs.count()
    docs = spark.range(100).withColumnRenamed("id", "doc_id")
    group = f"test-plans-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        survivors = drop_duplicate_clusters(docs, pairs, "doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    plan = explain_str(survivors)
    kept = sorted(r["doc_id"] for r in survivors.collect())
    pairs.unpersist()
    assert n_jobs <= 1, n_jobs
    assert "Join" not in plan, plan
    assert kept == list(range(0, 80, 2)) + list(range(80, 100))


def test_staged_jvm_phase_is_pure_codegen(spark, tmp_path):
    """Phase 2 of the staged pipeline (stats + rules from the text
    checkpoint) must contain ZERO Python evals — that is the property
    that lets rules re-run without re-extracting at 100 TB — and no
    join or shuffle."""
    from dqmtools_spark.pipeline import _fold_results, jvm_phase, python_phase
    from dqmtools_spark.rules.builtin import default_registry
    from dqmtools_spark.synth import synth_pages

    ckpt = str(tmp_path / "ck")
    python_phase(synth_pages(spark, 50, seed=2)).write.parquet(ckpt)
    enriched = jvm_phase(spark.read.parquet(ckpt), spark)
    result, _ = _fold_results(enriched, default_registry())
    audit = plan_audit(result)
    assert audit["python_evals"] == 0
    assert audit["shuffle_exchanges"] == 0
    assert _no_joins(audit), audit


def test_minhash_md5_banded_join_not_cartesian(spark, sf_dir):
    """The oracle-checkable MinHash tier keeps the same join shape:
    equi-join on (band, signature slice) — never all-pairs."""
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs_md5

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs_md5(d, "text", "doc_id")
    assert plan_audit(pairs)["nested_loop_joins"] == 0


def test_simhash_md5_banded_join_not_cartesian(spark, sf_dir):
    from dqmtools_spark.functions.hashing import md5_hash60
    from dqmtools_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = simhash_pairs(d, "text", "doc_id", max_hamming=6, n_bits=60,
                          token_hash=md5_hash60)
    assert plan_audit(pairs)["nested_loop_joins"] == 0


def test_int_lsh_dup_pairs_bucket_equijoin(spark, sf_dir):
    """Integer-plane embedding dedup: candidates come from a bucket
    equi-join (one ArrowEvalPython for the bucket UDF, no cartesian)."""
    from dqmtools_spark.operators.similarity import (
        embedding_cosine_pairs_int,
        int_planes,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_cosine_pairs_int(
        e, "embedding", "vec_id", int_planes(64, 6), threshold=0.35
    )
    audit = plan_audit(pairs)
    assert audit["nested_loop_joins"] == 0
    assert audit["row_python_evals"] == 0


def test_int_bucket_expr_matches_pandas_udf(spark, sf_dir):
    """The JVM-expression bucket twin must equal the numpy path exactly
    (both are exact integer arithmetic)."""
    from dqmtools_spark.operators.similarity import (
        build_int_ann_index,
        int_bucket_expr,
        int_planes,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    planes = int_planes(64, 5)
    via_udf = {r["vec_id"]: r["bucket"]
               for r in build_int_ann_index(e, "embedding", planes).collect()}
    via_expr = {r["vec_id"]: r["bucket"]
                for r in e.select(
                    "vec_id",
                    int_bucket_expr(F.col("embedding"), planes).alias("bucket"),
                ).collect()}
    assert via_udf == via_expr


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilters
    entry (pruned at planning, no data files of other partitions
    touched) — the mechanism SCALE.md's partitioned sinks rely on."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "bylang")
    docs.write.partitionBy("lang").parquet(out)
    q = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    plan = explain_str(q)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "lang" in seg and "en" in seg
    # the non-partition residue is empty: nothing re-checked per row
    # (assert on the plan, not counts — counts can't see a pruning
    # regression that degrades to a correct post-scan filter; Spark
    # omits the DataFilters line entirely when the residue is empty)
    if "DataFilters: [" in plan:
        dseg = plan.split("DataFilters: [")[1].split("]")[0]
        assert dseg.strip() == "", f"unexpected DataFilters residue: {dseg}"
    assert plan.count("Filter") == plan.count("PartitionFilters"), (
        "post-scan Filter node present — pruning degraded"
    )
    assert q.count() == docs.filter(F.col("lang") == "en").count()
