"""Local replica of the driver's DuckDB oracle check (SURVEY §5.2).

For every queries() entry with an oracle_sql(): run both at sf0.01 (or
$SPARK_GRAFT_ORACLE_SF), sort columns by name, and compare row multisets
EXACTLY (floats included — the driver hashes values, so exact agreement
is the bar; every float column is rounded inside the queries
themselves).

Before it runs, each query's plan must match its ``PLAN_AUDIT`` row:
the nonzero ``plan_audit`` counters, so a plan-shape regression (a
broadcast falling back to sort-merge, an all-pairs join, an extra
exchange, a Python stage) fails here even when the rows stay right.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from dqmtools_spark.plans.audit import plan_audit

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_ORACLES = entry_mod.oracle_sql()
_QUERIES = entry_mod.queries()

# Nonzero plan_audit counters per query at sf0.01, cache cleared first;
# print a row and its plan with `python scripts/dump_plans.py <name>`.
# An eager query's cached subplan prints once per consumer, so queries
# such as remove_dup_spans count far more nodes than they execute.
PLAN_AUDIT = {
    "ann_topk": dict(python_evals=1, pushed_filters=1),
    "anti_join_resume": dict(exchanges=2, shuffle_exchanges=1, broadcast_joins=1, pushed_filters=1),
    "array_norm": dict(),
    "array_slice": dict(),
    "array_stats": dict(),
    "asof_latest_click": dict(exchanges=2, shuffle_exchanges=2, pushed_filters=2),
    "bloom_dedup": dict(exchanges=6, shuffle_exchanges=3, broadcast_joins=3, pushed_filters=4),
    "broadcast_dim_join": dict(exchanges=3, shuffle_exchanges=1, broadcast_joins=2, pushed_filters=3),
    "channel_stats": dict(exchanges=1, shuffle_exchanges=1),
    "cms_user_counts": dict(exchanges=5, shuffle_exchanges=3, broadcast_joins=2),
    "contamination": dict(exchanges=4, shuffle_exchanges=3, broadcast_joins=1, pushed_filters=2),
    "cosine_dup_pairs": dict(exchanges=1, nested_loop_joins=1, pushed_filters=2),
    "cosine_knn": dict(pushed_filters=1),
    "cube_metrics": dict(exchanges=1, shuffle_exchanges=1),
    "dedup_clusters": dict(exchanges=1, shuffle_exchanges=1),
    "dedup_then_join": dict(exchanges=3, shuffle_exchanges=2, broadcast_joins=1, pushed_filters=2),
    "desparsify_check": dict(),
    "doc_dup_line_fraction": dict(exchanges=2, shuffle_exchanges=2),
    "doc_exact_dedup": dict(exchanges=2, shuffle_exchanges=2),
    "doc_fingerprint": dict(exchanges=1, shuffle_exchanges=1),
    "doc_global_line_dedup": dict(exchanges=4, shuffle_exchanges=4),
    "doc_lang_mode": dict(exchanges=2, shuffle_exchanges=2),
    "doc_line_dedup": dict(),
    "doc_stopword_fraction": dict(exchanges=1, shuffle_exchanges=1),
    "doc_token_count": dict(exchanges=1, shuffle_exchanges=1),
    "doc_top_bigram": dict(exchanges=4, shuffle_exchanges=3, broadcast_joins=1, pushed_filters=2),
    "doc_word_stats": dict(exchanges=1, shuffle_exchanges=1),
    "dup_ngram_spans": dict(exchanges=16, shuffle_exchanges=14, broadcast_joins=2),
    "embedding_dup_lsh": dict(exchanges=1, broadcast_joins=1, python_evals=4, pushed_filters=2),
    "embedding_dup_lsh_banded": dict(exchanges=7, shuffle_exchanges=2, broadcast_joins=6, python_evals=4, pushed_filters=2),
    "event_sessions": dict(exchanges=1, shuffle_exchanges=1),
    "events_minmax": dict(exchanges=2, shuffle_exchanges=2),
    "filter_compound": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=1),
    "filter_sql_string": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=1),
    "float_lsh_invariant": dict(),
    "fuzzy_prefix_pairs": dict(exchanges=5, shuffle_exchanges=2, broadcast_joins=3, pushed_filters=4),
    "group_distinct_violation": dict(exchanges=3, shuffle_exchanges=3),
    "group_mode": dict(exchanges=2, shuffle_exchanges=2),
    "group_quantiles": dict(exchanges=1, shuffle_exchanges=1),
    "histogram_totalprice": dict(exchanges=1, shuffle_exchanges=1),
    "hll_distinct": dict(exchanges=5, shuffle_exchanges=4, nested_loop_joins=1),
    "inverted_index": dict(exchanges=1, shuffle_exchanges=1),
    "ivf_topk": dict(python_evals=1, pushed_filters=1),
    "json_regex_extract": dict(exchanges=1, shuffle_exchanges=1),
    "latest_per_key": dict(exchanges=1, shuffle_exchanges=1),
    "minhash_pairs": dict(exchanges=39, shuffle_exchanges=33, broadcast_joins=6),
    "multi_join_agg": dict(exchanges=3, shuffle_exchanges=1, broadcast_joins=2, pushed_filters=3),
    "ngram_jaccard": dict(exchanges=1, nested_loop_joins=1, pushed_filters=2),
    "pipeline_full": dict(python_evals=1),
    "pipeline_staged_agg": dict(exchanges=1, shuffle_exchanges=1),
    "pivot_matrix": dict(exchanges=2, shuffle_exchanges=2, pushed_filters=1),
    "prescale_sample": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=1),
    "pricing_summary": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=1),
    "project_compute": dict(),
    "quality_keep_summary": dict(exchanges=1, shuffle_exchanges=1),
    "range_interval_join": dict(exchanges=1, broadcast_joins=1, pushed_filters=2),
    "record_select": dict(exchanges=3, shuffle_exchanges=2, broadcast_joins=1, pushed_filters=1),
    "remove_dup_spans": dict(exchanges=152, shuffle_exchanges=126, broadcast_joins=26, pushed_filters=3),
    "remove_dup_spans_max": dict(exchanges=272, shuffle_exchanges=227, broadcast_joins=45, sort_merge_joins=1, pushed_filters=3),
    "robust_stats": dict(exchanges=3, shuffle_exchanges=2, broadcast_joins=1, pushed_filters=2),
    "salted_source_agg": dict(exchanges=2, shuffle_exchanges=2),
    "semi_join_exists": dict(exchanges=2, shuffle_exchanges=1, broadcast_joins=1, pushed_filters=2),
    "set_ops": dict(exchanges=3, shuffle_exchanges=1, broadcast_joins=2, pushed_filters=3),
    "simhash_pairs": dict(exchanges=19, shuffle_exchanges=17, broadcast_joins=2),
    "spectral_peak": dict(python_evals=1),
    "stratified_sample": dict(exchanges=1, shuffle_exchanges=1),
    "string_funcs": dict(exchanges=1, shuffle_exchanges=1),
    "time_bucket_rollup": dict(exchanges=1, shuffle_exchanges=1),
    "token_shards": dict(exchanges=1, shuffle_exchanges=1),
    "topk_orders": dict(),
    "tz_format": dict(exchanges=1, shuffle_exchanges=1),
    "union_append": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=2),
    "unpivot_metrics": dict(exchanges=4, shuffle_exchanges=2, broadcast_joins=2, pushed_filters=3),
    "url_canon_dedup": dict(exchanges=1, shuffle_exchanges=1),
    "value_remap": dict(exchanges=1, shuffle_exchanges=1),
    "window_rank_suite": dict(exchanges=1, shuffle_exchanges=1, pushed_filters=1),
    "window_running_sum": dict(exchanges=1, shuffle_exchanges=1),
}


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean").astype("object")
        elif pd.api.types.is_integer_dtype(s) or s.dtype == "object" and all(
            isinstance(v, int) for v in s.dropna()
        ):
            # errors="ignore" is removed in pandas 3; the guard above
            # already ensures int-like values, so a failure keeps the
            # column as-is (the old "ignore" semantics, made explicit)
            try:
                df[c] = pd.to_numeric(s)
            except (ValueError, TypeError):
                pass
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, name):
    # an earlier eager query's cached output would change this plan
    spark.catalog.clearCache()
    df = _QUERIES[name](spark, SF_DIR)
    audit = {k: v for k, v in plan_audit(df).items() if v}
    assert audit == PLAN_AUDIT[name], f"{name} plan audit: {audit}"
    got = _normalize(df.toPandas())
    want = _normalize(_duck(_ORACLES[name]))
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga = pd.to_numeric(g).to_numpy()
            wa = pd.to_numeric(w).to_numpy()
            import numpy as np

            exact = (
                np.array_equal(ga, wa)
                or np.nanmax(np.abs(ga - wa)) == 0.0
            )
            assert exact, (
                f"{name}.{c}: max float diff "
                f"{np.nanmax(np.abs(ga - wa))}"
            )
        else:
            mism = (g.astype(str) != w.astype(str)).sum()
            assert mism == 0, f"{name}.{c}: {mism} mismatched values"


def test_every_query_has_oracle_and_plan_row():
    assert set(_QUERIES) == set(_ORACLES) == set(PLAN_AUDIT)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_extract_text_identity_on_driver_corpus():
    """pipeline_result_sql computes from raw `text`; that is valid only
    while extract_text(encode(text)) == text for the driver corpus —
    assert it for every sf directory (no Spark needed)."""
    import glob

    import duckdb

    from dqmtools_spark.functions.textproc import extract_text

    # always cover the directory the oracle gate actually runs on,
    # plus every local sf tier
    dirs = sorted({SF_DIR, *glob.glob("/root/testdata/sf*")})
    assert dirs, "no testdata directories found"
    for d in dirs:
        rows = duckdb.sql(f"SELECT text FROM '{d}/documents.parquet'").fetchall()
        assert rows
        for (t,) in rows:
            assert t is not None
            assert extract_text(t.encode("utf-8")) == t, f"{d}: not identity"
