"""Cache hygiene for the LSH dedup tiers (VERDICT r2 item 2).

The pair functions persist O(docs)-sized helper frames (shingle and
signature tables).  With ``eager=True`` they must swap those for a
single cache of the (small) pair result, so a long-lived session that
runs dedup pass after dedup pass never accumulates pinned blocks.
"""

from __future__ import annotations

import pytest


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_minhash_eager_leaves_no_helper_caches(spark, sf_dir, clean_cache):
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.5, eager=True)
    assert out.count() >= 0  # result served from its own cache
    out.unpersist()
    assert _cache_empty(spark), "helper frames still pinned after eager run"


def test_minhash_md5_eager_leaves_no_helper_caches(spark, sf_dir, clean_cache):
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs_md5

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_lsh_pairs_md5(d, "text", "doc_id", threshold=0.5, eager=True)
    assert out.count() >= 0
    out.unpersist()
    assert _cache_empty(spark), "helper frames still pinned after eager run"


def test_simhash_eager_leaves_no_helper_caches(spark, sf_dir, clean_cache):
    from dqmtools_spark.functions.hashing import md5_hash60
    from dqmtools_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = simhash_pairs(
        d, "text", "doc_id", max_hamming=6, n_bits=60, token_hash=md5_hash60,
        eager=True,
    )
    assert out.count() >= 0
    out.unpersist()
    assert _cache_empty(spark), "helper frames still pinned after eager run"


def test_eager_and_lazy_agree(spark, sf_dir, clean_cache):
    """eager only changes caching, never the emitted pairs — for both
    MinHash tiers."""
    from dqmtools_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_md5,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for tier in (minhash_lsh_pairs_md5, minhash_lsh_pairs):
        eager = {
            tuple(r)
            for r in tier(d, "text", "doc_id", threshold=0.5, eager=True).collect()
        }
        spark.catalog.clearCache()
        lazy = {
            tuple(r)
            for r in tier(d, "text", "doc_id", threshold=0.5, eager=False).collect()
        }
        spark.catalog.clearCache()
        assert eager == lazy, tier.__name__
