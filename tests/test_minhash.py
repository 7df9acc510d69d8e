"""MinHash signatures against the array-HOF reference, and the driver
and scheduler cost of building and running the LSH pair plan."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dqmtools_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_lsh_pairs_md5,
    minhash_signature,
    minhash_signatures,
    word_shingle_hashes,
)

# every Column call costs Py4J round trips: on the sf0.001 documents a
# lazy build measured 109 commands in either tier with the shingle
# builders as SQL text, 280 (xxhash tier) and 255 (md5 tier) with them
# as Column calls, and 3,920 and 4,745 when each hash, band and min was
# its own Column call and PySpark captured a call site for each
MAX_BUILD_COMMANDS = 109

_WORDS = st.sampled_from(["a", "b", "cat", "dog", "Zürich", "x1", "ω"])
_SEPS = st.sampled_from([" ", "  ", "\n", "\t", " \n "])


@st.composite
def _texts(draw):
    """A multi-word text with mixed separators, or one of the degenerate
    docs: null, empty, whitespace-only or a single word."""
    kind = draw(st.sampled_from(["null", "empty", "space", "one", "many"]))
    if kind == "null":
        return None
    if kind == "empty":
        return ""
    if kind == "space":
        return "".join(draw(st.lists(_SEPS, min_size=1, max_size=3)))
    words = draw(st.lists(_WORDS, min_size=1, max_size=1 if kind == "one" else 12))
    seps = draw(st.lists(_SEPS, min_size=len(words) + 1, max_size=len(words) + 1))
    return seps[0] + "".join(w + s for w, s in zip(words, seps[1:]))


@settings(deadline=None, max_examples=8)
@given(st.lists(_texts(), min_size=1, max_size=12))
def test_signatures_equal_hof_reference(spark, texts):
    """The explode + aggregate signatures equal :func:`minhash_signature`
    per doc, null signatures included."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    sh = docs.select("id", word_shingle_hashes(F.col("text")).alias("sh"))
    ref = sh.select("id", minhash_signature(F.col("sh")).alias("sig"))
    want = {r["id"]: r["sig"] for r in ref.collect()}
    got = {r["id"]: r["_sig"] for r in minhash_signatures(sh, "id", "sh").collect()}
    assert got == want
    for i, t in enumerate(texts):
        assert (want[i] is None) == (t is None)


@pytest.mark.parametrize("tier", [minhash_lsh_pairs, minhash_lsh_pairs_md5])
def test_lazy_build_py4j_commands(spark, sf_dir, count_py4j_commands, tier):
    """Building the pair plan crosses the Python-JVM boundary a few
    hundred times, not once per hash, band and min."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    try:
        tier(d, "text", "doc_id", eager=False)  # first build loads classes
        spark.catalog.clearCache()
        n = count_py4j_commands(lambda: tier(d, "text", "doc_id", eager=False))
    finally:
        spark.catalog.clearCache()
    assert n <= MAX_BUILD_COMMANDS, n


def test_eager_pairs_fit_default_parallelism(spark, sf_dir):
    """AQE coalesces the shuffles inside the eager pair cache, so every
    later scan of the (small) result runs a task per core at most, not
    one per ``spark.sql.shuffle.partitions``."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark.catalog.clearCache()
    out = minhash_lsh_pairs(d, "text", "doc_id", threshold=0.5, eager=True)
    try:
        assert out.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    finally:
        spark.catalog.clearCache()


def test_get_spark_pins_plan_cost_settings(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
