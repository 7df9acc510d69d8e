"""Round-5 operator tests: maximal-span ExactSubstr removal (the
Lee et al. 2022 minimum-span-length rule — scattered short n-grams do
not count as duplication, long boilerplate runs do)."""

from __future__ import annotations

from dqmtools_spark.operators.dedup import remove_duplicated_spans
from dqmtools_spark.plans.audit import explain_str

# 9 words, 58 chars of tokens + 8 gaps = 66 rejoined chars
BOILER = "every page shares this long boilerplate navigation footer sentence"
# 5 words, 10 + 4 = 14 rejoined chars — one hot 5-gram, under any
# realistic minimum span length
SHORT = "aa bb cc dd ee"


def _rows():
    return [
        (0, f"{SHORT} unique0 one two three {BOILER} tail0 xx yy"),
        (1, f"intro1 word {SHORT} middle1 {BOILER} closing1 zz"),
        (2, "totally unrelated content with nothing shared at all here"),
    ]


def test_maximal_span_rule_distinguishes_boilerplate_from_stray_grams(spark):
    """min_span_chars=50: the 66-char boilerplate run is removed, the
    14-char stray shared 5-gram survives — the distinction the fixed-n
    coverage rule (min_span_chars=0) cannot make."""
    df = spark.createDataFrame(_rows(), ["doc_id", "text"])
    out = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, min_span_chars=50, eager=True
    )
    got = {r["doc_id"]: r for r in out.collect()}
    out.unpersist()
    for d in (0, 1):
        toks = got[d]["clean_text"].split()
        assert "boilerplate" not in toks, "long run must be removed"
        for w in SHORT.split():
            assert w in toks, "short stray gram must SURVIVE the max rule"
        assert got[d]["n_removed"] == len(BOILER.split())
    assert got[0]["clean_text"] == (
        f"{SHORT} unique0 one two three tail0 xx yy"
    )
    # untouched doc passes through token-rejoined
    assert got[2]["n_removed"] == 0 and got[2]["clean_text"] == _rows()[2][1]

    # the fixed-n rule (default) removes BOTH spans — 5 more tokens
    plain = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, eager=True
    )
    pg = {r["doc_id"]: r for r in plain.collect()}
    plain.unpersist()
    for d in (0, 1):
        assert pg[d]["n_removed"] == len(BOILER.split()) + len(SHORT.split())


def test_maximal_span_char_threshold_is_exact(spark):
    """The span char length is token lengths + single-space gaps and
    the threshold is inclusive: a 14-char span is removed at
    min_span_chars=14 and kept at 15 — bit-exact integer arithmetic,
    the same the DuckDB oracle computes."""
    rows = [
        (0, f"{SHORT} unique0 filler0 morefiller0"),
        (1, f"{SHORT} unique1 filler1 morefiller1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    at14 = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, min_span_chars=14,
        persist_covered=False, persist_grams=False,
    )
    at15 = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, min_span_chars=15,
        persist_covered=False, persist_grams=False,
    )
    g14 = {r["doc_id"]: r["n_removed"] for r in at14.collect()}
    g15 = {r["doc_id"]: r["n_removed"] for r in at15.collect()}
    assert g14 == {0: 5, 1: 5}
    assert g15 == {0: 0, 1: 0}


def test_maximal_span_covered_doc_without_long_island_passes_through(spark):
    """A doc whose only covered run is under min_span_chars loses no
    token: n_removed = 0 and clean_text is its single-space rejoin,
    the same row the token rebuild gave it."""
    rows = [
        (0, f"{SHORT}  unique0\tfiller0 morefiller0 "),
        (1, f"{SHORT} unique1 filler1\nmorefiller1"),
        (2, "totally unrelated content with nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, min_span_chars=50, eager=True
    )
    got = {r["doc_id"]: r for r in out.collect()}
    out.unpersist()
    assert set(got) == {0, 1, 2}
    for d, text in rows:
        assert got[d]["n_removed"] == 0
        assert got[d]["removed_fraction"] == 0.0
        assert got[d]["n_tokens"] == len(text.split())
        assert got[d]["clean_text"] == " ".join(text.split())


def test_maximal_span_merges_overlapping_grams_into_one_island(spark):
    """Adjacent/overlapping hot-gram positions form ONE maximal span:
    each individual 5-gram of the boilerplate is well under the
    threshold, only their merged run crosses it — so removal proves
    the islands actually merged."""
    rows = [
        (0, f"pre0 alpha {BOILER} omega post0"),
        (1, f"{BOILER} pre1 something else entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # every single 5-gram of BOILER rejoins to < 50 chars; the merged
    # 9-token island is 66 chars
    out = remove_duplicated_spans(
        df, "text", "doc_id", n=5, min_docs=2, min_span_chars=50, eager=True
    )
    got = {r["doc_id"]: r["n_removed"] for r in out.collect()}
    out.unpersist()
    assert got == {0: 9, 1: 9}
    plan = explain_str(
        remove_duplicated_spans(
            df, "text", "doc_id", n=5, min_docs=2, min_span_chars=50,
            persist_covered=False, persist_grams=False,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------- banded embedding LSH (OR-construction)


def test_bands_for_recall_closed_form():
    import math

    from dqmtools_spark.operators.similarity import bands_for_recall

    # threshold 0.5 -> p = 1 - acos(.5)/pi = 2/3; r=4 -> p^r = 16/81
    p4 = (2.0 / 3.0) ** 4
    expect = math.ceil(math.log(0.1) / math.log(1 - p4))
    assert bands_for_recall(0.5, 4, 0.9) == expect == 11
    # high threshold needs few bands; low threshold explodes
    assert bands_for_recall(0.95, 8, 0.9) <= 8
    assert bands_for_recall(0.35, 8, 0.9) > 100
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bands_for_recall(1.5, 4)


def test_multi_bucket_udf_matches_per_band_python(spark):
    """Every band bucket from the one-matmul UDF equals the driver-side
    pure-Python single-band bucket function (the oracle parity root)."""
    from pyspark.sql import functions as F

    from dqmtools_spark.operators.similarity import (
        int_bucket_py,
        int_multi_bucket_udf,
        int_planes,
    )

    dim, bands = 8, 5
    plane_sets = [int_planes(dim, 4, tag=f"band{i}") for i in range(bands)]
    vecs = [
        (i, [((i * 7 + j * 13) % 19 - 9) / 10.0 for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: list(r["b"])
        for r in df.select(
            "vec_id", int_multi_bucket_udf(plane_sets)(F.col("embedding")).alias("b")
        ).collect()
    }
    for vid, v in vecs:
        assert got[vid] == [int_bucket_py(v, ps) for ps in plane_sets], vid


def test_banded_pairs_find_exact_duplicates_and_verify_exactly(spark):
    """Identical vectors share every band bucket, so exact duplicates
    are found with probability 1; every returned pair satisfies the
    exact-cosine verify (precision 1.0 by construction); the plan is
    an equi-join, never a cartesian."""
    from dqmtools_spark.operators.similarity import (
        embedding_cosine_pairs_int_banded,
    )
    from dqmtools_spark.plans.audit import explain_str

    dim = 8
    rows = []
    for k in range(10):  # 10 exact-duplicate pairs
        v = [((k * 11 + j * 3) % 17 - 8) / 9.0 for j in range(dim)]
        rows.append((2 * k, v))
        rows.append((2 * k + 1, v))
    # plus unrelated near-orthogonal one-hot vectors
    for k in range(20, 28):
        rows.append((k, [1.0 if j == k % dim else 0.0 for j in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_cosine_pairs_int_banded(
        df, "embedding", "vec_id", dim, threshold=0.95, planes_per_band=4,
        n_bands=6,
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    for k in range(10):
        assert got.get((2 * k, 2 * k + 1), 0.0) >= 0.9999, k
    assert all(c >= 0.95 for c in got.values())
    plan = explain_str(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_bands_for_recall_closed_form():
    import math

    from dqmtools_spark.operators.dedup import minhash_bands_for_recall

    # s=0.5, r=4 -> s^r=1/16; b = ceil(ln .1 / ln(15/16)) = 36
    assert minhash_bands_for_recall(0.5, 4, 0.9) == math.ceil(
        math.log(0.1) / math.log(1 - 0.5**4)
    ) == 36
    # the production default (8 bands of 4 rows) reaches ~0.985 recall
    # at s=0.8 — 8 bands suffice for a 0.98 target there
    assert minhash_bands_for_recall(0.8, 4, 0.98) == 8
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_bands_for_recall(0.0, 4)
