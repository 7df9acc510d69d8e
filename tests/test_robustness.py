"""Adversarial inputs through the full pipeline: the 100 TB rule is
that no single document may fail the job (reference R2 semantics,
dqmtools.py:60-68, lifted to per-doc null-safety)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dqmtools_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def adversarial(spark):
    big = ("word " * 200_000).encode()                  # ~1 MB doc
    rows = [
        ("u://null-html", None, None, None, None),
        ("u://empty", None, b"", None, None),
        ("u://invalid-utf8", None, b"\xff\xfe\x80 broken \xc3(", None, "en"),
        ("u://binary-junk", None, bytes(range(256)) * 4, None, None),
        ("u://huge", None, big, None, "en"),
        ("u://nested-script", None,
         b"<script>var x = '<script>';</script>visible the and of to in", None, "en"),
        ("u://only-tags", None, b"<div><p></p></div>", None, None),
        ("u://emoji", None, "caf\u00e9 \U0001f600 na\u00efve the and of".encode(), None, "en"),
        ("u://crlf", None, b"line one the and\r\nline two of to\r\n\r\n", None, "en"),
        ("u://cjk", None, "\u7684\u662f\u5728\u4e86 \u6211\u4eec \u4e2d\u6587".encode(), None, "zh"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    result, outcomes = run_pipeline(spark, df, n_buckets=4)
    return {r["url"]: r for r in result.collect()}, outcomes


def test_no_document_kills_the_job(adversarial):
    rows, outcomes = adversarial
    assert len(rows) == 10                      # every row made it through
    assert all(o.column is not None for o in outcomes)


def test_null_and_empty_fail_closed(adversarial):
    rows, _ = adversarial
    assert rows["u://null-html"]["keep"] is False
    assert rows["u://null-html"]["scrubbed_text"] is None
    assert rows["u://empty"]["keep"] is False


def test_degenerate_docs_are_dropped_not_errored(adversarial):
    rows, _ = adversarial
    for url in ("u://binary-junk", "u://only-tags", "u://invalid-utf8"):
        assert rows[url]["keep"] is False, url
        assert rows[url]["reasons"], url


def test_huge_doc_hits_max_word_count(adversarial):
    rows, _ = adversarial
    assert "max_word_count" in rows["u://huge"]["reasons"]


def test_unicode_survives_byte_identically(adversarial):
    rows, _ = adversarial
    assert "caf\u00e9" in rows["u://emoji"]["scrubbed_text"]
    assert "\U0001f600" in rows["u://emoji"]["scrubbed_text"]


def test_cjk_routes_to_zh_rules(adversarial):
    rows, _ = adversarial
    assert rows["u://cjk"]["lang_pred"] == "zh"


def test_determinism_across_runs(spark, adversarial):
    rows, _ = adversarial
    df = spark.createDataFrame(
        [("u://invalid-utf8", None, b"\xff\xfe\x80 broken \xc3(", None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    again, _ = run_pipeline(spark, df, n_buckets=4)
    r = again.first()
    assert r["scrubbed_text"] == rows["u://invalid-utf8"]["scrubbed_text"]
    assert r["reasons"] == rows["u://invalid-utf8"]["reasons"]


# ---------------------------------------- round-2 tier degenerate inputs


def test_minhash_md5_degenerate_docs(spark):
    """null / empty / whitespace / single-word docs must not blow up or
    flood a constant bucket; identical degenerate docs still pair."""
    from dqmtools_spark.operators.dedup import minhash_lsh_pairs_md5

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "word"), (5, "word"),
         (6, "a completely ordinary sentence with enough words in it")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs_md5(df, "text", "doc_id").collect()}
    assert (4, 5) in pairs and pairs[(4, 5)] == 1.0   # identical one-worders
    assert all(1 not in p for p in pairs)             # null text never pairs
    # "" and "   " both shingle to {''} -> legitimately identical
    assert (2, 3) in pairs


def test_simhash_md5_degenerate_docs(spark):
    from dqmtools_spark.functions.hashing import md5_hash60
    from dqmtools_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "x y z"), (5, "x y z")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, "text", "doc_id", max_hamming=0,
                                    n_bits=60, token_hash=md5_hash60).collect()}
    assert pairs.get((4, 5)) == 0
    assert pairs.get((2, 3)) == 0                     # both empty -> sig 0
    assert all(1 not in p for p in pairs)             # null text excluded


def test_int_lsh_zero_and_negative_vectors(spark):
    """Zero vectors land in one well-defined bucket (all signs >= 0);
    negated vectors land in the complementary bucket."""
    from dqmtools_spark.operators.similarity import (
        build_int_ann_index,
        int_bucket_py,
        int_planes,
    )

    planes = int_planes(4, 5)
    rows = [(1, [0.0, 0.0, 0.0, 0.0]),
            (2, [0.5, -0.25, 0.125, -0.5]),
            (3, [-0.5, 0.25, -0.125, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["bucket"]
           for r in build_int_ann_index(df, "embedding", planes).collect()}
    assert got[1] == (1 << 5) - 1                     # zero proj -> all bits set
    assert got[2] == int_bucket_py(rows[1][1], planes)
    assert got[2] ^ got[3] == (1 << 5) - 1            # exact complement


def test_ivf_ip_fewer_rows_than_centroids(spark):
    """n_centroids > corpus size must degrade gracefully (centroids =
    every row) and still answer queries."""
    from dqmtools_spark.operators.similarity import build_ivf_ip_index, ivf_ip_query

    rows = [(i, [float(i + 1), float(-i)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    indexed, cents = build_ivf_ip_index(df, "embedding", "vec_id", n_centroids=8)
    assert len(cents) == 3
    out = ivf_ip_query(indexed, cents, "embedding", "vec_id",
                       [1.0, 0.0], k=5, n_probe=8)
    assert out.count() == 3


def test_spectral_peak_handles_empty_and_null(spark):
    from pyspark.sql import functions as F

    from dqmtools_spark.functions.spectral import power_spectrum_udf

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "id long, sig array<double>"
    )
    got = {r["id"]: r["ps"] for r in
           df.select("id", power_spectrum_udf(F.col("sig")).alias("ps")).collect()}
    assert got[2] is None
    assert len(got[1]) == 2                            # rfft of n=2 -> 2 bins


def test_spectral_peak_dc_tie_never_wins(spark):
    """Signal [1,0,1,0] has power 4.0 at BOTH bin 0 (DC) and bin 2; the
    peak search must return bin 2 (DC excluded), not 0."""
    from pyspark.sql import functions as F

    from dqmtools_spark.functions.spectral import power_spectrum_udf, spectral_peak

    df = spark.createDataFrame([(1, [1.0, 0.0, 1.0, 0.0])], "id long, sig array<double>")
    ps = df.withColumn("_ps", power_spectrum_udf(F.col("sig")))
    peak_bin, peak_power = spectral_peak(F.col("_ps"))
    r = ps.select(peak_bin.alias("b"), F.round(peak_power, 6).alias("p")).first()
    assert r["b"] == 2 and r["p"] == 4.0


def test_quantization_exact_half_is_engine_consistent(spark):
    """float32(1/128)*1e6 == 7812.5 exactly — the rounding-mode trap
    (numpy half-even vs Java HALF_UP vs C half-away).  floor-based
    quantization must agree across the pandas UDF, the JVM expression,
    pure Python, and DuckDB."""
    import duckdb

    from pyspark.sql import functions as F

    from dqmtools_spark.operators.similarity import (
        QUANT_SCALE,
        build_int_ann_index,
        int_bucket_expr,
        int_bucket_py,
        int_planes,
        quantize_vec,
    )

    v = [1.0 / 128, -1.0 / 128, 0.25, -0.5]        # first two hit k+-0.5
    planes = int_planes(4, 3)
    df = spark.createDataFrame([(1, v)], "vec_id long, embedding array<float>")

    q_jvm = df.select(quantize_vec(F.col("embedding")).alias("q")).first()["q"]
    q_duck = [
        r[0] for r in duckdb.sql(
            f"SELECT CAST(FLOOR(y * {QUANT_SCALE}) AS BIGINT) "
            f"FROM (SELECT UNNEST({v}::DOUBLE[]) AS y)"
        ).fetchall()
    ]
    assert list(q_jvm) == q_duck == [7812, -7813, 250000, -500000]

    b_udf = build_int_ann_index(df, "embedding", planes).first()["bucket"]
    b_expr = df.select(
        int_bucket_expr(F.col("embedding"), planes).alias("b")
    ).first()["b"]
    assert b_udf == b_expr == int_bucket_py(v, planes)


def test_warc_member_split_feeds_linear_bytes(monkeypatch):
    """A Common Crawl segment holds tens of thousands of gzip members.
    Each member's decompressor must get a bounded window of the file,
    not the rest of it, or the split copies members x file size bytes."""
    import gzip
    import random
    import zlib

    from dqmtools_spark.sources.warc import split_gzip_members

    rng = random.Random(7)
    members = [rng.randbytes(1000) for _ in range(4000)]
    data = b"".join(gzip.compress(m) for m in members)
    size, fed = len(data), 0
    real_decompressobj = zlib.decompressobj

    class CountingDecompressor:
        def __init__(self, *args, **kwargs):
            self._d = real_decompressobj(*args, **kwargs)

        def decompress(self, buf, max_length=0):
            nonlocal fed
            fed += len(buf)
            return self._d.decompress(buf, max_length)

        def __getattr__(self, name):
            return getattr(self._d, name)

    monkeypatch.setattr(zlib, "decompressobj", CountingDecompressor)
    assert list(split_gzip_members(data)) == members
    assert fed <= 3 * size, (fed, size)
