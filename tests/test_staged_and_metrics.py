"""Staged-checkpoint resumability + SimHash banding completeness
(round-2 hardening).

- the durable text checkpoint must actually BE durable: a re-run with a
  complete checkpoint skips phase 1 (the expensive Python stage) and
  still produces identical results; force=True rebuilds.
- simhash_pairs with the default banding emits EXACTLY the brute-force
  set of pairs with Hamming <= max_hamming (pigeonhole recall 1.0).
- the Py4J commands of a staged plan build and of a SimHash signature
  plan build, pinned exactly.
"""

from __future__ import annotations

import os

import pytest

from dqmtools_spark.pipeline import run_pipeline_staged, staged_checkpoint_complete
from dqmtools_spark.synth import synth_pages

# Py4J commands on the calling thread for one plan build after a warm-up
# build.  run_pipeline_staged over a complete checkpoint of 300 synth
# pages sent 942 while the stats, the rules and the threshold join were
# Column calls, and 238 with phase 2 as SQL text
STAGED_BUILD_COMMANDS = 238
# simhash_signatures over the sf0.001 documents, default and md5 token
# hashes, sent 2,215 and 2,095 with one Column call per bit sum and OR term
SIMHASH_BUILD_COMMANDS = {"xxhash64": 136, "md5_hash60": 144}


def _success_mtime(path: str) -> float:
    return os.path.getmtime(os.path.join(path, "_SUCCESS"))


def test_staged_rerun_skips_phase1(spark, tmp_path):
    pages = synth_pages(spark, 150, seed=5)
    ckpt = str(tmp_path / "text_checkpoint")

    res1, _ = run_pipeline_staged(spark, pages, ckpt, n_buckets=8)
    first = {r["url"]: (r["keep"], tuple(r["reasons"])) for r in res1.collect()}
    assert staged_checkpoint_complete(spark, ckpt)
    t1 = _success_mtime(ckpt)

    # re-submit: phase 1 must be skipped (checkpoint untouched), results
    # identical — the durable-checkpoint kill-safety claim
    res2, _ = run_pipeline_staged(spark, pages, ckpt, n_buckets=8)
    second = {r["url"]: (r["keep"], tuple(r["reasons"])) for r in res2.collect()}
    assert second == first
    assert _success_mtime(ckpt) == t1, "checkpoint must not be rewritten"

    # force=True rebuilds (input changed scenario)
    res3, _ = run_pipeline_staged(spark, pages, ckpt, n_buckets=8, force=True)
    assert {r["url"] for r in res3.collect()} == set(first)
    assert _success_mtime(ckpt) != t1, "force must rebuild the checkpoint"


def test_half_written_checkpoint_is_rebuilt(spark, tmp_path):
    """No _SUCCESS marker (mid-write kill) -> phase 1 re-runs."""
    pages = synth_pages(spark, 60, seed=6)
    ckpt = str(tmp_path / "text_checkpoint")
    run_pipeline_staged(spark, pages, ckpt, n_buckets=4)
    os.remove(os.path.join(ckpt, "_SUCCESS"))
    assert not staged_checkpoint_complete(spark, ckpt)
    res, _ = run_pipeline_staged(spark, pages, ckpt, n_buckets=4)
    assert res.count() == 60
    assert staged_checkpoint_complete(spark, ckpt)


def test_staged_build_py4j_commands(spark, tmp_path, count_py4j_commands):
    """A threshold rerun over a complete checkpoint builds phase 2 as a
    few SQL-text projections, not one Column call per stat and rule."""
    pages = synth_pages(spark, 300, seed=7)
    ckpt = str(tmp_path / "text_checkpoint")
    run_pipeline_staged(spark, pages, ckpt, n_buckets=8)  # writes, then warms
    n = count_py4j_commands(lambda: run_pipeline_staged(spark, pages, ckpt, n_buckets=8))
    assert n == STAGED_BUILD_COMMANDS, n


@pytest.mark.parametrize("token_hash", ["xxhash64", "md5_hash60"])
def test_simhash_signature_build_py4j_commands(spark, sf_dir, count_py4j_commands, token_hash):
    """The per-bit vote sums and the OR chain are SQL text, so the
    build does not grow with ``n_bits``."""
    from dqmtools_spark.functions.hashing import md5_hash60
    from dqmtools_spark.operators.dedup import simhash_signatures

    kw = {"xxhash64": {}, "md5_hash60": dict(n_bits=60, token_hash=md5_hash60)}[token_hash]
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    simhash_signatures(d, "doc_id", "text", **kw)  # first build loads classes
    n = count_py4j_commands(lambda: simhash_signatures(d, "doc_id", "text", **kw))
    assert n == SIMHASH_BUILD_COMMANDS[token_hash], n


@pytest.mark.parametrize("max_hamming", [2, 6])
def test_simhash_banding_recall_complete(spark, max_hamming):
    """simhash_pairs output == brute-force all-pairs Hamming filter on
    the same signatures — the pigeonhole guarantee after the banding
    fix (n_bands > max_hamming)."""
    from dqmtools_spark.operators.dedup import simhash_pairs, simhash_signatures

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon " * 3).split()
    rows = []
    for i in range(12):
        words = list(base)
        # progressively mutate tokens so pairwise Hamming spans 0..large
        for j in range(i):
            words[j * 3 % len(words)] = f"mut{i}_{j}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc_id"]: r["_sig"]
            for r in simhash_signatures(df, "doc_id", "text").collect()}
    brute = {
        (a, b)
        for a in sigs for b in sigs if a < b
        and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= max_hamming
    }
    got = {(r["id_a"], r["id_b"])
           for r in simhash_pairs(df, "text", "doc_id",
                                  max_hamming=max_hamming).collect()}
    assert got == brute


def test_simhash_pairs_rejects_unsafe_bands(spark):
    from dqmtools_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, "text", "doc_id", max_hamming=8, n_bands=4)


def test_band_boundaries_partition_bits():
    from dqmtools_spark.operators.dedup import band_boundaries

    for n_bits in (60, 64):
        for n_bands in (4, 7, 9, 17):
            bounds = band_boundaries(n_bits, n_bands)
            covered = []
            for off, width in bounds:
                assert width >= 1
                covered.extend(range(off, off + width))
            assert covered == list(range(n_bits))
