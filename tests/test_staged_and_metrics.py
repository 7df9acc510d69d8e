"""Staged-checkpoint resumability + SimHash banding completeness
(round-2 hardening).

- the durable text checkpoint must actually BE durable: a re-run with a
  complete checkpoint skips phase 1 (the expensive Python stage) and
  still produces identical results; force=True rebuilds.
- simhash_pairs with the default banding emits EXACTLY the brute-force
  set of pairs with Hamming <= max_hamming (pigeonhole recall 1.0).
"""

from __future__ import annotations

import os

import pytest

from dqmtools_spark.pipeline import run_pipeline_staged, staged_checkpoint_complete
from dqmtools_spark.synth import synth_pages


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
