"""Benchmark decontamination: flag corpus documents that share word
n-grams with an evaluation/benchmark set.

The standard training-data hygiene step (the n-gram-overlap method
popularized by the GPT-3/PaLM decontamination appendices): any corpus
document containing an n-gram (n~8-13 words) that also occurs in an
eval set is flagged (to be dropped or scrubbed).

Plan shape at 100 TB: eval sets are tiny (10^4-10^6 grams), so the
distinct eval-gram hash set BROADCASTS; the corpus side is a map-only
explode of per-doc gram hashes followed by a broadcast semi-join and a
per-doc count — no corpus-sized shuffle (the final count groups by
doc_id, whose input was already collapsed to the matched grams only,
normally a vanishing fraction of the corpus).

Hashes are the engine-portable md5/mod-p family (functions/hashing.py),
so the full output is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqmtools_spark.operators.dedup import portable_shingle_hashes


def _gram_hashes(text_col, n: int):
    # strict: a doc with fewer than n words shares NO n-gram with
    # anything — the short-doc fallback gram (or the '' gram of an
    # empty doc) must never count as benchmark overlap
    return portable_shingle_hashes(text_col, n, strict=True)


def contamination_flags(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """(id, n_contaminated_grams) for every corpus doc sharing at least
    one word n-gram with ``eval_set`` (distinct-gram counting).

    The eval gram table is marked broadcast explicitly — that is the
    scale contract (eval sets are small); the corpus side never
    shuffles its full gram inventory.
    """
    eval_grams = (
        eval_set.select(F.explode(_gram_hashes(text_col, n)).alias("_g"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(_gram_hashes(text_col, n)).alias("_g")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), "_g")
        .groupBy(id_col)
        .agg(F.count_distinct("_g").alias("n_contaminated_grams"))
    )
