"""Gopher repetition signals that need cross-row machinery: the
"fraction of characters in the most common word n-gram" family.

``repeated_line_fraction`` / ``dedup_repeated_lines`` (textstats) cover
line-level boilerplate per-row; the n-gram repetition signal needs a
per-document modal gram, which scales as explode -> hash-aggregate ->
per-doc argmax (two shuffles keyed by doc id, both map-side
combinable) instead of a quadratic per-row HOF.

Semantics (Gopher-style): for each document, find the most frequent
word n-gram (multiplicity counted, ties -> lexicographically smallest
gram) and report count * length(gram) / length(text) — the fraction of
the document the repeated gram "covers" (overlaps can push it past 1.0
on degenerate inputs, same as the published heuristic; it is a
filtering signal, not a measure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dqmtools_spark.operators.dedup import word_shingles


def top_ngram_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """(id, top_gram, top_count, char_fraction) per document.

    Empty documents report fraction 0.0; documents shorter than n words
    use their full token window as the single gram (word_shingles
    fallback).  Every NON-NULL-text document appears exactly once in
    the output; NULL-text documents are EXCLUDED (word_shingles maps
    null text to null and the explode drops the row) — the right
    contract for a repetition signal (a null doc has no modal gram),
    and the one the DuckDB oracle shares.
    """
    grams = word_shingles(text_col, n, distinct=False)
    ex = df.select(
        F.col(id_col),
        F.length(text_col).alias("_nch"),
        F.explode(grams).alias("_g"),
    )
    counts = ex.groupBy(id_col, "_nch", "_g").agg(
        F.count(F.lit(1)).alias("top_count")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("top_count"), F.asc("_g")
    )
    top = counts.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") == 1
    )
    frac = F.when(F.col("_nch") == 0, F.lit(0.0)).otherwise(
        (F.col("top_count") * F.length("_g")).cast("double") / F.col("_nch")
    )
    return top.select(
        F.col(id_col),
        F.col("_g").alias("top_gram"),
        F.col("top_count"),
        frac.alias("char_fraction"),
    )


def dup_line_stats(
    df: DataFrame, lines_col, id_col: str
) -> DataFrame:
    """Gopher duplicate-line signals per document: the fraction of
    lines that repeat an earlier identical line, and the fraction of
    line characters those repeats account for.

    ``lines_col``: array<string> column expression (the caller chooses
    the line derivation — real ``\\n`` lines, or a deterministic
    chunking when the corpus is single-line).

    Counting is multiplicity-based with keep-first semantics: a line
    occurring c times contributes c-1 duplicate lines and (c-1)*len
    duplicate characters — no window needed, so the plan is explode ->
    ONE map-side-combinable hash aggregate on (doc, line) -> ONE on
    doc: two exchanges keyed by the doc id, never a per-doc sort.  The
    emitted fractions are single exact divisions of integer counts
    (engine-portable); the counts themselves ride along for integer
    comparison.  NULL-text documents are excluded (same contract as
    :func:`top_ngram_stats`).
    """
    ex = df.select(
        F.col(id_col), F.explode(lines_col).alias("_line")
    ).withColumn("_len", F.length("_line").cast("long"))
    # _len is functionally dependent on _line; grouping on it too keeps
    # the aggregate purely map-side-combinable (no first())
    per_line = ex.groupBy(id_col, "_line", "_len").agg(
        F.count(F.lit(1)).alias("_c")
    )
    per_doc = per_line.groupBy(id_col).agg(
        F.sum("_c").alias("n_lines"),
        F.sum(F.col("_c") - 1).alias("dup_lines"),
        F.sum(F.col("_c") * F.col("_len")).alias("line_chars"),
        F.sum((F.col("_c") - 1) * F.col("_len")).alias("dup_chars"),
    )
    safe = lambda num, den: F.when(  # noqa: E731
        F.col(den) == 0, F.lit(0.0)
    ).otherwise(F.col(num).cast("double") / F.col(den))
    return per_doc.select(
        id_col,
        "n_lines",
        "dup_lines",
        "dup_chars",
        safe("dup_lines", "n_lines").alias("dup_line_frac"),
        safe("dup_chars", "line_chars").alias("dup_char_frac"),
    )
