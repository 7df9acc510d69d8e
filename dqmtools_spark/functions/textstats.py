"""Heuristic text statistics as Spark SQL expressions.

Gopher/C4-style per-document quality signals, kept entirely JVM-side
(whole-stage codegen; no Python in the hot path).  Analog of the
reference's per-channel stats consumption (SURVEY §2.5 G10,
``wibeth_tests.py:241-242``) — here recomputed natively per document.

Canonical token definition (shared with textproc.py reference impl):
whitespace runs split the text; lines split on ``\\n``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dqmtools_spark.functions.textproc import LANG_MARKERS

# union of all language marker words — used for the stop-word fraction
ALL_MARKERS = sorted(set().union(*LANG_MARKERS.values()))


def lines(text: Column) -> Column:
    return F.split(text, r"\n")


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: word pieces + standalone punctuation."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]")).cast("long")


# one compiled alternation over all marker words; token boundaries are
# whitespace-or-edge lookarounds so "the" never matches inside "then"
_MARKER_PATTERN = (
    r"(?:(?<=\s)|^)(?:" + "|".join(ALL_MARKERS) + r")(?=\s|$)"
)


def nonempty_lines_sql(text: str) -> str:
    """SQL text of the lines of ``text`` that hold more than spaces.
    The three line stats read it from an inner projection: each lambda
    is a fresh variable, so the plan would split the text once per use."""
    return rf"filter(split({text}, r'\n'), x -> length(trim(x)) > 0)"


def all_stats(text: str, lines: str) -> list[str]:
    """The stat bundle the rule layer consumes, as ``<sql> AS <name>``
    strings over the text column ``text`` and the column ``lines``
    holding :func:`nonempty_lines_sql` of it.

    Every token stat is one ``regexp_count`` pass, never a per-token
    higher-order function: those are interpreted and break
    whole-stage codegen.  A token is a maximal ``\\S+`` run, so
    ``word_count`` equals the size of the whitespace split, and the
    mean token length is (non-whitespace chars) / word_count."""
    wc = rf"CAST(regexp_count({text}, r'\S+') AS BIGINT)"

    def per_word(num: str) -> str:
        return f"CASE WHEN {wc} = 0 THEN 0.0D ELSE CAST({num} AS DOUBLE) / {wc} END"

    def per_line(pred: str) -> str:
        return (
            f"CASE WHEN size({lines}) = 0 THEN 0.0D "
            f"ELSE CAST(size(filter({lines}, x -> {pred})) AS DOUBLE) / size({lines}) END"
        )

    return [
        f"{wc} AS word_count",
        f"CASE WHEN {wc} = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        rf"CAST(length({text}) - regexp_count({text}, r'\s') AS DOUBLE) / {wc} END"
        " AS mean_word_len",
        # fraction of characters that are not letters, digits or whitespace
        f"CASE WHEN length({text}) = 0 THEN 0.0D ELSE "
        rf"CAST(regexp_count({text}, r'[^\p{{L}}\p{{N}}\s]') AS DOUBLE) / length({text}) END"
        " AS symbol_ratio",
        # (any-language) marker stop-words: a 58-way array_contains per
        # token is an interpreted HOF; one pass over the lowered text
        # counts the same token hits ~5x faster
        per_word(f"regexp_count(lower({text}), r'{_MARKER_PATTERN}')") + " AS stopword_fraction",
        # 1 - distinct/total over non-empty lines (boilerplate detector)
        f"CASE WHEN size({lines}) = 0 THEN 0.0D ELSE "
        f"1.0D - CAST(size(array_distinct({lines})) AS DOUBLE) / size({lines}) END"
        " AS repeated_line_fraction",
        # tokens with a letter = wc - (letterless tokens); a letterless
        # token is a [^\s\p{L}]+ run between whitespace boundaries
        per_word(rf"{wc} - regexp_count({text}, r'(?:(?<=\s)|^)[^\s\p{{L}}]+(?=\s|$)')")
        + " AS alpha_word_fraction",
        # Gopher: lines ending in an ellipsis (truncated boilerplate/nav)
        per_line("endswith(x, '...') OR endswith(x, '…')") + " AS ellipsis_line_fraction",
        # Gopher: bullet-item lines
        per_line("startswith(x, '- ') OR startswith(x, '* ') OR startswith(x, '• ')")
        + " AS bullet_line_fraction",
        # C4: '{' almost always means leaked code/templating
        f"contains({text}, '{{') AS has_curly_brace",
    ]


def dedup_repeated_lines(text: Column) -> Column:
    """Gopher-style intra-document boilerplate REMOVAL (the transform
    companion of the ``repeated_line_fraction`` stat): keep the
    FIRST occurrence of every exact line, preserving order, and
    reassemble with newlines.  Per-row, no shuffle.

    ``array_distinct`` is O(L) per doc and keep-first-order in Spark
    (pinned by test_dedup_lines_distinct_is_keep_first against the
    positional-filter reference form, which is O(L^2) — quadratic in
    lines would bite on 10k-line boilerplate pages at corpus scale);
    the DuckDB oracle uses the positional form because LIST_DISTINCT
    does not guarantee order there."""
    return F.array_join(F.array_distinct(lines(text)), "\n")
