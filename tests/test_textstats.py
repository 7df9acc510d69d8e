"""The nine phase-2 stats from ``jvm_phase`` against the pandas
reference's ``_stats`` on edge texts, value for value."""

from __future__ import annotations

import pytest

from dqmtools_spark.pipeline import jvm_phase
from tests.reference_impl import _stats

STATS = [
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "stopword_fraction",
    "repeated_line_fraction",
    "alpha_word_fraction",
    "ellipsis_line_fraction",
    "bullet_line_fraction",
    "has_curly_brace",
]

EDGE_TEXTS = {
    "empty": "",
    "whitespace_only": "  \t \r ",
    "newlines_only": "\n\n\n",
    "lines_of_spaces": "   \n \n      \nthe end\n   ",
    "ellipsis": "wait for it...\nand then…\nthe end.\n..\n… not at the end",
    "bullets": "- one\n* two\n• three\n-no space\n*no space\n•no space\nplain line",
    "curly_brace": "function f() { return 1; }\nthe and of",
    "cjk": "的是在了 我们 中文\n中文 中文\n中文 中文",
    "tabs": "col1\tcol2\tcol3\nthe\tand\tof\n\tindented\tline",
    "repeated_lines": "same line\nsame line\nother line\nsame line\n",
    "symbols_digits": "3.14 = π; 42% of $10 -> ½ ¾ © ™ #tag @user",
    "ten_k_words": "\n".join(
        " ".join(["the", "quick", "brown", "fox", "...", "l'été", "123"][(i + j) % 7]
                 for j in range(10))
        for i in range(1000)
    ),
}

# Python's str.split() and str.strip() treat every Unicode whitespace
# as whitespace; Java's \s is ASCII whitespace only, and Spark's trim()
# strips spaces alone, so the two sides disagree on these texts
DISAGREE = {
    "tab_only_line": "the and of\n\t\nthe and of",
    "nbsp": "the\u00a0and of",
}


def _spark_stats(spark, texts: dict[str, str]) -> dict[str, dict]:
    df = spark.createDataFrame(
        [(name, text, "en") for name, text in texts.items()],
        "url string, text_ex string, lang_pred string",
    )
    return {r["url"]: r.asDict() for r in jvm_phase(df, spark).select("url", *STATS).collect()}


def test_stats_equal_reference_on_edge_texts(spark):
    got = _spark_stats(spark, EDGE_TEXTS)
    assert len(EDGE_TEXTS["ten_k_words"].split()) == 10_000
    for name, text in EDGE_TEXTS.items():
        want = _stats(text)
        assert {k: got[name][k] for k in STATS} == want, name


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="Unicode whitespace: Python's split()/strip() vs Java's \\s and Spark's trim()",
)
@pytest.mark.parametrize("name", sorted(DISAGREE))
def test_stats_unicode_whitespace_disagree(spark, name):
    got = _spark_stats(spark, {name: DISAGREE[name]})[name]
    assert {k: got[k] for k in STATS} == _stats(DISAGREE[name])
