"""Default Gopher/C4-style rule suite + per-language thresholds.

Analog of the reference's parameterized rule families (R8,
wibeth_tests.py:54-156: one class, (field, expected) params stamped into
11 rules) and per-class threshold table (R9, wibeth_tests.py:220-230,
merged at :240): here a config dict of (rule, threshold) whose rules are
SQL text, and a per-language table that becomes two
``CASE lang_pred WHEN ... END`` columns of the stats projection, with
no join.

Thresholds are part of the keep/drop contract — the pytest reference
labeler imports THRESHOLDS/LANG_THRESHOLDS from here so both sides
score identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dqmtools_spark.rules.core import QualityRule, RuleRegistry

# Global scalar thresholds (C4/Gopher-ish).
THRESHOLDS = {
    "min_word_count": 15,
    "max_word_count": 10_000,
    "min_mean_word_len": 1.5,
    "max_mean_word_len": 12.0,
    "max_symbol_ratio": 0.08,
    "max_repeated_line_fraction": 0.30,
    "min_alpha_word_fraction": 0.60,
    "max_ellipsis_line_fraction": 0.30,
    "max_bullet_line_fraction": 0.90,
}

# Per-language thresholds (R9), one CASE column each.
# zh has no whitespace stop-words and an OOV-heavy LM, so its
# stopword floor is 0 and its perplexity ceiling is effectively off.
LANG_THRESHOLDS = [
    {"lang_pred": "en", "thr_stopword_min": 0.12, "thr_ppl_max": 400.0},
    {"lang_pred": "fr", "thr_stopword_min": 0.12, "thr_ppl_max": 400.0},
    {"lang_pred": "es", "thr_stopword_min": 0.12, "thr_ppl_max": 400.0},
    {"lang_pred": "de", "thr_stopword_min": 0.12, "thr_ppl_max": 400.0},
    {"lang_pred": "zh", "thr_stopword_min": 0.0, "thr_ppl_max": 1.0e12},
]


def _sql_num(v) -> str:
    """A threshold as Spark SQL text: a float as a DOUBLE literal (a bare
    ``0.12`` parses as DECIMAL), anything else as an integer."""
    return f"{v!r}D" if isinstance(v, float) else str(int(v))


def lang_threshold_sql() -> list[str]:
    """The ``thr_stopword_min`` and ``thr_ppl_max`` columns as
    ``CASE lang_pred WHEN ... END AS <name>`` over :data:`LANG_THRESHOLDS`.
    With no ELSE, a NULL or unlisted language gets NULL, as a left join
    on the table would give it."""

    def case(col: str) -> str:
        whens = (f"WHEN '{r['lang_pred']}' THEN {_sql_num(float(r[col]))}" for r in LANG_THRESHOLDS)
        return f"CASE lang_pred {' '.join(whens)} END AS {col}"

    return [case("thr_stopword_min"), case("thr_ppl_max")]


def default_registry(thresholds: dict | None = None) -> RuleRegistry:
    """Rules over the stats columns produced by the pipeline.

    Each is one SQL expression (``F.expr``), JVM-side; ``requires``
    drives the missing-input→WARNING path (R7).  ``thresholds``
    overrides any subset of :data:`THRESHOLDS` — the reference's
    per-detector-config threshold selection
    (``scripts/dqm_analyzer.py:29-45``, R9) as a config dict; unknown
    keys raise (catch typos at build, not at 100 TB runtime).
    """
    t = dict(THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(t)
        if unknown:
            raise ValueError(f"unknown threshold keys: {sorted(unknown)}")
        t.update(thresholds)
    t = {k: _sql_num(v) for k, v in t.items()}
    reg = RuleRegistry()

    def mk(name: str, group: str, requires: tuple[str, ...], sql: str):
        reg.register(QualityRule(name, lambda df: F.expr(sql), group, requires))

    mk("min_word_count", "gopher", ("word_count",), f"word_count >= {t['min_word_count']}")
    mk("max_word_count", "gopher", ("word_count",), f"word_count <= {t['max_word_count']}")
    mk(
        "mean_word_len", "gopher", ("mean_word_len",),
        f"mean_word_len >= {t['min_mean_word_len']} "
        f"AND mean_word_len <= {t['max_mean_word_len']}",
    )
    mk("max_symbol_ratio", "c4", ("symbol_ratio",), f"symbol_ratio <= {t['max_symbol_ratio']}")
    mk(
        "repeated_lines", "c4", ("repeated_line_fraction",),
        f"repeated_line_fraction <= {t['max_repeated_line_fraction']}",
    )
    mk(
        "alpha_words", "c4", ("alpha_word_fraction",),
        f"alpha_word_fraction >= {t['min_alpha_word_fraction']}",
    )
    mk(
        "ellipsis_lines", "gopher", ("ellipsis_line_fraction",),
        f"ellipsis_line_fraction <= {t['max_ellipsis_line_fraction']}",
    )
    mk(
        "bullet_lines", "gopher", ("bullet_line_fraction",),
        f"bullet_line_fraction <= {t['max_bullet_line_fraction']}",
    )
    mk("no_curly_braces", "c4", ("has_curly_brace",), "NOT has_curly_brace")
    # per-language thresholds: the stats projection's CASE columns (R9)
    mk(
        "stopword_fraction", "gopher", ("stopword_fraction", "thr_stopword_min"),
        "stopword_fraction >= thr_stopword_min",
    )
    mk(
        "max_perplexity", "lm", ("perplexity", "thr_ppl_max"),
        "perplexity <= thr_ppl_max",
    )
    return reg
