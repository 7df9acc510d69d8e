"""Result reporting: parameterized rule builders, offender diagnostics,
and the append-only results history with latest-per-name view.

Reference semantics (file:line into /root/reference):

- R10 comparison-operator param: ``CheckRMS`` takes ``operator.gt`` /
  ``operator.lt`` for its high/low variants
  (``python/dqmtools/dqmtests/wibeth_tests.py:215,231,242``;
  configured at ``scripts/dqm_analyzer.py:68-71``) →
  :func:`threshold_rule` builds a QualityRule from (stat, op, value).
- R11 verbose offender dump: on failure the reference joins detail rows
  back and prints the offending table
  (``common_tests.py:48-62``, ``wibeth_tests.py:199-208``) →
  :func:`offenders` returns the failing documents as a DataFrame.
- result model (``dqmtools.py:75,96,99-104``): results are appended
  rows ``{name, result, message, last_update}`` with latest-per-name
  dedup ``sort_values('last_update').drop_duplicates(['name'])`` →
  :class:`ResultsHistory` appends to a parquet table; ``latest()`` runs
  that same pandas dedup over the collected history.
- a submit's status (``dqmtools.py:106-120``) folds the grand-total
  row of :func:`collect_rule_metrics` (:func:`dqmtools_spark.job.submit`).
- S10 ASCII table sink (``dqmtools.py:157-171``, tabulate) →
  :func:`ascii_table` renders the (small, post-aggregation) results.
"""

from __future__ import annotations

import datetime as dt
import operator as _op
from collections.abc import Callable, Iterable, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dqmtools_spark.pipeline import rule_metrics_aggs
from dqmtools_spark.rules.core import QualityRule
from dqmtools_spark.schemas import BAD, INVALID, OK, RULE_RESULTS_SCHEMA, WARNING
from dqmtools_spark.sources.tables import read_table

# ------------------------------------------------------------------ R10

_OPS: dict[str, Callable[[Column, object], Column]] = {
    ">": _op.gt,
    ">=": _op.ge,
    "<": _op.lt,
    "<=": _op.le,
    "==": _op.eq,
    "!=": _op.ne,
}


def threshold_rule(
    name: str,
    stat: str,
    op: str | Callable[[Column, object], Column],
    value,
    group: str = "default",
) -> QualityRule:
    """Rule from (stat column, comparison operator, threshold).

    ``op`` is a symbol string or any callable ``(Column, value) ->
    Column`` — python's ``operator.gt``/``lt`` work directly, matching
    the reference's parameterization.
    """
    fn = _OPS[op] if isinstance(op, str) else op
    return QualityRule(
        name=name,
        builder=lambda df, s=stat, v=value: fn(df[s], v),
        group=group,
        requires=(stat,),
    )


def rule_family(
    spec: dict[str, tuple[str, str, object]], group: str = "default"
) -> list[QualityRule]:
    """R8 rule-family generator: ``{name: (stat, op, value)}`` — the
    config-table form of the reference's 11 stamped subclasses
    (wibeth_tests.py:54-156)."""
    return [
        threshold_rule(name, stat, op, value, group)
        for name, (stat, op, value) in spec.items()
    ]


# ------------------------------------------------------------------ R11


def offenders(
    evaluated: DataFrame,
    rule_name: str,
    detail_cols: list[str] | None = None,
    prefix: str = "pass_",
    limit: int | None = 100,
) -> DataFrame:
    """Documents failing ``rule_name`` with their diagnostic columns —
    the reference's verbose failure dump as a lazy DataFrame (bounded
    by default: at 10^12 docs an unlimited offender dump is an outage).
    """
    out = evaluated.filter(~F.col(f"{prefix}{rule_name}"))
    if detail_cols:
        out = out.select(*detail_cols)
    return out.limit(limit) if limit is not None else out


# ------------------------------------------------- results history + O2

_STATUS_LABEL = {INVALID: "INVALID", BAD: "BAD", OK: "OK", WARNING: "WARNING"}


def collect_rule_metrics(
    doc_results: DataFrame, rule_names: list[str]
) -> tuple[pd.DataFrame, StructType]:
    """The rule-metrics cube over ``doc_results`` (as
    :func:`~dqmtools_spark.pipeline.rule_metrics_from_results`) in one
    aggregate, collected, plus the ``rule_metrics`` table's schema.  The
    rows carry ``_gid = grouping_id()``, 1 on the grand-total row alone:
    documents whose ``lang_pred`` is NULL form a row with a NULL key too.
    """
    cube = doc_results.cube("lang_pred").agg(
        *rule_metrics_aggs(rule_names), F.grouping_id().alias("_gid")
    )
    schema = StructType([f for f in cube.schema if f.name != "_gid"])
    return cube.toPandas(), schema


class ResultsHistory:
    """Append-only run-result history in a parquet dir, with a
    latest-per-name view (the reference keeps it in memory,
    dqmtools.py:99-104)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def append(self, rows: list[dict], now: dt.datetime | None = None) -> None:
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = [{**r, "last_update": r.get("last_update", now)} for r in rows]
        # from pandas, so the rows cross over Arrow instead of being
        # pickled and decoded by a Python worker job; one file per
        # append, not one per Arrow slice
        self.spark.createDataFrame(
            pd.DataFrame(rows, columns=RULE_RESULTS_SCHEMA.fieldNames()),
            RULE_RESULTS_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(self.path)

    def all(self) -> DataFrame:
        return read_table(self.spark, self.path, RULE_RESULTS_SCHEMA)

    def latest(self) -> DataFrame:
        """O2: one row per rule name, newest last_update wins, sorted by
        name.  The history is a few rows per submit, so it is collected
        once and deduplicated as the reference does
        (``sort_values('last_update').drop_duplicates(['name'])``)."""
        pdf = self.all().toPandas().sort_values("last_update", kind="stable")
        pdf = pdf.drop_duplicates(["name"], keep="last").sort_values("name")
        return self.spark.createDataFrame(pdf, RULE_RESULTS_SCHEMA)


def ascii_table(rows: Iterable[Mapping], show_last_update: bool = True) -> str:
    """Render result rows (dicts or collected Rows) as an aligned ASCII
    table — the reference's tabulate sink (dqmtools.py:157-171)."""
    headers = ["name", "status", "message"] + (
        ["last_update"] if show_last_update else []
    )
    table = [
        [str(_STATUS_LABEL.get(r[h], r[h]) if h == "status" else r[h]) for h in headers]
        for r in rows
    ]
    widths = [
        max(len(h), *(len(row[i]) for row in table)) if table else len(h)
        for i, h in enumerate(headers)
    ]
    sep = "-+-".join("-" * w for w in widths)
    lines = [" | ".join(h.ljust(w) for h, w in zip(headers, widths)), sep]
    for row in table:
        lines.append(" | ".join(c.ljust(w) for c, w in zip(row, widths)))
    return "\n".join(lines)
