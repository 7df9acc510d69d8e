"""Tests for R10/R11/S10/O2: parameterized rules, offender dumps,
results history with latest-per-name, ASCII rendering."""

from __future__ import annotations

import datetime as dt
import operator

from pyspark.sql import functions as F

from dqmtools_spark.rules.core import RuleRegistry, evaluate_rules
from dqmtools_spark.rules.report import (
    ResultsHistory,
    ascii_table,
    offenders,
    rule_family,
    threshold_rule,
)
from dqmtools_spark.schemas import BAD, OK, WARNING


def _docs(spark):
    return spark.createDataFrame(
        [(1, 10, 0.5), (2, 100, 0.9), (3, 3, 0.2)],
        "doc_id long, wc long, score double",
    )


def test_threshold_rule_string_and_callable_ops(spark):
    df = _docs(spark)
    reg = RuleRegistry()
    reg.register(threshold_rule("min_wc", "wc", ">=", 10))
    reg.register(threshold_rule("hi_score", "score", operator.gt, 0.4))
    out, outcomes = evaluate_rules(df, reg)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["keep"] and rows[2]["keep"]
    assert not rows[3]["keep"]
    assert sorted(rows[3]["reasons"]) == ["hi_score", "min_wc"]
    assert all(o.status == OK for o in outcomes)


def test_rule_family_generates_config_rules(spark):
    fam = rule_family(
        {"min_wc": ("wc", ">=", 10), "max_wc": ("wc", "<=", 50)}, group="g"
    )
    assert [r.name for r in fam] == ["min_wc", "max_wc"]
    reg = RuleRegistry()
    for r in fam:
        reg.register(r)
    out, _ = evaluate_rules(_docs(spark), reg)
    got = {r["doc_id"]: r["reasons"] for r in out.collect()}
    assert got[2] == ["max_wc"] and got[3] == ["min_wc"]


def test_offenders_returns_failing_docs(spark):
    df = _docs(spark)
    reg = RuleRegistry()
    reg.register(threshold_rule("min_wc", "wc", ">=", 10))
    out, _ = evaluate_rules(df, reg)
    off = offenders(out, "min_wc", detail_cols=["doc_id", "wc"])
    assert [r.asDict() for r in off.collect()] == [{"doc_id": 3, "wc": 3}]


def test_results_history_latest_per_name(spark, tmp_path):
    h = ResultsHistory(spark, str(tmp_path / "hist"))
    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 1, 2)
    h.append([{"name": "r1", "status": BAD, "message": "5/10 failed"}], now=t1)
    h.append(
        [
            {"name": "r1", "status": OK, "message": "0/10 failed"},
            {"name": "r2", "status": WARNING, "message": "missing input"},
        ],
        now=t2,
    )
    latest = {r["name"]: r for r in h.latest().collect()}
    assert latest["r1"]["status"] == OK  # newest wins
    assert latest["r2"]["status"] == WARNING
    assert h.all().count() == 3

    txt = ascii_table(h.latest().collect())
    assert "r1" in txt and "OK" in txt and "WARNING" in txt
    assert txt.splitlines()[0].startswith("name")


def test_results_history_parquet_roundtrip(spark, tmp_path):
    h = ResultsHistory(spark, path=str(tmp_path / "hist"))

    def n_files():
        return len(list((tmp_path / "hist").glob("*.parquet")))

    # enough rows that the frame spans several Arrow slices: each
    # append still adds one file
    h.append([{"name": f"r{i}", "status": OK, "message": "ok"} for i in range(1, 41)])
    assert n_files() == 1
    h.append([{"name": "r1", "status": BAD, "message": "later"},],
             now=dt.datetime(2030, 1, 1))
    assert n_files() == 2
    assert h.all().count() == 41
    assert h.latest().first()["message"] == "later"
