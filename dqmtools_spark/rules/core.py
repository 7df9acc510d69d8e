"""Rule registry + evaluation + status fold.

Reference semantics preserved (file:line cites into /root/reference):

- R1 rule protocol (dqmtools.py:40-58): here a rule is *data* — a name,
  a group, and a builder ``DataFrame -> Column`` returning a boolean
  "pass" column — not a class hierarchy.
- R2 exception→BAD (dqmtools.py:60-68): a builder that raises at plan
  time marks the rule BAD and removes it from the per-doc fold, instead
  of killing the job.
- R3 duplicate-name guard (dqmtools.py:78-84): ValueError at register.
- R4 suites (dqmtools.py:54-55): ``group`` labels give nested folds.
- R5 status fold (dqmtools.py:106-120): any BAD/INVALID → BAD, else any
  WARNING → WARNING, else OK.
- R7 missing-input→WARNING (wibeth_tests.py:16-17): a rule whose
  required columns are absent yields status WARNING, not an error.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dqmtools_spark.schemas import BAD, INVALID, OK, WARNING
from dqmtools_spark.sqltext import sql_ident, sql_str


@dataclass(frozen=True)
class QualityRule:
    """A named per-document check. ``builder(df)`` returns a boolean
    Column that is True when the document PASSES."""

    name: str
    builder: Callable[[DataFrame], Column]
    group: str = "default"
    requires: tuple[str, ...] = ()


@dataclass
class RuleRegistry:
    _rules: dict[str, QualityRule] = field(default_factory=dict)

    def register(self, rule: QualityRule) -> QualityRule:
        if rule.name in self._rules:  # R3 duplicate guard
            raise ValueError(f"test with name {rule.name} already registered")
        self._rules[rule.name] = rule
        return rule

    def rule(self, name: str, group: str = "default", requires: tuple[str, ...] = ()):
        """Decorator sugar: ``@registry.rule("min_word_count")``."""

        def deco(fn: Callable[[DataFrame], Column]):
            self.register(QualityRule(name, fn, group, requires))
            return fn

        return deco

    def rules(self) -> list[QualityRule]:
        return list(self._rules.values())

    def groups(self) -> list[str]:
        seen: dict[str, None] = {}
        for r in self._rules.values():
            seen.setdefault(r.group, None)
        return list(seen)


@dataclass
class RuleBuildOutcome:
    """Per-rule plan-time outcome: applied, or degraded to a status."""

    rule: QualityRule
    column: Column | None
    status: int  # OK if applied; WARNING (missing input) / BAD (broken)
    detail: str = ""


def _plan_rules(df: DataFrame, registry: RuleRegistry) -> list[RuleBuildOutcome]:
    cols = set(df.columns)
    outcomes: list[RuleBuildOutcome] = []
    for rule in registry.rules():
        missing = [c for c in rule.requires if c not in cols]
        if missing:  # R7
            outcomes.append(
                RuleBuildOutcome(rule, None, WARNING, f"missing input: {missing}")
            )
            continue
        try:
            col = rule.builder(df)
        except Exception as exc:  # noqa: BLE001 — R2 exception→BAD
            outcomes.append(RuleBuildOutcome(rule, None, BAD, repr(exc)))
            continue
        outcomes.append(RuleBuildOutcome(rule, col, OK))
    return outcomes


def evaluate_rules(
    df: DataFrame, registry: RuleRegistry, prefix: str = "pass_"
) -> tuple[DataFrame, list[RuleBuildOutcome]]:
    """Attach one boolean ``pass_<rule>`` column per applicable rule,
    plus ``reasons`` (failed rule names, in registration order) and
    ``keep``.

    Two projections: the Columns the rules return, then one
    ``selectExpr`` of SQL text for the rest.  Catalyst sees every rule
    as a plain expression over the stats columns, so the whole rule
    suite is one codegen stage with zero shuffles.
    """
    outcomes = _plan_rules(df, registry)
    applied = [o for o in outcomes if o.column is not None]
    raw = df.select("*", *[o.column.alias(prefix + o.rule.name) for o in applied])
    # null-safe: a null pass (e.g. a null stat on an empty doc) counts as
    # FAIL, so a poisoned row can't silently pass (R2 in per-doc form)
    passes = {o.rule.name: f"coalesce({sql_ident(prefix + o.rule.name)}, false)" for o in applied}
    failed = [f"CASE WHEN NOT {p} THEN {sql_str(n)} END" for n, p in passes.items()]
    reasons = (
        f"array_compact(array({', '.join(failed)}))" if failed
        else "CAST(array() AS ARRAY<STRING>)"
    )
    out = raw.selectExpr(
        *map(sql_ident, df.columns),
        *[f"{p} AS {sql_ident(prefix + n)}" for n, p in passes.items()],
        f"{reasons} AS reasons",
        f"{' AND '.join(passes.values()) or 'true'} AS keep",
    )
    return out, outcomes


def fold_status(statuses: list[int]) -> int:
    """R5 lattice: any BAD/INVALID → BAD; else any WARNING → WARNING;
    else OK (dqmtools.py:106-120)."""
    if any(s in (BAD, INVALID) for s in statuses):
        return BAD
    if any(s == WARNING for s in statuses):
        return WARNING
    return OK


def rule_level_results(
    evaluated: DataFrame,
    outcomes: list[RuleBuildOutcome],
    prefix: str = "pass_",
    now: dt.datetime | None = None,
) -> list[dict]:
    """Dataset-level result rows per rule (reference result model
    dqmtools.py:75): one aggregation pass computes every rule's
    fail-count, then :func:`fold_rule_results` folds them."""
    applied = [o for o in outcomes if o.column is not None]
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.count_if(~F.col(f"{prefix}{o.rule.name}")).alias(o.rule.name)
        for o in applied
    ]
    counts = evaluated.agg(*aggs).collect()[0].asDict()
    n = counts.pop("_n")
    return fold_rule_results(outcomes, n, counts, now)


def fold_rule_results(
    outcomes: list[RuleBuildOutcome],
    n: int,
    fails: dict[str, int],
    now: dt.datetime | None = None,
) -> list[dict]:
    """Result rows (name, status, message, last_update) from ``n``
    documents and each applied rule's fail count, ``fails[name]``; the
    statuses fold per group and overall."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows: list[dict] = []
    group_status: dict[str, list[int]] = {}
    for o in outcomes:
        if o.column is None:
            status, msg = o.status, o.detail
        else:
            nfail = fails[o.rule.name]
            status = BAD if nfail else OK
            msg = f"{nfail}/{n} documents failed"
        rows.append(
            {
                "name": o.rule.name,
                "status": status,
                "message": msg,
                "last_update": now,
            }
        )
        group_status.setdefault(o.rule.group, []).append(status)
    for grp, sts in group_status.items():
        rows.append(
            {
                "name": f"suite:{grp}",
                "status": fold_status(sts),
                "message": f"{len(sts)} rules",
                "last_update": now,
            }
        )
    rows.append(
        {
            "name": "suite:ALL",
            "status": fold_status([s for sts in group_status.values() for s in sts]),
            "message": f"{sum(len(s) for s in group_status.values())} rules",
            "last_update": now,
        }
    )
    return rows
