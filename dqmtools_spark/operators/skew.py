"""Skew-aware aggregation: salted two-phase group-by.

The north rule calls out "salted keys for skewed domains": web corpora
have heavy-hitter hosts (one domain can hold 30%+ of all pages —
``synth.py`` reproduces this), so a plain ``groupBy(domain)`` sends
that domain's entire partition set to ONE reducer.  The fix is the
classic two-phase aggregate:

  phase 1: group by (key, salt) where salt = pmod(xxhash64(unit_id), S)
           — the heavy key's rows spread over S reducers, each emitting
           a partial aggregate (map-side combine still applies);
  phase 2: group by key over the <= S partials per key — tiny input.

Only aggregates with a partial/merge decomposition qualify (sum, count,
min, max, count-distinct-via-set is NOT included here).  Results are
bit-identical to the unsalted plan for integer sums/counts/min/max;
double sums can differ in the last ulp because addition order changes —
callers that diff against an oracle should round or use decimal.

Rebuilt semantics, not code, from the reference's per-group counting
(``python/dqmtools/dqmtests/common_tests.py:41-43``) which never had to
care about skew at pandas scale.  Complements AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``, set in ``session.py``): AQE
fixes skewed JOINS at runtime, salting fixes skewed AGGREGATIONS by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (phase-1 partial, phase-2 merge) builders per supported aggregate
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salt_column(unit_col: str | Column, n_salts: int) -> Column:
    """Deterministic salt derived from a per-row unit id (e.g. url).

    Hashing the UNIT id — not random() — keeps retries/resumes stable:
    the same row always lands in the same salt bucket, so a re-run of a
    failed stage produces identical partials.
    """
    c = F.col(unit_col) if isinstance(unit_col, str) else unit_col
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    unit_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe ``df.groupBy(keys).agg(...)``.

    ``aggs`` maps output name -> (agg_fn, input_col) with agg_fn in
    {sum, count, min, max}.  ``unit_col`` seeds the deterministic salt.

    Example::

        salted_agg(pages, ["domain"],
                   {"n_docs": ("count", "*"),
                    "total_chars": ("sum", "n_chars")},
                   unit_col="url")
    """
    unknown = {fn for fn, _ in aggs.values()} - set(_MERGEABLE)
    if unknown:
        raise ValueError(f"non-mergeable aggregates: {sorted(unknown)}")

    salted = df.withColumn("_salt", salt_column(unit_col, n_salts))
    partial_cols = []
    merge_cols = []
    for name, (fn, col) in aggs.items():
        partial_fn, merge_fn = _MERGEABLE[fn]
        if fn == "count":
            partial = F.count(F.lit(1))
        else:
            partial = partial_fn(col)
        partial_cols.append(partial.alias(f"_p_{name}"))
        merge_cols.append(merge_fn(F.col(f"_p_{name}")).alias(name))

    partials = salted.groupBy(*keys, "_salt").agg(*partial_cols)
    return partials.groupBy(*keys).agg(*merge_cols)
