"""The driver-side path of :func:`drop_duplicate_clusters`: a small pair
list is clustered by a union-find on the driver and its losers dropped
by one filter.  It must keep exactly the rows the distributed
:func:`connected_components` path keeps (forced here by a bound of 0)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dqmtools_spark.operators import dedup
from dqmtools_spark.operators.dedup import drop_duplicate_clusters

# ids 0..15: a path through every id has diameter 15, inside the
# distributed path's default 20 rounds
_IDS = st.integers(0, 15)


def _kept(df, pairs, id_col="id") -> list:
    return sorted(
        (r[id_col] for r in drop_duplicate_clusters(df, pairs, id_col).collect()),
        key=lambda v: (v is None, v),
    )


def _both_paths(df, pairs, id_col="id") -> tuple[list, list]:
    driver = _kept(df, pairs, id_col)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(dedup, "DRIVER_CLUSTER_BOUND", 0)
        distributed = _kept(df, pairs, id_col)
    return driver, distributed


@settings(deadline=None, max_examples=6)
@given(
    edges=st.lists(st.tuples(_IDS, _IDS), min_size=1, max_size=25),
    n_null=st.integers(0, 2),
)
def test_driver_path_keeps_the_distributed_paths_ids(spark, edges, n_null):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i,) for i in range(16)] + [(None,)] * n_null, "id long"
    )
    driver, distributed = _both_paths(docs, pairs)
    assert driver == distributed
    assert driver.count(None) == n_null


def test_null_ids_are_kept(spark):
    """NULL-id rows survive, as under the ``left_anti`` join, and a pair
    with a NULL end joins no cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (3, None), (4, None)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 6)] + [(None,)], "id long")
    driver, distributed = _both_paths(docs, pairs)
    assert driver == distributed == [1, 3, 4, 5, None]


def test_string_ids_with_quotes_and_backslashes(spark):
    """String ids go into the filter as SQL literals: a quote or a
    backslash must neither break the predicate nor change the id."""
    ids = ["a'b", "a\\b", "a\\'b", "ab", "b", "it's\\"]
    pairs = spark.createDataFrame(
        [("a'b", "a\\b"), ("a\\b", "a\\'b"), ("b", "it's\\")], "id_a string, id_b string"
    )
    docs = spark.createDataFrame([(i,) for i in ids], "id string")
    driver, distributed = _both_paths(docs, pairs)
    # min of {a'b, a\b, a\'b} is a'b ("'" < "\"); min of {b, it's\} is b
    assert driver == distributed == ["a'b", "ab", "b"]


def test_empty_pairs_return_df(spark):
    docs = spark.createDataFrame([(i,) for i in range(3)], "id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert drop_duplicate_clusters(docs, pairs, "id") is docs


def test_other_id_types_take_the_distributed_path(spark, monkeypatch):
    """Python orders floats (NaN) and dates unlike Spark, so a pair list
    of such ids is clustered by :func:`connected_components` however
    small it is."""
    calls = []
    real = dedup.connected_components
    monkeypatch.setattr(
        dedup, "connected_components", lambda *a: calls.append(1) or real(*a)
    )
    pairs = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)], "id_a double, id_b double")
    docs = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "id double")
    assert _kept(docs, pairs) == [1.0, 4.0]
    assert calls == [1]
