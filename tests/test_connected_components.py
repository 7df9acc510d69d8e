"""Transitive near-dup clustering against a pure-Python union-find, and
the cost and fail-loud contracts of :func:`connected_components`."""

from __future__ import annotations

import random
import threading

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dqmtools_spark.operators.dedup import (
    connected_components,
    drop_duplicate_clusters,
)

STAR_LEAVES = 1000


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller id becomes the root, so a root is its set's min
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@st.composite
def near_dup_graphs(draw):
    """Disjoint components under shuffled ids: chains, one
    ``STAR_LEAVES``-leaf star (a hot cluster) and disjoint pairs, plus
    duplicated and reversed copies of some edges.  Returns the edge
    list and a few singleton ids that no edge touches."""
    # one drawn seed drives the id shuffle and the edge picks: drawing
    # each of ~1000 shuffle steps from hypothesis would make even the
    # smallest example huge
    rnd = random.Random(draw(st.integers(0, 2**32 - 1)))
    chains = draw(st.lists(st.integers(2, 6), max_size=4))
    n_pairs = draw(st.integers(0, 6))
    n_single = draw(st.integers(0, 3))
    sizes = chains + [2] * n_pairs + [STAR_LEAVES + 1]
    ids = list(range(1, sum(sizes) + n_single + 1))
    rnd.shuffle(ids)
    it = iter(ids)
    edges = []
    for size in sizes:
        nodes = [next(it) for _ in range(size)]
        if size == STAR_LEAVES + 1:
            edges += [(nodes[0], leaf) for leaf in nodes[1:]]
        else:  # a chain; a 2-node chain is a disjoint pair
            edges += list(zip(nodes, nodes[1:]))
    edges = [(b, a) if rnd.random() < 0.5 else (a, b) for a, b in edges]
    dups = draw(st.integers(0, 20))
    edges += [rnd.choice(edges) for _ in range(dups)]
    edges += [(b, a) for a, b in rnd.sample(edges, min(dups, len(edges)))]
    return edges, list(it)


@settings(deadline=None, max_examples=6)
@given(near_dup_graphs())
def test_clusters_match_union_find(spark, graph):
    edges, singles = graph
    expect = _union_find_labels(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == expect

    docs = spark.createDataFrame([(i,) for i in list(expect) + singles], "id long")
    kept = {r["id"] for r in drop_duplicate_clusters(docs, pairs, "id").collect()}
    assert kept == set(expect.values()) | set(singles)


def test_disjoint_pairs_cost_at_most_six_jobs(spark):
    """Disjoint pairs converge in 2 rounds: the edge-list checkpoint,
    round 1's aggregate and round 2's join plus aggregate — 6 jobs,
    even when the pair frame is cached in many partitions the way an
    LSH pair result is."""
    sc = spark.sparkContext
    pairs = (
        spark.createDataFrame([(2 * i, 2 * i + 1) for i in range(40)], "id_a long, id_b long")
        .repartition(32)
        .cache()
    )
    pairs.count()
    group = "test-connected-components-jobs"
    sc.setJobGroup(group, group)
    try:
        comp = connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r["id"]: r["component"] for r in comp.collect()} == {
        i: i - i % 2 for i in range(80)
    }
    pairs.unpersist()
    assert n_jobs <= 6, n_jobs


def test_non_convergence_raises(spark):
    """A path of 8 ids needs 8 rounds (7 to carry id 1 to the far end,
    one to see no change); with max_iters=2 the call fails loudly
    instead of returning a partial labelling."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(pairs, max_iters=2)
    got = {r["id"]: r["component"] for r in connected_components(pairs, max_iters=8).collect()}
    assert got == {i: 1 for i in range(1, 9)}


def test_empty_pairs_return_empty_labels(spark):
    """A corpus with no LSH candidates: the changed-label Observation
    must still be filled by the round's checkpoint, so the call returns
    an empty labelling instead of waiting on it, and every doc is
    kept.  The call runs on a worker thread so a hang fails the test."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    result = {}
    worker = threading.Thread(
        target=lambda: result.update(labels=connected_components(pairs)),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "connected_components blocked on empty pairs"
    assert result["labels"].count() == 0

    docs = spark.createDataFrame([(i,) for i in range(5)], "id long")
    kept = {r["id"] for r in drop_duplicate_clusters(docs, pairs, "id").collect()}
    assert kept == set(range(5))
