"""Connected-components dedup clustering: the driver numpy engine
(edge graph under the cap) and the distributed HashToMin loop must
agree exactly."""

from __future__ import annotations

import pytest

from clp_spark.textops.dedup import connected_components

# cap=default exercises the driver pointer-jumping engine; cap=0 forces
# the distributed label-propagation loop on the same graphs
CAPS = [5_000_000, 0]


@pytest.mark.parametrize("cap", CAPS)
def test_connected_components_known_graph(spark, cap):
    # components: {0,1,2,3} (chain), {10,11}, {20} (singleton), {30,31,32}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (31, 30), (31, 32)],
        "doc_a long, doc_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 20, 30, 31, 32]], "id long"
    )
    got = {
        r["id"]: r["rep"]
        for r in connected_components(pairs, ids, driver_edge_cap=cap).collect()
    }
    assert got == {
        0: 0, 1: 0, 2: 0, 3: 0,
        10: 10, 11: 10,
        20: 20,
        30: 30, 31: 30, 32: 30,
    }


@pytest.mark.parametrize("cap", CAPS)
def test_connected_components_long_chain(spark, cap):
    # an 8-node path needs several propagation rounds to converge
    n = 8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r["id"]: r["rep"]
        for r in connected_components(pairs, ids, driver_edge_cap=cap).collect()
    }
    assert got == {i: 0 for i in range(n)}

@pytest.mark.parametrize("cap", CAPS)
def test_connected_components_string_ids(spark, cap):
    # doc ids are URLs in the primary pipeline — no numeric cast allowed
    pairs = spark.createDataFrame(
        [("u/a", "u/b"), ("u/b", "u/c"), ("u/x", "u/y")],
        "doc_a string, doc_b string",
    )
    ids = spark.createDataFrame(
        [(u,) for u in ["u/a", "u/b", "u/c", "u/x", "u/y", "u/z"]], "id string"
    )
    got = {
        r["id"]: r["rep"]
        for r in connected_components(pairs, ids, driver_edge_cap=cap).collect()
    }
    assert got == {
        "u/a": "u/a", "u/b": "u/a", "u/c": "u/a",
        "u/x": "u/x", "u/y": "u/x",
        "u/z": "u/z",
    }


def test_engines_agree_on_random_graph(spark):
    """Property check: both engines produce identical reps on a messy
    random graph (cliques + chains + singletons)."""
    import random

    rng = random.Random(7)
    edges = set()
    for _ in range(300):
        a, b = rng.randrange(120), rng.randrange(120)
        if a != b:
            edges.add((a, b))
    pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in range(140)], "id long")
    fast = {
        r["id"]: r["rep"]
        for r in connected_components(pairs, ids).collect()
    }
    slow = {
        r["id"]: r["rep"]
        for r in connected_components(pairs, ids, driver_edge_cap=0).collect()
    }
    assert fast == slow


def test_distributed_long_chain_converges_past_neighbor_min_budget(spark):
    """A 40-node path with max_iters=12: neighbor-min alone needs ~39
    rounds (one hop each); the path-halving jump must converge it in
    O(log n) and never return partial labels."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r["id"]: r["rep"]
        for r in connected_components(
            pairs, ids, driver_edge_cap=0, max_iters=12
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_distributed_nonconvergence_raises_not_underdedups(spark):
    """If the round budget is genuinely exhausted the call must fail
    loud, not silently return under-merged components."""
    import pytest as _pytest

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, ids, driver_edge_cap=0, max_iters=2)


def test_distributed_nonconvergence_releases_cached_frames(spark):
    """Failing loud must not leak: every frame the loop persisted
    (edges and the last labels) is released before the raise."""
    import pytest as _pytest

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    before = persisted()
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, ids, driver_edge_cap=0, max_iters=2)
    assert persisted() - before == set()
