"""CC property tests vs networkx-free reference union-find (FIXTURES F5)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datacapsule_spark.canonicalize import apply_canonical, connected_components


def _uf_components(edges):
    """Reference union-find (pure Python stand-in for
    networkx.connected_components — same semantics, no dependency)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        if a != b:  # self-loops don't create components (engine drops
            union(a, b)  # them; missing mapping entries mean identity)
    return {x: find(x) for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    want = _uf_components(edges)
    # canonical representative must be the component min in both
    comp_want = {}
    for n, r in want.items():
        comp_want.setdefault(r, set()).add(n)
    want_min = {n: min(members) for r, members in comp_want.items() for n in members}
    # BOTH execution paths must match the oracle (and hence each other):
    # driver_threshold=0 forces the distributed large/small-star loop,
    # the default takes the driver union-find fast path at this size
    for threshold in (0, 1_000_000):
        got = {
            r["node_id"]: r["canonical_id"]
            for r in connected_components(
                df, "a", "b", driver_threshold=threshold
            ).collect()
        }
        assert got == want_min, f"path driver_threshold={threshold}"


CASES = {
    "chain": [(f"n{i}", f"n{i+1}") for i in range(10)],
    "star": [("hub", f"leaf{i}") for i in range(10)],
    "two_cliques_merged": [
        ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
        ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
        ("a3", "b1"),
    ],
    "self_loops": [("x", "x"), ("x", "y"), ("z", "z")],
    "disjoint": [("p", "q"), ("r", "s"), ("t", "u")],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_cc_small_graphs(spark, name):
    _check(spark, CASES[name])


def test_cc_random_graph(spark):
    rng = random.Random(42)
    nodes = [f"v{i}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cc_idempotent(spark):
    edges = CASES["two_cliques_merged"]
    df = spark.createDataFrame(edges, "a string, b string")
    m1 = connected_components(df, "a", "b")
    # run CC on the mapping itself: components must not change
    m2 = connected_components(
        m1.select(F.col("node_id").alias("a"), F.col("canonical_id").alias("b")),
        "a",
        "b",
    )
    assert {tuple(r) for r in m1.collect()} == {tuple(r) for r in m2.collect()}


def test_apply_canonical_maps_and_passes_through(spark):
    mapping = spark.createDataFrame(
        [("x", "c"), ("y", "c"), ("c", "c")], "node_id string, canonical_id string"
    )
    df = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("q", "x")], "src string, dst string"
    )
    out = {
        (r["src"], r["dst"])
        for r in apply_canonical(df, mapping, ["src", "dst"]).collect()
    }
    assert out == {("c", "c"), ("c", "z"), ("q", "c")}


def test_linking_plus_cc_resolves_planted_aliases(spark):
    """End-to-end J5: HttpClient/http_client variants collapse."""
    from datacapsule_spark.linking import alias_pairs

    names = spark.createDataFrame(
        [("sym:HttpClient",), ("sym:http_client",), ("sym:GraphNode",),
         ("sym:graph_node",), ("sym:Unrelated",)],
        "name string",
    )
    pairs = alias_pairs(names)
    mapping = {
        r["node_id"]: r["canonical_id"]
        for r in connected_components(pairs, "a", "b").collect()
    }
    assert mapping["sym:http_client"] == mapping["sym:HttpClient"]
    assert mapping["sym:graph_node"] == mapping["sym:GraphNode"]
    assert "sym:Unrelated" not in mapping  # singleton: maps to itself implicitly


def test_cc_preserves_input_id_dtype(spark):
    """The mapping dtype must mirror the input id dtype on BOTH
    execution paths (driver union-find and distributed star loop) —
    a long-id graph must never come back as strings."""
    from datacapsule_spark.canonicalize import connected_components

    e = spark.createDataFrame([(10, 11), (11, 12), (99, 100)], "a long, b long")
    small = connected_components(e, "a", "b")  # driver path
    assert dict(small.dtypes) == {"node_id": "bigint", "canonical_id": "bigint"}
    big = connected_components(e, "a", "b", driver_threshold=0)  # distributed
    assert dict(big.dtypes) == {"node_id": "bigint", "canonical_id": "bigint"}
    as_set = lambda df: {(r["node_id"], r["canonical_id"]) for r in df.collect()}
    assert as_set(small) == as_set(big)
    assert (10, 10) in as_set(small) and (12, 10) in as_set(small)


def test_cc_raises_when_not_converged(spark):
    """The distributed loop never returns a half-closed mapping: an
    11-node chain needs more than one round, so max_iter=1 must raise
    (a silent return would map the chain to several 'canonical' ids)."""
    e = spark.createDataFrame(CASES["chain"], "a string, b string")
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(e, "a", "b", driver_threshold=0, max_iter=1)


def test_cc_driver_tier_launches_at_most_two_jobs(spark):
    """Below the limit the tier choice is the collect itself: one capped
    collect of the deduped edges (its shuffle plus its result stage), no
    emptiness probe, no count and no second collect."""
    e = spark.createDataFrame(CASES["two_cliques_merged"], "a string, b string")
    sc = spark.sparkContext
    sc.setJobGroup("cc-driver-tier", "cc job guard")
    try:
        mapping = connected_components(e, "a", "b")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-driver-tier")) <= 2
    assert {r["canonical_id"] for r in mapping.collect()} == {"a1"}


@pytest.mark.parametrize("threshold", [0, 1_000_000])
def test_cc_empty_edges_keep_id_dtype(spark, threshold):
    """No edges (or only self-loops) → an empty mapping in the input's id
    dtype on both tiers."""
    for rows in ([], [(7, 7)]):
        e = spark.createDataFrame(rows, "a bigint, b bigint")
        m = connected_components(e, "a", "b", driver_threshold=threshold)
        assert dict(m.dtypes) == {"node_id": "bigint", "canonical_id": "bigint"}
        assert m.collect() == []


def test_cc_tier_limit_counts_deduped_edges(spark, monkeypatch):
    """The limit is inclusive and counts distinct non-loop edges:
    exactly t edges (here with a duplicate and a self-loop on top) take
    the driver tier, t+1 the distributed loop, and both equal the
    union-find oracle."""
    import datacapsule_spark.canonicalize as C

    tiers = []
    real = C._driver_union_find
    monkeypatch.setattr(
        C, "_driver_union_find",
        lambda *a: tiers.append("driver") or real(*a),
    )
    base = CASES["two_cliques_merged"]
    t = len(base)
    for edges, tier in (
        (base + [("a1", "a2"), ("z", "z")], ["driver"]),
        (base + [("c1", "c2")], []),
    ):
        tiers.clear()
        df = spark.createDataFrame(edges, "a string, b string")
        got = {
            r["node_id"]: r["canonical_id"]
            for r in connected_components(df, "a", "b", driver_threshold=t).collect()
        }
        assert tiers == tier
        assert got == _uf_components(edges)
