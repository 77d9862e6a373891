"""The serving API's driver index tier against its Spark tier.

DatacapsuleAPI answers the graph, lookup and vector tools from a driver
index when the tables fit under ``driver_threshold`` rows and from the
distributed traverse/vectorize functions otherwise (``driver_threshold=0``
forces that tier). The two tiers must return the same answers; the index
tier must launch no Spark job per call.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_interactions_replay import REF_HIERARCHY

import datacapsule_spark.api as api_mod
from datacapsule_spark.api import DatacapsuleAPI
from datacapsule_spark.schema import EMBEDDINGS
from datacapsule_spark.traverse import NODE_HIERARCHY

NODES = "node_id string, node_type string, name string, attrs map<string,string>"
EDGES = "src string, relation string, dst string, repo string, path string"
ALIEN = "alien"  # a node type outside both hierarchies
GHOSTS = ["ghost0", "ghost1"]  # edge endpoints missing from the nodes


@st.composite
def graphs(draw, hierarchy):
    """Small random graphs: duplicate node rows (the same or another
    type, another name), unranked types, NULL names, self-loops, cycles
    and edges to ids that are not nodes."""
    types = draw(st.lists(st.sampled_from(sorted(hierarchy)), min_size=1,
                          max_size=4, unique=True)) + [ALIEN]
    ids = [f"n{i}" for i in range(draw(st.integers(2, 8)))]
    names = st.sampled_from(["a", "b", "c", None])
    rows = [(i, t, draw(names), {"k": i}) for i in ids
            for t in draw(st.lists(st.sampled_from(types), min_size=1, max_size=2))]
    ends = st.sampled_from(ids + GHOSTS)
    edges = draw(st.lists(st.tuples(ends, ends), max_size=24))
    return types, ids, rows, edges


def _open_tiers(spark, rows, edges, hierarchy=None, emb=None):
    nodes = spark.createDataFrame(rows, NODES)
    e = spark.createDataFrame([(s, "r", d, None, None) for s, d in edges], EDGES)
    kw = {"hierarchy": hierarchy, "embeddings": emb}
    return (DatacapsuleAPI(spark, nodes, e, **kw),
            DatacapsuleAPI(spark, nodes, e, driver_threshold=0, **kw))


@pytest.mark.parametrize("hierarchy", [NODE_HIERARCHY, REF_HIERARCHY],
                         ids=["code_kg", "marine"])
def test_graph_tools_equal_spark_tier(spark, hierarchy):
    absent = next(t for t in sorted(hierarchy) if t not in ("repo", "界"))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
    @given(g=graphs(hierarchy), data=st.data())
    def check(g, data):
        types, ids, rows, edges = g
        index, dist = _open_tiers(spark, rows, edges, hierarchy)
        assert index._index is not None and dist._index is None
        starts = ids + GHOSTS[:1] + ["nope"]
        present = {t for _, t, _, _ in rows}
        targets = [data.draw(st.sampled_from(sorted(present)), label="target"),
                   data.draw(st.sampled_from([absent, ALIEN]), label="target2")]
        for target in targets:
            got = index.batch_find_nodes_by_node_type(starts, target)
            assert got == dist.batch_find_nodes_by_node_type(starts, target), target
            for s in starts:
                assert index.find_nodes_by_node_type(s, target) == got[s]
        s = data.draw(st.sampled_from(starts), label="start")
        assert (index.find_nodes_by_node_type(s, targets[0])
                == dist.find_nodes_by_node_type(s, targets[0]))
        some = data.draw(st.lists(st.sampled_from(starts + GHOSTS), max_size=3), label="names")
        for names in (starts + GHOSTS, some):
            assert (index.get_adjacent_node_descriptions(names)
                    == dist.get_adjacent_node_descriptions(names)), names
        for nid in starts:
            assert index.get_node_attribute(nid) == dist.get_node_attribute(nid), nid
        for t in [None, absent, *sorted(present)]:
            assert index.nodes_count(t) == dist.nodes_count(t), t
        dist.nodes.unpersist()
        dist.edges.unpersist()

    check()


def test_typed_rows_of_one_node_expand_separately(spark):
    """A node listed under two types is expanded from each typed row on
    its own, and enters the frontier once.

    - The direction comes from the start's lowest rank: from s (file 3
      and symbol 4) toward "file" (3) the walk goes down, so the symbol
      row, which could only move up, reaches nothing.
    - z is first reached as a symbol (from file f; its dir row cannot
      follow a file on the way down), so reaching it again from dir e
      does not expand its dir row: w and v stay out of reach.
    """
    rows = [("s", "file", "s", None), ("s", "symbol", "s", None),
            ("x", "symbol", "x", None), ("y", "file", "y", None)]
    for api in _open_tiers(spark, rows, [("s", "x"), ("x", "y")]):
        assert api.find_nodes_by_node_type("s", "file") == {"nodes_count": 1, "nodes": ["s"]}
    rows = [("r", "repo", "r", None), ("f", "file", "f", None), ("d", "dir", "d", None),
            ("e", "dir", "e", None), ("z", "symbol", "z", None), ("z", "dir", "z", None),
            ("w", "file", "w", None), ("v", "symbol", "v", None)]
    edges = [("r", "f"), ("f", "z"), ("r", "d"), ("d", "e"), ("e", "z"), ("z", "w"), ("w", "v")]
    for api in _open_tiers(spark, rows, edges):
        assert api.find_nodes_by_node_type("r", "symbol") == {"nodes_count": 1, "nodes": ["z"]}


def _int_vectors(dim):
    return st.lists(st.integers(-2, 2), min_size=dim, max_size=dim)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(data=st.data())
def test_vector_tool_equals_spark_tier(spark, data):
    """Integer vectors keep every dot product exact, so both tiers score
    equal rows bit-equally: ties (copies, power-of-two multiples) must
    break by id on both. Zero vectors never match."""
    dim = 3
    base = data.draw(st.lists(st.tuples(st.sampled_from(["t1", "t2", None]), _int_vectors(dim)),
                              max_size=7), label="rows")
    copies = data.draw(st.lists(st.tuples(st.integers(0, 6), st.sampled_from([1, 2])),
                                max_size=3), label="copies")
    vecs = base + [(base[i][0], [x * m for x in base[i][1]])
                   for i, m in copies if i < len(base)]
    # ids descend with the row order, so an order by position is not an order by id
    rows = [(f"e{99 - i:02d}", "entity", t, f"name{i}", [float(x) for x in v])
            for i, (t, v) in enumerate(vecs)]
    q = np.asarray(data.draw(_int_vectors(dim), label="query"), dtype=np.float32)
    emb = spark.createDataFrame(rows, EMBEDDINGS)
    index, dist = _open_tiers(spark, [("n0", "repo", "n0", None)], [], emb=emb)
    assert index._index.emb is not None and dist._index is None

    def same(node_type, top_k, threshold):
        args = ("query", node_type, top_k, threshold)
        got = index.get_unique_vector_query_results(*args)
        want = dist.get_unique_vector_query_results(*args)
        assert [{**h, "similarity": None} for h in got] == [
            {**h, "similarity": None} for h in want], args
        for a, b in zip(got, want):
            assert a["similarity"] == pytest.approx(b["similarity"], abs=1e-9)
        return got

    with mock.patch.object(api_mod, "hash_embed_text", lambda text, dim: q):
        node_type = data.draw(st.sampled_from([None, "t1", "absent"]), label="type")
        top_k = data.draw(st.sampled_from([1, 3, len(rows) + 2]), label="top_k")
        hits = same(node_type, top_k, data.draw(st.sampled_from([-1.0, 0.0, 0.5])))
        if hits:  # a threshold at, just below and just above a score
            s = hits[-1]["similarity"]
            assert same(node_type, top_k, s)[-1]["similarity"] == s
            assert same(node_type, top_k, s - 1e-9)
            same(node_type, top_k, s + 1e-9)
    dist.nodes.unpersist()
    dist.edges.unpersist()


def test_empty_embeddings_return_no_hits(spark):
    """An attached but empty embeddings table answers [] on both tiers
    (it used to raise TypeError on the dimension probe)."""
    nodes = spark.createDataFrame([("n0", "repo", "n0", None)], NODES)
    edges = spark.createDataFrame([], EDGES)
    emb = spark.createDataFrame([], EMBEDDINGS)
    for tier in ({}, {"driver_threshold": 0}):
        api = DatacapsuleAPI(spark, nodes, edges, emb, **tier)
        assert api.get_unique_vector_query_results("anything", better_than_threshold=-1.0) == []


def test_index_tools_launch_no_spark_jobs(spark):
    """After the API opens on the index tier its six tools run no Spark
    job: lookups and vector search before the lazy adjacency exists,
    and every tool once it does."""
    from datacapsule_spark.vectorize import embed_descriptors, node_descriptors

    rows = [("repo:r", "repo", "r", None), ("dir:r/d", "dir", "d", None),
            ("file:r/d/f.py", "file", "f.py", {"lang": "python"}),
            ("symbol:r/d/f.py:g", "symbol", "g", None)]
    edges = [("repo:r", "dir:r/d"), ("dir:r/d", "file:r/d/f.py"),
             ("file:r/d/f.py", "symbol:r/d/f.py:g")]
    nodes = spark.createDataFrame(rows, NODES)
    emb = embed_descriptors(node_descriptors(nodes)).localCheckpoint(eager=True)
    api = DatacapsuleAPI(spark, nodes, spark.createDataFrame(
        [(s, "r", d, None, None) for s, d in edges], EDGES), emb)
    sc = spark.sparkContext

    def jobs(group, calls):
        sc.setJobGroup(group, "index tier job guard")
        try:
            for call in calls:
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    lookups = [lambda: api.get_node_attribute("file:r/d/f.py"),
               lambda: api.nodes_count("file"),
               lambda: api.get_unique_vector_query_results("f.py", top_k=2)]
    graph = [lambda: api.find_nodes_by_node_type("repo:r", "symbol"),
             lambda: api.batch_find_nodes_by_node_type(["repo:r", "dir:r/d"], "file"),
             lambda: api.get_adjacent_node_descriptions(["dir:r/d"])]
    assert jobs("guard-lookups", lookups) == []
    assert api._index._adj is None  # lookups never collect the edges
    assert api.find_nodes_by_node_type("repo:r", "symbol")["nodes"] == ["symbol:r/d/f.py:g"]
    assert jobs("guard-all", lookups + graph) == []
    assert jobs("guard-probe", [lambda: spark.range(3).count()])  # the probe sees jobs
