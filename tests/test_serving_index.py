"""The serving API's driver index tier against its Spark tier.

DatacapsuleAPI answers the graph, lookup and vector tools from a driver
index when the tables fit under ``driver_threshold`` rows and from the
distributed traverse/vectorize functions otherwise (``driver_threshold=0``
forces that tier). The two tiers must return the same answers; the index
tier must launch no Spark job per call. The same holds for
query_database's driver SQL tier (``sql_tier``) against Spark SQL.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
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


def _job_ids(sc, group: str, calls) -> list:
    sc.setJobGroup(group, "job guard")
    try:
        for call in calls:
            call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


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
    lookups = [lambda: api.get_node_attribute("file:r/d/f.py"),
               lambda: api.nodes_count("file"),
               lambda: api.get_unique_vector_query_results("f.py", top_k=2)]
    graph = [lambda: api.find_nodes_by_node_type("repo:r", "symbol"),
             lambda: api.batch_find_nodes_by_node_type(["repo:r", "dir:r/d"], "file"),
             lambda: api.get_adjacent_node_descriptions(["dir:r/d"])]
    assert _job_ids(sc, "guard-lookups", lookups) == []
    assert api._index._adj is None  # lookups never collect the edges
    assert api.find_nodes_by_node_type("repo:r", "symbol")["nodes"] == ["symbol:r/d/f.py:g"]
    assert _job_ids(sc, "guard-all", lookups + graph) == []
    assert _job_ids(sc, "guard-probe", [lambda: spark.range(3).count()])  # the probe sees jobs


def test_edges_over_the_limit_cache_the_spark_tier(spark):
    """Nodes under the limit, edges over it: the first graph call is
    refused the adjacency and caches both tables for the Spark tier,
    whose answers equal the all-Spark API's."""
    rows = [("repo:r", "repo", "r", None), ("dir:r/d", "dir", "d", None),
            ("file:r/d/f.py", "file", "f.py", None), ("symbol:r/d/f.py:g", "symbol", "g", None)]
    edges = [("repo:r", "dir:r/d"), ("dir:r/d", "file:r/d/f.py"),
             ("file:r/d/f.py", "symbol:r/d/f.py:g"), ("repo:r", "file:r/d/f.py"),
             ("dir:r/d", "symbol:r/d/f.py:g")]

    def tables():  # fresh frames per API: the Spark-tier API caches its own
        return (spark.createDataFrame(rows, NODES),
                spark.createDataFrame([(s, "r", d, None, None) for s, d in edges], EDGES))

    api = DatacapsuleAPI(spark, *tables(), driver_threshold=len(rows))
    assert api._index is not None and not api.edges.is_cached
    got = api.find_nodes_by_node_type("repo:r", "symbol")
    assert api._index._adj is False
    assert api.nodes.is_cached and api.edges.is_cached
    dist = DatacapsuleAPI(spark, *tables(), driver_threshold=0)
    assert got == dist.find_nodes_by_node_type("repo:r", "symbol")
    starts = ["repo:r", "dir:r/d"]
    assert (api.batch_find_nodes_by_node_type(starts, "file")
            == dist.batch_find_nodes_by_node_type(starts, "file"))
    assert (api.get_adjacent_node_descriptions(starts)
            == dist.get_adjacent_node_descriptions(starts))
    for a in (api, dist):
        a.nodes.unpersist()
        a.edges.unpersist()


# ------------------------------------------------------- query_database

T1 = {"k": "int", "a": "bigint", "s": "string", "b": "boolean", "d": "double"}
T2 = {"k": "int", "s": "string", "d": "double"}
STRINGS = [None, "", "a", "A", "ab", "a%b", "a_b", "a\\b", "é", "日本", "a\nb", "zz", "😀"]
DOUBLES = [None, 0.0, -0.0, float("nan"), 1.5, -2.25, float("inf")]
POOLS = {"int": [None, 0, 1, 2, -1], "bigint": [None, 0, 5, -7, 2**40, -(2**40)],
         "string": STRINGS, "boolean": [None, True, False], "double": DOUBLES}
# Spark SQL literals per column type (a `1.5` is a decimal there, `1.5D` a double)
LITERALS = {"int": ["0", "1", "-1", "2"], "bigint": ["0", "5", "-7"],
            "string": ["''", "'a'", "'ab'", "'é'", "'a\\nb'", "'zz'", "'😀'"],
            "boolean": ["true", "false"], "double": ["0.0D", "-0.0D", "1.5D", "-2.25D"]}
# LIKE patterns as Spark SQL text: \\% and \\_ are an escaped % and _
PATTERNS = ["'a%'", "'%b'", "'_'", "'__'", "'%'", "'a\\\\%b'", "'a\\\\_b'", "'%\\\\\\\\%'",
            "'a_b'", "'é%'", "'a%b'"]
OPS = ["=", "<>", "<", "<=", ">", ">=", "<=>"]


def _schema(cols: dict) -> str:
    return ", ".join(f"{c} {t}" for c, t in cols.items())


def _norm(v):
    return ("NaN",) if isinstance(v, float) and v != v else v


def _rows(env: dict) -> list[tuple]:
    return [tuple(_norm(v) for v in r.values()) for r in env["results"]]


class _Queries:
    """Random queries of the driver tier's allowlisted grammar, as SQL
    text: filters, projections, CASE, casts, LIKE, IN, an inner equi-join,
    DISTINCT, grouping with count / sum / min / max (DISTINCT too) and
    HAVING, ORDER BY with explicit directions and NULL orders, LIMIT."""

    def __init__(self, draw):
        self.draw = draw

    def pick(self, xs, label=None):
        return self.draw(st.sampled_from(xs), label=label)

    def pred(self, cols: dict, depth: int = 2) -> str:
        kinds = ["cmp", "null", "in", "like", "colcmp", "bool"] + (["not", "and", "or"] * (depth > 0))
        kind = self.pick(kinds)
        c = self.pick(sorted(cols))
        t = cols[c]
        if kind == "cmp":
            return f"{c} {self.pick(OPS)} {self.pick(LITERALS[t])}"
        if kind == "null":
            return f"{c} IS {self.pick(['', 'NOT '])}NULL"
        if kind == "in":
            items = self.draw(st.lists(st.sampled_from(LITERALS[t] + ["NULL"]), min_size=1,
                                       max_size=3))
            return f"{c} {self.pick(['', 'NOT '])}IN ({', '.join(items)})"
        if kind == "like":
            s = self.pick(sorted(x for x in cols if cols[x] == "string"))
            return f"{s} {self.pick(['', 'NOT '])}LIKE {self.pick(PATTERNS)}"
        if kind == "colcmp":
            same = sorted(x for x in cols if cols[x] == t)
            return f"{c} {self.pick(OPS)} {self.pick(same)}"
        if kind == "bool":
            bools = sorted(x for x in cols if cols[x] == "boolean")
            return bools[0] if bools else "TRUE"
        if kind == "not":
            return f"NOT ({self.pred(cols, depth - 1)})"
        return f"({self.pred(cols, depth - 1)} {kind.upper()} {self.pred(cols, depth - 1)})"

    def scalar(self, cols: dict) -> str:
        c = self.pick(sorted(cols))
        t = cols[c]
        kind = self.pick(["col", "col", "case", "cast", "pred"])
        if kind == "case":
            other = self.pick([f" ELSE {c}", ""])
            return f"CASE WHEN {self.pred(cols, 1)} THEN {self.pick(LITERALS[t])}{other} END"
        if kind == "cast" and t == "int":
            return f"CAST({c} AS BIGINT)"
        if kind == "pred":
            return f"({self.pred(cols, 1)})"
        return c

    def aggregate(self, cols: dict) -> str:
        c = self.pick(sorted(cols))
        fn = self.pick(["count", "count*", "countd", "sum", "min", "max", "maxd"])
        if fn == "count*":
            return "count(*)"
        if fn in ("countd", "maxd"):
            return f"{fn[:-1]}(DISTINCT {c})"
        if fn == "sum":
            ints = sorted(x for x in cols if cols[x] in ("int", "bigint"))
            return f"sum({self.pick(['', 'DISTINCT '])}{self.pick(ints)})"
        return f"{fn}({c})"

    def query(self) -> tuple[str, str, bool, int | None]:
        """(query, the same query without LIMIT, whether ORDER BY is
        total over the output, the LIMIT or None)."""
        cols = {f"t1.{c}": t for c, t in T1.items()}
        src = "t1"
        if self.draw(st.booleans(), label="join"):
            cols.update({f"t2.{c}": t for c, t in T2.items()})
            on = self.pick(["", " AND t1.s = t2.s", " AND t1.d = t2.d"])
            src = f"t1 JOIN t2 ON t1.k = t2.k{on}"
        where = f" WHERE {self.pred(cols)}" if self.draw(st.booleans(), label="where") else ""
        tail = ""
        if self.draw(st.booleans(), label="grouped"):
            keys = self.draw(st.lists(st.sampled_from(sorted(cols)), max_size=2, unique=True))
            items = keys + [self.aggregate(cols)
                            for _ in range(self.draw(st.integers(1, 2)))]
            if keys:
                tail = f" GROUP BY {', '.join(keys)}"
                if self.draw(st.booleans(), label="having"):
                    tail += f" HAVING {self.pick(['count(*) > 1', 'min(t1.k) IS NOT NULL'])}"
            distinct = ""
        else:
            items = [self.scalar(cols) for _ in range(self.draw(st.integers(1, 3)))]
            distinct = self.pick(["", "DISTINCT "])
        n = len(items)
        select = ", ".join(f"{e} AS c{i}" for i, e in enumerate(items))
        order = ""
        keys = self.draw(st.lists(st.integers(1, n), max_size=n, unique=True), label="order")
        if keys:
            order = " ORDER BY " + ", ".join(
                f"{k}{self.pick(['', ' ASC', ' DESC'])}"
                f"{self.pick(['', ' NULLS FIRST', ' NULLS LAST'])}" for k in keys)
        limit = self.draw(st.none() | st.integers(0, 4), label="limit")
        full = f"SELECT {distinct}{select} FROM {src}{where}{tail}{order}"
        q = full + ("" if limit is None else f" LIMIT {limit}")
        return q, full, len(keys) == n, limit


def _sql_tiers(spark, tables: dict):
    """A driver-tier API with every table snapshotted, and a Spark-tier
    API, both over ``tables``."""
    drv, dist = _open_tiers(spark, [("n0", "repo", "n0", None)], [])
    for api in (dist, drv):  # the views the driver tier registered stay in the catalog
        api.register_tables(tables)
    for name in tables:  # the second query of a view takes its snapshot
        for _ in range(2):
            drv.query_database(f"SELECT * FROM {name}")
    return drv, dist


def _answered_by_driver(api, spark, q: str) -> bool:
    return api._sql.prepare(spark.sql(q)) is not None


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(data=st.data())
def test_sql_tiers_equal_over_grammar(spark, data):
    """Differential test: the driver tier's envelope equals the Spark
    tier's over random allowlisted queries on tables with NULLs, ties,
    duplicates, non-ASCII strings, NaN / -0.0 / inf doubles and empty
    groups. Rows are compared in order under a total ORDER BY and as
    multisets otherwise; a LIMIT without a total order must return a
    sub-multiset of the full answer, of the right size."""
    def table(cols, max_size):
        rows = data.draw(st.lists(st.tuples(*[st.sampled_from(POOLS[t]) for t in cols.values()]),
                                  max_size=max_size), label="rows")
        # checkpointed: Spark scans the rows in the JVM, without Python workers
        return spark.createDataFrame(rows, _schema(cols)).localCheckpoint()

    drv, dist = _sql_tiers(spark, {"t1": table(T1, 10), "t2": table(T2, 6)})
    gen = _Queries(data.draw)
    # every LIKE pattern against every string of t1, then random queries
    sweep = "SELECT t1.s AS s, " + ", ".join(
        f"t1.s LIKE {p} AS p{i}" for i, p in enumerate(PATTERNS)) + " FROM t1"
    for q, full, total, limit in [(sweep, sweep, False, None)] + [gen.query() for _ in range(12)]:
        want = dist.query_database(q)
        assert want["success"], (q, want)
        got = drv.query_database(q)
        assert _answered_by_driver(drv, spark, q), q
        assert set(got) == set(want) and got["row_count"] == want["row_count"], (q, got, want)
        assert [list(r) for r in got["results"]] == [list(r) for r in want["results"]], q
        if total:
            assert _rows(got) == _rows(want), (q, got, want)
        elif limit is not None:
            every = Counter(_rows(dist.query_database(full)))
            assert not Counter(_rows(got)) - every, (q, got, every)
            assert got["row_count"] == min(limit, sum(every.values())), q
        else:
            assert Counter(_rows(got)) == Counter(_rows(want)), (q, got, want)
    for api in (drv, dist):
        api.nodes.unpersist()
        api.edges.unpersist()


def test_sql_text_traps_answer_as_spark(spark):
    """Text that means one thing in Spark SQL and another in DuckDB is
    answered as Spark reads it: the driver tier compiles Spark's plan,
    never the text."""
    t = spark.createDataFrame([(1, "a\tb"), (2, "ab"), (3, "x")], "n int, s string")
    drv, dist = _sql_tiers(spark, {"traps": t})
    for q in ["SELECT 'a\\tb' AS v, n FROM traps WHERE s = 'a\\tb'",  # a tab in Spark
              "SELECT n FROM traps WHERE s = 'a' 'b'",  # 'ab' in Spark
              "SELECT COUNT(*) FROM traps",  # named count(1) in Spark
              'SELECT "x" AS v, n FROM traps WHERE s = "x"']:  # strings in Spark
        assert _answered_by_driver(drv, spark, q), q
        got = drv.query_database(q)
        assert got == dist.query_database(q) and got["row_count"] == 1, (q, got)


def test_driver_sql_snapshot_rule_and_no_jobs(spark):
    """A view's first query runs on Spark, its second takes the snapshot,
    and from then on a query launches no Spark job. A view over the row
    limit is remembered and stays on Spark, with the same answers."""
    nodes = spark.createDataFrame([("n0", "repo", "n0", None)], NODES)
    edges = spark.createDataFrame([], EDGES)
    api = DatacapsuleAPI(spark, nodes, edges, driver_threshold=4)
    small = spark.createDataFrame([(i, f"r{i % 2}") for i in range(4)], "n int, repo string")
    big = spark.createDataFrame([(i,) for i in range(5)], "n int")
    api.register_tables({"small": small, "big": big})
    views = api._sql._views
    q = "SELECT repo, COUNT(*) AS n FROM small WHERE n > 0 GROUP BY repo ORDER BY repo"
    want = [{"repo": "r0", "n": 1}, {"repo": "r1", "n": 2}]
    sc = spark.sparkContext
    assert _job_ids(sc, "sql-first", [lambda: api.query_database(q)])  # Spark answers
    assert views["small"].state is None
    assert api.query_database(q)["results"] == want
    assert views["small"].state == "ready"
    assert _job_ids(sc, "sql-driver", [lambda: api.query_database(q)] * 3) == []
    assert api.query_database(q)["results"] == want
    for _ in range(3):
        assert api.query_database("SELECT SUM(n) AS s FROM big")["results"] == [{"s": 10}]
    assert views["big"].state == "spark"


def test_reregistered_view_never_answers_from_old_snapshot(spark):
    """Re-registering a name, on this API or on another, is seen at once:
    the driver tier only answers a plan whose view resolved to exactly the
    DataFrame it snapshotted."""
    def frame(v):
        return spark.createDataFrame([(v,)], "v int")

    first, _ = _sql_tiers(spark, {"rereg": frame(1)})
    q = "SELECT v FROM rereg"
    assert first.query_database(q)["results"] == [{"v": 1}]
    assert _answered_by_driver(first, spark, q)
    first.register_tables({"rereg": frame(2)})
    assert first.query_database(q)["results"] == [{"v": 2}]
    second, _ = _sql_tiers(spark, {"rereg": frame(3)})  # same name, same schema
    for api in (first, second):
        for _ in range(3):
            assert api.query_database(q)["results"] == [{"v": 3}]
    assert not _answered_by_driver(first, spark, q)
    # checkpoints of two filters of one frame scan LogicalRDDs with the same
    # attributes: their plans differ only in the registration's own alias
    base = spark.createDataFrame([(4,), (5,)], "v int")
    first.register_tables({"rereg": base.where("v = 4").localCheckpoint()})
    for _ in range(2):
        assert first.query_database(q)["results"] == [{"v": 4}]
    assert _answered_by_driver(first, spark, q)
    _sql_tiers(spark, {"rereg": base.where("v = 5").localCheckpoint()})
    assert first.query_database(q)["results"] == [{"v": 5}]


def test_driver_sql_concurrent_clients(spark):
    """Two client threads on one API each get their own answers from the
    driver tier (one cursor per thread)."""
    rows = [(i, f"r{i % 3}") for i in range(30)]
    t = spark.createDataFrame(rows, "n int, repo string")
    drv, _ = _sql_tiers(spark, {"conc": t})
    q = "SELECT COUNT(*) AS c, MAX(n) AS m FROM conc WHERE repo = 'r{}' AND n < {}"
    assert _answered_by_driver(drv, spark, q.format(0, 10))
    errors = []

    def client(r):
        for lim in range(2, 30, 3):
            want = [{"c": sum(1 for n, x in rows if x == f"r{r}" and n < lim),
                     "m": max((n for n, x in rows if x == f"r{r}" and n < lim), default=None)}]
            got = drv.query_database(q.format(r, lim))
            if got.get("results") != want:
                errors.append((r, lim, got, want))

    threads = [threading.Thread(target=client, args=(r,)) for r in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]


def test_driver_sql_truncates_at_max_rows(spark, monkeypatch):
    monkeypatch.setattr(api_mod, "MAX_SQL_ROWS", 5)
    t = spark.createDataFrame([(i,) for i in range(8)], "n int")
    drv, dist = _sql_tiers(spark, {"trunc": t})
    q = "SELECT n FROM trunc ORDER BY n DESC"
    assert _answered_by_driver(drv, spark, q)
    got = drv.query_database(q)
    assert got == dist.query_database(q)
    assert got["truncated"] and got["row_count"] == 5
    assert got["results"] == [{"n": n} for n in range(7, 2, -1)]


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_sql_deadline_stops_a_slow_join(spark, monkeypatch, tier):
    """A query past SQL_DEADLINE_S comes back as an error envelope on
    either tier, and the next call on the shared session succeeds."""
    monkeypatch.setattr(api_mod, "SQL_DEADLINE_S", 1.0)
    # every row has the same key: the three-way join is 2000^3 rows. Rows
    # from a local list reach the join through an iterator that checks for
    # a cancel per row, so the cancelled Spark tasks stop at once
    tables = {f"slow{i}": spark.createDataFrame([(1,)] * 2000, "k int") for i in range(3)}
    drv, dist = _sql_tiers(spark, tables)
    api = drv if tier == "driver" else dist
    q = ("SELECT COUNT(*) AS n FROM slow0 JOIN slow1 ON slow0.k = slow1.k "
         "JOIN slow2 ON slow1.k = slow2.k")
    assert _answered_by_driver(drv, spark, q)
    t0 = time.perf_counter()
    env = api.query_database(q)
    assert not env["success"] and "deadline" in env["error"], env
    assert time.perf_counter() - t0 < 30
    monkeypatch.undo()
    ok = api.query_database("SELECT COUNT(*) AS n FROM slow0 JOIN slow1 ON slow0.k = slow1.k")
    assert ok["results"] == [{"n": 4_000_000}], ok
