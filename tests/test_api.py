"""Serving facade parity tests: the reference's six agent tools + the
NL2SQL envelope, over a pipeline-built warehouse."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, smoke_repos, tmp_path_factory):
    from datacapsule_spark.pipeline import run_pipeline

    work = str(tmp_path_factory.mktemp("api_wh"))
    return run_pipeline(spark, smoke_repos, work)


@pytest.fixture(scope="module")
def api(spark, warehouse):
    from datacapsule_spark.api import DatacapsuleAPI
    from datacapsule_spark.vectorize import embed_descriptors, node_descriptors

    emb = embed_descriptors(node_descriptors(warehouse["nodes"]))
    return DatacapsuleAPI(spark, warehouse["nodes"], warehouse["edges"], emb)


def test_find_nodes_by_node_type(api):
    out = api.find_nodes_by_node_type("repo:org0/repo0", "file")
    assert out["nodes_count"] > 0
    assert all(n.startswith("file:org0/repo0/") for n in out["nodes"])
    assert out["nodes_count"] == len(out["nodes"])


def test_batch_find_independent(api):
    out = api.batch_find_nodes_by_node_type(
        ["repo:org0/repo0", "repo:org1/repo1"], "file"
    )
    a = set(out["repo:org0/repo0"]["nodes"])
    b = set(out["repo:org1/repo1"]["nodes"])
    assert a and b and not (a & b)  # reference bug (shared list) not replicated


def test_get_node_attribute(api):
    d = api.get_node_attribute("lang:python")
    assert d["node_type"] == "lang" and d["name"] == "python"
    assert api.get_node_attribute("nope:xyz") is None


def test_adjacent_descriptions_and_count(api):
    descs = api.get_adjacent_node_descriptions(["lang:python"])
    assert descs and all(isinstance(d, str) for d in descs)
    assert api.nodes_count("lang") == 3
    assert api.nodes_count() > 1000


def test_vector_tool_threshold_and_type(api):
    hits = api.get_unique_vector_query_results(
        "entity id: lang:python, type: lang, name: python",
        node_type="lang", top_k=3, better_than_threshold=0.99,
    )
    # the query text IS lang:python's descriptor → similarity 1.0
    assert hits and hits[0]["id"] == "lang:python"
    assert hits[0]["similarity"] == pytest.approx(1.0)
    assert all(h["entity_type"] == "lang" for h in hits)


def test_query_database_envelope(spark, api, warehouse):
    api.register_tables(
        {"entities": warehouse["entities"], "edges_v": warehouse["edges"]}
    )
    ok = api.query_database(
        "```sql\nSELECT kind, count(*) AS n FROM entities GROUP BY kind\n```"
    )
    assert ok["success"] and ok["row_count"] == 1
    assert ok["results"][0]["kind"] == "file"
    bad = api.query_database("SELECT * FROM no_such_table")
    assert not bad["success"] and "error" in bad


def test_format_results_max_width(api, warehouse):
    api.register_tables({"entities_fmt": warehouse["entities"]})
    env = api.query_database(
        "SELECT kind, count(*) AS n FROM entities_fmt GROUP BY kind"
    )
    text = api.format_results(env)
    lines = text.splitlines()
    # header + separator + one data row, all equal width (A8 layout)
    assert lines[2].startswith("kind")
    assert set(lines[3]) <= {"-", "+"}
    assert len(lines[2]) == len(lines[3]) == len(lines[4])
    assert "file" in lines[4]
    # failure envelope renders the error, not a table
    bad = api.format_results(api.query_database("SELECT * FROM nope"))
    assert bad.startswith("query failed")


def test_save_and_load_interactions(api, tmp_path):
    d = str(tmp_path / "saved")
    assert api.save_interaction({"id": "a1", "question": "q?", "answer": "a"}, d)
    assert api.save_interaction({"id": "a2", "question": "r?", "answer": "b"}, d)
    assert not api.save_interaction({"id": "a1", "question": "dup"}, d)  # 400 twin
    df = api.load_interactions(d)
    assert df.count() == 2
    assert {r["id"] for r in df.select("id").collect()} == {"a1", "a2"}


def test_describe_schema_temp_views_only(spark, api, warehouse):
    api.register_tables({"entities": warehouse["entities"]})
    # a permanent catalog table must NOT leak into the NL2SQL payload
    warehouse["entities"].limit(1).write.mode("overwrite").saveAsTable("perm_leak_check")
    try:
        schema = api.describe_schema()
        assert "entities" in schema
        assert "perm_leak_check" not in schema
        cols = {c["name"] for c in schema["entities"]}
        assert {"entity_id", "name", "kind"} <= cols
    finally:
        spark.sql("DROP TABLE IF EXISTS perm_leak_check")


def test_graphml_roundtrip(spark, warehouse, tmp_path):
    from datacapsule_spark.materialize import write_graphml

    nodes = warehouse["nodes"].limit(0)  # build a tiny deterministic graph
    small_nodes = spark.createDataFrame(
        [("a", "repo", "a", None), ("b", "dir", "b", None)],
        "node_id string, node_type string, name string, attrs map<string,string>",
    )
    small_edges = spark.createDataFrame(
        [("a", "contains", "b", None, None)],
        "src string, relation string, dst string, repo string, path string",
    )
    path = str(tmp_path / "g.graphml")
    write_graphml(small_nodes, small_edges, path)
    root = ET.parse(path).getroot()
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    graph = root.find("g:graph", ns)
    assert graph.get("edgedefault") == "directed"
    assert len(graph.findall("g:node", ns)) == 2
    assert len(graph.findall("g:edge", ns)) == 1


def test_graphml_guard(spark, warehouse, tmp_path):
    from datacapsule_spark.materialize import write_graphml

    with pytest.raises(ValueError, match="driver-side"):
        write_graphml(
            warehouse["nodes"], warehouse["edges"],
            str(tmp_path / "x.graphml"), max_nodes=10,
        )


def test_query_registry_consistency():
    """Driver-contract invariants: every oracle key names a registered
    query, names are unique and stable, and the driver entry module
    exposes exactly the registry."""
    import __spark_entry__ as e
    from datacapsule_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert set(e.queries()) == set(QUERIES)
    assert e.oracle_sql() == ORACLES
    # every registry entry is oracle-gated since r04 (pagerank got a
    # recursive-CTE power-method oracle, closing the last rows-only gap)
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set()


def test_save_interaction_id_edge_cases(spark, tmp_path):
    """id=0 is a valid key (duplicate rejected); auto ids skip deleted
    slots and ignore leftover .tmp files; load reads *.json only."""
    import os

    from datacapsule_spark.api import DatacapsuleAPI

    api = DatacapsuleAPI.__new__(DatacapsuleAPI)  # sink needs no graph
    api.spark = spark
    d = str(tmp_path / "saves")
    assert api.save_interaction({"id": 0, "q": "a"}, d)
    assert not api.save_interaction({"id": 0, "q": "b"}, d)  # dup id=0
    assert api.save_interaction({"q": "auto1"}, d)  # rec-0
    # crashed save leaves a .tmp; a deleted record frees rec-0's slot? no:
    # auto ids must move FORWARD (max+1), never reuse, never count .tmp
    open(os.path.join(d, "rec-7.json.tmp"), "w").write("{}")
    assert api.save_interaction({"q": "auto2"}, d)  # rec-1
    names = sorted(f for f in os.listdir(d) if f.endswith(".json"))
    assert names == ["0.json", "rec-0.json", "rec-1.json"]
    rows = api.load_interactions(d)
    assert rows.count() == 3  # .tmp never loaded


@pytest.mark.parametrize("explicit", [False, True], ids=["auto_id", "same_id"])
def test_concurrent_saves_never_lose_a_record(tmp_path, monkeypatch, explicit):
    """Two savers that both chose their id before either publishes (held
    at a barrier in the publishing call): auto ids must both land under
    different names; the same explicit id must land exactly once."""
    import json
    import os
    import threading

    from datacapsule_spark.api import DatacapsuleAPI

    api = DatacapsuleAPI.__new__(DatacapsuleAPI)
    d = str(tmp_path / "saves")
    os.makedirs(d)
    barrier = threading.Barrier(2)
    held: set[int] = set()

    def at_barrier(publish):
        def call(*args, **kwargs):
            if threading.get_ident() not in held:  # first publish of each thread
                held.add(threading.get_ident())
                barrier.wait(timeout=10)
            return publish(*args, **kwargs)
        return call

    for name in ("link", "rename", "replace"):
        monkeypatch.setattr(os, name, at_barrier(getattr(os, name)))
    results: dict[int, object] = {}

    def save(i):
        rec = {"id": "same", "who": i} if explicit else {"who": i}
        try:
            results[i] = api.save_interaction(rec, d)
        except Exception as e:  # noqa: BLE001 — reported by the asserts
            results[i] = e

    threads = [threading.Thread(target=save, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    saved = sorted(f for f in os.listdir(d) if f.endswith(".json"))
    whos = sorted(json.load(open(os.path.join(d, f)))["who"] for f in saved)
    if explicit:
        assert sorted(results.values(), key=str) == [False, True]
        assert saved == ["same.json"] and len(whos) == 1
    else:
        assert results == {0: True, 1: True}
        assert saved == ["rec-0.json", "rec-1.json"] and whos == [0, 1]
    assert sorted(os.listdir(d)) == saved  # no temp file left behind


@pytest.mark.parametrize("stmt", [
    "SET spark.sql.shuffle.partitions=3",
    "CACHE TABLE guard_view",
    "DROP VIEW guard_view",
    "CREATE TEMPORARY VIEW guard_new AS SELECT 1 AS x",
    "INSERT INTO guard_view SELECT 1",
    "SELECT 1; SET spark.sql.shuffle.partitions=3",
])
def test_query_database_refuses_non_queries(spark, api, stmt):
    """The SQL tool shares the SparkSession with every client: a statement
    that is not a read-only query is refused before it runs."""
    api.register_tables({"guard_view": spark.range(2)})
    before = spark.conf.get("spark.sql.shuffle.partitions")
    env = api.query_database(stmt)
    assert not env["success"] and "read-only" in env["error"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.catalog.tableExists("guard_view")
    assert not spark.catalog.isCached("guard_view")
    assert not spark.catalog.tableExists("guard_new")
    ok = api.query_database("```sql\nSELECT COUNT(*) AS n FROM guard_view;\n```")
    assert ok["success"] and ok["results"] == [{"n": 2}] and "truncated" not in ok


def test_query_database_caps_rows(api):
    from datacapsule_spark.api import MAX_SQL_ROWS

    env = api.query_database(f"SELECT id FROM range({MAX_SQL_ROWS + 5}) ORDER BY id DESC")
    assert env["success"] and env["truncated"] is True
    assert env["row_count"] == len(env["results"]) == MAX_SQL_ROWS
    assert env["results"][0] == {"id": MAX_SQL_ROWS + 4}


def test_save_interaction_stress(tmp_path):
    """More savers than cores, with a short switch interval: every auto-id
    save lands in its own file."""
    import os
    import sys
    import threading

    from datacapsule_spark.api import DatacapsuleAPI

    api = DatacapsuleAPI.__new__(DatacapsuleAPI)
    d = str(tmp_path / "stress")
    n_threads, per_thread = 2 * (os.cpu_count() or 2), 10
    ok: list[bool] = []

    def save(i):
        for j in range(per_thread):
            ok.append(api.save_interaction({"who": f"{i}-{j}"}, d))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=save, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert ok == [True] * (n_threads * per_thread)
    assert len(os.listdir(d)) == n_threads * per_thread  # no record lost, no temp left
