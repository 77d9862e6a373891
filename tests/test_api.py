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
