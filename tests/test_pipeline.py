"""Pipeline integration: census invariants, relational pivots, resume."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from datacapsule_spark.lineage import StageTracker
from datacapsule_spark.materialize import node_type_histogram, relation_histogram
from datacapsule_spark.pipeline import run_pipeline


def _run(spark, smoke_repos, tmp_path, **kw):
    return run_pipeline(spark, smoke_repos, str(tmp_path / "work"), **kw)


def test_pipeline_census_and_relational(spark, smoke_repos, tmp_path):
    out = _run(spark, smoke_repos, tmp_path)
    nodes, edges = out["nodes"], out["edges"]
    # every edge endpoint exists in nodes (graph closure)
    ids = nodes.select("node_id")
    dangling = (
        edges.select(F.col("src").alias("node_id"))
        .union(edges.select(F.col("dst").alias("node_id")))
        .distinct()
        .join(ids, "node_id", "left_anti")
        .count()
    )
    assert dangling == 0
    # node ids unique
    assert nodes.count() == nodes.select("node_id").distinct().count()
    # census: exactly the 10 predicates, exactly the expected node types
    rels = {r["relation"] for r in relation_histogram(edges).collect()}
    assert rels == {
        "contains", "in_lang", "imports", "defines_function", "defines_class",
        "calls", "authored_by", "named_in", "has_loc", "has_size",
    }
    types = {r["node_type"] for r in node_type_histogram(nodes).collect()}
    assert types <= {
        "repo", "dir", "file", "lang", "module", "symbol",
        "author", "year", "metric", "raw",
    }
    # canonicalization merged planted alias variants: strictly fewer
    # distinct symbols than raw extraction produced
    raw_syms = (
        out["triples_raw"].where(F.col("obj_type") == "symbol")
        .select("obj").distinct().count()
    )
    canon_syms = (
        out["triples"].where(F.col("obj_type") == "symbol")
        .select("obj").distinct().count()
    )
    assert canon_syms < raw_syms
    # relational layer: entities 1:1 with files; facts all numeric
    assert out["entities"].count() == 500
    assert out["entities"].select("entity_id").distinct().count() == 500
    assert out["numerical_facts"].where(F.col("value").isNull()).count() == 0
    # sentinel authors filtered (P1)
    assert (
        out["entities"].where(F.col("author").isin("unknown", "n/a")).count() == 0
    )
    # entity_mentions FK joins to entities (distributions.species_id →
    # species.id shape, ADVICE r01): zero orphan mention rows
    orphans = (
        out["entity_mentions"]
        .join(out["entities"], "entity_id", "left_anti")
        .count()
    )
    assert orphans == 0
    assert "target" in out["entity_mentions"].columns


def test_pipeline_resume_identical_output(spark, smoke_repos, tmp_path):
    """Kill-after-stage-k resume: invalidate a mid-pipeline stage and
    re-run — outputs must be identical, no duplicate triples."""
    work = tmp_path / "work2"
    out1 = run_pipeline(spark, smoke_repos, str(work))
    t1 = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in out1["triples"].collect()
    )
    # simulate mid-pipeline kill: canonicalize and later stages lost
    tracker = StageTracker(spark, str(work))
    for stage in ["30_canonicalize", "40_canon_edges", "50_nodes"]:
        tracker.invalidate(stage)
    out2 = run_pipeline(spark, smoke_repos, str(work))
    t2 = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in out2["triples"].collect()
    )
    assert t1 == t2
    assert len(t2) == len(set(t2)), "resume must not duplicate triples"
    # lineage table recorded every stage
    stages = {r["stage"] for r in out2["lineage"].collect()}
    assert {"10_extract", "30_canonicalize", "40_canon_edges", "50_nodes"} <= stages


def test_failed_rewrite_never_resumes_stale_boundary(spark, tmp_path):
    """Re-materializing a stage under new params whose write fails must
    not leave the old params' marker behind: Spark's overwrite already
    deleted the old data, so a later call under the old params has to
    re-run instead of resuming an empty boundary."""
    tracker = StageTracker(spark, str(tmp_path / "wd"))

    def ten():
        return spark.range(10)

    def failing():
        err = F.raise_error(F.lit("write fails"))
        return spark.range(10).select(
            F.when(F.col("id") >= 0, err).otherwise(F.col("id")).alias("id")
        )

    assert tracker.materialize("s", ten, params={"v": 1}).count() == 10
    with pytest.raises(Exception, match="write fails"):
        tracker.materialize("s", failing, params={"v": 2})
    assert tracker.materialize("s", ten, params={"v": 1}).count() == 10


def test_pipeline_file_dedup(spark, smoke_repos, tmp_path):
    """dedup_files drops byte-identical contents pre-extraction."""
    from pyspark.sql import functions as F

    dup = smoke_repos.limit(10).select(
        F.concat(F.lit("dup/"), "repo").alias("repo"),
        "path", "commit", "lang", "content",
    )
    with_dups = smoke_repos.unionByName(dup)
    out = run_pipeline(
        spark, with_dups, str(tmp_path / "wd"), dedup_files=True
    )
    # the 10 duplicated contents collapse: exactly 500 distinct files
    n_files = (
        out["triples"].where(F.col("pred") == "has_loc").select("subj").distinct().count()
    )
    assert n_files == 500
    # keep = lexicographically first (repo, path): originals win over "dup/..."?
    # 'dup/org...' < 'org...' lexicographically, so the dup copies win —
    # semantics is deterministic min, not original-preference
    kept_dup = (
        out["triples"].where(F.col("repo").startswith("dup/")).count()
    )
    assert kept_dup > 0


def test_pipeline_near_dedup(spark, smoke_repos, tmp_path):
    """dedup_near drops MinHash-LSH near-duplicate files (one-token
    patches of vendored copies) that byte-hash dedup misses."""
    from pyspark.sql import functions as F

    near = smoke_repos.limit(10).select(
        F.concat(F.lit("vendored/"), "repo").alias("repo"),
        "path", "commit", "lang",
        # one appended token: different bytes, ~identical shingles
        F.concat("content", F.lit("\npatched = True\n")).alias("content"),
    )
    with_near = smoke_repos.unionByName(near)
    base = run_pipeline(
        spark, with_near, str(tmp_path / "wd_base"),
        dedup_files=True,  # byte-hash alone cannot drop the patched copies
    )
    n_files_base = (
        base["triples"].where(F.col("pred") == "has_loc")
        .select("subj").distinct().count()
    )
    assert n_files_base == 510

    out = run_pipeline(
        spark, with_near, str(tmp_path / "wd_near"),
        dedup_near=True,
    )
    n_files = (
        out["triples"].where(F.col("pred") == "has_loc")
        .select("subj").distinct().count()
    )
    assert n_files == 500  # each near-dup cluster keeps one member


def test_pipeline_skips_completed_stages(spark, smoke_repos, tmp_path, monkeypatch):
    work = tmp_path / "work3"
    run_pipeline(spark, smoke_repos, str(work))
    # second run must not re-extract: poison the extractor and rerun
    import datacapsule_spark.pipeline as P

    def boom(*a, **k):
        raise AssertionError("extract re-ran despite completed stage")

    monkeypatch.setattr(P, "extract_triples", boom)
    out = run_pipeline(spark, smoke_repos, str(work))
    assert out["triples"].count() > 0


def test_split_stream_canon_equals_full_dedup(spark, smoke_repos):
    """canonical_edges shuffles only the collision-prone stream — its
    output must equal the brute-force rewrite-everything-then-dedup,
    including the alias-collision case (a file referencing BOTH
    variants of a linked name) and the contains-chain duplicates."""
    from datacapsule_spark.canonicalize import apply_canonical, connected_components
    from datacapsule_spark.extract import extract_triples
    from datacapsule_spark.linking import alias_pairs
    from datacapsule_spark.materialize import canonical_edges, dedup_triples

    triples = extract_triples(smoke_repos.limit(120)).drop(
        "commit", "content_sha256"
    ).localCheckpoint(eager=True)
    names = (
        triples.where(F.col("obj_type") == "symbol")
        .select(F.col("obj").alias("name"))
        .distinct()
    )
    mapping = connected_components(
        alias_pairs(names), "a", "b"
    ).localCheckpoint(eager=True)
    assert mapping.count() > 0  # the corpus plants alias variants

    split = sorted(
        map(tuple, canonical_edges(triples, mapping).collect())
    )
    full = sorted(
        map(
            tuple,
            dedup_triples(
                apply_canonical(triples, mapping, ["subj", "obj"])
            ).collect(),
        )
    )
    assert split == full
    assert len(split) == len({(s, p, o) for s, p, o, *_ in split})


def test_entities_equal_python_oracle(spark):
    """build_relational's entities table, row for row, against a plain
    Python pivot of the canonical triples: one row per file subject
    that has a has_loc triple, (repo, lang, path) off that triple,
    naming_year / author the min of its named_in / authored_by objects
    or NULL. Covers files with no named_in or authored_by, a file
    subject without has_loc (not an entity) and a non-file subject
    carrying the same preds (not an entity)."""
    from datacapsule_spark.corpus import generate_rows
    from datacapsule_spark.extraction_schema import extract_file
    from datacapsule_spark.materialize import build_relational
    from datacapsule_spark.schema import TRIPLES_RAW

    triples = [t for row in generate_rows(30) for t in extract_file(*row)]

    def row(subj, pred, obj, subj_type="file"):
        return {"subj": subj, "pred": pred, "obj": obj, "subj_type": subj_type,
                "obj_type": obj.split(":")[0], "repo": "o/r", "path": "p.py",
                "commit": "c" * 40, "lang": "python", "content_sha256": "0" * 64}

    triples += [
        row("file:o/r/no_loc.py", "named_in", "year:1999"),
        row("file:o/r/no_loc.py", "authored_by", "author:Ann"),
        row("dir:o/r/src", "has_loc", "loc:7", subj_type="dir"),
        row("dir:o/r/src", "named_in", "year:2000", subj_type="dir"),
    ]

    by_subj = {}
    for t in triples:
        if t["subj_type"] == "file":
            by_subj.setdefault(t["subj"], []).append(t)
    want = set()
    for subj, ts in by_subj.items():
        locs = [t for t in ts if t["pred"] == "has_loc"]
        if not locs:
            continue
        years = [int(t["obj"][len("year:"):]) for t in ts if t["pred"] == "named_in"]
        authors = [t["obj"][len("author:"):] for t in ts if t["pred"] == "authored_by"]
        want.add((subj, "file", locs[0]["lang"], locs[0]["repo"],
                  min(t["path"] for t in locs),
                  min(years, default=None), min(authors, default=None)))
    assert any(w[5] is None for w in want) and any(w[6] is None for w in want)
    assert any(w[5] is not None for w in want) and any(w[6] is not None for w in want)

    df = spark.createDataFrame([tuple(t[f.name] for f in TRIPLES_RAW.fields)
                                for t in triples], TRIPLES_RAW)
    entities = build_relational(df)["entities"]
    got = entities.select(
        "name", "kind", "lang", "repo", "first_path", "naming_year", "author"
    ).collect()
    assert len(got) == len(want) == 30
    assert set(map(tuple, got)) == want
    assert entities.where(F.col("entity_id") != F.xxhash64("name")).count() == 0


def test_link_tiers_give_identical_boundaries(spark, tmp_path, monkeypatch):
    """A build that links on the driver and one forced onto the Spark
    tier (LINK_DRIVER_NAMES = 0) write identical 20_link, 30_canonicalize
    and 40_canon_edges rows under identical marker schemas."""
    import json

    import datacapsule_spark.linking as L
    from datacapsule_spark.corpus import generate_row, symbol_vocab

    vocab = symbol_vocab()
    rows = [generate_row(i, vocab) for i in range(40)]
    # a near-miss alias the normal form cannot link (fuzzy pair)
    typo = vocab[0][:-1] + vocab[0][-1] * 2
    content = f"# year: 2001\ndef {vocab[0]}(x):\n    return x\ny = {typo}(1)\n" + "\n" * 18
    rows.append(("o/r", "typo.py", "c" * 40, "python", content))
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    tiers = []
    real = L._driver_alias_pairs
    monkeypatch.setattr(
        L, "_driver_alias_pairs", lambda r: tiers.append("driver") or real(r)
    )
    out = {}
    for tier, limit in (("driver", L.LINK_DRIVER_NAMES), ("spark", 0)):
        monkeypatch.setattr(L, "LINK_DRIVER_NAMES", limit)
        work = tmp_path / tier
        run_pipeline(spark, repos, str(work))
        out[tier] = {
            stage: (
                sorted(map(tuple, StageTracker(spark, str(work)).load(stage).collect())),
                json.loads((work / f"stage_{stage}" / "_STAGE_DONE").read_text())["schema"],
            )
            for stage in ("20_link", "30_canonicalize", "40_canon_edges")
        }
    assert tiers == ["driver"]
    assert out["driver"] == out["spark"]
    link_rows = out["driver"]["20_link"][0]
    assert any(s == 1.0 for *_, s in link_rows)  # normal-form pairs
    assert any(s < 1.0 for *_, s in link_rows)  # fuzzy pairs


def test_iceberg_branch_is_code_not_prose(spark, tmp_path):
    """The iceberg=True paths exist as executable branches: with no
    catalog on the session (this sandbox) they must fail fast with
    actionable guidance; with a catalog they run writeTo/MERGE INTO
    (exercised on real clusters, skipped here)."""
    import pytest as _pytest

    from datacapsule_spark.materialize import iceberg_available, write_graph

    nodes = spark.createDataFrame(
        [("a", "repo", "a", None)],
        "node_id string, node_type string, name string, attrs map<string,string>",
    )
    edges = spark.createDataFrame(
        [("a", "contains", "a", None, None)],
        "src string, relation string, dst string, repo string, path string",
    )
    if iceberg_available(spark):
        write_graph(nodes, edges, "local.kg_test", iceberg=True)
        assert spark.table("local.kg_test.nodes").count() == 1
        return
    with _pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_graph(nodes, edges, "local.kg_test", iceberg=True)
    with _pytest.raises(RuntimeError, match="Iceberg catalog"):
        StageTracker(spark, str(tmp_path / "ice")).merge_lineage_iceberg(
            "local.kg_test.lineage"
        )


def test_stale_checkpoint_invalidated_on_changed_config(
    spark, smoke_repos, tmp_path, monkeypatch
):
    """ADVICE r01 (medium): a rerun with a toggled flag or a different
    run_id must RE-EXECUTE the affected stages, not silently return the
    stale boundary from the same work_dir."""
    import datacapsule_spark.pipeline as P

    work = str(tmp_path / "work4")
    run_pipeline(spark, smoke_repos, work)

    calls = {"link": 0}
    orig = P.alias_pairs

    def counting(*a, **k):
        calls["link"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(P, "alias_pairs", counting)
    # same config → resumes, linking NOT re-run
    run_pipeline(spark, smoke_repos, work)
    assert calls["link"] == 0
    # toggled min_code_quality → 20_link (and downstream) re-execute
    run_pipeline(spark, smoke_repos, work, min_code_quality=0.0)
    assert calls["link"] == 1
    # different run_id → everything re-executes (extract marker invalid)
    def boom(*a, **k):
        raise AssertionError("sentinel: extract re-ran")

    monkeypatch.setattr(P, "extract_triples", boom)
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="sentinel"):
        run_pipeline(spark, smoke_repos, work, run_id="other")


def test_pipeline_quality_gate(spark, smoke_repos, tmp_path):
    """min_code_quality drops low-quality files before extraction; the
    gate is a pure filter (no extra Exchange on the scan side)."""
    from pyspark.sql import functions as F

    from datacapsule_spark.operators.code_quality import quality_gate
    from datacapsule_spark.plans.audit import explain_report

    junk = smoke_repos.limit(5).select(
        "repo",
        F.concat(F.lit("gen/"), "path").alias("path"),
        "commit", "lang",
        F.concat(F.lit("# @generated DO NOT EDIT\n"), "content").alias("content"),
    )
    with_junk = smoke_repos.unionByName(junk)
    out = run_pipeline(
        spark, with_junk, str(tmp_path / "wq"),
        min_code_quality=0.5,
    )
    gen_files = out["triples"].where(F.col("path").startswith("gen/")).count()
    assert gen_files == 0  # autogen files never reach extraction
    n_files = (
        out["triples"].where(F.col("pred") == "has_loc")
        .select("subj").distinct().count()
    )
    assert n_files == 500
    # plan shape: the gate adds zero exchanges over the bare scan
    r = explain_report(quality_gate(smoke_repos, 0.5))
    assert r.exchanges == 0, r.text


def test_incremental_ingest_equals_full_rebuild(spark, smoke_repos, tmp_path):
    """run_incremental(delta) over a base run must produce the same
    canonical graph as a from-scratch run over base ∪ delta, extract
    only the delta, and resume idempotently."""
    import datacapsule_spark.pipeline as P
    from datacapsule_spark.pipeline import run_incremental

    is_delta = (F.abs(F.xxhash64("repo", "path")) % 5) == 0
    base = smoke_repos.where(~is_delta)
    delta = smoke_repos.where(is_delta)
    assert 0 < delta.count() < smoke_repos.count()

    work = str(tmp_path / "inc")
    run_pipeline(spark, base, work)
    out_inc = run_incremental(spark, delta, work)

    full = run_pipeline(spark, smoke_repos, str(tmp_path / "full"))
    t_inc = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in out_inc["triples"].collect()
    )
    t_full = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in full["triples"].collect()
    )
    assert t_inc == t_full
    n_inc = {r["node_id"] for r in out_inc["nodes"].collect()}
    n_full = {r["node_id"] for r in full["nodes"].collect()}
    assert n_inc == n_full

    # resubmitting the SAME delta is a pure resume: nothing re-extracts
    import pytest as _pytest

    def boom(*a, **k):
        raise AssertionError("extraction re-ran on an unchanged delta set")

    orig = P.extract_triples
    P.extract_triples = boom
    try:
        again = run_incremental(spark, delta, work)
        assert again["triples"].count() == len(t_inc)
    finally:
        P.extract_triples = orig

    # without a base run, incremental refuses
    with _pytest.raises(RuntimeError):
        run_incremental(spark, delta, str(tmp_path / "nobase"))


def test_incremental_updated_file_supersedes(spark, smoke_repos, tmp_path):
    """A delta re-shipping an existing (repo, path) replaces that
    file's triples (newest wins) — no duplicate per-file rows; and two
    DIFFERENT in-memory deltas get distinct stage keys (content
    checksum, not schema-only identity)."""
    from pyspark.sql import functions as F

    from datacapsule_spark.pipeline import run_incremental

    work = str(tmp_path / "upd")
    run_pipeline(spark, smoke_repos, work)

    # delta 1: updated versions of 10 existing files (content changed)
    upd = (
        smoke_repos.limit(10)
        .select(
            "repo", "path", "commit", "lang",
            F.concat("content", F.lit("\nupdated_marker = 1\n")).alias("content"),
        )
        .localCheckpoint(eager=True)  # in-memory: schema-only signature
    )
    out1 = run_incremental(spark, upd, work)
    # per-file uniqueness invariant: exactly one has_loc triple per file
    dup_files = (
        out1["triples_raw"].where(F.col("pred") == "has_loc")
        .groupBy("subj").count().where(F.col("count") > 1).count()
    )
    assert dup_files == 0
    # the surviving triples for an updated file carry the NEW content's
    # sha256 (newest wins), not the base version's
    import hashlib

    first = upd.orderBy("repo", "path").first()
    want_sha = hashlib.sha256(first["content"].encode()).hexdigest()
    got_shas = {
        r["content_sha256"]
        for r in out1["triples_raw"]
        .where((F.col("repo") == first["repo"]) & (F.col("path") == first["path"]))
        .select("content_sha256")
        .distinct()
        .collect()
    }
    assert got_shas == {want_sha}

    # delta 2: in-memory, SAME schema, different rows — must not
    # collide with delta 1's stage key
    brand_new = (
        smoke_repos.limit(5)
        .select(
            F.concat(F.lit("late/"), "repo").alias("repo"),
            "path", "commit", "lang", "content",
        )
        .localCheckpoint(eager=True)
    )
    out2 = run_incremental(spark, brand_new, work)
    late = (
        out2["triples_raw"].where(F.col("repo").startswith("late/"))
        .select("path").distinct().count()
    )
    assert late == 5


def test_incremental_quality_gate_change_invalidates_downstream(
    spark, smoke_repos, tmp_path
):
    """Re-submitting an already-ingested delta with a DIFFERENT
    --min-code-quality must rebuild stages 20-70, not resume the stale
    boundaries built from the previously-gated triples (the downstream
    params hash now folds min_code_quality in)."""
    from pyspark.sql import functions as F

    from datacapsule_spark.pipeline import run_incremental

    small = smoke_repos.where(F.abs(F.xxhash64("repo", "path")) % 10 == 0)
    work = str(tmp_path / "qg")
    run_pipeline(spark, small, work)

    junk = small.limit(3).select(
        "repo",
        F.concat(F.lit("gen/"), "path").alias("path"),
        "commit", "lang",
        F.concat(F.lit("# @generated DO NOT EDIT\n"), "content").alias("content"),
    ).localCheckpoint(eager=True)

    gated = run_incremental(
        spark, junk, work, min_code_quality=0.5
    )
    assert (
        gated["triples"].where(F.col("path").startswith("gen/")).count() == 0
    )
    # same delta, gate removed: the autogen files must now flow all the
    # way through canonicalization into the FINAL triples — a stale
    # downstream resume would still show zero
    ungated = run_incremental(
        spark, junk, work, min_code_quality=None
    )
    assert (
        ungated["triples"].where(F.col("path").startswith("gen/")).count() > 0
    )
