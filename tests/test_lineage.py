"""StageTracker boundary contract: every boundary reads back through its
marker's schema without a Spark job, markers of another engine version
never resume, input identity covers in-memory corpora and filtered or
rewritten files, and a failed marker publish re-runs exactly the failed
stage."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from datacapsule_spark.extract import extract_triples
from datacapsule_spark.lineage import STAGE_VERSION, StageTracker
from datacapsule_spark.operators.code_quality import quality_gate
from datacapsule_spark.pipeline import run_pipeline


def _with_jobs(spark, group, call):
    """call() inside a job group; returns its result and the group's jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "stage boundary job guard")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
    )


def _triple_hash(df):
    h = F.xxhash64(*sorted(df.columns))
    r = df.select(F.count("*").alias("n"), F.bit_xor(h).alias("x")).first()
    return r["n"], r["x"]


def _stages(work):
    return sorted(
        d[len("stage_"):] for d in os.listdir(work) if d.startswith("stage_")
    )


def test_load_equals_inferred_read_without_jobs(spark, smoke_repos, tmp_path):
    work = str(tmp_path / "work")
    run_pipeline(spark, smoke_repos, work)
    tracker = StageTracker(spark, work)
    stages = _stages(work)
    assert {"10_extract", "40_canon_edges", "50_nodes"} <= set(stages)
    for stage in stages:
        got, jobs = _with_jobs(
            spark, f"load-{stage}", lambda: tracker.load(stage).schema
        )
        assert jobs == [], stage
        want = spark.read.parquet(os.path.join(work, f"stage_{stage}", "data"))
        # names, order, types and nullability
        assert got == want.schema, stage
        assert _rows(tracker.load(stage)) == _rows(want), stage

    # a fully quality-gated delta writes no parquet file at all; it still
    # reads back with the columns of a non-empty extract boundary
    junk = smoke_repos.limit(3).select(
        "repo", F.concat(F.lit("gen/"), "path").alias("path"), "commit", "lang",
        F.concat(F.lit("# @generated DO NOT EDIT\n"), "content").alias("content"),
    )
    empty = tracker.materialize(
        "15_delta_0000_gated",
        lambda: extract_triples(quality_gate(junk, 0.5)),
        partition_by=["pred"],
    )
    data = os.path.join(work, "stage_15_delta_0000_gated", "data")
    assert not [f for _, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")]
    assert empty.count() == 0
    assert empty.columns == tracker.load("10_extract").columns


@pytest.mark.parametrize("version", [None, STAGE_VERSION - 1, STAGE_VERSION + 1],
                         ids=["missing", "older", "newer"])
def test_marker_of_another_engine_version_never_resumes(spark, tmp_path, version):
    tracker = StageTracker(spark, str(tmp_path / "wd"))
    assert tracker.materialize("s", lambda: spark.range(3), params={"v": 1}).count() == 3
    marker = tmp_path / "wd" / "stage_s" / "_STAGE_DONE"
    meta = json.loads(marker.read_text())
    assert meta["version"] == STAGE_VERSION
    if version is None:
        del meta["version"]
    else:
        meta["version"] = version
    marker.write_text(json.dumps(meta))  # same run_id and params hash

    ran = []

    def five():
        ran.append(1)
        return spark.range(5)

    assert not tracker.is_done("s", params={"v": 1})
    assert tracker.materialize("s", five, params={"v": 1}).count() == 5
    assert ran == [1]


def test_run_pipeline_keys_in_memory_input_by_content(spark, smoke_repos, tmp_path):
    """Two different in-memory corpora with one schema share no input
    files, so only their content tells them apart: the second run in the
    same work dir must extract its own files."""
    def corpus(i):
        return smoke_repos.where(
            F.abs(F.xxhash64("repo", "path")) % 25 == i
        ).localCheckpoint(eager=True)

    first, second = corpus(0), corpus(1)
    work = str(tmp_path / "mem")
    run_pipeline(spark, first, work)
    out = run_pipeline(spark, second, work)
    want = {tuple(r) for r in second.select("repo", "path").collect()}
    got = {tuple(r) for r in out["triples_raw"].select("repo", "path").distinct().collect()}
    assert got == want


def _files(df):
    return {tuple(r) for r in df.select("repo", "path").distinct().collect()}


def _slice(smoke_repos, i):
    return smoke_repos.where(F.abs(F.xxhash64("repo", "path")) % 20 == i)


def test_run_pipeline_keys_filtered_file_input_by_plan(spark, smoke_repos, tmp_path):
    """A filter over the same input files is another input: after a run
    over the filtered frame, a run over the unfiltered one in the same
    work dir extracts every file."""
    path = str(tmp_path / "corpus")
    _slice(smoke_repos, 0).write.parquet(path)
    full = spark.read.parquet(path)
    work = str(tmp_path / "wd")
    run_pipeline(spark, full.where(F.length("path") % 2 == 0), work)
    out = run_pipeline(spark, full, work)
    assert _files(out["triples_raw"]) == _files(full)


def test_run_pipeline_keys_rewritten_input_file_by_status(spark, smoke_repos, tmp_path):
    """An input file rewritten in place (same path, other rows) is another
    input: the second run extracts the new rows, not the old boundary."""
    import shutil

    path = tmp_path / "corpus"
    path.mkdir()
    target = path / "part-0.parquet"
    for i in (0, 1):
        staged = str(tmp_path / f"staged{i}")
        _slice(smoke_repos, i).coalesce(1).write.parquet(staged)
        (part,) = [f for f in os.listdir(staged) if f.endswith(".parquet")]
        shutil.copyfile(os.path.join(staged, part), target)
        os.utime(target, (1_000_000_000 + i, 1_000_000_000 + i))
        repos = spark.read.parquet(str(path))
        out = run_pipeline(spark, repos, str(tmp_path / "wd"))
    assert _files(out["triples_raw"]) == _files(_slice(smoke_repos, 1))


def test_input_signature_is_stable_across_processes(spark, smoke_corpus_path):
    """CLI resume keys a file-backed input by one read of it: the same
    read in two fresh Python processes (fresh JVMs) and in this session
    gives one signature."""
    import subprocess
    import sys

    from datacapsule_spark.lineage import input_signature

    code = (
        "import json, sys\n"
        "from datacapsule_spark.session import get_spark\n"
        "from datacapsule_spark.lineage import input_signature\n"
        "s = get_spark('sig', master='local[1]', shuffle_partitions=1)\n"
        "df = s.read.parquet(sys.argv[1]).where(\"lang = 'python'\")\n"
        "print('SIG', json.dumps(input_signature(df), sort_keys=True))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, smoke_corpus_path],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for _ in range(2)
    ]
    sigs = []
    for p in procs:
        out, _ = p.communicate(timeout=300)
        assert p.returncode == 0
        sigs += [json.loads(l[4:]) for l in out.splitlines() if l.startswith("SIG ")]
    here = input_signature(
        spark.read.parquet(smoke_corpus_path).where("lang = 'python'")
    )
    assert sigs == [here, here]
    assert "plan_md5" in here


@pytest.fixture(scope="module")
def small_repos(smoke_repos):
    return smoke_repos.where(F.abs(F.xxhash64("repo", "path")) % 5 == 0)


@pytest.fixture(scope="module")
def uninterrupted(spark, small_repos, tmp_path_factory):
    out = run_pipeline(spark, small_repos, str(tmp_path_factory.mktemp("clean")))
    return _triple_hash(out["triples"])


@pytest.mark.parametrize(
    "stage", ["10_extract", "30_canonicalize", "40_canon_edges", "70_rel_entities"]
)
def test_failed_marker_publish_reruns_the_stage(
    spark, small_repos, uninterrupted, tmp_path, monkeypatch, stage
):
    """The build dies between a stage's data write and its marker
    publish; the re-run resumes every published stage, re-runs the
    failed one and ends at the uninterrupted run's canonical triples."""
    work = str(tmp_path / "wd")
    target = os.path.join(work, f"stage_{stage}", "_STAGE_DONE")
    real_replace = os.replace

    def replace(src, dst):
        if dst == target:
            raise OSError("injected: marker publish failed")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="injected"):
        run_pipeline(spark, small_repos, work)
    monkeypatch.setattr(os, "replace", real_replace)

    tracker = StageTracker(spark, work)
    assert os.path.isdir(os.path.join(work, f"stage_{stage}", "data"))
    assert not tracker.is_done(stage)
    published = {
        s: os.path.getmtime(tracker._marker(s))
        for s in _stages(work) if tracker.is_done(s)
    }

    out = run_pipeline(spark, small_repos, work)
    assert tracker.is_done(stage)
    assert _triple_hash(out["triples"]) == uninterrupted
    assert {s: os.path.getmtime(tracker._marker(s)) for s in published} == published
