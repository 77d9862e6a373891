"""``build`` workload: full KG construction from an empty work dir in a
fresh JVM, then three cycles of a simulated crash after stage 30 and the
resume that finishes the job.

Both untraced and traced runs call ``pipeline.run_pipeline``. A traced
run has it build its StageTracker from a subclass whose ``materialize``
opens one span per stage, named after the layer function the stage runs.

On 4 cores a cold build takes ~31 s at 300 files, ~32 s at 1500 and ~37 s
at 6000: at this size the first-run cost (Python-worker start-up, JIT and
codegen, per-job scheduling) is ~95% of the build, and the part that
grows with the corpus ~5%.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datacapsule_spark.pipeline as pipeline_mod
from datacapsule_spark import corpus as gen
from datacapsule_spark.extraction_schema import extract_file
from datacapsule_spark.lineage import StageTracker
from datacapsule_spark.pipeline import run_pipeline
from datacapsule_spark.schema import TRIPLES_RAW

import common

FILES = 1500
STAGES = ["10_extract", "20_link", "30_canonicalize", "40_canon_edges", "50_nodes",
          "70_rel_entities", "70_rel_entity_mentions", "70_rel_numerical_facts",
          "70_rel_descriptions"]
CRASHED = [s for s in STAGES if s >= "40"]
RESUMES = 3  # crash/resume cycles per run; recover_s is their median
EXTRACT_SAMPLE = 25


# Span per pipeline stage, named after the layer function the stage runs.
STAGE_SPANS = {
    "10_extract": "extract.extract_triples",
    "20_link": "linking.alias_pairs",
    "30_canonicalize": "canonicalize.connected_components",
    "40_canon_edges": "materialize.canonical_edges",
    "50_nodes": "materialize.build_nodes",
}


def traced_tracker(tr):
    """StageTracker whose materialize opens a span for its stage (and
    is_done / load a lineage span), for run_pipeline to use in traced
    runs. Stages that run in run_pipeline's thread pool get the span open
    when the tracker was made (the build's) as parent."""

    class TracedTracker(StageTracker):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self._parent = tr.current()

        def materialize(self, stage, df_thunk, **kwargs):
            name = STAGE_SPANS.get(stage, "materialize.relational")
            with tr.span(name, parent=tr.current() or self._parent, stage=stage):
                return super().materialize(stage, df_thunk, **kwargs)

        def is_done(self, stage, params=None):
            with tr.span("lineage.is_done", stage=stage):
                return super().is_done(stage, params)

        def load(self, stage):
            with tr.span("lineage.load", stage=stage):
                return super().load(stage)

    return TracedTracker


def triple_hash(spark, work_dir: str) -> tuple:
    """Order-insensitive fingerprint of the canonical triple boundary."""
    df = spark.read.parquet(os.path.join(work_dir, "stage_40_canon_edges", "data"))
    h = F.xxhash64(*sorted(df.columns))
    r = df.select(F.count("*").alias("n"), F.bit_xor(h).alias("x"),
                  F.sum(h.cast("decimal(38,0)")).alias("s")).first()
    return r["n"], r["x"], str(r["s"])


def marker_times(work_dir: str) -> dict[str, float]:
    out = {}
    for stage in STAGES:
        path = os.path.join(work_dir, f"stage_{stage}", "_STAGE_DONE")
        out[stage] = os.path.getmtime(path) if os.path.exists(path) else float("-inf")
    return out


def stage_rows(work_dir: str, stage: str) -> int:
    with open(os.path.join(work_dir, f"stage_{stage}", "lineage.jsonl")) as f:
        return sum(json.loads(line)["output_rows"] for line in f)


class Build:
    files = FILES

    @staticmethod
    def inputs(seed: int) -> None:
        common.corpus(seed, FILES)

    def __init__(self, spark, seed: int, tr, res):
        self.spark, self.seed, self.tr, self.res = spark, seed, tr, res
        self.path = common.corpus(seed, FILES)
        self.build_s = None
        self.work_dir = None
        self.resume_s = None
        self.resumes: list[float] = []

    def _build(self, work_dir: str, span: str = "bench.build") -> None:
        with self.tr.span(span):
            run_pipeline(self.spark, self.repos, work_dir)

    def install_layer_spans(self):
        """run_pipeline builds its StageTracker from the traced subclass;
        returns an undo callable."""
        pipeline_mod.StageTracker = traced_tracker(self.tr)

        def undo():
            pipeline_mod.StageTracker = StageTracker
        return undo

    def setup(self) -> None:
        self.repos = self.spark.read.parquet(self.path)

    def prepare(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def measure(self, seconds: float) -> None:
        """One build in this fresh JVM, as every pipeline CLI run is: JIT,
        codegen and Python-worker start-up included. A second build would
        be a warm one, so there is none; the cold build outlasts the
        --seconds the benchmark runs with (~30 s on 4 cores)."""
        work_dir = common.fresh_dir("work", "build")
        t_start = time.time()
        t0 = time.perf_counter()
        ok = self.res.attempt("build", self._build, work_dir)
        dt = time.perf_counter() - t0
        stale = [s for s, t in marker_times(work_dir).items() if t < t_start]
        if ok and self.res.check("build: every stage ran", not stale, stale):
            self.build_s = dt
            self.work_dir = work_dir

    def recover(self) -> float | None:
        """RESUMES cycles of a crash after stage 30 (markers of 40+
        removed), then the resume that finishes the job on the build's
        work dir; the median wall of a resume."""
        work_dir = self.work_dir
        if work_dir is None:
            return None
        before = triple_hash(self.spark, work_dir)
        tracker = StageTracker(self.spark, work_dir, "run0")
        for i in range(1, RESUMES + 1):
            with self.tr.span("lineage.invalidate"):
                for stage in CRASHED:
                    tracker.invalidate(stage)
            t_crash = time.time()
            t0 = time.perf_counter()
            ok = self.res.attempt(f"resume {i}", self._build, work_dir, "bench.resume")
            dt = time.perf_counter() - t0
            wrong = [s for s, t in marker_times(work_dir).items()
                     if (t >= t_crash) != (s in CRASHED)]
            if self.res.check(f"resume {i} re-ran exactly the crashed stages",
                              ok and not wrong, wrong):
                self.resumes.append(dt)
        self.res.check("canonical triples after the resumes equal those before the crash",
                       triple_hash(self.spark, work_dir) == before)
        if len(self.resumes) == RESUMES:
            self.resume_s = common.median(self.resumes)
        return self.resume_s

    # ------------------------------------------------------ correctness

    def verify(self) -> None:
        spark, wd = self.spark, self.work_dir
        if wd is None:  # the build failed; already counted
            return
        self._verify_extract_sample(wd)
        self._verify_aliases(wd)
        nodes = spark.read.parquet(os.path.join(wd, "stage_50_nodes", "data"))
        canon = spark.read.parquet(os.path.join(wd, "stage_40_canon_edges", "data"))
        ends = canon.select(F.col("subj").alias("node_id")).union(
            canon.select(F.col("obj").alias("node_id"))).distinct()
        dangling = ends.join(nodes, "node_id", "left_anti").count()
        self.res.check("every edge endpoint is a node", dangling == 0, dangling)

    def _verify_extract_sample(self, wd: str) -> None:
        rows = pq.read_table(self.path).to_pylist()
        rng = common.rng_for(self.seed, "extract-sample")
        sample = rng.sample(rows, EXTRACT_SAMPLE)
        cols = [f.name for f in TRIPLES_RAW.fields]
        want = sorted(
            tuple(t[c] for c in cols)
            for r in sample
            for t in extract_file(r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        )
        raw = self.spark.read.parquet(os.path.join(wd, "stage_10_extract", "data"))
        keys = self.spark.createDataFrame(
            [(r["repo"], r["path"]) for r in sample], "repo string, path string")
        got = sorted(tuple(r[c] for c in cols)
                     for r in raw.join(keys, ["repo", "path"]).collect())
        self.res.check(f"raw triples of {EXTRACT_SAMPLE} sampled files equal extract_file",
                       got == want, f"{len(got)} vs {len(want)}")

    def _verify_aliases(self, wd: str) -> None:
        mapping = {r["node_id"]: r["canonical_id"] for r in self.spark.read.parquet(
            os.path.join(wd, "stage_30_canonicalize", "data")).collect()}
        present = {r["obj"] for r in self.spark.read.parquet(
            os.path.join(wd, "stage_10_extract", "data")).where(
            F.col("obj_type") == "symbol").select("obj").distinct().collect()}
        vocab = gen.symbol_vocab()
        planted = [(f"sym:{vocab[i]}", f"sym:{vocab[i + 1]}") for i in range(0, len(vocab), 2)]
        planted = [(a, b) for a, b in planted if a in present and b in present]
        split = [(a, b) for a, b in planted if mapping.get(a, a) != mapping.get(b, b)]
        self.res.check(f"{len(planted)} planted alias pairs each map to one canonical id",
                       bool(planted) and not split, split[:3])

    # ---------------------------------------------------------- metrics

    def metrics(self, setup_s: float, recover_s: float | None) -> dict:
        canon = stage_rows(self.work_dir, "40_canon_edges") if self.work_dir else 0
        unit = self.build_s or 0.0
        n = int(self.build_s is not None)
        return {
            "unit_s": (unit, "s", n),
            "work_per_s": (canon / unit if unit else 0.0, "1/s", n),
            "recover_s": (recover_s or 0.0, "s", len(self.resumes)),
        }

    def detail(self) -> dict:
        return {"build_s": self.build_s, "resumes_s": self.resumes}

    def layer_metrics(self, cores: int) -> dict:
        tr, wd = self.tr, self.work_dir
        build_ids = {r["id"] for r in tr.by_name("bench.build")}

        def med(name, scale=1.0):
            return common.median([(r["end"] - r["start"]) * scale
                                  for r in tr.by_name(name) if r["parent"] in build_ids])

        raw = stage_rows(wd, "10_extract")
        canon = stage_rows(wd, "40_canon_edges")
        names = self.spark.read.parquet(os.path.join(wd, "stage_10_extract", "data")).where(
            F.col("obj_type") == "symbol").select("obj").distinct().count()
        mapping = self.spark.read.parquet(os.path.join(wd, "stage_30_canonicalize", "data"))
        rel = [r for r in tr.by_name("materialize.relational") if r["parent"] in build_ids]
        per_build = {}
        for r in rel:
            per_build[r["parent"]] = per_build.get(r["parent"], 0.0) + r["end"] - r["start"]
        extract = [r for r in tr.by_name("extract.extract_triples") if r["parent"] in build_ids]
        ex_run = sum(r["counters"]["run_ms"] for r in extract) / 1000
        ex_wall = sum(r["end"] - r["start"] for r in extract)
        noop = self._noop_resume()
        resume = tr.by_name("bench.resume")
        return {
            "extract.s": (med("extract.extract_triples"), "s"),
            "extract.files": (FILES, "count"),
            "extract.triples": (raw, "count"),
            "extract.cpu_util": (ex_run / (ex_wall * cores) if ex_wall else 0.0, "ratio"),
            "linking.s": (med("linking.alias_pairs"), "s"),
            "linking.names": (names, "count"),
            "linking.pairs": (stage_rows(wd, "20_link"), "count"),
            "canonicalize.s": (med("canonicalize.connected_components"), "s"),
            "canonicalize.components": (
                mapping.select("canonical_id").distinct().count(), "count"),
            "materialize.canon_edges_s": (med("materialize.canonical_edges"), "s"),
            "materialize.nodes_s": (med("materialize.build_nodes"), "s"),
            "materialize.relational_s": (common.median(list(per_build.values())), "s"),
            "materialize.canonical_ratio": (canon / raw if raw else 0.0, "ratio"),
            "lineage.boundary_mb": (common.dir_mb(self.work_dir), "MB"),
            "lineage.noop_resume_s": (noop, "s"),
            "lineage.resume_s": (common.median([r["end"] - r["start"] for r in resume]), "s"),
            "lineage.resume_stages": (len(CRASHED), "count"),
        }

    def _noop_resume(self) -> float:
        """Re-run on the completed work dir: every stage resumes."""
        t_start = time.time()
        t0 = time.perf_counter()
        with self.tr.span("bench.noop_resume"):
            run_pipeline(self.spark, self.repos, self.work_dir)
        dt = time.perf_counter() - t0
        rerun = [s for s, t in marker_times(self.work_dir).items() if t >= t_start]
        self.res.check("re-running a completed work dir resumes every stage", not rerun, rerun)
        return dt
