"""Benchmark entry point.

    python3 perfbench/run.py --workload build|serve|all --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the seeded inputs, starts a
pinned ``local[nproc]`` Spark session, sets the workload up, measures
whole units of work for at least ``--seconds`` (``build``: one cold
build; ``serve``: rounds of sessions until ``--seconds`` has passed, the
round under way finished), checks every
output against independent oracles and prints, as the last line of
standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
spans around every layer call and reports the per-layer metrics, and
writes the spans to ``.perfbench/spans-<workload>-<seed>.json``.
The line before it carries the environment, per-phase wall times, peak
memory, each metric's sample count and the quartiles of every sampled
quantity. Before it prints, every process the run started (the JVM, its
Python workers) has ended. ``--workload all`` runs every workload, each in a fresh
process, and prints a table of all their metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback

import common

E2E = [("setup_s", "s"), ("unit_s", "s"), ("work_per_s", "1/s"), ("recover_s", "s")]

LAYERS = ["extract", "linking", "canonicalize", "materialize", "lineage", "traverse",
          "vectorize", "api", "graph_stats"]
LAYER_TOTALS = [("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("cpu_util", "ratio"), ("shuffle_write_mb", "MB")]
LAYER_NAMED = [
    ("session.start_s", "s"), ("session.peak_rss_mb", "MB"),
    ("extract.s", "s"), ("extract.files", "count"), ("extract.triples", "count"),
    ("linking.s", "s"), ("linking.names", "count"), ("linking.pairs", "count"),
    ("canonicalize.s", "s"), ("canonicalize.components", "count"),
    ("materialize.canon_edges_s", "s"), ("materialize.nodes_s", "s"),
    ("materialize.relational_s", "s"), ("materialize.spill_mb", "MB"),
    ("materialize.canonical_ratio", "ratio"),
    ("lineage.boundary_mb", "MB"), ("lineage.noop_resume_s", "s"),
    ("lineage.resume_s", "s"), ("lineage.resume_stages", "count"),
    ("traverse.bfs_ms", "ms"), ("traverse.bfs_jobs", "count"),
    ("traverse.adjacent_ms", "ms"),
    ("vectorize.embed_s", "s"), ("vectorize.topk_ms", "ms"),
    *[(f"api.{t}_ms", "ms") for t in
      ("vector", "attr", "count", "sql", "find", "batch", "adjacent", "save")],
    ("api.lookup_ms_p50", "ms"), ("api.lookup_ms_p90", "ms"), ("api.self_ms", "ms"),
    ("api.failed", "count"),
    *[(f"graph_stats.{op}_{k}", u) for op in ("summary", "pagerank", "hyperball", "scc")
      for k, u in (("s", "s"), ("jobs", "count"))],
    ("trace.unit_s", "s"), ("trace.overhead_s", "s"), ("trace.layer_share", "ratio"),
    ("trace.failed_tasks", "count"), ("trace.spill_mb", "MB"),
]
WORKLOADS = ("build", "serve")
PER_LAYER = LAYER_NAMED + [(f"{layer}.{k}", u) for layer in LAYERS for k, u in LAYER_TOTALS]


class Result:
    """Attempted/failed operations and correctness checks of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []

    def attempt(self, name: str, fn, *args):
        """Run one operation; a raised error counts as a failure and
        returns False, success returns fn's result (True for None)."""
        self.attempted += 1
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 - counted and reported, run goes on
            self.failed += 1
            print(f"FAILED {name}:\n{traceback.format_exc()}", file=sys.stderr)
            return False
        return True if out is None else out

    def check(self, name: str, ok: bool, detail=None) -> bool:
        self.attempted += 1
        self.checks.append(f"{'ok  ' if ok else 'FAIL'} {name}")
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail!r}", file=sys.stderr)
        return bool(ok)


def run(workload_cls, args, res: Result) -> tuple[dict, dict]:
    """Returns (metrics {name: (value, unit, samples)}, environment)."""
    import pyspark

    from spans import Tracer
    from workload_serve import ensure_warehouse

    ensure_warehouse()
    workload_cls.inputs(args.seed)
    phases: dict[str, float] = {}

    def phase(name, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        phases[name] = time.perf_counter() - t0
        return out

    with common.RssSampler() as rss:
        spark = phase("session", common.start_session, bool(args.trace))
        try:
            tr = Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace))
            wl = workload_cls(spark, args.seed, tr, res)
            undo = wl.install_layer_spans() if args.trace else None
            phase("setup", wl.setup)
            phase("prepare", wl.prepare)
            phase("warmup", wl.warmup)
            setup_s = phases["session"] + phases["setup"] + phases["warmup"]
            phase("measure", wl.measure, args.seconds)
            recover_s = phase("recover", wl.recover)
            res.check("recovery finished", recover_s is not None)
            phase("verify", wl.verify)
            if args.trace and hasattr(wl, "health_report"):
                phase("health_report", res.attempt, "health report", wl.health_report)
            if undo:
                undo()
            metrics = wl.metrics(setup_s, recover_s)
            metrics["setup_s"] = (setup_s, "s", 1)
            rss.sample()
            metrics["session.peak_rss_mb"] = (rss.peak_mb, "MB", 1)
            if args.trace:
                metrics = layer_metrics(wl, tr, metrics, phases["session"])
                tr.write(os.path.join(common.STATE, f"spans-{args.workload}-{args.seed}.json"))
        finally:
            common.stop_session(spark)
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "cores": common.cores(), "spark": pyspark.__version__,
           "python": platform.python_version(), "files": workload_cls.files,
           "phases_s": {k: round(v, 3) for k, v in phases.items()},
           "peak_rss_mb": rss.peak_mb, "max_process_hwm_mb": rss.hwm_kb / 1024,
           "detail": wl.detail()}
    return metrics, env


def layer_metrics(wl, tr, e2e: dict, session_s: float) -> dict:
    tr.resolve_counters()
    cores = common.cores()
    out = {"session.start_s": (session_s, "s"),
           "session.peak_rss_mb": e2e["session.peak_rss_mb"][:2]}
    out.update(wl.layer_metrics(cores))
    totals = tr.layer_totals(cores)
    for layer in LAYERS:
        agg = totals.get(layer, {})
        for k, unit in LAYER_TOTALS:
            out.setdefault(f"{layer}.{k}", (agg.get(k, 0), unit))
    ops = [r for r in tr.spans if r["name"] in ("bench.build", "bench.session")]
    selfs = tr.self_times()
    op_wall = sum(r["end"] - r["start"] for r in ops)
    out.update({
        "trace.unit_s": (e2e["unit_s"][0], "s"),
        "trace.overhead_s": (tr.overhead_s, "s"),
        "trace.layer_share": (1 - sum(selfs[r["id"]] for r in ops) / op_wall if op_wall else 0,
                              "ratio"),
        "trace.failed_tasks": (sum(a["failed_tasks"] for a in totals.values()), "count"),
        "trace.spill_mb": (sum(a["spill_mb"] for a in totals.values()), "MB"),
        "materialize.spill_mb": (totals.get("materialize", {}).get("spill_mb", 0.0), "MB"),
    })
    return {name: (out.get(name, (0, unit))[0], unit, 1) for name, unit in PER_LAYER}


def run_all(args) -> int:
    """Every workload in a process (and JVM) of its own; prints one line
    per metric with unit and sample count, then {workload: result}."""
    import subprocess

    results = {}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        lines = proc.stdout.splitlines()
        samples = json.loads(lines[-2][2:])["samples"]
        results[w] = json.loads(lines[-1])
        for name, m in results[w]["metrics"].items():
            print(f"{w:6s} {name:28s} {m['value']:14.4f} {m['unit']:6s} n={samples[name]}")
        print(f"{w:6s} correct={results[w]['correct']} attempted={results[w]['attempted']} "
              f"failed={results[w]['failed']}")
    print(json.dumps(results))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "datacapsule_spark")):
        print("datacapsule_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CANON_CODEC"):
        if os.environ.get(var):
            print(f"refusing to run: {var} overrides the pinned configuration",
                  file=sys.stderr)
            return 2
    common.adopt_orphans()
    try:
        if args.workload == "all":
            return run_all(args)
        common.pin_environment()
        sys.path.insert(0, common.ROOT)
        if args.workload == "build":
            from workload_build import Build as cls
        else:
            from workload_serve import Serve as cls

        res = Result()
        metrics, env = run(cls, args, res)
    finally:
        common.reap_children()
    wanted = PER_LAYER if args.trace else E2E
    print("# checks: " + "; ".join(res.checks))
    print("# " + json.dumps({"env": env, "samples": {
        k: metrics[k][2] for k, _ in wanted}}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k][0]), "unit": u} for k, u in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
