"""Benchmark harness — one JSON line to stdout (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the KG
construction pipeline on the generated bench corpus, and reports
per-query wall seconds + pipeline triples/sec.

    python bench.py              # full run (best-of-2 per measurement)
    python bench.py --quick      # headline queries only, no KG pipeline
    python bench.py --repeats 3  # best-of-3 (headline queries)

Per-measurement best-of (default 2): identical runs on this shared
host vary ±40%, so single-run numbers inherit host drift (two r04
phantom +50-70% swings on untouched code). Best-of-N keeps the
signal; the JSON carries "repeats" so rounds are comparable.

KG-pipeline tiers (VERDICT r05 #1): each repeat of each tier runs in
its OWN fresh JVM (a subprocess re-invoking this script with
--pipeline-tier), best-of-3 by default — the r05 protocol of timing
the tiers after 78 warm query runs in the same JVM inherited heap and
host drift and produced an unattributable −31% headline swing.
bench/BASELINE.md's own rule is fresh JVMs + repeats for exactly this
measurement; the harness now enforces it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_regional_revenue",
    "window_top3_orders_per_segment",
    "events_hourly",
    "events_lag_delta",
    "dedup_exact_docs",
    "dedup_minhash_pairs_docs",
    "dedup_simhash_docs",
    "dedup_simhash_pairs_docs",
    "vector_ann_ivf_batch",
    "text_quality",
    "text_fingerprint",
    "text_gopher_quality",
    "curation_boilerplate_strip",
    "vector_topk",
    "vector_knn_batch",
    "kg_triples_documents",
    "graph_bfs_customers_in_region",
    # new in r04: iterative loops (PageRank, distributed CC, k-core
    # peeling), the HLL day-grain re-aggregation, BM25 retrieval and
    # the ordered funnel get recorded perf numbers alongside oracles
    "graph_pagerank_cosupply",
    "events_daily_distinct_users",
    "graph_components_cosupply",
    "graph_kcore_cosupply",
    "text_bm25_topk",
    "events_funnel",
    "text_lm_perplexity",
    # new in r05: personalized PageRank, the ANN recall screen (index
    # build + probe + exact compare in one job) and variable-length
    # motif reachability (compare per-query across rounds, not totals)
    "graph_ppr_cosupply",
    "vector_ann_recall",
    "graph_motif_varlen_reach",
    # new in r05 session 2: repetition screens (5 doc-keyed unit aggs),
    # link prediction (wedge join), BFS distances (iterative), hashed
    # linear classifier (broadcast weight join), BPE pair counts (the
    # corpus→vocab fold)
    "text_repetition_report",
    "graph_linkpred_cosupply",
    "graph_sssp_cosupply",
    "text_quality_classifier",
    "tokenizer_top_pairs",
    # centralities + r05 session-2 shapes (betweenness/closeness stay
    # out: all-pairs by design — the correctness gate covers them)
    "graph_hits_cosupply",
    "graph_clustering_cosupply",
    "text_cooccurrence_pmi",
    "vector_quantized_topk",
    "curation_stratified_sample",
    # new in r06 session 4: DSIR selection (bucket folds + broadcast
    # ratio join), classifier training (3 GD rounds), every-position
    # substring spans + cutting, HyperBall neighborhood function
    "curation_dsir_select",
    "text_classifier_train",
    "dedup_duplicate_spans_docs",
    "dedup_strip_spans_docs",
    "graph_hyperball_cosupply",
]


PIPELINE_CONFIGS = (
    # key, dedup_near: the full pipeline (both linking tiers), and the
    # near-duplicate file screen (--dedup-near; xxhash64 fast path,
    # VERDICT r02 #6)
    ("kg_pipeline", False),
    ("kg_pipeline_neardedup", True),
)


def run_pipeline_tier(key: str, cpus: int) -> None:
    """Child mode: one warm-up + one timed pipeline run of one tier in
    THIS fresh JVM, one JSON line to stdout.  The parent spawns one
    child per repeat, so no sample inherits another measurement's heap
    or host state (the r05 number was taken after 78 query runs in the
    same JVM and drifted −31% with no code change).  The first pipeline
    run in any JVM pays ~10s of one-time JIT/codegen warm-up on a ~17s
    job (measured r06: cold 28.0s vs steady-state 16.6s, identical
    code) — a long production job amortizes that in its first seconds,
    so the warm-up run goes untimed and the TIMED run reports
    steady-state engine throughput (cold wall also emitted, for the
    record)."""
    from datacapsule_spark.corpus import ensure_corpus
    from datacapsule_spark.pipeline import run_pipeline
    from datacapsule_spark.session import get_spark

    near = dict(PIPELINE_CONFIGS)[key]
    spark = get_spark(
        f"bench-{key}", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = ensure_corpus("bench", spark=spark)  # cached; built by parent
    repos = spark.read.parquet(corpus)
    n_files = repos.count()
    work = f"/tmp/bench_kg_work_{key}"
    walls = []
    for _ in range(2):  # run 0 = JIT warm-up (reported, not the metric)
        shutil.rmtree(work, ignore_errors=True)  # resume would skip stages
        t0 = time.time()
        out = run_pipeline(spark, repos, work, dedup_near=near)
        n_triples = out["triples"].count()
        walls.append(time.time() - t0)
    print(json.dumps(
        {"tier": key, "files": n_files, "triples": n_triples,
         "wall_sec": round(walls[1], 3), "cold_wall_sec": round(walls[0], 3)}
    ))


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    quick = "--quick" in sys.argv
    repeats = 2
    if "--repeats" in sys.argv:
        try:
            repeats = max(1, int(sys.argv[sys.argv.index("--repeats") + 1]))
        except (IndexError, ValueError):
            print("usage: bench.py [--quick] [--repeats N]", file=sys.stderr)
            sys.exit(2)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    if "--pipeline-tier" in sys.argv:
        run_pipeline_tier(
            sys.argv[sys.argv.index("--pipeline-tier") + 1], cpus
        )
        return

    from datacapsule_spark.queries import QUERIES
    from datacapsule_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    # JVM + testdata warmup (not timed): touch every input once
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    queries: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(repeats):
            t0 = time.time()
            n = fn(spark, sf_dir).count()  # count() forces full execution
            best = min(best, time.time() - t0)
        queries[name] = round(best, 3)
        print(f"# {name}: {queries[name]}s ({n} rows)", file=sys.stderr)

    result = {
        "metric": "headline_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        # headline membership grew r01→r02 (+text_gopher_quality,
        # +curation_boilerplate_strip): compare per-query, not totals
        "n_queries": len(queries),
        "repeats": repeats,
        "sf": sf,
        "cpus": cpus,
    }

    if not quick:
        # KG construction throughput (the north-rule metric):
        # extraction → canonicalization → materialize on the bench
        # corpus.  Build the corpus with the PARENT session (cached,
        # untimed), then stop it — the tier samples each get a fresh,
        # uncontended JVM via subprocess (VERDICT r05 #1: warm-session
        # tier timings were unattributable).
        from datacapsule_spark.corpus import ensure_corpus

        ensure_corpus("bench", spark=spark)  # 50k synthetic source files
        spark.stop()
        pipeline_repeats = 3  # bench/BASELINE.md protocol: best-of-3
        result["pipeline_repeats"] = pipeline_repeats
        me = os.path.abspath(__file__)
        for key, _ in PIPELINE_CONFIGS:
            best = None
            for rep in range(pipeline_repeats):
                proc = subprocess.run(
                    [sys.executable, me, "--pipeline-tier", key],
                    capture_output=True, text=True, timeout=1800,
                )
                if proc.returncode != 0:
                    print(proc.stderr[-2000:], file=sys.stderr)
                    raise RuntimeError(f"pipeline tier {key} rep {rep} failed")
                sample = json.loads(proc.stdout.strip().splitlines()[-1])
                print(
                    f"# {key} rep {rep}: {sample['wall_sec']}s "
                    f"({sample['triples'] / sample['wall_sec']:.0f} triples/s,"
                    " fresh JVM)",
                    file=sys.stderr,
                )
                if best is None or sample["wall_sec"] < best["wall_sec"]:
                    best = sample
            wall = best["wall_sec"]
            result[key] = {
                "files": best["files"],
                "triples": best["triples"],
                "wall_sec": wall,
                "cold_wall_sec": best["cold_wall_sec"],
                "triples_per_sec": round(best["triples"] / wall, 1),
                "files_per_sec": round(best["files"] / wall, 1),
            }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
