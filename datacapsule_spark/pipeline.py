"""End-to-end KG-construction pipeline (spark-submit entry point).

scan → extraction → entity linking → CC canonicalization →
graph + relational materialization, every stage checkpointed through
StageTracker so a killed run resumes mid-pipeline (north rule).

Usage (cluster):
    spark-submit --py-files datacapsule_spark.zip -m datacapsule_spark.pipeline \
        --input <iceberg-or-parquet repos table> --output <warehouse dir>

The DAG shape is identical at local[8] / local[32] / 1000 executors —
the only knob is spark.sql.shuffle.partitions, surfaced as the
--shuffle-partitions CLI arg.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import connected_components
from .extract import extract_triples
from .lineage import StageTracker, input_signature, params_hash
from .linking import alias_pairs
from .materialize import (
    build_edges,
    build_nodes,
    build_relational,
    canonical_edges,
    node_type_histogram,
    relation_histogram,
    write_graph,
)


def pipeline_params(
    repos: DataFrame,
    dedup_files: bool = False,
    dedup_near: bool = False,
    min_code_quality: float | None = None,
) -> dict[str, dict]:
    """Stage-keyed checkpoint-validity params: each stage's dict covers
    the input identity plus every flag its output depends on, so a rerun
    with a toggled flag invalidates exactly the affected stages."""
    base = {"input": input_signature(repos)}
    extract = {
        **base,
        "dedup_files": dedup_files,
        "dedup_near": dedup_near,
        "min_code_quality": min_code_quality,
    }
    return {"05_dedup_files": base, "10_extract": extract, "downstream": extract}


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    work_dir: str,
    run_id: str = "run0",
    dedup_files: bool = False,
    dedup_near: bool = False,
    min_code_quality: float | None = None,
) -> dict[str, DataFrame]:
    """Full construction run; returns the materialized DataFrames.

    dedup_files=True drops byte-identical file contents before
    extraction (keep = lexicographically first (repo, path)) — at
    100 TB vendored/forked copies are a large fraction of any code
    corpus and extracting them is pure waste. One shuffle on
    md5(content); extraction cost drops proportionally.

    dedup_near=True additionally drops NEAR-duplicate files (MinHash-
    LSH clustering over content, keep min (repo, path) per cluster —
    operators/dedup.near_dedup): catches trivially-patched vendored
    copies that byte-hashing misses. Folded into the same 05 stage
    boundary so resume covers both.

    min_code_quality gates files through
    operators/code_quality.quality_gate before extraction — a pure
    filter on the scan partitions (no shuffle, no stage boundary);
    the extract checkpoint params carry the threshold so toggling it
    re-extracts.

    Stage plan (each boundary a partitioned-parquet checkpoint):
      05 file dedup (opt) → 10 extract → 20 link → 30 CC →
      40 canonical edges (rewrite + THE dedup shuffle, written once,
      partitioned by pred) → 50 nodes → 70 relational.
    `edges` and `triples` are projections over the 40 boundary — no
    second full write/read of the triple stream (VERDICT r01 item 1).
    """
    tracker = StageTracker(spark, work_dir, run_id)
    params = pipeline_params(
        repos, dedup_files=dedup_files, dedup_near=dedup_near,
        min_code_quality=min_code_quality,
    )

    if dedup_files or dedup_near:
        def _dedup():
            out = repos
            if dedup_files:
                w = F.struct("repo", "path")
                out = (
                    out.withColumn("_h", F.md5("content"))
                    .withColumn("_k", w)
                    .groupBy("_h")
                    .agg(F.min_by(F.struct("repo", "path", "commit", "lang", "content"), "_k").alias("r"))
                    .select("r.*")
                )
            if dedup_near:
                from .operators.dedup import near_dedup

                keyed = out.withColumn(
                    "_id", F.concat_ws("::", "repo", "path")
                )
                # Jaccard-gated: an LSH band collision alone never drops
                # a file — candidates are re-scored exactly (the gate
                # touches only colliding pairs, not the corpus).
                # xxhash64 = native bigint hashing; the md5 default
                # exists only for DuckDB-oracle reproducibility.
                out = near_dedup(
                    keyed, text_col="content", id_col="_id",
                    min_jaccard=0.9, hash_fn="xxhash64",
                ).drop("_id")
            return out

        dparams = {**params["05_dedup_files"], "dedup_files": dedup_files,
                   "dedup_near": dedup_near}
        source = tracker.materialize("05_dedup_files", _dedup, params=dparams)
    else:
        source = repos

    if min_code_quality is not None:
        from .operators.code_quality import quality_gate

        source = quality_gate(source, min_code_quality)

    triples = tracker.materialize(
        "10_extract",
        lambda: extract_triples(source),
        partition_by=["pred"],
        params=params["10_extract"],
    )
    return _downstream(tracker, triples, params["downstream"])


def _downstream(
    tracker: StageTracker, triples: DataFrame, down: dict
) -> dict[str, DataFrame]:
    """Stages 20→70 from an extract boundary (shared by run_pipeline
    and run_incremental — the delta path re-enters here with the
    unioned boundary and a params dict that carries the delta set)."""
    # link symbol-type entities only (mirrors the reference linking
    # entities by surface string; modules/files/authors keep exact ids).
    # The pred IN (...) clause is redundant with obj_type == symbol
    # (extraction_schema.py:319,331 — symbols occur only under these
    # three preds) but pred is the boundary's PARTITION column, so it
    # prunes the scan to 3 of 10 partitions; obj_type alone reads all.
    from .extraction_schema import PRED_CALLS, PRED_DEF_CLASS, PRED_DEF_FUNC

    sym_names = (
        triples.where(
            F.col("pred").isin(PRED_DEF_FUNC, PRED_DEF_CLASS, PRED_CALLS)
            & (F.col("obj_type") == "symbol")
        )
        .select(F.col("obj").alias("name"))
    )  # alias_pairs dedups its input once
    pairs = tracker.materialize(
        "20_link", lambda: alias_pairs(sym_names), params=down
    )

    mapping = tracker.materialize(
        "30_canonicalize", lambda: connected_components(pairs, "a", "b"), params=down
    )

    # ONE post-canonicalization pass: broadcast rewrite + dedup of only
    # the collision-prone stream (materialize.canonical_edges), written
    # once. This boundary IS the canonical triple set AND (modulo
    # projection) the edges table. On this synthetic corpus every
    # symbol has a planted alias so the split-stream saves ~15%; on
    # real corpora most symbols are unlinked and the shuffled fraction
    # collapses toward the contains edges.
    #
    # commit + content_sha256 are dropped before the stage: nothing
    # downstream reads them, and the sha is 64 high-entropy chars/row
    # that stop compressing once shuffled — with the in-partition
    # re-sort this measured 4x on boundary size (1.7 GB -> ~0.4 GB at
    # 29.6M triples).
    canon_triples = tracker.materialize(
        "40_canon_edges",
        lambda: canonical_edges(
            triples.drop("commit", "content_sha256"), mapping
        ),
        partition_by=["pred"],
        params=down,
    )

    # lazy projection of the 40 boundary — already distinct on
    # (src, relation, dst), no extra stage write (the old 60_edges
    # stage re-wrote and re-read the full triple stream for a rename)
    edges = build_edges(canon_triples)

    # nodes + the 4 relational tables are INDEPENDENT projections of
    # the (already materialized) 40 boundary with unpartitioned writes
    # — submit them from a small thread pool so each job's task tail is
    # back-filled by the next job's tasks (guide §2.6); actions were
    # only sequential because the driver called them sequentially.
    # Safe: separate stage dirs, and only partitioned writes touch
    # session conf in StageTracker.materialize.
    from concurrent.futures import ThreadPoolExecutor

    rel = build_relational(canon_triples)
    jobs = {"50_nodes": lambda: build_nodes(canon_triples)}
    jobs.update({
        f"70_rel_{name}": (lambda df=df: df) for name, df in rel.items()
    })
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {
            stage: pool.submit(tracker.materialize, stage, thunk, params=down)
            for stage, thunk in jobs.items()
        }
        done = {stage: f.result() for stage, f in futs.items()}
    nodes = done.pop("50_nodes")
    rel_out = {
        stage[len("70_rel_"):]: df for stage, df in done.items()
    }

    return {
        "triples_raw": triples,
        "alias_pairs": pairs,
        "canonical_map": mapping,
        "triples": canon_triples,
        "nodes": nodes,
        "edges": edges,
        "lineage": tracker.lineage(),
        **rel_out,
    }


def run_incremental(
    spark: SparkSession,
    new_repos: DataFrame,
    work_dir: str,
    run_id: str = "run0",
    min_code_quality: float | None = None,
) -> dict[str, DataFrame]:
    """Incremental ingest: extract ONLY the newly-arrived files and
    rebuild downstream from the grown boundary — the base corpus is
    never re-extracted. At 10^12 files extraction is the
    corpus-proportional term, so paying it only for the delta is what
    makes continuous ingestion viable; downstream (linking dictionary,
    CC, canonical rewrite) recomputes over the combined triples, whose
    cost scales with the triple stream, not the raw corpus.

    Mechanics: each delta becomes its OWN stage boundary
    (15_delta_<seq>_<input-hash>) via the normal atomic materialize —
    a killed ingest re-runs idempotently (overwrite + marker-last),
    and re-submitting an already-ingested delta resumes its existing
    stage (<seq> is assigned once per new input hash). Downstream
    stage params carry the base extract's marker hash plus the ordered
    delta set, so a new delta — or a rebuilt base — invalidates 20→70
    through the params-hash check, while an unchanged state resumes.

    File identity & supersede rule: a delta may re-ship a (repo, path)
    the base or an earlier delta already carries (an updated file
    version). The combined boundary keeps only the NEWEST version:
    earlier boundaries are anti-joined against the file sets of later
    deltas (delta file sets are small), preserving the per-file
    uniqueness invariant the downstream builders rely on. Re-shipping
    identical content under a DIFFERENT path is a corpus-dedup concern
    (run the base with dedup_files/dedup_near); min_code_quality
    composes per file and is applied to the delta here.

    Delta identity: input_signature (input files, or a content
    checksum for in-memory frames) — two different in-memory deltas
    never collide on the stage key.

    Tested equal to a from-scratch run_pipeline over old ∪ new,
    including an updated-file delta."""
    import os

    tracker = StageTracker(spark, work_dir, run_id)
    if not tracker.is_done("10_extract"):
        raise RuntimeError(
            "no completed base extract in work_dir — run run_pipeline first"
        )
    sig = params_hash(input_signature(new_repos))[:12]

    existing = sorted(
        d for d in os.listdir(work_dir) if d.startswith("stage_15_delta_")
    )
    same = [d for d in existing if d.endswith(f"_{sig}")]
    if same:
        delta_stage = same[0][len("stage_"):]
    else:
        delta_stage = f"15_delta_{len(existing):04d}_{sig}"

    source = new_repos
    if min_code_quality is not None:
        from .operators.code_quality import quality_gate

        source = quality_gate(source, min_code_quality)
    tracker.materialize(
        delta_stage,
        lambda: extract_triples(source),
        partition_by=["pred"],
        params={"delta": sig, "min_code_quality": min_code_quality},
    )

    deltas = sorted(  # zero-padded <seq> makes name order = ingest order
        d[len("stage_"):]
        for d in os.listdir(work_dir)
        if d.startswith("stage_15_delta_") and tracker.is_done(d[len("stage_"):])
    )
    # newest-wins combination: fold from the last delta backwards,
    # anti-joining each earlier boundary against the files seen later
    boundaries = ["10_extract"] + deltas
    dfs = [tracker.load(b) for b in boundaries]
    combined = dfs[-1]
    seen = dfs[-1].select("repo", "path").distinct()
    for df in reversed(dfs[:-1]):
        combined = combined.unionByName(
            df.join(seen, ["repo", "path"], "left_anti")
        )
        seen = seen.unionByName(df.select("repo", "path")).distinct()

    down = {
        "base": tracker._meta("10_extract")["params_hash"],
        "deltas": deltas,
        # must invalidate downstream when the gate moves, even though the
        # delta boundary names are unchanged (the re-extracted boundary's
        # CONTENT differs under a different threshold)
        "min_code_quality": min_code_quality,
    }
    return _downstream(tracker, combined, down)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="repos parquet path or table")
    ap.add_argument("--output", required=True, help="work/warehouse directory")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--dedup-files", action="store_true",
                    help="drop byte-identical file contents before extraction")
    ap.add_argument("--dedup-near", action="store_true",
                    help="also drop MinHash-LSH near-duplicate files")
    ap.add_argument("--min-code-quality", type=float, default=None,
                    help="pre-extraction quality gate threshold in [0,1]")
    ap.add_argument("--incremental", action="store_true",
                    help="treat --input as a DELTA: extract only it, "
                         "rebuild downstream from the grown boundary")
    ap.add_argument("--run-id", default="run0")
    args = ap.parse_args()

    from .session import get_spark
    from .sources.repos import read_repos

    spark = get_spark("datacapsule-pipeline", shuffle_partitions=args.shuffle_partitions)
    repos = read_repos(spark, args.input)
    if args.incremental:
        out = run_incremental(
            spark, repos, args.output,
            run_id=args.run_id, min_code_quality=args.min_code_quality,
        )
    else:
        out = run_pipeline(
            spark, repos, args.output,
            run_id=args.run_id, dedup_files=args.dedup_files,
            dedup_near=args.dedup_near,
            min_code_quality=args.min_code_quality,
        )
    write_graph(out["nodes"], out["edges"], args.output)
    node_type_histogram(out["nodes"]).show(50, truncate=False)
    relation_histogram(out["edges"]).show(50, truncate=False)


if __name__ == "__main__":
    main()
