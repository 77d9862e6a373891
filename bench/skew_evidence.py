"""Adversarial-skew scale evidence (r04 VERDICT item 2).

One pipeline run at 1.5M files on a corpus built to hurt: ONE monorepo
holds ~35% of all files (the balanced scaling corpus spreads its hot
40% over two repos) and one viral symbol (`viral_spread`) is called
from ~50% of files — the planted hot-partition and hot-key stresses of
SURVEY §4.2.3. Records:

- the monorepo share + viral-symbol file count (proving the corpus is
  adversarial, not accidentally balanced);
- the per-partition row spread of `extract.salted_repartition` on this
  corpus, with the HARD ASSERT max <= 2 x median — and the unsalted
  (repo, lang)-hash spread next to it, showing what the salting
  absorbs;
- per-stage lineage walls of the full pipeline run at this scale.

Results land as one JSON line on stdout and a marker-delimited section
in bench/BASELINE.md (re-runs replace the section).

    python bench/skew_evidence.py                 # full (~15-25 min)
    python bench/skew_evidence.py --files 200000  # smaller probe
    python bench/skew_evidence.py --spread-only   # skip the pipeline

NEVER run anything else on the machine while this measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- skew-evidence:begin -->"
END = "<!-- skew-evidence:end -->"


def partition_spread(df) -> dict:
    from pyspark.sql import functions as F

    cnts = sorted(
        r["c"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    med = float(statistics.median(cnts))
    return {
        "n_partitions": len(cnts),
        "median_rows": med,
        "max_rows": cnts[-1],
        "max_over_median": round(cnts[-1] / med, 3) if med else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=1_500_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--spread-only", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datacapsule_spark.corpus import (
        ADVERSARIAL_MONOREPO,
        VIRAL_SYMBOL,
        ensure_adversarial_corpus,
    )
    from datacapsule_spark.extract import salted_repartition
    from datacapsule_spark.session import get_spark

    spark = get_spark(
        "skew-evidence",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(2 * args.cpus, 32),
    )
    assert spark.sparkContext.defaultParallelism == args.cpus, (
        "stale SparkContext — wrong master for the measurement"
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    corpus = ensure_adversarial_corpus(spark, args.files)
    gen_wall = round(time.time() - t0, 1)
    repos = spark.read.parquet(corpus)
    n_files = repos.count()

    top = (
        repos.groupBy("repo").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    viral_files = repos.where(
        F.col("content").contains(f"{VIRAL_SYMBOL}(")
    ).count()
    result = {
        "metric": "adversarial_skew_evidence",
        "files": n_files,
        "cpus": args.cpus,
        "corpus": corpus,
        "corpus_gen_wall_sec": gen_wall,
        "monorepo": top["repo"],
        "monorepo_share": round(top["count"] / n_files, 4),
        "viral_symbol_files": viral_files,
        "viral_share": round(viral_files / n_files, 4),
    }
    assert top["repo"] == ADVERSARIAL_MONOREPO and result["monorepo_share"] >= 0.30, (
        f"corpus not adversarial enough: {result['monorepo_share']}"
    )

    # --- salting evidence: the monorepo pins a reducer when the corpus
    # is hash-partitioned by (repo, lang); salted_repartition must
    # spread it to <= 2x the median partition
    n_parts = max(2 * args.cpus, 64)
    result["spread_unsalted"] = partition_spread(
        repos.repartition(n_parts, "repo", "lang")
    )
    result["spread_salted"] = partition_spread(
        salted_repartition(repos, num_partitions=n_parts)
    )
    assert result["spread_salted"]["max_rows"] <= 2 * result["spread_salted"][
        "median_rows"
    ], f"HOT PARTITION under salting: {result['spread_salted']}"

    # --- full pipeline at this scale, per-stage lineage walls
    if not args.spread_only:
        from datacapsule_spark.pipeline import run_pipeline

        work = "/tmp/skew_evidence_work"
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.time()
        out = run_pipeline(spark, repos, work)
        n_triples = out["triples"].count()
        wall = time.time() - t0
        result["pipeline"] = {
            "wall_sec": round(wall, 1),
            "triples": n_triples,
            "triples_per_sec": round(n_triples / wall, 1),
            "files_per_sec": round(n_files / wall, 1),
        }
        lineage = out["lineage"].toPandas()
        stages = (
            lineage.groupby("stage")
            .agg(wall_ms=("wall_ms", "max"), output_rows=("output_rows", "sum"))
            .reset_index()
            .sort_values("stage")
        )
        result["stage_walls_sec"] = {
            r["stage"]: round(r["wall_ms"] / 1000.0, 1)
            for _, r in stages.iterrows()
        }
        result["stage_rows"] = {
            r["stage"]: int(r["output_rows"]) for _, r in stages.iterrows()
        }

    print(json.dumps(result))
    _write_section(result)


def _write_section(result: dict) -> None:
    path = os.path.join(REPO, "bench", "BASELINE.md")
    with open(path) as f:
        md = f.read()
    su, ss = result["spread_unsalted"], result["spread_salted"]
    lines = [
        BEGIN,
        "## Adversarial-skew scale run (r04 VERDICT item 2)",
        "",
        f"One pipeline run, {result['files']:,} files on local[{result['cpus']}], "
        f"corpus built to hurt: `{result['monorepo']}` holds "
        f"{result['monorepo_share']:.0%} of all files, `viral_spread` is "
        f"called from {result['viral_share']:.0%} of them "
        f"({result['viral_symbol_files']:,} files).",
        "",
        "Partition spread of the extraction-side shuffle "
        f"({ss['n_partitions']} partitions):",
        "",
        "| layout | median rows | max rows | max/median |",
        "|---|---|---|---|",
        f"| hash by (repo, lang), no salt | {su['median_rows']:.0f} | "
        f"{su['max_rows']:,} | **{su['max_over_median']}x** |",
        f"| `salted_repartition` | {ss['median_rows']:.0f} | "
        f"{ss['max_rows']:,} | **{ss['max_over_median']}x** |",
        "",
        f"Hard assert in bench/skew_evidence.py: salted max <= 2x median "
        f"(measured {ss['max_over_median']}x; the unsalted monorepo "
        f"partition is {su['max_over_median']}x its median).",
        "",
    ]
    if "pipeline" in result:
        p = result["pipeline"]
        lines += [
            f"Full pipeline on this corpus: {p['triples']:,} triples in "
            f"{p['wall_sec']}s ({p['triples_per_sec']:,.0f} triples/s, "
            f"{p['files_per_sec']:,.0f} files/s). Per-stage walls (lineage):",
            "",
            "| stage | wall (s) | output rows |",
            "|---|---|---|",
        ]
        for stage, w in result["stage_walls_sec"].items():
            lines.append(
                f"| {stage} | {w} | {result['stage_rows'][stage]:,} |"
            )
        lines.append("")
    lines.append(END)
    section = "\n".join(lines)
    if BEGIN in md:
        pre = md[: md.index(BEGIN)]
        post = md[md.index(END) + len(END):]
        md = pre + section + post
    else:
        md = md.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
