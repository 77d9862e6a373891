"""Distributed triple extraction: Arrow-batched mapInPandas over repos.

Spark-first re-expression of the reference's sequential per-record loop
(tools/entity_extraction.py:59-271): the whole corpus is a DataFrame,
extraction is a 1→N row expansion (`mapInPandas`, Arrow transfer, no
per-row Python UDFs per the north rule).

Scale notes (100 TB design):
- `mapInPandas` emits flat per-triple columns (an A/B against nested
  array<struct> rows with JVM-side explode showed flat is ~1.5×
  faster: per-triple python dict allocation outweighs the duplicated
  provenance strings, which dictionary-encode anyway).
- extraction runs on size-bounded scan splits (no pre-shuffle; see
  extract_triples docstring for why key salting does not apply to a
  stateless map); salted_repartition is the utility for the
  shuffle-keyed stages where a hot repo CAN pin a reducer.
- the extractor is pure CPU per row; output size ~ O(lines). No state
  is shared across rows, so the stage scales linearly with executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extraction_schema import extract_file
from .schema import TRIPLES_RAW

_TRIPLE_COLS = [f.name for f in TRIPLES_RAW.fields]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # flat column lists: measured FASTER than nested array<struct> rows
    # (61s vs 41s at 16 cores / 400k files) — per-triple python dict
    # allocation for struct conversion costs more than the duplicated
    # provenance strings, which parquet/Arrow dictionary-encode anyway
    for pdf in batches:
        out: dict[str, list] = {c: [] for c in _TRIPLE_COLS}
        for repo, path, commit, lang, content in zip(
            pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"], pdf["content"]
        ):
            for t in extract_file(repo, path, commit, lang, content):
                for c in _TRIPLE_COLS:
                    out[c].append(t[c])
        yield pd.DataFrame(out, columns=_TRIPLE_COLS)


def salted_repartition(
    repos: DataFrame,
    num_partitions: int | None = None,
    hot_threshold: int | None = None,
    target_fraction: float = 0.25,
) -> DataFrame:
    """Repartition by (repo, lang, salt), salting hot repos
    PROPORTIONALLY to their size.

    First pass computes per-repo file counts (tiny aggregate — one row
    per repo); repos above `hot_threshold` (default: 4x the mean) get a
    per-path salt over ceil(count / target) buckets, where target =
    target_fraction x (total / num_partitions) — so no single
    (repo, lang, salt) key outweighs a quarter of an average
    partition, and hash placement cannot stack two heavy keys into one
    reducer. (A FIXED salt count fails exactly on the adversarial
    monorepo corpus: 16 salts on a 35%-of-corpus repo leave keys heavy
    enough that birthday collisions produce 3-4x-median partitions —
    measured in bench/skew_evidence.py, which hard-asserts
    max <= 2x median on the planted-skew corpus.)

    This is the explicit skew handling the north rule requires for the
    extraction stage (AQE only fixes join/agg skew, not input skew into
    mapInPandas).
    """
    spark = repos.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    counts = repos.groupBy("repo").count()
    stats = counts.agg(
        F.avg("count").alias("avg"), F.sum("count").alias("total")
    ).first()
    if hot_threshold is None:
        hot_threshold = max(int((stats["avg"] or 0) * 4), 100)
    target = max(
        (stats["total"] or 0) * target_fraction / num_partitions, 1.0
    )
    hot = counts.where(F.col("count") >= hot_threshold).select(
        "repo", F.ceil(F.col("count") / F.lit(target)).alias("_nsalt")
    )
    salted = (
        repos.join(F.broadcast(hot), "repo", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64("path"), F.col("_nsalt")),
            ).otherwise(F.lit(0)),
        )
        .repartition(num_partitions, "repo", "lang", "_salt")
        .drop("_nsalt", "_salt")
    )
    return salted


def extract_triples(repos: DataFrame) -> DataFrame:
    """repos(repo,path,commit,lang,content) → triples_raw DataFrame.

    No repartition, deliberately: extraction is a stateless 1→N map,
    and scan splits are already size-bounded by
    spark.sql.files.maxPartitionBytes — a hot repo cannot skew a task
    because tasks are cut by bytes, not by key. Key-level salting
    (salted_repartition) is for the SHUFFLE-keyed stages (repo-keyed
    aggregations, co-located joins), where one key really can pin a
    reducer; shuffling the whole corpus before a stateless map would
    add a full write+read of the input for nothing. Coalescing the scan
    loses too: a fresh-JVM sweep at 16 cores / 400k files measured raw
    64-split scan 33.9s vs coalesce(16) 44.2s vs coalesce(32) 52.4s vs
    salted shuffle 53.3s — more waves of smaller tasks pipeline
    scan-decode, python CPU and write phases better than few
    monolithic tasks.
    """
    return repos.mapInPandas(_extract_batches, schema=TRIPLES_RAW)
