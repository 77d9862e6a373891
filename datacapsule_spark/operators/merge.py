"""MERGE INTO (upsert) for partitioned parquet — rewrite only the
partitions the delta touches.

The reference's stores mutate by rewriting everything (SQLite row
UPDATEs are fine at 10^3 rows; nanovector_db.py rewrites its whole
JSON per change). At 100 TB the only affordable mutation is one whose
cost is O(delta + affected partitions), not O(table): Iceberg's MERGE
INTO. This module is that semantics over plain partitioned parquet
(the sandbox has no Iceberg jars; materialize.py documents the
one-line writeTo swap when a catalog exists):

- merge_plan: the pure relational core — post-merge rows as a
  DataFrame (source replaces matched target rows, unmatched source
  rows insert). SQL-expressible, so the gated query twin verifies it
  against DuckDB.
- merge_into_partitioned: the physical upsert. Affected partitions =
  partitions holding a matched key (the delta's keys are broadcast
  into a semi-join probe — parquet partition pruning cannot apply, the
  match is by key, but ONLY partition-value columns and keys are
  scanned) UNION the delta's own partition values (a matched row may
  MOVE partitions: its old partition must be rewritten without it).
  Those partitions are re-derived and written with dynamic partition
  overwrite; every other partition's files are untouched (asserted by
  test on file mtimes+sizes).

A row-versioned (log-structured) table read through latest_by_key is
the alternative for high-frequency small upserts; this is the
batch-merge shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_plan(
    target: DataFrame, source: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Post-merge rows: target rows whose key is absent from source,
    plus all source rows (upsert: update-on-match, insert-on-miss).
    Keys are assumed unique per side. One shuffle (the anti-join);
    with a small delta, Catalyst broadcasts it."""
    return target.join(
        source.select(*key_cols).distinct(), key_cols, "left_anti"
    ).unionByName(source)


def merge_into_partitioned(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> list:
    """Upsert `source` into the parquet dataset at `path` (partitioned
    by partition_col), rewriting ONLY affected partitions. Returns the
    sorted list of partition values rewritten.

    Cost: one key+partition-pruned scan of target to find matched
    rows' partitions (delta keys broadcast), one scan of the affected
    partitions to rebuild them, zero I/O on the rest."""
    target = spark.read.parquet(path)
    src_keys = F.broadcast(source.select(*key_cols).distinct())
    affected = (
        target.select(partition_col, *key_cols)
        .join(src_keys, key_cols, "left_semi")
        .select(partition_col)
        .union(source.select(partition_col))
        .distinct()
        .collect()
    )
    values = sorted(r[0] for r in affected)
    if not values:
        return values
    t_aff = target.where(F.col(partition_col).isin(values))
    # materialize before writing into the path we read from: severs the
    # lineage (no read-during-overwrite) and computes the merge once —
    # size is bounded by the affected partitions, not the table
    merged = merge_plan(t_aff, source, key_cols).localCheckpoint(eager=True)
    # a matched row can MOVE partitions and leave its old one with no
    # rows at all — dynamic overwrite only rewrites partitions present
    # in the output, so a now-empty partition would keep its stale
    # files. Find them first, delete after the write.
    nonempty = {r[0] for r in merged.select(partition_col).distinct().collect()}
    emptied = [v for v in values if v not in nonempty]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        for v in emptied:
            # Spark escapes special chars (space, ':', '%', ...) in
            # partition directory names — build the path with ITS escaper
            # or the delete misses the real directory (null partitions
            # land in __HIVE_DEFAULT_PARTITION__)
            leaf = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else esc.escapePathName(str(v))
            )
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{partition_col}={leaf}")
            fs = p.getFileSystem(hconf)
            fs.delete(p, True)
    return values


def latest_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Latest version per key — the SCD/type-1 read over an
    append-only (versioned) table: row_number over order_cols
    descending, keep rank 1. One shuffle on the key; the per-key sort
    is partial (window partition), never global. Pair with
    merge_into_partitioned (compacted upsert) or an append-only
    versioned log depending on write cadence."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
