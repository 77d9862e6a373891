"""Inverted-index BM25: build-once postings, partition-pruned queries.

`text.bm25_topk` scans the corpus per query — right for one-off
curation screens, wrong for a query workload. This module materializes
the classic IR layout instead: postings (tok, doc_id, tf) written
partitioned by a deterministic token bucket, per-doc lengths, and the
corpus constants — so a query reads ONLY its terms' bucket partitions
(PartitionFilters, plan-tested), never the corpus. The exact analogue
of the IVF layout for the lexical path.

The bucket function is md5-prefix mod n_buckets, computed identically
JVM-side (build) and in Python (query-side pruning) — the same
cross-engine-determinism trick the sampling operators use.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import _tokens


def _bucket_col(tok_col: str, n_buckets: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col(tok_col)), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


def _bucket_py(term: str, n_buckets: int) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def build_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    _mode: str = "overwrite",
    _version: int = 0,
) -> None:
    """Materialize `<path>/postings` (bucket=<b>/ partitioned:
    tok, doc_id, tf, _version), `<path>/doclens` (doc_id, dl,
    _version, _deleted), and `<path>/stats` (raw batch totals +
    n_buckets, one row per build/append/upsert batch).

    One explode + one (tok, doc_id) aggregation — the single wide pass
    any inverted-index build pays. Nothing global is stored: per-term
    df is recomputed by each query from its own postings slice, and
    the corpus constants (n, avgdl) derive from the RESOLVED doclens
    at query time — so upserts and tombstones (a higher version
    supersedes) are honored without any global rewrite. doclens is the version log: latest (doc_id,
    _version) wins at read, and postings join on that pair, so a
    superseded doc's old postings drop out without being touched."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(_tokens(text_col), lambda t: t != "")).alias("tok"),
    )
    postings = (
        toks.groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", _bucket_col("tok", n_buckets))
        .withColumn("_version", F.lit(int(_version)).cast("long"))
    )
    postings.write.mode(_mode).partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    doclens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(_tokens(text_col), lambda t: t != ""))
        .cast("double")
        .alias("dl"),
        F.lit(int(_version)).cast("long").alias("_version"),
        F.lit(False).alias("_deleted"),
    )
    doclens.write.mode(_mode).parquet(f"{path}/doclens")
    doclens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).withColumn("n_buckets", F.lit(n_buckets)).write.mode(_mode).parquet(
        f"{path}/stats"
    )


def append_bm25_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a batch of NEW documents into an existing index — O(batch)
    I/O only: the batch's postings append into their bucket
    partitions, its doclens append, and one stats row appends. Queries
    over the appended index equal queries over an index built from
    scratch on the union (pytest-pinned). Caller contract: doc_ids not
    already indexed — for CHANGED docs use `upsert_bm25_index` (takes
    a version and supersedes)."""
    spark = new_docs.sparkSession
    n_buckets = spark.read.parquet(f"{path}/stats").collect()[0]["n_buckets"]
    build_bm25_index(
        new_docs, path, n_buckets=n_buckets, text_col=text_col,
        id_col=id_col, _mode="append",
    )


def _resolved_doclens(spark: SparkSession, path: str) -> DataFrame:
    """Resolved view of the doclens version log: latest (doc_id,
    _version) wins, tombstones dropped.
    Pre-versioning layouts read as everything-at-version-0. Keeps the
    _version column (postings resolve through it)."""
    from pyspark.sql import Window

    dl_raw = spark.read.parquet(f"{path}/doclens")
    if "_version" not in dl_raw.columns:
        return dl_raw.withColumn("_version", F.lit(0).cast("long"))
    wv = Window.partitionBy("doc_id").orderBy(
        F.desc("_version"), F.desc("_deleted")
    )
    return (
        dl_raw.withColumn("_rn", F.row_number().over(wv))
        .where((F.col("_rn") == 1) & (~F.col("_deleted")))
        .drop("_rn", "_deleted")
    )


def compact_bm25_index(spark: SparkSession, path: str) -> int:
    """Fold the version log into a resolved snapshot: superseded and
    tombstoned doclens rows AND their postings are physically removed,
    everything restamped version 0, stats reset to one row. The
    maintenance job, not the write path (on Iceberg this is
    rewrite_data_files + snapshot expiry). Queries before and after are identical by construction —
    the read path resolves to the same live set either way
    (pytest-pinned). Swap is rename-aside:
    a full copy of the index exists on disk at every instant. Returns
    the live doc count."""
    import os
    import shutil

    n_buckets = (
        spark.read.parquet(f"{path}/stats").agg(F.max("n_buckets")).collect()[0][0]
    )
    doclens = _resolved_doclens(spark, path)
    post = spark.read.parquet(f"{path}/postings")
    if "_version" not in post.columns:
        post = post.withColumn("_version", F.lit(0).cast("long"))
    live_post = post.join(
        doclens.select("doc_id", "_version"), ["doc_id", "_version"]
    )

    tmp = f"{path}__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        live_post.withColumn("_version", F.lit(0).cast("long"))
        .write.partitionBy("bucket")
        .parquet(f"{tmp}/postings")
    )
    resolved_dl = (
        doclens.withColumn("_version", F.lit(0).cast("long"))
        .withColumn("_deleted", F.lit(False))
    )
    resolved_dl.write.parquet(f"{tmp}/doclens")
    resolved_dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).withColumn("n_buckets", F.lit(int(n_buckets))).write.parquet(f"{tmp}/stats")
    n = spark.read.parquet(f"{tmp}/doclens").count()

    old = f"{path}__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def _require_versioned(spark: SparkSession, path: str) -> None:
    """Mutating a PRE-versioning index (doclens without _version)
    would mix parquet schemas: spark.read.parquet resolves ONE
    footer's schema, so depending on which file wins, legacy docs
    either all stop scoring (read NULL _version, fail the resolution
    join) or superseded rows silently survive. Refuse up front with
    the migration path instead of corrupting reads."""
    if "_version" not in spark.read.parquet(f"{path}/doclens").columns:
        raise ValueError(
            f"{path} is a pre-versioning BM25 index (doclens has no "
            "_version column) — rebuild it with build_bm25_index (which "
            "writes the versioned layout) before upserting/deleting; "
            "read-only queries on the legacy layout keep working"
        )


def upsert_bm25_index(
    docs: DataFrame,
    path: str,
    version: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Re-index CHANGED (or new) docs in O(batch) — the delete log
    that removes `append_bm25_index`'s rebuild caveat: the batch's
    postings + doclens append stamped `version`; at query time the
    highest doclens version per doc wins and postings resolve through
    that pair, so the doc's previous postings stop scoring without
    being rewritten (compaction is a maintenance job, not the write
    path). Versions are
    caller-supplied and must be STRICTLY higher than any prior version
    of the same doc; re-upserting a doc at an unchanged version is
    undefined (both copies' postings would resolve). Pre-versioning
    indexes are refused (see _require_versioned)."""
    spark = docs.sparkSession
    _require_versioned(spark, path)
    n_buckets = spark.read.parquet(f"{path}/stats").collect()[0]["n_buckets"]
    build_bm25_index(
        docs, path, n_buckets=n_buckets, text_col=text_col,
        id_col=id_col, _mode="append", _version=version,
    )


def delete_bm25_docs(
    spark: SparkSession, path: str, ids: list, version: int
) -> None:
    """Append doclens tombstones for `ids` at `version` — the docs stop
    scoring immediately (their postings fail the version-resolution
    join); O(batch) I/O, no postings touched. Same-version ties
    resolve tombstone-wins. Pre-versioning
    indexes are refused (see _require_versioned)."""
    _require_versioned(spark, path)
    tomb = spark.createDataFrame(
        [(i,) for i in ids],
        spark.read.parquet(f"{path}/doclens").select("doc_id").schema,
    ).select(
        "doc_id",
        F.lit(None).cast("double").alias("dl"),
        F.lit(int(version)).cast("long").alias("_version"),
        F.lit(True).alias("_deleted"),
    )
    tomb.write.mode("append").parquet(f"{path}/doclens")


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Query the materialized index: identical scores to
    text.bm25_topk over the indexed corpus (equivalence-pinned in
    pytest), but the postings scan touches only the query terms'
    bucket partitions + an isin row filter — corpus-size-independent
    I/O for a bounded vocabulary slice."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # term-set semantics, same as text.bm25_topk (duplicate literals
    # would also trip Spark's duplicate-map-key EXCEPTION policy)
    query_terms = list(dict.fromkeys(query_terms))
    n_buckets = (
        spark.read.parquet(f"{path}/stats")
        .agg(F.max("n_buckets"))
        .collect()[0][0]
    )
    # resolve the doclens version log (latest per doc wins, tombstones
    # drop) and derive the corpus
    # constants from the RESOLVED view, so upserted/deleted docs are
    # excluded from n/avgdl too, not just from scoring. doclens is one
    # skinny row per live doc; at scale write it bucketed by doc_id
    doclens = _resolved_doclens(spark, path)
    cstats = doclens.agg(
        F.count("*").alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n = cstats["n"]
    avgdl = float(cstats["sum_dl"] or 0.0) / n if n else 1.0
    buckets = sorted({_bucket_py(t, n_buckets) for t in query_terms})
    # read twice (df agg + scoring) WITHOUT a checkpoint: both reads
    # are bucket-pruned postings-slice scans — re-reading the slice is
    # cheaper than materializing it, and keeps the PartitionFilters
    # visible in the scoring plan (plan-tested)
    post = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("bucket").isin(buckets))  # partition pruning
        .where(F.col("tok").isin(list(query_terms)))
    )
    if "_version" not in post.columns:
        post = post.withColumn("_version", F.lit(0).cast("long"))
    # live slice: the (doc_id, _version) join against resolved doclens
    # drops superseded/tombstoned postings before df counting AND
    # scoring (df must see the live corpus only)
    live = post.join(doclens, ["doc_id", "_version"])
    # per-term df from the slice just read (bounded: Q terms)
    dfs = {
        r["tok"]: r["df"]
        for r in live.groupBy("tok").agg(F.countDistinct("doc_id").alias("df")).collect()
    }
    idf = {t: math.log(1.0 + (n - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5)) for t in query_terms}
    idf_map = F.create_map(
        *[x for t in query_terms for x in (F.lit(t), F.lit(idf[t]))]
    )
    scored = (
        live
        .withColumn(
            "_s",
            idf_map[F.col("tok")]
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("_s").alias("bm25"))
        .where(F.col("bm25") > 0)
    )
    return (
        scored.select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
