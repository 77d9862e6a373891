"""Source connectors for the repos corpus (SURVEY §2.1 S1).

The production source is an Iceberg table with the input_hint shape
(repo, path, commit, lang, content); this sandbox has no Iceberg
catalog, so the reader takes either a table identifier (when a catalog
exists) or a parquet path, and enforces the schema contract either way.
Synthetic-corpus generation lives in datacapsule_spark.corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import REPOS

_EXPECTED = {f.name for f in REPOS.fields}


def read_repos(spark: SparkSession, source: str) -> DataFrame:
    """Read the repos table from an Iceberg/catalog identifier or a
    parquet path (one with a '/', a .parquet suffix, or an existing
    local file or directory), validating the (repo, path, commit, lang,
    content) contract."""
    if os.path.exists(source):
        source = os.path.abspath(source)  # the JVM's cwd need not be ours
    if source.endswith(".parquet") or "/" in source:
        df = spark.read.parquet(source)
    else:
        df = spark.read.table(source)
    missing = _EXPECTED - set(df.columns)
    if missing:
        raise ValueError(f"repos source missing columns: {sorted(missing)}")
    return df.select(*sorted(_EXPECTED))
