"""Per-stage lineage + metrics, checkpoint/resume (SURVEY.md §4.2.4).

Maps the reference's ops tables (interactions.processingTime etc.,
app.py:71-94) to what the north rule actually needs at scale: every
pipeline stage appends one row per partition with input/output counts
and wall time, and a completed-stage marker. Resume = skip stages whose
marker is valid; mid-pipeline resume re-reads the stage boundary
instead of recomputing upstream.

A stage boundary is `<work_dir>/stage_<stage>/` holding
  data/           the parquet output (partitioned when partition_by is set)
  lineage.jsonl   one row per written file with its footer row count
  _STAGE_DONE     the completion marker, published last by atomic rename:
                  run_id, params_hash, wall_ms, schema (the output's
                  StructType JSON), partition_by (list) and version.

The marker is the one contract for reading a boundary back: `load`
reads data/ with the marker's schema (partition columns last), so an
empty boundary and a non-empty one come back alike and no read infers
a schema. A marker whose `version` is not STAGE_VERSION (every marker an
older engine wrote) never resumes: the stage re-runs.

At 10^12 files the same mechanism keys on (run_id, stage,
partition_id) with MERGE INTO on an Iceberg lineage table; here the
stage boundary is a parquet directory + a _STAGE_DONE marker file
(atomic rename), which gives identical resume semantics single-node.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Bump when what a boundary holds or how it is laid out changes: markers
# carrying another version (markers without one count as version 1) are
# never resumed.
STAGE_VERSION = 2


def params_hash(params: dict | None) -> str:
    """Stable hash of stage-relevant parameters (order-insensitive)."""
    return hashlib.md5(
        json.dumps(params or {}, sort_keys=True, default=str).encode()
    ).hexdigest()


def input_signature(df: DataFrame) -> dict:
    """Identity of a source DataFrame for checkpoint keying: its column
    names plus, for a file-backed frame, every input file's (path, size,
    modification time) from the Hadoop FileSystem status (metadata only,
    no data read) and the md5 of its analyzed plan with the
    per-session expression ids (`#12`) stripped — so a rewrite in place
    or a filter over the same files is a different input, while the same
    read in a fresh process keys the same. (`semanticHash()` is not
    stable across JVMs.) A frame with no input files (in-memory,
    checkpointed) is keyed by content instead: an order-insensitive
    xxhash64 checksum and the row count (one aggregation job), so two
    different in-memory corpora never share a key."""
    sig: dict = {"columns": list(df.columns)}
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if files:
        jvm = df.sparkSession._jvm
        conf = df.sparkSession._jsc.hadoopConfiguration()
        stats = []
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            st = path.getFileSystem(conf).getFileStatus(path)
            stats.append(f"{f}\t{st.getLen()}\t{st.getModificationTime()}")
        sig["n_files"] = len(files)
        sig["files_md5"] = hashlib.md5("\n".join(stats).encode()).hexdigest()
        plan = re.sub(r"#\d+", "", df._jdf.queryExecution().analyzed().toString())
        sig["plan_md5"] = hashlib.md5(plan.encode()).hexdigest()
    else:
        row = df.select(  # bit_xor: order-insensitive, no overflow
            F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        sig["content_xxh"] = [row["h"], row["n"]]
    return sig


class StageTracker:
    """Stage-boundary checkpointing with per-partition metrics.

    A stage is resumable only if its completion marker records
    STAGE_VERSION, the SAME run_id and the SAME params hash as the
    current invocation — a rerun with a different --run-id, toggled
    pipeline flags (dedup_files, min_code_quality, different input) or
    a marker from an older engine re-executes instead of silently
    returning a stale boundary. Every boundary, empty or not, is read
    back with the schema its marker records."""

    def __init__(self, spark: SparkSession, work_dir: str, run_id: str = "run0"):
        self.spark = spark
        self.work_dir = work_dir
        self.run_id = run_id
        os.makedirs(work_dir, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.work_dir, f"stage_{stage}")

    def _marker(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_STAGE_DONE")

    def _meta(self, stage: str) -> dict | None:
        """The parsed completion marker, or None when absent or torn."""
        try:
            with open(self._marker(stage)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def is_done(self, stage: str, params: dict | None = None) -> bool:
        """Marker exists, carries STAGE_VERSION AND belongs to this
        run_id; when `params` is given, its hash must match too."""
        meta = self._meta(stage)
        return (
            meta is not None
            and meta.get("version") == STAGE_VERSION
            and meta.get("run_id") == self.run_id
            and (params is None or meta.get("params_hash") == params_hash(params))
        )

    def load(self, stage: str) -> DataFrame:
        """Read a stage boundary back with the schema its marker records,
        partition columns last — no schema inference, no Spark job. An
        EMPTY boundary (a partitioned write of zero rows emits no parquet
        file) reads the same way and returns the same columns."""
        meta = self._meta(stage)
        if meta is None:
            raise FileNotFoundError(f"stage '{stage}' has no completion marker")
        schema = StructType.fromJson(json.loads(meta["schema"]))
        part = meta["partition_by"]
        schema = StructType(
            [f for f in schema.fields if f.name not in part]
            + [schema[c] for c in part]
        )
        return self.spark.read.schema(schema).parquet(
            os.path.join(self._stage_dir(stage), "data")
        )

    def materialize(
        self,
        stage: str,
        df_thunk,
        partition_by: list[str] | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Run `df_thunk()` and persist its result as the stage boundary,
        unless the stage already completed (resume path) under the same
        run_id + params. Per-partition lineage comes from the written
        parquet footers (no data scan).

        A partitioned write holds one open file per partition value in
        each task instead of Spark's planned-write per-task sort by the
        partition columns (A/B in bench/BASELINE.md: best-of-3 28.9 s vs
        37.5 s on a 29.6M-row pred-partitioned boundary). Past 32 open
        writers Spark itself sorts the rest of the task's rows and
        writes them in order, so memory stays bounded. The session conf
        is restored afterwards.
        """
        if self.is_done(stage, params=params):
            return self.load(stage)
        # the overwrite below deletes the old boundary first: an old
        # marker left in place would resume an empty or partial boundary
        # if this write fails
        self.invalidate(stage)
        t0 = time.time()
        df = df_thunk()
        out = os.path.join(self._stage_dir(stage), "data")

        conf = self.spark.conf
        saved: dict[str, str | None] = {}
        if partition_by:
            for key, val in (
                ("spark.sql.optimizer.plannedWrite.enabled", "false"),
                ("spark.sql.maxConcurrentOutputFileWriters", "32"),
            ):
                try:
                    saved[key] = conf.get(key)
                except Exception:
                    saved[key] = None
                conf.set(key, val)
        try:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(out)
        finally:
            for key, old in saved.items():
                if old is None:
                    conf.unset(key)
                else:
                    conf.set(key, old)
        wall_ms = (time.time() - t0) * 1000.0
        # per-partition lineage from the written files themselves: one
        # parquet file = one output partition; row counts come from the
        # parquet footers (no data scan — previously this re-scanned
        # every stage output, ~10 extra full passes per pipeline run).
        # On a real cluster the same numbers come from task-level write
        # metrics; footers are the single-node equivalent.
        import pyarrow.parquet as pq

        lineage_rows = []
        pid = 0
        for root, _dirs, files in os.walk(out):
            for fname in sorted(files):
                if not fname.endswith(".parquet"):
                    continue
                n_rows = pq.ParquetFile(os.path.join(root, fname)).metadata.num_rows
                lineage_rows.append(
                    {
                        "run_id": self.run_id,
                        "stage": stage,
                        "partition_id": pid,
                        "input_rows": -1,
                        "output_rows": int(n_rows),
                        "wall_ms": wall_ms,
                    }
                )
                pid += 1
        if not lineage_rows:
            lineage_rows = [
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "partition_id": 0,
                    "input_rows": -1,
                    "output_rows": 0,
                    "wall_ms": wall_ms,
                }
            ]
        with open(os.path.join(self._stage_dir(stage), "lineage.jsonl"), "w") as f:
            for row in lineage_rows:
                f.write(json.dumps(row) + "\n")
        # atomic completion marker — written last, so a killed run
        # re-executes the stage (exactly-once at stage granularity).
        # Temp file + rename: a crash mid-write never leaves a torn marker.
        tmp = self._marker(stage) + ".tmp"
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {
                        "run_id": self.run_id,
                        "params_hash": params_hash(params),
                        "wall_ms": wall_ms,
                        "schema": df.schema.json(),
                        "partition_by": list(partition_by or []),
                        "version": STAGE_VERSION,
                    }
                )
            )
        os.replace(tmp, self._marker(stage))
        return self.load(stage)

    def lineage(self) -> DataFrame:
        """All recorded lineage rows as a DataFrame (metrics table)."""
        rows = []
        for d in sorted(os.listdir(self.work_dir)):
            p = os.path.join(self.work_dir, d, "lineage.jsonl")
            if os.path.exists(p):
                with open(p) as f:
                    rows.extend(json.loads(line) for line in f)
        from .schema import LINEAGE

        return self.spark.createDataFrame(rows, LINEAGE) if rows else self.spark.createDataFrame([], LINEAGE)

    def merge_lineage_iceberg(self, table: str) -> None:
        """MERGE the recorded lineage rows into an Iceberg metrics table
        keyed (run_id, stage, partition_id) — the idempotent-resume
        upsert this module's docstring describes. Requires an Iceberg
        catalog on the session (materialize.iceberg_available); raises
        cleanly in catalogs-less sandboxes."""
        from .materialize import _require_iceberg

        _require_iceberg(self.spark)
        df = self.lineage()
        df.createOrReplaceTempView("_lineage_src")
        self.spark.sql(
            f"""
            MERGE INTO {table} t
            USING _lineage_src s
            ON t.run_id = s.run_id AND t.stage = s.stage
               AND t.partition_id = s.partition_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """
        )

    def invalidate(self, stage: str) -> None:
        marker = self._marker(stage)
        if os.path.exists(marker):
            os.remove(marker)
