"""Per-stage lineage + metrics, checkpoint/resume (SURVEY.md §4.2.4).

Maps the reference's ops tables (interactions.processingTime etc.,
app.py:71-94) to what the north rule actually needs at scale: every
pipeline stage appends one row per partition with input/output counts
and wall time, and a completed-stage marker. Resume = skip stages whose
marker exists and whose output parquet is readable; mid-pipeline resume
re-reads the stage boundary instead of recomputing upstream.

At 10^12 files the same mechanism keys on (run_id, stage,
partition_id) with MERGE INTO on an Iceberg lineage table; here the
stage boundary is a parquet directory + a _STAGE_DONE marker file
(atomic rename), which gives identical resume semantics single-node.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def params_hash(params: dict | None) -> str:
    """Stable hash of stage-relevant parameters (order-insensitive)."""
    return hashlib.md5(
        json.dumps(params or {}, sort_keys=True, default=str).encode()
    ).hexdigest()


def input_signature(df: DataFrame, max_files: int = 1000) -> dict:
    """Cheap identity of a source DataFrame for checkpoint keying:
    column names plus a hash of its (bounded) input file list. File
    listing is scan metadata, no data read; non-file sources (in-memory
    test DataFrames) degrade to schema-only."""
    sig: dict = {"columns": list(df.columns)}
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if files:
        sig["n_files"] = len(files)
        sig["files_md5"] = hashlib.md5(
            "\n".join(files[:max_files]).encode()
        ).hexdigest()
    return sig


class StageTracker:
    """Stage-boundary checkpointing with per-partition metrics.

    A stage is resumable only if its completion marker records the SAME
    run_id and the SAME params hash as the current invocation — a rerun
    with a different --run-id or toggled pipeline flags (dedup_files,
    min_code_quality, different input) re-executes instead of silently
    returning the stale boundary (ADVICE r01)."""

    def __init__(self, spark: SparkSession, work_dir: str, run_id: str = "run0"):
        self.spark = spark
        self.work_dir = work_dir
        self.run_id = run_id
        os.makedirs(work_dir, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.work_dir, f"stage_{stage}")

    def _marker(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_STAGE_DONE")

    def is_done(self, stage: str, params: dict | None = None) -> bool:
        """Marker exists AND belongs to this run_id; when `params` is
        given, its hash must match the recorded one too."""
        marker = self._marker(stage)
        if not os.path.exists(marker):
            return False
        try:
            with open(marker) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            return False
        if meta.get("run_id") != self.run_id:
            return False
        if params is not None and meta.get("params_hash") != params_hash(params):
            return False
        return True

    def _boundary_files(self, stage: str) -> list[str]:
        out = os.path.join(self._stage_dir(stage), "data")
        found = []
        for root, _dirs, files in os.walk(out):
            found.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return found

    def load(self, stage: str) -> DataFrame:
        """Read a stage boundary back. A stage whose output was EMPTY
        (e.g. a fully quality-gated delta) wrote no parquet files —
        partitioned writes of zero rows emit only _SUCCESS — so the
        schema recorded in its completion marker reconstructs the empty
        DataFrame instead of failing UNABLE_TO_INFER_SCHEMA."""
        if self._boundary_files(stage):
            return self.spark.read.parquet(
                os.path.join(self._stage_dir(stage), "data")
            )
        from pyspark.sql.types import StructType

        with open(self._marker(stage)) as f:
            meta = json.load(f)
        schema_json = meta.get("schema")
        if schema_json is None:
            raise RuntimeError(
                f"stage '{stage}' boundary is empty and its completion "
                "marker predates schema recording (written by an older "
                "engine version); invalidate the stage or re-run with a "
                "fresh run_id/work_dir to rebuild it"
            )
        schema = StructType.fromJson(json.loads(schema_json))
        return self.spark.createDataFrame([], schema)

    def materialize(
        self,
        stage: str,
        df_thunk,
        partition_by: list[str] | None = None,
        params: dict | None = None,
        compression: str | None = None,
        partition_cardinality: int | None = None,
    ) -> DataFrame:
        """Run `df_thunk()` and persist its result as the stage boundary,
        unless the stage already completed (resume path) under the same
        run_id + params. Per-partition lineage comes from the written
        parquet footers (no data scan). `compression` overrides the
        session parquet codec for THIS boundary only — boundaries on the
        disk-bound side of the pipeline trade codec CPU for I/O bytes
        differently than CPU-bound ones (measured in bench/BASELINE.md).

        `partition_cardinality`: declare the (approximate) number of
        distinct partition_by values when the caller knows it. When it
        is small (<= 32), the write skips Spark's planned-write
        per-task sort by the partition columns and uses concurrent
        output writers instead — every task can hold all partitions'
        files open at once, so sorting the rows first buys nothing.
        A/B (bench/ab_boundary_write.py, 29.6M-row pred-partitioned
        boundary at local[16], fresh JVMs, 3 alternating reps):
        concurrent beat the planned sort in every within-rep pair,
        best-of-3 28.9s vs 37.5s. High-cardinality partitioning keeps
        the default sort path — each open parquet writer buffers a row
        group, so unbounded concurrent writers trade sort CPU for
        executor memory.
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

        concurrent = (
            partition_by
            and partition_cardinality is not None
            and partition_cardinality <= 32
        )
        conf = self.spark.conf
        saved: dict[str, str | None] = {}
        if concurrent:
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
            if compression:
                writer = writer.option("compression", compression)
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
        # re-executes the stage (exactly-once at stage granularity);
        # records run_id + params hash so a changed configuration
        # against the same work_dir invalidates instead of resuming.
        # Temp file + rename: a crash mid-write never leaves a torn marker.
        tmp = self._marker(stage) + ".tmp"
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {
                        "run_id": self.run_id,
                        "params_hash": params_hash(params),
                        "wall_ms": wall_ms,
                        # lets load() rebuild an EMPTY boundary (zero
                        # parquet files) without schema inference
                        "schema": df.schema.json(),
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
