"""Resumable partitioned jobs with per-partition lineage + metrics (M6).

North rule: "resumable from Iceberg-snapshot checkpoints with per-partition
lineage rows and metrics". Without an Iceberg runtime in the sandbox, the
same contract is implemented over partitioned Parquet:

- output is written one *work partition* at a time (``part=<id>/`` dirs —
  each write is the atomic commit unit, the stand-in for an Iceberg
  snapshot; on a cluster, swap ``_commit_partition`` for
  ``df.writeTo(table).overwritePartitions()`` and record
  ``snapshot_id()`` from the table's metadata);
- a ``_lineage`` Parquet table records one row per partition:
  ``(job_id, partition_id, status, rows, bytes, wall_ms, snapshot_id,
  finished_at)``;
- restart = read lineage, **anti-join completed partitions**, run only the
  rest. A crashed partition leaves no lineage row (or a 'failed' row) and is
  re-run; output overwrite per partition makes re-runs idempotent.

The reference's sequential-fallback/retry behavior
(parallel_processing.py:286-289) maps to this + Spark task retries.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "job_id string, partition_id string, status string, rows long, "
    "bytes long, wall_ms long, snapshot_id string, finished_at double"
)


def _lineage_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    path = _lineage_dir(output_dir)
    if glob.glob(os.path.join(path, "*.parquet")):
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def completed_partitions(spark: SparkSession, output_dir: str) -> set[str]:
    lin = read_lineage(spark, output_dir)
    return {
        r.partition_id
        for r in lin.filter(F.col("status") == "done").select("partition_id").collect()
    }


def _append_lineage(spark: SparkSession, output_dir: str, row: dict) -> None:
    spark.createDataFrame([tuple(row[k.split(" ")[0]] for k in LINEAGE_SCHEMA.split(", "))],
                          LINEAGE_SCHEMA).write.mode("append").parquet(_lineage_dir(output_dir))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path)
        for f in files
    )


def run_resumable(
    spark: SparkSession,
    partition_ids: list[str],
    job_fn: Callable[[SparkSession, str], DataFrame],
    output_dir: str,
    job_id: str | None = None,
) -> dict:
    """Run ``job_fn(spark, partition_id) -> DataFrame`` for every partition
    not yet marked done; write each to ``output_dir/part=<id>`` and append a
    lineage row. Returns a summary dict.

    Idempotent: a re-run after any crash skips completed partitions and
    overwrites any half-written one.
    """
    job_id = job_id or uuid.uuid4().hex[:12]
    os.makedirs(output_dir, exist_ok=True)
    done = completed_partitions(spark, output_dir)
    ran, skipped = [], []
    for pid in partition_ids:
        if pid in done:
            skipped.append(pid)
            continue
        t0 = time.time()
        part_dir = os.path.join(output_dir, f"part={pid}")
        df = job_fn(spark, pid)
        df.write.mode("overwrite").parquet(part_dir)
        n_rows = spark.read.parquet(part_dir).count()
        snapshot = uuid.uuid4().hex[:16]  # Iceberg: table.currentSnapshot().id
        _append_lineage(
            spark,
            output_dir,
            {
                "job_id": job_id,
                "partition_id": pid,
                "status": "done",
                "rows": n_rows,
                "bytes": _dir_bytes(part_dir),
                "wall_ms": int((time.time() - t0) * 1000),
                "snapshot_id": snapshot,
                "finished_at": time.time(),
            },
        )
        ran.append(pid)
    return {"job_id": job_id, "ran": ran, "skipped": skipped}


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read all committed partitions of a resumable job's output."""
    return spark.read.option("basePath", output_dir).parquet(
        os.path.join(output_dir, "part=*")
    )


def job_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Per-partition metrics view of the lineage table."""
    return read_lineage(spark, output_dir).select(
        "partition_id", "status", "rows", "bytes", "wall_ms", "snapshot_id"
    )
