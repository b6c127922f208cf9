"""Incremental / streaming execution over the tile table.

The reference is strictly batch (SURVEY §2.9); the engine adds the Spark-
native incremental path: Structured Streaming over the tile directory with
``Trigger.AvailableNow`` + checkpointing. Each restart processes only files
not yet seen (the file-source log is the checkpoint), appends per-(poly,
tile) zonal *partials*, and the final answer is a grouped read of the
partials — so ingesting new tiles never recomputes old ones. Each batch
runs the batch path's one partials stage (``broadcast_join.zonal_partials``)
pinned to one driver index built when the stream starts, so the stream
serves polygon sides up to ``AUTO_DIST_THRESHOLD``.

This is the streaming complement of plans/lineage.py: lineage restarts at
work-partition granularity, the stream restarts at file granularity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..datagen.tiles import TILE_SCHEMA
from ..operators import broadcast_join


def incremental_zonal(
    spark: SparkSession,
    tiles_dir: str,
    polygons: DataFrame,
    work_dir: str,
    species: int | None = 0,
    res: int = 15,
) -> None:
    """Run one AvailableNow pass: new tile files -> zonal partials appended
    to ``work_dir/partials`` (checkpoint in ``work_dir/ckpt``)."""
    stream = (
        spark.readStream.schema(TILE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(tiles_dir)
    )
    index = broadcast_join.PolygonIndex.build(polygons, res)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = broadcast_join.layer_meta(batch_df, species)
        part = broadcast_join.zonal_partials(meta, polygons, res, "stats", index)
        # foreachBatch is at-least-once: a crash between write and checkpoint
        # commit replays the batch. Writing each batch to its own
        # batch=<id> partition with overwrite makes the replay IDEMPOTENT —
        # a re-run overwrites its own partials instead of double-counting.
        part.write.mode("overwrite").parquet(
            os.path.join(work_dir, "partials", f"batch={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def zonal_result(spark: SparkSession, work_dir: str) -> DataFrame:
    """Final zonal stats from accumulated partials (same shape as
    ``zonal.zonal_stats(species=None)`` output, per (poly_id, s))."""
    part = spark.read.parquet(os.path.join(work_dir, "partials"))
    return broadcast_join.final_zonal(part, ["poly_id", "s"])
