"""Distributed global prefix sum (scan) — the scale-safe cumulative sum.

``SUM(x) OVER (ORDER BY k)`` with no PARTITION BY funnels the entire table
through ONE task (Spark's WindowExec warns exactly this), which is the same
class of scale-killer as the exact-percentile buffering replaced by
functions/histpct.py. The standard distributed recast is the two-phase
scan:

1. bucket rows by approx-quantile boundaries of the order key — a pure
   deterministic function of the key baked into the plan, so bucket b
   holds a contiguous key range and every key in bucket b sorts before
   every key in b+1;
2. one tiny job computes per-bucket totals (one row per bucket), whose
   running sum gives each bucket's OFFSET — driver-side math over
   ~thousands of rows, broadcast back;
3. a window *within* each bucket (bounded memory, parallel across
   buckets) plus the broadcast offset yields the exact global scan.

This is the distributed replacement for any unpartitioned running window;
no registered query calls it at present. Reference analogue: running accumulation in the
reference's chunked processors (parallel_processing.py merges per-chunk
partials the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    persist: bool = False,
) -> DataFrame:
    """Exact global cumulative sum of ``value_col`` in ``order_col`` order
    (inclusive), without ever sorting the whole table in one task.

    ``order_col`` must be globally unique and numeric (it defines the scan
    order). The range buckets are a pure deterministic FUNCTION of the key
    (approx-quantile boundaries baked into the plan), not
    ``spark_partition_id`` — so the offsets job and the scan job agree on
    bucket membership even across independent recomputes, with no persist
    required.

    Cost note: the recompute-safe default evaluates ``df`` three times
    (quantile bounds, per-bucket totals, final scan) — free for a parquet
    scan, expensive when ``df`` is itself a derived pipeline.
    ``persist=True`` caches ``df`` for the duration, so the upstream
    computes once and the three passes read the cache; the caller owns the
    cache's lifetime (``df.unpersist()`` after consuming the result —
    Spark evicts LRU otherwise)."""
    spark = df.sparkSession
    if persist:
        df = df.persist()
    n = num_partitions or spark.sparkContext.defaultParallelism
    probs = [i / n for i in range(1, n)]
    bounds = []
    if probs:
        row = df.select(
            F.percentile_approx(order_col, probs, 10_000).alias("b")
        ).first()
        bounds = sorted(set(row.b or []))
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(F.col(order_col) > F.lit(b), 1).otherwise(0)
    withb = df.withColumn("_b", bucket)
    # phase 2: per-bucket totals -> running offsets (tiny: one row/bucket)
    parts = (
        withb.groupBy("_b").agg(F.sum(value_col).alias("_psum")).orderBy("_b").collect()
    )
    offsets, run = {}, 0
    for r in parts:
        offsets[r._b] = run
        run += r._psum or 0
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    # phase 3: bounded within-bucket scan + broadcast offset
    w = Window.partitionBy("_b").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return withb.withColumn(
        out_col, F.sum(value_col).over(w) + off[F.col("_b")]
    ).drop("_b")
