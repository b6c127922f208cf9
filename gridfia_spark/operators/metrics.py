"""Distributed metric execution over tile cubes (SURVEY §7 M3, §3.1).

The reference's execution loop (forest_metrics.py:316-438) — "for each chunk:
stack species, run every enabled calculation" — becomes:

1. co-locate all species layers of a tile: ``repartition(n, tx, ty)`` +
   ``sortWithinPartitions`` + a streaming ``mapInPandas`` that groups each
   tile inside its Arrow batches (one small shuffle of encoded bytes,
   amortized across ALL requested metrics — the shared-scan multi-output
   pattern; over a zlib Zarr store the shuffle carries the stored chunks);
2. per tile: stack to a (S, h, w) numpy cube, run every registered
   kernel once, emit per-pixel long rows with one column per metric;
3. global-scope metrics (rare/common/dominance, SURVEY §3.1) get their global
   statistics from a separate tiny aggregate (partial per tile -> final
   groupBy -> driver broadcast into the kernel pass).

At cluster scale the tile table is written bucketed by (tx, ty), so step 1's
shuffle disappears (storage-partitioned join); pixels never leave numpy until
the final (small) aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs
from ..constants import N_SPECIES
from ..functions import kernels
from . import decode


@dataclass(frozen=True)
class MetricSpec:
    out: str  # output column name
    kernel: str  # registry name
    params: dict[str, Any] = field(default_factory=dict)
    sql_type: str = "double"


def _failure_values(sql_type: str, n: int) -> np.ndarray:
    """Per-dtype failure sentinel, mirroring forest_metrics.py:440-483:
    NaN for floats, -1 for signed ints (the long columns here are signed)."""
    if sql_type in ("int", "long"):
        return np.full(n, -1, dtype=np.int64)
    return np.full(n, np.nan, dtype=np.float64)


def _run_tile_kernels(
    pdf: pd.DataFrame,
    specs: list[MetricSpec],
    on_error: str = "raise",
    fns: dict[str, kernels.Kernel] | None = None,
) -> pd.DataFrame:
    """One tile group (all species rows) -> per-pixel metric columns.

    ``fns`` is the driver-side registry snapshot (see metric_layers);
    falls back to the module registry for direct calls.
    ``on_error='sentinel'`` reproduces the reference's failure convention
    (forest_metrics.py:410-423 + 440-483): a failing calculation yields a
    sentinel layer instead of failing the tile, other metrics still emit."""
    tx = int(pdf["tx"].iloc[0])
    ty = int(pdf["ty"].iloc[0])
    w = int(pdf["w"].iloc[0])
    h = int(pdf["h"].iloc[0])
    cube = np.zeros((N_SPECIES, h, w), dtype=np.float32)
    for row in pdf.itertuples(index=False):
        cube[int(row.s)] = codecs.decode(row.bytes, row.w, row.h, row.fmt)
    gy, gx = np.meshgrid(
        ty * h + np.arange(h, dtype=np.int64),
        tx * w + np.arange(w, dtype=np.int64),
        indexing="ij",
    )
    out = {"gx": gx.ravel(), "gy": gy.ravel()}
    for m in specs:
        try:
            fn = fns[m.kernel] if fns is not None else kernels.get(m.kernel)
            layer = fn(cube, **m.params)
        except Exception:  # noqa: BLE001 — sentinel mode mirrors reference
            if on_error != "sentinel":
                raise
            out[m.out] = _failure_values(m.sql_type, h * w)
            continue
        col = layer.ravel()
        if m.sql_type in ("int", "long"):
            out[m.out] = col.astype(np.int64)
        else:
            out[m.out] = col.astype(np.float64)
    return pd.DataFrame(out)


def metric_layers(
    tiles: DataFrame, specs: list[MetricSpec], on_error: str = "raise"
) -> DataFrame:
    """Per-pixel metric table ``(gx, gy, <metric>...)`` over the whole raster.

    All metrics share one decode pass (multi-metric per chunk,
    forest_metrics.py:410-423). ``on_error='sentinel'`` keeps going on kernel
    failures, emitting NaN/-1 sentinel layers (reference convention).

    Co-location is repartition(n, tx, ty) + sortWithinPartitions + a streaming
    ``mapInPandas`` that groups inside each Arrow batch — the same single
    exchange as ``groupBy().applyInPandas`` (plan pin unchanged) but without
    FlatMapGroupsInPandas' one-Python-call-and-one-Arrow-batch-per-group
    overhead (measured ~0.7 s on 1,444 six-row groups: identity
    applyInPandas 1.05 s vs identity mapInPandas 0.35 s at the mid scale).
    The sort makes groups contiguous, so the kernel pass holds at most ONE
    tile group across a batch boundary — memory stays O(tile), not
    O(partition).

    The exchange asks for exactly ``defaultParallelism`` partitions: one
    Python task per core. A count-less repartition lets AQE coalesce by
    shuffle bytes, and the encoded tiles are small next to the work they
    carry (~1.4 MB for 4.8 Mpx of decode + kernels + per-pixel rows), so
    AQE packed the whole pass into ONE task on one core. More tasks than
    cores would not help either: every PySpark task pays a fixed worker
    set-up before the UDF runs (see ``gridfia_spark.zipcache`` for the
    part of it that was zip re-reads). A REPARTITION_BY_NUM exchange is
    never coalesced, and the plan keeps its single hash exchange."""
    meta = decode.with_tile_meta(tiles).select(
        "tx", "ty", "s", "bytes", "w", "h", "fmt"
    )
    # resolve kernels AT PLAN TIME: registrations made on the driver (incl.
    # user plugins defined in closures) ride the pickled task closure —
    # module-level registry state alone would not survive the worker's
    # fresh import
    fns = {m.kernel: kernels.get(m.kernel) for m in specs}
    schema = "gx long, gy long, " + ", ".join(f"{m.out} {m.sql_type}" for m in specs)
    n = tiles.sparkSession.sparkContext.defaultParallelism
    part = meta.repartition(n, "tx", "ty").sortWithinPartitions("tx", "ty")

    def run(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if pdf.empty:
                pending = None
                continue
            # the trailing (tx, ty) group may continue in the next batch —
            # defer it; everything before it is complete (rows are sorted)
            tx = pdf["tx"].to_numpy()
            ty = pdf["ty"].to_numpy()
            last = (tx == tx[-1]) & (ty == ty[-1])
            pending = pdf.loc[last]
            body = pdf.loc[~last]
            if body.empty:
                continue
            for _, g in body.groupby(["tx", "ty"], sort=False):
                yield _run_tile_kernels(g, specs, on_error, fns)
        if pending is not None and len(pending):
            yield _run_tile_kernels(pending, specs, on_error, fns)

    return part.mapInPandas(run, schema)


def global_occurrence_freq(tiles: DataFrame, biomass_threshold: float = 0.0) -> dict[int, float]:
    """Global per-species occurrence frequency (two-phase distributed agg:
    per-tile partial above-threshold counts -> final sum). The global-scope
    variant of species.py:218-226; returns {species_idx (1-based): freq}."""
    st = decode.decode_stats(tiles, threshold=biomass_threshold).filter(F.col("s") > 0)
    agg = (
        st.groupBy("s")
        .agg(F.sum("nonzero").alias("present"), F.sum("npx").alias("npx"))
        .collect()
    )
    return {int(r.s): float(r.present) / float(r.npx) for r in agg}


def rare_common_layers(
    tiles: DataFrame,
    rare_threshold: float = 0.01,
    common_threshold: float = 0.10,
    biomass_threshold: float = 0.0,
) -> DataFrame:
    """Global-scope rare/common species counts per pixel (SURVEY A14/A15):
    global frequency aggregate broadcast back into the per-tile kernel pass.
    ``biomass_threshold`` applies to both the frequency census and the
    per-pixel presence test (species.py:218-234 semantics)."""
    freqs = global_occurrence_freq(tiles, biomass_threshold)
    freq_arr = np.array([freqs[i] for i in range(1, N_SPECIES)])
    common = {"biomass_threshold": biomass_threshold, "freq": freq_arr}
    specs = [
        MetricSpec("rare_cnt", "rare_species", {"occurrence_threshold": rare_threshold, **common}, "long"),
        MetricSpec("common_cnt", "common_species", {"occurrence_threshold": common_threshold, **common}, "long"),
    ]
    return metric_layers(tiles, specs)


def total_pixel_count(tiles: DataFrame) -> int:
    """Total pixel count of the raster from tile METADATA alone: sum(w*h)
    over distinct tile coords. No decode — Catalyst prunes ``bytes``; the
    job reads only the tiny metadata columns."""
    meta = decode.with_tile_meta(tiles).select("tx", "ty", "w", "h").distinct()
    r = meta.agg(F.sum(F.col("w").cast("long") * F.col("h")).alias("n")).first()
    return int(r.n)


def species_dominance_global(tiles: DataFrame) -> DataFrame:
    """Global-scope dominance % per species (A13): per-pixel argmax in the
    tile pass, then one global conditional average per species.

    The pixel total comes from metadata (``total_pixel_count``), so the
    decode+kernel job runs exactly once — at 100x scale the previous
    ``dom.count()`` doubled the most expensive job in the system."""
    dom = metric_layers(tiles, [MetricSpec("dom", "dominant_species", {}, "long")])
    total = total_pixel_count(tiles)
    return (
        dom.filter(F.col("dom") > 0)
        .groupBy("dom")
        # count*100/total, in exactly this order — matches the SQL oracle's
        # float64 op order bit-for-bit
        .agg((F.count("*") * F.lit(100.0) / F.lit(float(total))).alias("dominance_pct"))
        .withColumnRenamed("dom", "s")
    )
