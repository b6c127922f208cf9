"""Perceptual-hash image near-duplicate detection (banded Hamming join).

The table schema carries a ``phash`` int64 per image (BASELINE.json
input_hint). This module adds the operator that column exists for: find
image pairs whose perceptual hashes differ in at most ``max_hamming`` bits
— with the scale discipline of a banded LSH join:

- The 64-bit hash is held as FOUR 16-bit band values. Bands double as the
  LSH join keys AND the Hamming representation, so no int64 sign games.
- Candidate generation is a band equi-join (4 rows per image), never an
  all-pairs product; candidate ids are ``distinct``-ed BEFORE the band
  values are re-joined (id-only exchange).
- **Completeness is exact, not probabilistic, for max_hamming <= 3**: two
  hashes differing in <= 3 bits cannot differ in all 4 bands (pigeonhole),
  so every qualifying pair shares at least one identical band and is
  found by the equi-join. At the default threshold this is exact-verify
  LSH — the prune is loss-free.

The hash here is the *portable* integer formulation (bit = 64*block_sum >
total_sum, equivalent to "8x8 block mean above mean of block means" for
equal-size blocks) so the DuckDB oracle reproduces it bit-for-bit from the
synthetic pixel CTE with zero float comparisons; datagen/pixels.py:94
(phash64) is the float-mean variant stored in the table.

Reference behavior analogue: near-duplicate raster detection between
species layers (the reference compares layers pixel-wise,
statistical_analysis.py correlation battery); at 10^12 images pixel-wise
comparison is impossible and hash-banding is the standard recast.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs

N_BANDS = 4
BAND_BITS = 16


def portable_phash_bands(meta: DataFrame) -> DataFrame:
    """(image_id, bytes, w, h, fmt) rows -> (image_id, b0..b3) 16-bit band
    values of the integer-exact 64-bit perceptual hash. One map-only Arrow
    pass; block sums are exact int64 (pixel values are small ints by the
    u8z contract)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                a = arr.astype(np.int64)
                bh, bw = max(a.shape[0] // 8, 1), max(a.shape[1] // 8, 1)
                clipped = a[: 8 * bh, : 8 * bw]
                blk = clipped.reshape(8, bh, 8, bw).sum(axis=(1, 3))
                bits = (64 * blk.ravel() > blk.sum()).astype(np.int64)
                weights = 1 << (BAND_BITS - 1 - np.arange(BAND_BITS, dtype=np.int64))
                bands = (bits.reshape(N_BANDS, BAND_BITS) * weights).sum(axis=1)
                out.append((r.image_id, *map(int, bands)))
            yield pd.DataFrame(out, columns=["image_id", "b0", "b1", "b2", "b3"])

    return meta.mapInPandas(
        run, "image_id string, b0 long, b1 long, b2 long, b3 long"
    )


def near_dup_pairs(
    bands: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded Hamming self-join: (image_id, b0..b3) -> (id_a, id_b, hamming)
    with hamming <= max_hamming and id_a < id_b.

    Plan: explode to 4 (band_idx, band_val) rows per image, equi-join on
    the band, distinct the candidate ID pairs, re-join the band values,
    filter on JVM-side bit_count(xor). For max_hamming <= 3 the result is
    exactly the brute-force pairs (see module docstring); above 3 it is
    standard LSH recall.

    ``max_bucket`` is the hot-bucket guard for corpus scale: a degenerate
    band value shared by millions of items (blank images)
    makes that bucket's self-join quadratic. Setting a cap drops buckets
    larger than it from CANDIDATE GENERATION only — members can still pair
    through their other 3 bands, so only pairs whose every <=max_hamming
    match runs through capped buckets are lost (the standard documented
    LSH-dedup tradeoff). None (default) keeps the exact contract."""
    eb = None
    for i in range(N_BANDS):
        part = bands.select(
            "image_id", F.lit(i).alias("bi"), F.col(f"b{i}").alias("bv")
        )
        eb = part if eb is None else eb.unionByName(part)
    if max_bucket is not None:
        sizes = eb.groupBy("bi", "bv").agg(F.count("*").alias("_n"))
        eb = (
            eb.join(sizes.filter(F.col("_n") <= max_bucket), ["bi", "bv"])
            .drop("_n")
        )
    cand = (
        eb.alias("l")
        .join(
            eb.alias("r"),
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.image_id") < F.col("r.image_id")),
        )
        .select(
            F.col("l.image_id").alias("id_a"), F.col("r.image_id").alias("id_b")
        )
        .distinct()  # ids only — band values re-joined after the exchange
    )
    a = bands.toDF("id_a", "a0", "a1", "a2", "a3")
    b = bands.toDF("id_b", "c0", "c1", "c2", "c3")
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(N_BANDS)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
