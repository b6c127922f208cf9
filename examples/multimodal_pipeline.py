#!/usr/bin/env python
"""End-to-end multimodal pipeline on genuine container bytes: raster tiles
transcoded to real PNG, a synthetic PCM16 corpus wrapped in real WAV, and a
pngseq video track frame-sampled — all decoded back through the pluggable
codec registry, feature-extracted, and joined into one media-level report.

Every stage is a map-only Arrow pass (see PLANS.md §14): container bytes
never cross the network; they are encoded and decoded inside the task that
owns the input split. This is the pipeline a user would run to prepare
image/audio/video training data at 100 TB.

Run:  python examples/multimodal_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gridfia_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(cores=8, app_name="multimodal-pipeline")

    from gridfia_spark import queries_products as qp

    # --- images: tile stats through real PNG bytes --------------------
    png_stats = qp.png_tile_stats(spark, sf_dir)
    print("PNG tile stats (genuine PNG containers):")
    png_stats.orderBy("image_id").show(5, truncate=False)

    # --- images (lossy): PSNR>=40dB contract through real JPEG --------
    jpeg_stats = qp.jpeg_tile_stats(spark, sf_dir)
    n_tiles = jpeg_stats.count()
    n_ok = jpeg_stats.filter("psnr_ge_40 = 1").count()
    print(f"JPEG round-trip (quality 95): {n_ok}/{n_tiles} tiles >= 40 dB")

    # --- audio: waveform stats through real WAV bytes -----------------
    wav_stats = qp.wav_audio_stats(spark, sf_dir)
    print("WAV audio stats (genuine RIFF/PCM16 containers):")
    wav_stats.orderBy("doc_id").show(5)

    # --- video: every-2nd-frame sampling from a pngseq track ----------
    frames = qp.video_frame_stats(spark, sf_dir)
    print("Sampled video frame stats (pngseq, PNG intra frames):")
    frames.orderBy("doc_id", "frame_idx").show(5)

    # --- one media-level report over all three modalities -------------
    report = (
        png_stats.select(F.lit("image").alias("modality"), F.col("npx").alias("units"))
        .unionByName(
            wav_stats.select(
                F.lit("audio").alias("modality"), F.col("n_samples").alias("units")
            )
        )
        .unionByName(
            frames.select(F.lit("video").alias("modality"), F.col("npx").alias("units"))
        )
        .groupBy("modality")
        .agg(F.count("*").alias("n_media"), F.sum("units").alias("total_units"))
        .orderBy("modality")
    )
    print("Corpus report:")
    report.show()
    spark.stop()


if __name__ == "__main__":
    main()
