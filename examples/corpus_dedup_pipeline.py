#!/usr/bin/env python
"""End-to-end training-corpus curation pipeline over the documents +
embeddings tables: quality gates -> exact dedup -> MinHash-LSH near-dup
components -> canonical selection -> embedding-level near-dup check ->
kept-corpus report. The large-scale data-pipeline surface the engine adds
beyond the reference's raster suite.

Run:  python examples/corpus_dedup_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gridfia_spark.operators import similarity, text
from gridfia_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=8, app_name="corpus-dedup")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # 1. quality gates: token count + punctuation ratio (JVM-side exprs)
    stats = text.token_stats(docs)
    quality = docs.join(
        stats.filter((F.col("n_tokens") >= 20) & (F.col("punct_ratio") < 0.1))
        .select("doc_id"),
        "doc_id",
    )
    print(f"quality-pass docs: {quality.count()} / {docs.count()}")

    # 2. near-dup pair graph (MinHash-LSH candidates, exact-Jaccard verify)
    pairs = text.minhash_lsh_pairs(quality, k=5, n_hashes=32, bands=16, threshold=0.5)

    # 3. connected components -> one canonical doc per dedup group
    comps = text.near_dup_components(pairs, quality)
    kept = comps.filter(F.col("is_canonical") == 1)
    print(f"canonical docs after near-dup grouping: {kept.count()}")

    # 4. embedding-level near dups among kept docs (LSH + exact cosine)
    edup = similarity.embedding_cosine_dedup(emb, threshold=0.95)
    print(f"embedding near-dup pairs (cos>=0.95): {edup.count()}")

    # 5. final kept-corpus report by source
    report = (
        quality.join(kept.select("doc_id"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )
    report.show()
    spark.stop()


if __name__ == "__main__":
    main()
