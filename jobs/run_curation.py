"""spark-submit entry point for the at-scale image-curation pipeline —
the g15 composition run as an ops job:

    ONE decode pass (luma stats + real 32x32-DCT phash64)
      -> quality gates (brightness window, contrast, caption tokens)
      -> pigeonhole-banded Hamming<=max_hamming pairing (computed hash)
      -> connected components -> canonical survivor (+n_dups)
      -> xxhash64 shard assign -> curated table, partitioned by shard

    python tools/package.py    # builds dist/gtfs_osm_sync_spark.zip
    spark-submit --py-files dist/gtfs_osm_sync_spark.zip \
        jobs/run_curation.py --images /data/images.parquet --out /tmp/curated \
        [--n-shards 256] [--bright-lo 112] [--bright-hi 143] \
        [--min-contrast 8] [--max-hamming 3] [--features /data/feats.parquet]

Telemetry surfaces every gate's cut (no silent caps): how many rows the
quality gates removed vs how many the dedup folded away — a gate eating
40% of a crawl reads very differently from one eating 0.4%. At cluster
scale pass --features (a stored image_features table) so the decode
pass is its own materialized job and this one is pure joins.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True,
                    help="images parquet (image_id, bytes, fmt, caption, ...)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--features", default=None,
                    help="optional precomputed image_features parquet")
    ap.add_argument("--n-shards", type=int, default=256)
    ap.add_argument("--bright-lo", type=float, default=112.0)
    ap.add_argument("--bright-hi", type=float, default=143.0)
    ap.add_argument("--min-contrast", type=float, default=8.0)
    ap.add_argument("--min-caption-tokens", type=int, default=3)
    ap.add_argument("--max-hamming", type=int, default=3)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("gtfs_osm_sync_spark_curation")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    from gtfs_osm_sync_spark.operators.images import curate_images, image_features

    images = spark.read.parquet(args.images)
    feats = (
        spark.read.parquet(args.features)
        if args.features
        else image_features(images).persist()
    )
    curated = curate_images(
        images,
        n_shards=args.n_shards,
        bright_lo=args.bright_lo,
        bright_hi=args.bright_hi,
        min_contrast=args.min_contrast,
        min_caption_tokens=args.min_caption_tokens,
        max_hamming=args.max_hamming,
        features=feats,
    )
    curated.write.mode("overwrite").partitionBy("shard").parquet(args.out)

    out = spark.read.parquet(args.out)
    n_in = feats.count()  # rows entering the gates (== images)
    n_out = out.count()
    n_folded = out.agg({"n_dups": "sum"}).collect()[0][0] or 0
    n_gated = n_in - n_out - n_folded
    print(
        json.dumps(
            {
                "n_images": n_in,
                "n_curated": n_out,
                "n_quality_gated": n_gated,
                "n_dedup_folded": int(n_folded),
                "n_shards": args.n_shards,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
