"""spark-submit entry point for the flagship assign pipeline.

    python tools/package.py    # builds dist/gtfs_osm_sync_spark.zip
    spark-submit --driver-memory 16g \
        --py-files dist/gtfs_osm_sync_spark.zip \
        jobs/run_flagship.py --n-images 1000000 --out /tmp/flagship_table \
        [--run-id r1] [--chunks 8]

(local mode: the driver IS the executor — size --driver-memory for the
payload; 1M images with PNG payloads ran in 63 s on local[32]/16 g.
Re-running with the same --run-id and --out resumes after the last
committed chunk.)

On a cluster, --master/--num-executors come from spark-submit; this
script only builds the session from the active context. The job is
chunked + checkpointed (SnapTable): re-running with the same --run-id
and --out resumes after the last committed chunk.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="r1")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--n-features", type=int, default=None)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("gtfs_osm_sync_spark_flagship")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from gtfs_osm_sync_spark.pipeline import run_flagship
    from gtfs_osm_sync_spark.sources.snaptable import SnapTable

    result = run_flagship(
        spark,
        n_images=args.n_images,
        table_root=args.out,
        run_id=args.run_id,
        n_chunks=args.chunks,
        n_features=args.n_features,
    )
    table = SnapTable(args.out)
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "chunks_run": result.chunks_run,
                "chunks_skipped": result.chunks_skipped,
                "rows_out": result.rows_out,
                "snapshots": len(table.snapshots()),
                "table_rows": table.read(spark).count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
