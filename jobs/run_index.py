"""spark-submit entry point for the ANN index lifecycle — build a stored
IVF (or IVF-PQ) index and optionally serve a query batch against it:

    python tools/package.py    # builds dist/gtfs_osm_sync_spark.zip
    spark-submit --py-files dist/gtfs_osm_sync_spark.zip \
        jobs/run_index.py build --vecs /data/embeddings.parquet \
        --index /tables/ivf [--n-lists 0] [--pq] [--train-frac 0.05]

    spark-submit --py-files dist/gtfs_osm_sync_spark.zip \
        jobs/run_index.py search --index /tables/ivf \
        --queries /data/queries.parquet --out /tmp/topk \
        [--k 10] [--nprobe 8]

build: sample k-means (n_lists = sqrt(N) by default — the documented
IVF sizing rule; ivf_assign_auto picks the literal fold or broadcast
join by the same rule), then persist either the full-precision corpus
(ivf_store) or PQ codes + stored norms (pq_store, 16-32x smaller scan)
hive-partitioned by list_id. Centroids and (for --pq) codebooks are
written next to the index — an index is self-describing, a search job
needs only --index.

search: probed lists prune the partitioned scan (In(list_id)
PartitionFilters); full-precision re-ranks with exact cosine, PQ scores
by ADC. One JSON telemetry line per run (the run_dedup convention).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    return (
        SparkSession.builder.appName("gtfs_osm_sync_spark_index")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )


def build(args) -> None:
    import math
    import os
    import shutil

    from gtfs_osm_sync_spark.operators.pq import pq_store, pq_train
    from gtfs_osm_sync_spark.operators.similarity import (
        ivf_store,
        kmeans_centroids,
    )

    # a re-run into an existing index would APPEND rows assigned against
    # the OLD centroids while overwriting _centroids with NEW ones —
    # duplicates plus silent recall collapse. Refuse, or rebuild from
    # scratch under --overwrite (an index rebuild is by definition a new
    # store; atomic cut-over between roots is the production pattern).
    if os.path.exists(os.path.join(args.index, "data")):
        if not args.overwrite:
            raise SystemExit(
                f"index {args.index} already exists — pass --overwrite to "
                "rebuild (appending against re-trained centroids would "
                "corrupt the assignment)"
            )
        shutil.rmtree(args.index, ignore_errors=True)

    spark = _spark()
    t0 = time.time()
    vecs = spark.read.parquet(args.vecs)
    n = vecs.count()
    n_lists = args.n_lists or max(int(math.sqrt(n)), 4)
    train = vecs.sample(fraction=min(args.train_frac, 1.0), seed=7)
    # the sample must comfortably cover the centroid count (an empty or
    # thin sample trains empty/degenerate lists with no error anywhere):
    # fall back to the full corpus when the expected draw is too small
    min_train = 10 * max(n_lists, args.pq_k if args.pq else 0)
    if n * min(args.train_frac, 1.0) < min_train:
        train = vecs
    cents = kmeans_centroids(train, n_lists=n_lists, iters=args.iters)
    cents.write.mode("overwrite").parquet(f"{args.index}/_centroids")
    if args.pq:
        books = pq_train(train, m=args.pq_m, k=args.pq_k, iters=args.iters)
        books.write.mode("overwrite").parquet(f"{args.index}/_codebooks")
        store = pq_store(vecs, cents, books, f"{args.index}/data")
    else:
        store = ivf_store(vecs, cents, f"{args.index}/data")
    print(
        json.dumps(
            {
                "job": "index_build",
                "n_vecs": n,
                "n_lists": n_lists,
                "pq": bool(args.pq),
                "snapshot_version": store.current_version(),
                "wall_sec": round(time.time() - t0, 1),
            }
        )
    )


def search(args) -> None:
    from gtfs_osm_sync_spark.operators.pq import load_codebooks, pq_topk_stored
    from gtfs_osm_sync_spark.operators.similarity import ivf_topk_stored
    from gtfs_osm_sync_spark.sources.snaptable import SnapTable

    spark = _spark()
    t0 = time.time()
    cents = spark.read.parquet(f"{args.index}/_centroids")
    store = SnapTable(f"{args.index}/data")
    q = spark.read.parquet(args.queries)
    # the index is self-describing by PATH, not by exception: a transient
    # read failure must fail the job, never silently reroute a PQ index
    # to the full-precision path (or vice versa)
    import os

    is_pq = os.path.isdir(f"{args.index}/_codebooks")
    exclude_self = not args.include_self
    if is_pq:
        books_df = spark.read.parquet(f"{args.index}/_codebooks")
        got = pq_topk_stored(
            spark, q, store, cents, load_codebooks(books_df),
            k=args.k, nprobe=args.nprobe, exclude_self=exclude_self,
        )
    else:
        got = ivf_topk_stored(
            spark, q, store, cents, k=args.k, nprobe=args.nprobe,
            exclude_self=exclude_self,
        )
    got.write.mode("overwrite").parquet(args.out)
    n_rows = spark.read.parquet(args.out).count()
    print(
        json.dumps(
            {
                "job": "index_search",
                "pq": is_pq,
                "k": args.k,
                "nprobe": args.nprobe,
                "result_rows": n_rows,
                "wall_sec": round(time.time() - t0, 1),
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--vecs", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--n-lists", type=int, default=0, help="0 = sqrt(N)")
    b.add_argument("--iters", type=int, default=3)
    b.add_argument("--train-frac", type=float, default=0.05)
    b.add_argument("--pq", action="store_true")
    b.add_argument("--pq-m", type=int, default=8)
    b.add_argument("--pq-k", type=int, default=16)
    b.add_argument("--overwrite", action="store_true")
    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--nprobe", type=int, default=8)
    s.add_argument(
        "--include-self", action="store_true",
        help="keep q_id == n_id pairs (query ids are a DIFFERENT "
        "namespace than corpus ids; the default exclusion is for "
        "queries drawn from the corpus itself)",
    )
    args = ap.parse_args()
    if args.cmd == "build":
        build(args)
    else:
        search(args)


if __name__ == "__main__":
    main()
