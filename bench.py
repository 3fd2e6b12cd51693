"""Bench harness: runs the headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line with per-query seconds.

The headline metric mirrors BASELINE.json: spatial-join throughput
(rows assigned per second through the flagship kNN pipeline), plus
wall-clock for every registered driver query. Scaling-efficiency evidence
(local[8] vs local[32]) is produced by tools/bench_scaling.py, which
reuses this module.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# queries benched every round; flagship first
HEADLINE = [
    "q10_knn",
    "q09_radius_join",
    "q11_match_categories",
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q08_variant_dedup",
]

# ---- host-drift reference probe -------------------------------------
# The sandbox host drifts several percent per hour (documented phantom
# regressions: BENCH/BASELINE.md local-stability section), so raw
# round-over-round numbers are not comparable. A fixed single-task JVM
# workload (range + xxhash64 fold, no I/O, 1 partition so the busy-core
# cliff and the cpus level cannot touch it) is timed best-of-3 at bench
# start AND end; drift_index = min(start, end) / NOMINAL.
# queries_normalized divides each raw timing by drift_index — compare
# THOSE across rounds.
_PROBE_ROWS = 400_000_000
# calibrated on this VM in a clean window (n=10 runs, min 1.199 s,
# 2026-08-17); re-calibrate: python -c "import bench; bench.calibrate()".
# The host shows HIGH-FREQUENCY speed noise in drifty windows (single
# samples spread 1.19-1.91 s within one minute, measured r4) — the probe
# takes best-of-3 and the index uses min(start, end), the same min
# statistic the per-query timings use. Absolute calibration matters less
# than procedure consistency: every round runs the identical probe, so
# drift_index is comparable round-over-round.
_PROBE_NOMINAL_SEC = 1.199


def _drift_probe(spark) -> float:
    from pyspark.sql import functions as F

    t = []
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, _PROBE_ROWS, 1, 1)
            .agg(F.bit_xor(F.xxhash64("id")))
            .collect()
        )
        t.append(time.time() - t0)
    return min(t)


def calibrate(n: int = 5) -> None:
    """Print candidate _PROBE_NOMINAL_SEC values (run in a clean window)."""
    from gtfs_osm_sync_spark.session import get_spark

    spark = get_spark(cpus=8, app_name="calibrate")
    _drift_probe(spark)  # JIT warm
    vals = [_drift_probe(spark) for _ in range(n)]
    print("probe samples:", [round(v, 3) for v in vals], "min:", round(min(vals), 3))


def run_bench(sf_dir: str, cpus: int, queries: list[str] | None = None) -> dict:
    from gtfs_osm_sync_spark.session import get_spark
    from gtfs_osm_sync_spark import driver_queries as dq

    spark = get_spark(cpus=cpus, app_name=f"bench_local{cpus}")
    names = [q for q in (queries or HEADLINE) if q in dq.QUERIES]
    # warm the JVM/Arrow path once (excluded from timings)
    dq.QUERIES[names[0]](spark, sf_dir).count()
    probe_start = _drift_probe(spark)

    # best-of-2 per query: single-sample timings at the 1-2 s magnitude
    # are dominated by host drift (a +33% phantom regression was chased
    # and disproven with n=3 medians — BENCH/BASELINE.md local-bench
    # section); the min of two runs is the stable statistic of a JIT-warm
    # plan and keeps the whole bench under a minute
    per_query: dict[str, float] = {}
    flagship_rows = 0
    t_all = time.time()
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            n = dq.QUERIES[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        per_query[name] = round(best, 3)
        if name == "q10_knn":
            flagship_rows = n
    # headline value = sum of per-query bests (comparable round-over-round;
    # raw wall time would double-count the second trial)
    del t_all
    total = round(sum(per_query.values()), 3)

    # flagship throughput: left-side rows pushed through the kNN spatial join
    left_rows = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    knn_sec = per_query.get("q10_knn", float("nan"))

    # BASELINE.json headline: the images pipeline (synthesize -> geotag ->
    # cover-grid radius join -> kNN + 4-way category) in images/sec at an
    # sf-scaled row count
    from pyspark.sql import functions as F
    from gtfs_osm_sync_spark import synth
    from gtfs_osm_sync_spark.pipeline import assign_images

    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = 0.1
    n_img = max(int(1_000_000 * sf), 20_000)
    geo = synth.generate_geo_only(spark, n_img, partitions=cpus * 4)
    feats = synth.generate_features(spark, n_img, max(n_img // 50, 8))

    def run_images() -> float:
        t0 = time.time()
        out = assign_images(geo, feats)
        out.agg(
            F.sum(F.hash("image_id", "category", "nearest_feature_id", "hex_cell"))
        ).collect()
        return time.time() - t0

    run_images()  # warm the plan (JIT/codegen)
    t_img = min(run_images(), run_images())

    # the reference's core task: stop-vs-node compare (categorize + tag
    # merge) on the synthetic compare world at an sf-scaled size
    from gtfs_osm_sync_spark.operators.compare import compare_stops

    n_stops = max(int(2_000_000 * sf), 10_000)
    stops, nodes = synth.generate_compare_world(spark, n_stops, partitions=cpus * 2)
    stops = stops.localCheckpoint()
    nodes = nodes.localCheckpoint()

    def run_compare() -> float:
        t0 = time.time()
        cmp = compare_stops(
            stops, nodes, agency_names=[synth.COMPARE_AGENCY],
            id_digits=synth._CMP_DIGITS, broadcast_stops=n_stops <= 100_000,
        )
        cmp.agg(F.sum(F.hash("gtfs_id", "category", "osm_id"))).collect()
        return time.time() - t0

    run_compare()
    t_cmp = min(run_compare(), run_compare())

    probe_end = _drift_probe(spark)
    drift_index = round(min(probe_start, probe_end) / _PROBE_NOMINAL_SEC, 4)

    return {
        "metric": "headline query wall-clock (flagship kNN spatial join first)",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "drift": {
            "probe_sec_start": round(probe_start, 3),
            "probe_sec_end": round(probe_end, 3),
            "nominal_sec": _PROBE_NOMINAL_SEC,
            "drift_index": drift_index,
        },
        "value_normalized": round(total / drift_index, 3),
        "queries_normalized": {
            q: round(v / drift_index, 3) for q, v in per_query.items()
        },
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        "flagship": {
            "name": "q10_knn",
            "left_rows": left_rows,
            "result_rows": flagship_rows,
            "rows_per_sec": round(left_rows / knn_sec, 1) if knn_sec else None,
        },
        "flagship_images": {
            "pipeline": "synth+geotag+cover-grid radius join+kNN+category",
            "n_images": n_img,
            "wall_sec": round(t_img, 3),
            "images_per_sec": round(n_img / t_img, 1),
        },
        "compare_pipeline": {
            "pipeline": "stop-vs-node categorize+merge (reference core task)",
            "n_stops": n_stops,
            "wall_sec": round(t_cmp, 3),
            "stops_per_sec": round(n_stops / t_cmp, 1),
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_bench(sf_dir, cpus)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
