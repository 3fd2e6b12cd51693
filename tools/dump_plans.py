"""Dump .explain("formatted") for named driver queries and pipelines to
plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [name ...]
e.g.   python tools/dump_plans.py cover_join after assign_images compare_stops \
           q09_radius_join q10_knn q11_match_categories \
           q20_platform_pairing g02_vincenty_knn

A name is a driver query (driver_queries.QUERIES) or one of PIPELINES:
assign_images, compare_stops, redundant_node_modifies and tiles_for_bbox
(a bbox fetch from a written two-level pyramid), run on a small
synthetic world (2,000 images / stops), and sync_delta: the incremental sync's two delta joins
(streaming.sync.affected_stop_ids and prune_state_to_stop_rings) and its
partition-cell stamp (stamp_feed_cells) on local pandas input, written as
sync_delta_affected_<suffix>.txt, sync_delta_prune_<suffix>.txt and
sync_delta_stamp_<suffix>.txt. Queries read $SPARK_GRAFT_SF_DIR (default sf0.1) on a
small local session — plan SHAPE does not depend on input scale here
(broadcast sides are explicit hints, not size-estimated).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from gtfs_osm_sync_spark.session import get_spark
from gtfs_osm_sync_spark import driver_queries as dq
from gtfs_osm_sync_spark import synth

N_SYNTH = 2000


def _assign_images(spark, sf_dir):
    from gtfs_osm_sync_spark.pipeline import assign_images

    geo = synth.generate_geo_only(spark, N_SYNTH)
    return assign_images(geo, synth.generate_features(spark, N_SYNTH, N_SYNTH // 50))


def _compare(fn_name):
    def run(spark, sf_dir):
        from gtfs_osm_sync_spark.operators import compare

        stops, nodes = synth.generate_compare_world(spark, N_SYNTH, partitions=4)
        return getattr(compare, fn_name)(
            stops, nodes, [synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS
        )

    return run


def _tiles_for_bbox(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from gtfs_osm_sync_spark.operators.images import mosaic_pyramid, tiles_for_bbox, write_pyramid

    path = tempfile.mkdtemp(prefix="dump_plans_pyr_")
    atexit.register(shutil.rmtree, path, True)
    write_pyramid(mosaic_pyramid(synth.generate_images_geo(spark, N_SYNTH), levels=2), path)
    # a 0.2 deg box at the center of g16's: the parent's In list for g16's
    # own 0.8 deg box prints as a ~1 MB plan
    return tiles_for_bbox(spark, path, 9.9, -148.1, 10.1, -147.9, res=8)


def _sync_delta(spark, sf_dir):
    from gtfs_osm_sync_spark.streaming import sync as S

    stops = synth.gen_compare_stops_pdf(np.arange(N_SYNTH))[["gtfs_id", "lat", "lon"]]
    nodes = synth.gen_compare_nodes_pdf(np.arange(N_SYNTH))[["osm_id", "lat", "lon"]]
    stops, nodes = spark.createDataFrame(stops), spark.createDataFrame(nodes)
    changed = nodes.limit(50).select("lat", "lon")
    return {
        "sync_delta_affected": S.affected_stop_ids(stops, changed),
        "sync_delta_prune": S.prune_state_to_stop_rings(nodes, stops.limit(200)),
        "sync_delta_stamp": S.stamp_feed_cells(stops),
    }


PIPELINES = {
    "assign_images": _assign_images,
    "compare_stops": _compare("compare_stops"),
    "redundant_node_modifies": _compare("redundant_node_modifies"),
    "tiles_for_bbox": _tiles_for_bbox,
    "sync_delta": _sync_delta,
}


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [
        "q10_knn",
        "q09_radius_join",
        "q11_match_categories",
        "q01_pricing_summary",
        "q03_revenue_by_nation",
        "q08_variant_dedup",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(cpus=4, app_name="dump_plans")
    for name in names:
        out = (PIPELINES.get(name) or dq.QUERIES[name])(spark, sf_dir)
        for plan_name, df in (out if isinstance(out, dict) else {name: out}).items():
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{plan_name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
