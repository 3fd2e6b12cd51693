"""Incremental-sync delta-path scale evidence (VERDICT r3 item 5; r4
item 1 adds the FEED side).

Claim under test: a micro-batch of k node updates against an N-stop
world re-compares only O(k * ring) stops against an O(k * ring) pruned
node state — and with the round-5 layout, the per-batch I/O on BOTH
wide tables (feed and node state) is partition-pruned, so wall-time
grows with k, not with N.

Method (same hygiene as tools/bench_compare.py: staged tmpfs world,
fresh JVM per phase, taskset-pinned, best-of-3). Variants per k, each a
faithful component mirror of apply_update_batch's code path for that
layout (same scans, same counts):
  full       — batch compare_stops over all N stops (shuffle path), the
               cost the delta path avoids
  delta_r5   — ROUND-5 layout: feed stored partitionBy(cell_part), the
               stop scan partition-pruned to the changed nodes' coarse
               rings; n_feed passed (no per-batch feed count); known-id
               shrink over a cached feed_ids column; node state scan
               partition-pruned to the sub rings (compacted-base shape)
  delta_r4   — ROUND-4 formulation: same node-side pruning, but the
               feed is a flat parquet — every batch pays a full-feed
               scan for the affected-stop join, a second for sub.count +
               gtfs.count, and a third (single-column) for the known-id
               shrink
  delta_noprune — ablation: subset compare reading the FULL node state
               (the scan stays O(|node layer|)) off the r4 feed

Writes BENCH/delta_sync.json (rendered into BENCH/BASELINE.md by
tools/bench_scaling.regen_md) and prints one JSON line.

Usage: python tools/bench_delta_sync.py [n_stops] [cpus]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_STAGER = r"""
import math, sys
sys.path.insert(0, {repo!r})
from gtfs_osm_sync_spark.session import get_spark
from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.streaming.sync import stamp_feed_cells
n = {n_stops}
scale = math.sqrt(max(n / 100_000, 1.0))
spark = get_spark(shuffle_partitions=32,
                  extra_conf={{"spark.local.dir": "/dev/shm/bds_stage"}})
stops, nodes = synth.generate_compare_world(spark, n, spread_scale=scale,
                                            partitions=32)
stamped = stamp_feed_cells(stops)
# round-5 feed layout: hive-partitioned by the coarse cell, COMPACTED —
# repartition("cell_part") first so each hive partition is ONE file
# instead of one per input split per cell (32 x ~217 ~= 7k tiny
# parquets otherwise). Standard hive-layout writer discipline, as the
# sync docs prescribe; note the spread-k100 ~1.6x penalty vs the flat
# feed persists compacted (it is scan granularity under degenerate
# pruning, not file count).
(stamped.repartition("cell_part").write.mode("overwrite")
 .partitionBy("cell_part").parquet({stage_dir!r} + "/stops_part"))
# round-4 feed layout: flat parquet
stamped.drop("cell_part").write.mode("overwrite").parquet(
    {stage_dir!r} + "/stops_flat")
nodes.write.mode("overwrite").parquet({stage_dir!r} + "/nodes")
print("STAGED")
"""

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from gtfs_osm_sync_spark.session import get_spark
from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.operators.compare import compare_stops
from gtfs_osm_sync_spark.streaming.sync import (
    _partition_pruned, affected_stop_ids, coarse_partition_cells,
    prune_state_to_stop_rings, stamp_feed_cells)
from gtfs_osm_sync_spark.functions.mappings import zero_pad_id
import pyspark.sql.functions as F

cpus = {cpus}
spark = get_spark(cpus=cpus, shuffle_partitions=cpus * 4,
                  app_name=f"bench_delta_{{cpus}}",
                  extra_conf={{"spark.local.dir": f"/dev/shm/bds_{{cpus}}",
                              "spark.sql.join.preferSortMergeJoin": "false"}})
stage = {stage_dir!r}

stops_part = spark.read.parquet(stage + "/stops_part")
stops_flat = spark.read.parquet(stage + "/stops_flat")
nodes = spark.read.parquet(stage + "/nodes")
n_nodes = nodes.count()
n_feed = stops_part.count()  # static per feed: apply_update_batch's n_feed
# cached id column for the known-id shrink (static per feed)
feed_ids = stops_part.select("gtfs_id").cache()
feed_ids.count()

def consume(df):
    return df.agg(F.sum(F.hash("gtfs_id", "category", "osm_id")),
                  F.count("*")).collect()[0]

def timed(fn, trials=3):
    fn()  # warm (JIT/codegen/Arrow)
    best = float("inf")
    for _ in range(trials):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 2)

out = {{"cpus": cpus, "n_nodes": n_nodes}}

if {run_full}:
    def full():
        consume(compare_stops(stops_flat, nodes,
                              agency_names=[synth.COMPARE_AGENCY],
                              id_digits=synth._CMP_DIGITS,
                              broadcast_stops=False))
    out["full_sec"] = timed(full, trials=2)
else:
    for label, k, clustered in {cases}:
        idnum = F.substring("osm_id", 2, 12).cast("long")
        if clustered:
            # CLUSTERED batch — the realistic OSM edit pattern (one
            # contributor, one city): the k moved nodes all live in the
            # lowest-id coarse cell holding >= k nodes, so their rings
            # cover O(1) partitions instead of O(k)
            withcp = stamp_feed_cells(nodes)
            cell = (withcp.groupBy("cell_part").count()
                    .filter(F.col("count") >= k).orderBy("cell_part")
                    .limit(1).collect()[0][0])
            moved = (withcp.filter(F.col("cell_part") == cell).drop("cell_part")
                     .orderBy("osm_id").limit(k)
                     .withColumn("lat", F.col("lat") + F.lit(0.0009)))
        else:
            # SPREAD batch: every (n_nodes//k)-th by numeric id — ids
            # hash to positions, so this is a uniform worldwide scatter
            # (adversarial for partition pruning: k rings cover ~every
            # coarse cell once k approaches the partition count)
            step = max(n_nodes // k, 1)
            moved = (nodes.filter(idnum % step == 0)
                     .withColumn("lat", F.col("lat") + F.lit(0.0009)))
        moved = moved.localCheckpoint()
        kept = nodes.join(moved.select("osm_id"), "osm_id", "left_anti")
        # the node LOG LAYOUT apply_update_batch prescribes: cell_part
        # stamped at append, parquet partitioned by the coarse cell and
        # COMPACTED to one file per partition — the compacted-base shape
        # read_split hands back (tail empty here; a real tail is
        # O(batch) and adds one small union)
        state_path = stage + f"/state_{{label}}"
        (stamp_feed_cells(kept.unionByName(moved))
         .repartition("cell_part")
         .write.mode("overwrite").partitionBy("cell_part").parquet(state_path))
        out.setdefault("n_state_partitions", spark.read.parquet(state_path)
                       .select("cell_part").distinct().count())
        changed0 = (nodes.join(moved.select("osm_id"), "osm_id", "left_semi")
                    .select("lat", "lon")
                    .unionByName(moved.select("lat", "lon"))
                    .localCheckpoint())
        k_actual = moved.count()

        def pruned_state(sub, path, cells):
            st = _partition_pruned(spark.read.parquet(path), "cell_part", cells)
            return prune_state_to_stop_rings(st, sub)

        def shrink_known(ids_base, st):
            raw = F.col("tags").getItem("gtfs_id")
            node_ids = (st.filter(raw.isNotNull() & (raw != "missing"))
                        .select(zero_pad_id(raw, synth._CMP_DIGITS)
                                .alias("gtfs_id")).distinct())
            return ids_base.select("gtfs_id").join(
                F.broadcast(node_ids), "gtfs_id", "left_semi")

        def run_compare(sub, st, known):
            return consume(compare_stops(
                sub, st, agency_names=[synth.COMPARE_AGENCY],
                id_digits=synth._CMP_DIGITS, known_ids=known))

        # each variant coalesces + localCheckpoints sub and the state
        # exactly where apply_update_batch does (round-5 lineage break):
        # the O(k*ring) intermediates materialize ONCE, in O(cpus)
        # partitions, instead of re-executing their pruned-scan +
        # join lineage from every compare branch across O(ring-cell)
        # near-empty partitions — without the break the k=100 delta
        # measured 183 s vs a 70 s full re-compare (the 2026-08-17
        # 20:54 inversion), and without the coalesce the 87-partition
        # sub still cost 22 s of per-stage task+worker overhead
        def delta_r5(changed=changed0, path=state_path):
            # apply_update_batch with a cell_part feed + n_feed + feed_ids:
            # the feed scan goes through the SAME partition filter the
            # engine uses (_partition_pruned) — clustered batches read a
            # few partitions, worldwide scatters nearly all of them;
            # one covering (twice the reach) for both scans
            cells = coarse_partition_cells(changed)
            feed = _partition_pruned(stops_part, "cell_part", cells)
            touched = affected_stop_ids(feed, changed)
            sub = feed.join(F.broadcast(touched), "gtfs_id",
                            "left_semi").coalesce(cpus).localCheckpoint()
            n_sub = sub.count()          # fallback numerator (vs n_feed)
            st = pruned_state(sub, path, cells).coalesce(cpus).localCheckpoint()
            return run_compare(sub, st, shrink_known(feed_ids, st))

        def delta_r4(changed=changed0, path=state_path):
            # round-4 formulation: FLAT feed — the affected-stop join,
            # the counts, and the known shrink each scan O(feed)
            touched = affected_stop_ids(stops_flat, changed)
            sub = stops_flat.join(F.broadcast(touched), "gtfs_id",
                                  "left_semi").coalesce(cpus).localCheckpoint()
            n_sub, nf = sub.count(), stops_flat.count()
            cells = coarse_partition_cells(changed)
            st = pruned_state(sub, path, cells).coalesce(cpus).localCheckpoint()
            return run_compare(sub, st, shrink_known(stops_flat, st))

        def delta_noprune(changed=changed0, path=state_path):
            touched = affected_stop_ids(stops_flat, changed)
            sub = stops_flat.join(F.broadcast(touched), "gtfs_id",
                                  "left_semi").coalesce(cpus).localCheckpoint()
            # ablation: read and materialize the FULL merged state (no
            # node-side prune)
            st = spark.read.parquet(path).localCheckpoint()
            return run_compare(sub, st, stops_flat)

        row = delta_r5()
        # trials=2 per variant: 3 variants x 3 cases already totals ~27
        # heavy compare runs; trials=3 blew the child's budget
        out[label] = {{
            "k_nodes": k_actual,
            "recompared_stops": row[1],
            # ring coverage: coarse cells the batch touches, vs the
            # n_state_partitions the layout has — the pruning ratio
            "n_ring_cells": len(coarse_partition_cells(changed0)),
            "delta_r5_sec": timed(delta_r5, trials=2),
            "delta_r4_sec": timed(delta_r4, trials=2),
            "delta_noprune_sec": timed(delta_noprune, trials=2),
        }}
print("RESULT " + json.dumps(out))
"""


def _run(code: str, cpus: int | None, timeout: int = 2400) -> str:
    env = dict(os.environ)
    env.update(
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        NUMEXPR_NUM_THREADS="1",
    )
    cmd = [sys.executable, "-c", code]
    if cpus is not None and os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=timeout, cwd=REPO, env=env
    )
    return out.stdout + ("" if out.returncode == 0 else "\nSTDERR:\n" + out.stderr[-3000:])


def _result(out: str) -> dict:
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT:\n{out[-3000:]}")


def main() -> None:
    n_stops = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cases = [("k100", 100, False), ("k100_clustered", 100, True),
             ("k10000", 10_000, False)]
    stage = "/dev/shm/bench_delta" if os.path.isdir("/dev/shm") else "/tmp/bench_delta"
    t0 = time.time()
    out = _run(_STAGER.format(repo=REPO, n_stops=n_stops, stage_dir=stage), None)
    if "STAGED" not in out:
        raise RuntimeError(f"staging failed:\n{out[-3000:]}")
    try:
        full = _result(_run(_CHILD.format(
            repo=REPO, cpus=cpus, stage_dir=stage, run_full="True", cases=cases), cpus))
        delta = _result(_run(_CHILD.format(
            repo=REPO, cpus=cpus, stage_dir=stage, run_full="False", cases=cases), cpus,
            timeout=5400))
    finally:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    summary = {
        "metric": "incremental-sync delta vs full re-compare (r5 feed layout vs r4 flat feed)",
        "n_stops": n_stops,
        "cpus": cpus,
        "full_sec": full["full_sec"],
        "n_state_partitions": delta.get("n_state_partitions"),
        **{k: v for k, v in delta.items() if k.startswith("k")},
        "wall_sec": round(time.time() - t0, 1),
    }
    # recorded as a standalone artifact; BENCH/BASELINE.md renders it on
    # regen (tools/bench_scaling.regen_md) so the evidence survives
    # ledger-driven regeneration
    with open(os.path.join(REPO, "BENCH", "delta_sync.json"), "w") as f:
        json.dump(summary, f, indent=2)
    import bench_scaling  # noqa: PLC0415 — same tools/ dir

    bench_scaling.regen_md()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
