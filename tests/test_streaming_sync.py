"""Incremental stop↔node sync: delta re-compare over a stream of node
updates must equal a from-scratch batch compare of the final state."""

from __future__ import annotations

import re

import numpy as np
import pyspark.sql.functions as F

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.functions import cells
from gtfs_osm_sync_spark.functions.geo import (
    EARTH_RADIUS_M,
    VIN_OVER_HAV_MIN,
    haversine_m_np,
    vincenty_m_np,
)
from gtfs_osm_sync_spark.operators import compare as C
from gtfs_osm_sync_spark.sources.snaptable import SnapTable
from gtfs_osm_sync_spark.streaming import sync as S

AG = synth.COMPARE_AGENCY
UPDATE_SCHEMA = synth.COMPARE_NODES_SCHEMA + ", deleted boolean"


def _stops(spark, rows):
    return spark.createDataFrame(
        [
            (g, lat, lon, str(lat), str(lon), nm, nm, AG, g.lstrip("0") or "0")
            for g, lat, lon, nm in rows
        ],
        synth.COMPARE_STOPS_SCHEMA,
    )


def _updates(spark, rows):
    # (osm_id, lat, lon, tags, elem_idx, deleted)
    return spark.createDataFrame(
        [
            (o, "2", "u", "t", lat, lon, tags, 0, idx, deleted)
            for o, lat, lon, tags, idx, deleted in rows
        ],
        UPDATE_SCHEMA,
    )


def _world(spark):
    """5 stops; update batches add / move / retag / delete nodes around
    them so every category transition direction is exercised."""
    stops = _stops(
        spark,
        [
            ("0000001", 10.0, 20.0, "S1"),   # gains an id match in b1
            ("0000002", 30.0, 40.0, "S2"),   # id match in b0; node DELETED in b2
            ("0000003", 50.0, 60.0, "S3"),   # clean forever (never touched)
            ("0000004", 70.0, 80.0, "S4"),   # foreign neighbor appears in b1 -> conflict
            ("0000005", 11.0, 21.0, "S5"),   # b0 match MOVES out of range in b2
        ],
    )
    b0 = _updates(
        spark,
        [
            ("n2", 30.0005, 40.0, {"gtfs_id": "2", "operator": AG, "name": "Old2"}, 1, False),
            ("n5", 11.0005, 21.0, {"gtfs_id": "5", "operator": AG}, 2, False),
            ("nFar", 0.0, 0.0, {"gtfs_id": "9", "operator": AG}, 3, False),
        ],
    )
    b1 = _updates(
        spark,
        [
            ("n1", 10.0008, 20.0, {"gtfs_id": "1", "operator": AG, "name": "One"}, 1, False),
            ("nx4", 70.0008, 80.0, {"operator": AG, "name": "mystery"}, 2, False),
        ],
    )
    b2 = _updates(
        spark,
        [
            ("n2", 30.0005, 40.0, {"gtfs_id": "2", "operator": AG}, 1, True),  # delete
            ("n5", 12.5, 21.0, {"gtfs_id": "5", "operator": AG}, 2, False),    # move away
        ],
    )
    return stops, [b0, b1, b2]


_CMP_COLS = ["gtfs_id", "category", "osm_id", "dist_m", "merged_tags"]


def _sorted_rows(df):
    return sorted(
        (r["gtfs_id"], r["category"], r["osm_id"],
         None if r["dist_m"] is None else round(r["dist_m"], 6),
         None if r["merged_tags"] is None else tuple(sorted(r["merged_tags"].items())))
        for r in df.select(*_CMP_COLS).collect()
    )


def test_incremental_equals_full_batch(spark, tmp_path):
    # full_recompare_frac=None forces the DELTA machinery (affected-stop
    # subset + cell prune + id shrink) — at this 5-stop scale the default
    # 10% fallback would short-circuit every batch to a full compare and
    # silently un-test the delta path
    stops, batches = _world(spark)
    nlog = SnapTable(str(tmp_path / "nodes"))
    rlog = SnapTable(str(tmp_path / "results"))
    for bid, b in enumerate(batches):
        S.apply_update_batch(
            spark, b, nlog, rlog, stops, [AG], bid,
            full_recompare_frac=None, id_digits=synth._CMP_DIGITS,
        )
        # invariant after EVERY batch, not just the last one
        merged = S.current_results(rlog, spark)
        full = C.compare_stops(
            stops, S.current_nodes(nlog.read(spark)), [AG], id_digits=synth._CMP_DIGITS
        )
        assert _sorted_rows(merged) == _sorted_rows(full), f"diverged after batch {bid}"

    # the final state must show every planned transition
    cats = {r["gtfs_id"]: (r["category"], r["osm_id"])
            for r in S.current_results(rlog, spark).collect()}
    assert cats["0000001"] == ("MODIFY", "n1")           # appeared in b1
    assert cats["0000002"][0] == "UPLOAD_NO_CONFLICT"    # match deleted in b2
    assert cats["0000003"][0] == "UPLOAD_NO_CONFLICT"    # never touched
    assert cats["0000004"][0] == "UPLOAD_CONFLICT"       # foreign neighbor b1
    assert cats["0000005"][0] == "UPLOAD_NO_CONFLICT"    # match moved away b2


def test_wide_batch_falls_back_to_full_compare(spark, tmp_path):
    """With the default full_recompare_frac, a batch touching more than
    10% of the feed re-compares EVERY stop (the delta machinery has no
    selectivity left — measured at 4M stops, BENCH/delta_sync.json) and
    the merged results still equal the batch compare."""
    stops, batches = _world(spark)
    nlog = SnapTable(str(tmp_path / "nodes_fb"))
    rlog = SnapTable(str(tmp_path / "results_fb"))
    ns = []
    for bid, b in enumerate(batches):
        ns.append(S.apply_update_batch(
            spark, b, nlog, rlog, stops, [AG], bid, id_digits=synth._CMP_DIGITS
        ))
    n_stops = stops.count()
    # batches 1/2 touch 2-3 of 5 stops (> 10%) -> full re-compare of all
    assert ns[1] == n_stops and ns[2] == n_stops
    merged = S.current_results(rlog, spark)
    full = C.compare_stops(
        stops, S.current_nodes(nlog.read(spark)), [AG], id_digits=synth._CMP_DIGITS
    )
    assert _sorted_rows(merged) == _sorted_rows(full)


def test_replayed_batch_is_noop(spark, tmp_path):
    stops, batches = _world(spark)
    nlog = SnapTable(str(tmp_path / "nodes"))
    rlog = SnapTable(str(tmp_path / "results"))
    S.apply_update_batch(spark, batches[0], nlog, rlog, stops, [AG], 0,
                         id_digits=synth._CMP_DIGITS)
    v_n, v_r = nlog.current_version(), rlog.current_version()
    n = S.apply_update_batch(spark, batches[0], nlog, rlog, stops, [AG], 0,
                             id_digits=synth._CMP_DIGITS)
    assert n == 0
    assert nlog.current_version() == v_n and rlog.current_version() == v_r


def test_stream_wrapper_and_restart(spark, tmp_path):
    stops, batches = _world(spark)
    src = tmp_path / "drops"
    src.mkdir()
    from pyspark.sql import types as T

    schema = spark.createDataFrame([], UPDATE_SCHEMA).schema
    # drop the batches as separate files BEFORE starting: availableNow
    # drains them (micro-batch boundaries may merge files; equivalence
    # holds regardless because the delta set is a union)
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}.parquet"))
    # file-source needs a flat dir of files; point at the dir of dirs
    paths = str(src / "*")

    S.stream_node_sync(
        spark, paths, schema,
        str(tmp_path / "nodes"), str(tmp_path / "results"),
        stops, [AG], checkpoint_dir=str(tmp_path / "ckpt"),
        id_digits=synth._CMP_DIGITS,
    )
    nlog, rlog = SnapTable(str(tmp_path / "nodes")), SnapTable(str(tmp_path / "results"))
    merged = S.current_results(rlog, spark)
    full = C.compare_stops(
        stops, S.current_nodes(nlog.read(spark)), [AG], id_digits=synth._CMP_DIGITS
    )
    assert _sorted_rows(merged) == _sorted_rows(full)

    # restart with the same checkpoint: no new data -> no new commits
    v_n, v_r = nlog.current_version(), rlog.current_version()
    S.stream_node_sync(
        spark, paths, schema,
        str(tmp_path / "nodes"), str(tmp_path / "results"),
        stops, [AG], checkpoint_dir=str(tmp_path / "ckpt"),
        id_digits=synth._CMP_DIGITS,
    )
    assert nlog.current_version() == v_n and rlog.current_version() == v_r


def _only_partition_filtered(df, part="cell_part"):
    """The executed plan filters `part` in the scan's PartitionFilters
    and in no Filter node: the filter costs once per partition
    directory, never per row."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and part in scan[0].split("PartitionFilters")[1].split("]")[0]
    filters = [l for l in plan.splitlines() if re.match(r"[\s+\-:*()\d]*Filter ", l)]
    assert not [l for l in filters if part in l], plan


def test_coarse_partition_filter_prunes_scan(spark, tmp_path):
    """The node-log layout apply_update_batch prescribes (parquet
    partitioned by the COARSE_RES cell) must turn the delta's coarse-cell
    filter into scan-level PartitionFilters — partitions outside the
    affected rings are never read (the 100 TB contract; wall-time
    evidence in BENCH/delta_sync.json). A filter naming every partition
    is also only a PartitionFilter, with no row-level Filter node, on a
    plain partitioned scan and on a compacted SnapTable base alike."""
    path = str(tmp_path / "pstate")
    df = spark.range(100).select(
        F.col("id").alias("osm_id"),
        (F.col("id") % 7).alias("cell_part"),
        F.rand(1).alias("lat"),
    )
    df.write.mode("overwrite").partitionBy("cell_part").parquet(path)
    for keep in ([1, 3], list(range(7))):
        rd = spark.read.parquet(path).filter(F.col("cell_part").isin(keep))
        _only_partition_filtered(rd)
        assert rd.count() == len([i for i in range(100) if i % 7 in keep])
    log = SnapTable(str(tmp_path / "plog"), partition_by="cell_part")
    log.append(df.withColumn("update_seq", F.lit(0)))
    log.compact(spark)
    base, tail = log.read_split(spark)
    assert base is not None and tail is None
    rd = base.filter(F.col("cell_part").isin(list(range(7))))
    _only_partition_filtered(rd)
    assert rd.count() == 100


def _stamped_feed(spark, tmp_path, stops, name="feed_part"):
    """The round-5 feed layout: cells stamped once at ingest, stored
    partitionBy the coarse cell, read back (cell_part becomes a hive
    partition column -> the per-batch filter partition-prunes the scan)."""
    path = str(tmp_path / name)
    S.stamp_feed_cells(stops).write.mode("overwrite").partitionBy(
        "cell_part"
    ).parquet(path)
    return spark.read.parquet(path)


def test_partitioned_feed_and_compacted_log_equal_full_batch(spark, tmp_path):
    """The full round-5 layout — feed partitioned by cell_part (+ n_feed
    and cached feed_ids passed in, so no per-batch feed count), node log
    opened partitioned and compacted mid-stream — must produce merged
    results identical to the from-scratch batch compare after every
    batch, including batches that run against a compacted base + tail."""
    stops, batches = _world(spark)
    feed = _stamped_feed(spark, tmp_path, stops)
    nf = feed.count()
    fids = feed.select("gtfs_id").cache()
    nlog = SnapTable(str(tmp_path / "nodes_p"), partition_by="cell_part")
    rlog = SnapTable(str(tmp_path / "results_p"))
    for bid, b in enumerate(batches):
        S.apply_update_batch(
            spark, b, nlog, rlog, feed, [AG], bid,
            full_recompare_frac=None, n_feed=nf, feed_ids=fids,
            id_digits=synth._CMP_DIGITS,
        )
        if bid == 0:
            # compact after the bootstrap batch: batches 1..2 exercise
            # the pruned-base + full-tail state read
            S.compact_node_log(spark, nlog)
            base, tail = nlog.read_split(spark)
            assert base is not None and tail is None
            assert "cell_part" in base.columns
        merged = S.current_results(rlog, spark)
        full = C.compare_stops(
            stops, S.current_nodes(nlog.read(spark)), [AG],
            id_digits=synth._CMP_DIGITS,
        )
        assert _sorted_rows(merged) == _sorted_rows(full), f"diverged after batch {bid}"
    # post-compaction appends are the tail
    base, tail = nlog.read_split(spark)
    assert base is not None and tail is not None


def test_feed_partition_filter_prunes_scan(spark, tmp_path):
    """The feed-side mirror of test_coarse_partition_filter_prunes_scan:
    filtering the partitioned feed by the changed nodes' coarse ring
    cells (exactly apply_update_batch's code path) must show
    PartitionFilters on cell_part in the physical plan, and the pruned
    feed must still contain every affected stop."""
    stops, batches = _world(spark)
    feed = _stamped_feed(spark, tmp_path, stops, "feed_plan")
    # b2's changed positions: around stops 2 and 5 only
    changed = batches[2].select("lat", "lon")
    cells = S.coarse_partition_cells(changed)
    pruned = feed.filter(F.col("cell_part").isin(cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "cell_part" in scan[0].split("PartitionFilters")[1].split("]")[0]
    # covering contract: every stop within the radius of a changed
    # position survives the prune
    touched_full = {r["gtfs_id"]
                    for r in S.affected_stop_ids(stops, changed).collect()}
    touched_pruned = {r["gtfs_id"]
                      for r in S.affected_stop_ids(pruned, changed).collect()}
    assert touched_full == touched_pruned and touched_full
    # and the prune is real: the far-away stops' partitions are gone
    kept = {r["gtfs_id"] for r in pruned.select("gtfs_id").collect()}
    assert len(kept) < stops.count()
    # a flat (unpartitioned) feed never prunes
    assert S._partition_pruned(stops, "cell_part", cells) is stops


def test_pre_floor_grid_layout_raises(spark, tmp_path):
    """A feed or compacted node-log base stamped before the floor grid
    (hex res-1 ids, >= 2^58, in cell_part) matches no covering cell:
    the delta batch raises instead of pruning every row away. The same
    tables stamped by stamp_feed_cells prune."""
    import pytest

    stops, batches = _world(spark)
    hex_part = cells.make_hex_cell_udf(S.COARSE_RES)(F.col("lat"), F.col("lon"))
    path = str(tmp_path / "feed_hex")
    stops.withColumn("cell_part", hex_part).write.partitionBy("cell_part").parquet(path)
    feed = spark.read.parquet(path)
    nlog = SnapTable(str(tmp_path / "nodes"))
    rlog = SnapTable(str(tmp_path / "results"))
    kw = dict(full_recompare_frac=None, id_digits=synth._CMP_DIGITS)
    S.apply_update_batch(spark, batches[0], nlog, rlog, feed, [AG], 0, **kw)
    with pytest.raises(ValueError, match="re-stamp"):
        S.apply_update_batch(spark, batches[1], nlog, rlog, feed, [AG], 1, **kw)
    hlog = SnapTable(str(tmp_path / "nodes_hex"), partition_by="cell_part")
    hlog.append(batches[0].withColumn("update_seq", F.lit(0)).withColumn("cell_part", hex_part))
    S.compact_node_log(spark, hlog)
    base = hlog.read_split(spark)[0]
    with pytest.raises(ValueError, match="re-stamp"):
        S._partition_pruned(base, "cell_part", [0])
    floor = _stamped_feed(spark, tmp_path, stops)
    assert S._partition_pruned(floor, "cell_part", [0]).count() == 0


def test_mixed_schema_log_rows_not_dropped(spark, tmp_path):
    """A node log whose early appends carry a stored hex_cell column
    (logs written before the cell was dropped from appends) and whose
    later ones do not: SnapTable's mergeSchema read surfaces hex_cell as
    NULL on the new rows, and the state prune ignores the column — it
    keeps every node within reach of a stop and drops the rest, old or
    new."""
    log = SnapTable(str(tmp_path / "mixed"))
    row = ("1", "u", "t", {"gtfs_id": "1", "operator": AG}, 0, 1, False, 0)

    def nodes(rows):
        return spark.createDataFrame(
            [(o, *row[:3], lat, lon, *row[3:]) for o, lat, lon in rows],
            UPDATE_SCHEMA + ", update_seq int",
        )

    old = nodes([("nOldNear", 10.0004, 20.0), ("nOldFar", 70.0, 20.0)])
    log.append(old.withColumn("hex_cell", F.lit(123).cast("long")))
    log.append(nodes([("nNewNear", 9.9996, 20.0), ("nNewFar", 10.0, 21.0)]))
    state = S.current_nodes(log.read(spark))
    assert "hex_cell" in state.columns  # mergeSchema: deterministic
    stops = _stops(spark, [("0000001", 10.0, 20.0, "S1")])
    pruned = S.prune_state_to_stop_rings(state, stops)
    assert {r["osm_id"] for r in pruned.collect()} == {"nOldNear", "nNewNear"}


def test_stream_wrapper_midstream_restart(spark, tmp_path):
    """Kill-between-batches replay: run the availableNow stream with only
    b0 present, then drop b1/b2 and run AGAIN with the same checkpoint —
    the second run must process only the new files (no recommit of b0's
    ledger chunks) and the merged results must equal the from-scratch
    batch compare of the final state."""
    stops, batches = _world(spark)
    src = tmp_path / "drops_mid"
    src.mkdir()
    schema = spark.createDataFrame([], UPDATE_SCHEMA).schema
    paths = str(src / "*")

    batches[0].coalesce(1).write.mode("overwrite").parquet(str(src / "b0.parquet"))
    S.stream_node_sync(
        spark, paths, schema,
        str(tmp_path / "nodes_mid"), str(tmp_path / "results_mid"),
        stops, [AG], checkpoint_dir=str(tmp_path / "ckpt_mid"),
        id_digits=synth._CMP_DIGITS,
    )
    nlog = SnapTable(str(tmp_path / "nodes_mid"))
    rlog = SnapTable(str(tmp_path / "results_mid"))
    v_n, v_r = nlog.current_version(), rlog.current_version()
    done_before = set(nlog.processed_chunks("sync"))
    assert done_before  # b0 committed

    # "restart": same checkpoint, two new drops
    for i in (1, 2):
        batches[i].coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet"))
    S.stream_node_sync(
        spark, paths, schema,
        str(tmp_path / "nodes_mid"), str(tmp_path / "results_mid"),
        stops, [AG], checkpoint_dir=str(tmp_path / "ckpt_mid"),
        id_digits=synth._CMP_DIGITS,
    )
    # b0's ledger entries were NOT recommitted, new batch ids are fresh
    assert done_before <= set(nlog.processed_chunks("sync"))
    assert nlog.current_version() > v_n and rlog.current_version() > v_r

    merged = S.current_results(rlog, spark)
    full = C.compare_stops(
        stops, S.current_nodes(nlog.read(spark)), [AG], id_digits=synth._CMP_DIGITS
    )
    assert _sorted_rows(merged) == _sorted_rows(full)


def _bloom_filters(spark, parquet_file, col):
    """(n_chunks, n_with_bloom) for `col` across the file's row groups,
    read back through parquet-java — the same reader Spark scans with.
    A zero-row part file has no row groups and returns (0, 0)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(parquet_file)
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    n = have = 0
    try:
        blocks = reader.getFooter().getBlocks()
        for bi in range(blocks.size()):
            cols = blocks.get(bi).getColumns()
            for ci in range(cols.size()):
                c = cols.get(ci)
                if c.getPath().toDotString() == col:
                    n += 1
                    if reader.readBloomFilter(c) is not None:
                        have += 1
        return n, have
    finally:
        reader.close()


def test_bloom_filter_written_and_id_pushdown(spark, tmp_path):
    """The node-log point-lookup layout: a log opened with
    bloom_filter_options(["osm_id"]) writes an osm_id bloom filter into
    every data file (append AND the property survives re-open — it is a
    table property, not a one-shot writer arg), and the touched-id
    lookup pushes In(osm_id, ...) into the parquet scan — together these
    turn the per-batch old-position pass into row-group point lookups."""
    import glob

    from gtfs_osm_sync_spark.sources.snaptable import bloom_filter_options

    opts = bloom_filter_options(["osm_id"], ndv=100_000)
    stops, batches = _world(spark)
    nlog = SnapTable(str(tmp_path / "nodes_bloom"), write_options=opts)
    rlog = SnapTable(str(tmp_path / "results_bloom"))
    for bid, b in enumerate(batches):
        S.apply_update_batch(
            spark, b, nlog, rlog, stops, [AG], bid,
            full_recompare_frac=None, id_digits=synth._CMP_DIGITS,
        )
    files = glob.glob(
        str(tmp_path / "nodes_bloom" / "data" / "**" / "*.parquet"), recursive=True
    )
    assert files
    # every non-empty row group carries the osm_id bloom filter (empty
    # part files have no row groups — vacuously fine), and at least one
    # real chunk exists
    counts = [_bloom_filters(spark, f, "osm_id") for f in files]
    assert sum(n for n, _ in counts) > 0
    assert all(n == have for n, have in counts)
    # re-open WITHOUT the arg: options inherited from the manifest
    assert SnapTable(str(tmp_path / "nodes_bloom")).write_options == opts
    # control: an option-less table writes no bloom filter
    ctl = SnapTable(str(tmp_path / "nodes_ctl"))
    ctl.append(batches[0].withColumn("update_seq", F.lit(0)))
    ctl_files = glob.glob(str(tmp_path / "nodes_ctl" / "data" / "*.parquet"))
    ctl_counts = [_bloom_filters(spark, f, "osm_id") for f in ctl_files]
    assert sum(n for n, _ in ctl_counts) > 0
    assert sum(have for _, have in ctl_counts) == 0
    # the old-position lookup's predicate reaches the scan
    probe = nlog.read(spark).filter(F.col("osm_id").isin(["n2", "n5"]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scans and all("osm_id" in s.split("PushedFilters")[1] for s in scans)


def test_id_pushdown_limit_zero_equals_default(spark, tmp_path, monkeypatch):
    """ID_PUSHDOWN_LIMIT=0 forces the semi-join formulation of the
    old-position lookup (the wide-batch path); merged results must equal
    the from-scratch batch compare, i.e. the In-pushdown fast path and
    the semi-join are interchangeable."""
    monkeypatch.setattr(S, "ID_PUSHDOWN_LIMIT", 0)
    stops, batches = _world(spark)
    nlog = SnapTable(str(tmp_path / "nodes_sj"))
    rlog = SnapTable(str(tmp_path / "results_sj"))
    for bid, b in enumerate(batches):
        S.apply_update_batch(
            spark, b, nlog, rlog, stops, [AG], bid,
            full_recompare_frac=None, id_digits=synth._CMP_DIGITS,
        )
    merged = S.current_results(rlog, spark)
    full = C.compare_stops(
        stops, S.current_nodes(nlog.read(spark)), [AG], id_digits=synth._CMP_DIGITS
    )
    assert _sorted_rows(merged) == _sorted_rows(full)


def _destinations(lat, lon, dist_m, bearings):
    """Points dist_m (great-circle, EARTH_RADIUS_M) from (lat, lon)."""
    d = dist_m / EARTH_RADIUS_M
    p1, l1, th = np.radians(lat), np.radians(lon), np.radians(bearings)
    p2 = np.arcsin(np.sin(p1) * np.cos(d) + np.cos(p1) * np.sin(d) * np.cos(th))
    l2 = l1 + np.arctan2(
        np.sin(th) * np.sin(d) * np.cos(p1), np.cos(d) - np.sin(p1) * np.sin(p2)
    )
    return np.degrees(p2), np.degrees(l2)


def _near_sets(a, b, reach):
    """Indices of `a` rows whose haversine to some `b` row is < reach."""
    d = haversine_m_np(a[:, None, 0], a[:, None, 1], b[None, :, 0], b[None, :, 1])
    return set(np.nonzero((d < reach).any(axis=1))[0].tolist())


def test_delta_joins_match_brute_force(spark):
    """affected_stop_ids and prune_state_to_stop_rings keep exactly the
    rows a NumPy haversine < radius / VIN_OVER_HAV_MIN brute force keeps:
    seeded clusters at |lat| <= 80 (lon inside +/-170: the cover grid
    does not wrap at the antimeridian, a documented open limit), plus a
    stop/node pair at Vincenty 399.999 m (haversine 402.2447 m) that
    compare keeps and so must survive both joins."""
    rng = np.random.default_rng(8)
    reach = 400.0 / VIN_OVER_HAV_MIN
    centers = np.column_stack([rng.uniform(-80, 80, 40), rng.uniform(-170, 170, 40)])

    def cloud(n, spread_m):
        c = centers[rng.integers(0, len(centers), n)]
        lat, lon = _destinations(c[:, 0], c[:, 1], rng.uniform(0, spread_m, n),
                                 rng.uniform(0, 360, n))
        return np.column_stack([lat, lon])

    h = 0.0018087344
    assert 399.998 < float(vincenty_m_np(-h, 20.0, h, 20.0)) < 400.0
    stops_ll = np.vstack([cloud(600, 1500.0), [[-h, 20.0]]])
    nodes_ll = np.vstack([cloud(300, 1500.0), [[h, 20.0]]])
    n_s, n_n = len(stops_ll), len(nodes_ll)
    stops = _stops(spark, [(f"{i:07d}", float(a), float(o), "S") for i, (a, o) in enumerate(stops_ll)])
    nodes = spark.createDataFrame(
        [(f"n{i}", float(a), float(o)) for i, (a, o) in enumerate(nodes_ll)],
        "osm_id string, lat double, lon double",
    )

    got = {int(r["gtfs_id"]) for r in S.affected_stop_ids(stops, nodes).collect()}
    want = _near_sets(stops_ll, nodes_ll, reach)
    assert got == want and n_s - 1 in got
    assert 0 < len(want) < n_s  # the clusters give both outcomes

    pruned = {int(r["osm_id"][1:]) for r in S.prune_state_to_stop_rings(nodes, stops).collect()}
    want = _near_sets(nodes_ll, stops_ll, reach)
    assert pruned == want and n_n - 1 in pruned
    assert 0 < len(want) < n_n


def test_coarse_covering_holds_circles_up_to_poles(spark):
    """coarse_partition_cells for the 400 m radius holds the COARSE_DEG
    floor cell (computed in NumPy) of every point on each input's
    circles at 1x and 2x the reach, up to |lat| 89.999. Near a pole the
    reach bbox spans every longitude, so the covering is the polar row's
    60 cells: finite, never a short set. Inputs stay within +/-150 deg
    of longitude: the grid does not wrap at +/-180
    (cells.reach_cells_col)."""
    rng = np.random.default_rng(3)
    lats = np.concatenate(
        [rng.uniform(-89.99, 89.99, 12), [0.0, 60.0, 85.0, 89.9, 89.99, -89.99, 89.999, -89.999]]
    )
    lons = rng.uniform(-150, 150, len(lats))
    bearings = np.linspace(0, 360, 720, endpoint=False)
    reach = 400.0 / VIN_OVER_HAV_MIN
    g = S.COARSE_DEG
    for lat, lon in zip(lats, lons):
        pt = spark.createDataFrame([(float(lat), float(lon))], "lat double, lon double")
        got = S.coarse_partition_cells(pt, 400.0)
        assert got is not None, lat
        for mult in (1, 2):
            for dist in (400.0 * mult, reach * mult * 0.99999):
                clat, clon = _destinations(lat, lon, dist, bearings)
                clon = (clon + 180.0) % 360.0 - 180.0
                need = np.floor(clat / g) * cells._GRID_STRIDE + np.floor(clon / g)
                assert set(need.astype(np.int64).tolist()) <= set(got), (lat, lon, dist)
    polar = spark.createDataFrame([(89.999, 10.0)], "lat double, lon double")
    assert len(S.coarse_partition_cells(polar, 400.0)) == 60


def test_delta_plans_have_no_python(spark):
    """The two delta joins and the partition-cell stamp are JVM-only: no
    ArrowEvalPython or BatchEvalPython node in any plan (inputs from
    local pandas, as tools/dump_plans.py's sync_delta target)."""
    import pandas as pd

    stops = spark.createDataFrame(
        pd.DataFrame({"gtfs_id": ["0000001", "0000002"], "lat": [10.0, 11.0], "lon": [20.0, 21.0]})
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"osm_id": ["n1", "n2"], "lat": [10.001, 40.0], "lon": [20.0, 21.0]})
    )
    for df in (
        S.affected_stop_ids(stops, nodes),
        S.prune_state_to_stop_rings(nodes, stops),
        S.stamp_feed_cells(stops),
    ):
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
