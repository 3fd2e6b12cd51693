"""Incremental stop↔node sync over a stream of OSM node updates.

The reference is a one-shot batch tool: every sync re-downloads the bbox
and re-compares EVERY stop (task/CompareData.java:1000-1290). Here the
comparison is incremental:

  node updates (micro-batches: adds / moves / retags / deletes)
    -> append-only NODE LOG (SnapTable; update_seq = stream batch id)
    -> merge-on-read CURRENT state (latest update per osm_id, deletes
       dropped)
    -> DELTA re-compare: only stops within reach of a changed node's OLD
       or NEW position can change category; those stops re-run the full
       compare_stops against the merged node state, everyone else keeps
       their previous row
    -> categorized RESULT LOG (SnapTable), merge-on-read latest per stop

Equivalence contract (pinned in tests/test_streaming_sync.py): after any
sequence of update batches, the merged result table is row-identical to
a from-scratch batch compare_stops against the final node state.

One cell system. Every compare branch keeps a node only when its
haversine distance to the stop is < radius_m / VIN_OVER_HAV_MIN (the
id-match prefilter and the probes), so that REACH bounds all influence.
The two delta joins -- affected stops (stops near the changed positions)
and the state prune (nodes near the re-compared stops) -- are
spatial_join.cover_radius_join left-semi joins at that reach, the small
side exploded to its cover cells and broadcast: JVM arithmetic on
lat/lon, no Python and no stored cell column.

Layout. The coarse floor-grid cell `cell_part` (COARSE_DEG, a JVM
expression) is the partition column of the stored feed
(stamp_feed_cells, written `repartition("cell_part")` +
`partitionBy("cell_part")`, one file per hive partition) and of a node
log opened `partition_by="cell_part"` and compact_node_log()'d. Per
batch, the changed positions' reach bboxes are exploded once to their
coarse cells at TWICE the reach (coarse_partition_cells, the floor
grid's one covering rule): an affected stop is within one reach of a
changed position and every node the compare keeps is within one reach
of an affected stop, so by the triangle inequality both scans can filter
on that one cell list, which the scan turns into PartitionFilters: the
list is evaluated once per partition directory, never per row, so a
covering as wide as the layout costs what a plain scan does and no
width cut-off applies. The node log's post-compaction tail is always
read in full: a base row superseded after compaction has its newer
version in the tail (read_split), and an extra current tail row is
dropped again by the state prune.

The known-id universe (which feed ids exist, for the foreign-id verdict)
is NEVER cell-pruned: a node near a re-compared stop may carry the id of
a stop far outside the affected cells. It is shrunk only to the feed ids
that the pruned state's nodes carry.

The touched ids' old positions come from an In(osm_id, ...) predicate
pushed into the node-log scan for batches up to ID_PUSHDOWN_LIMIT ids;
a log written under bloom_filter_options(["osm_id"]) answers it with
row-group point lookups. Wider batches use a semi-join.

Pruning only pays behind a LINEAGE BREAK: the delta intermediates are
coalesce(defaultParallelism) + localCheckpoint'ed before the re-compare
(see the inline comment in apply_update_batch).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import _GRID_STRIDE, grid_cell_col, hex_edge_m, reach_cells_col
from ..functions.geo import EARTH_RADIUS_M, VIN_OVER_HAV_MIN
from ..functions.mappings import zero_pad_id
from ..operators.compare import compare_stops
from ..operators.spatial_join import DEFAULT_RADIUS_M, cover_radius_join
from ..sources.snaptable import SnapTable

# partition-column resolution for the feed and node-log layout: the
# floor cell with the plane area of a res-1 hex (~455k km^2, edge ~420 km),
# ~6.07 deg, 1,800 cells planet-wide -- coarse enough that partitionBy
# stays at file-count sanity, fine enough that a clustered delta batch
# touches a handful of partitions
COARSE_RES = 1
COARSE_DEG = math.degrees(
    math.sqrt(1.5 * math.sqrt(3.0)) * hex_edge_m(COARSE_RES) / EARTH_RADIUS_M
)
# bound on |cell_part| of a COARSE_DEG floor cell (row * stride + col)
_MAX_PART = (math.ceil(90.0 / COARSE_DEG) + 1) * _GRID_STRIDE
# widest batch whose touched ids are pushed into the node-log scan as an
# In list; a thousands-deep list bloats the plan and filters per row anyway
ID_PUSHDOWN_LIMIT = 1000


def _latest(log: DataFrame, key: str, *order: str) -> DataFrame:
    """The row with the greatest (order...) per key, every column kept.
    Single partial-aggregating max_by per key — one shuffle, map-side
    combined, no window."""
    rest = [c for c in log.columns if c != key]
    return (
        log.groupBy(key)
        .agg(F.max_by(F.struct(*rest), F.struct(*order)).alias("_r"))
        .select(key, "_r.*")
    )


def _latest_nodes(log: DataFrame) -> DataFrame:
    """The live latest row per osm_id: the highest update_seq wins (ties
    broken by elem_idx — later in the batch wins, mirroring last-writer
    file order); tombstones (deleted=true) drop out."""
    return _latest(log, "osm_id", "update_seq", "elem_idx").filter(~F.col("deleted"))


def current_nodes(log: DataFrame) -> DataFrame:
    """Merge-on-read node state from the append-only update log."""
    return _latest_nodes(log).drop("deleted", "update_seq")


def _within_reach(rows: DataFrame, points: DataFrame, radius_m: float) -> DataFrame:
    """The `rows` (lat, lon) within the compare's haversine reach of any
    `points` (lat, lon): a left-semi cover_radius_join with the small
    points side exploded to its cover cells and broadcast."""
    pts = points.select(F.col("lat").alias("_p_lat"), F.col("lon").alias("_p_lon"))
    return cover_radius_join(
        rows, pts, ("lat", "lon"), ("_p_lat", "_p_lon"),
        radius_m / VIN_OVER_HAV_MIN, how="left_semi",
    )


def affected_stop_ids(
    gtfs: DataFrame, changed: DataFrame, radius_m: float = DEFAULT_RADIUS_M
) -> DataFrame:
    """gtfs_id of every stop whose compare result CAN change given this
    batch of node updates: within reach of a changed node position.
    `changed` must carry every (lat, lon) the node occupied before and
    after the batch (the caller unions old-state rows with the update
    rows)."""
    return _within_reach(gtfs.select("gtfs_id", "lat", "lon"), changed, radius_m).select(
        "gtfs_id"
    )


def prune_state_to_stop_rings(
    state: DataFrame, sub: DataFrame, radius_m: float = DEFAULT_RADIUS_M
) -> DataFrame:
    """The merged node state restricted to nodes within reach of a
    re-compared stop in `sub`: every compare branch drops any other node,
    so the prune cannot change a sub stop's row."""
    return _within_reach(state, sub, radius_m)


def coarse_partition_cells(points: DataFrame, radius_m: float = DEFAULT_RADIUS_M) -> list[int]:
    """The sorted COARSE_DEG cells of every point within TWICE the
    compare's reach of radius_m from any (lat, lon) in `points` (the
    batch covering of the module docstring). `points` is O(k) rows (the
    changed positions): each row's reach bbox is exploded to its cells
    in the JVM, and the cell arrays are collected (no shuffle) and
    deduplicated on the driver."""
    cover = reach_cells_col(
        F.col("lat"), F.col("lon"), 2 * radius_m / VIN_OVER_HAV_MIN, COARSE_DEG
    )
    return sorted({c for r in points.select(cover.alias("c")).collect() for c in r.c})


def stamp_feed_cells(gtfs: DataFrame) -> DataFrame:
    """The frame with its coarse partition cell (cell_part). Write the
    static feed `repartition("cell_part")` + `partitionBy("cell_part")`
    and hand the read-back frame to apply_update_batch: the per-batch
    stop scan then partition-prunes to the changed nodes' coarse
    covering."""
    return gtfs.withColumn("cell_part", grid_cell_col(F.col("lat"), F.col("lon"), COARSE_DEG))


def compact_node_log(
    spark: SparkSession, node_log: SnapTable, checkpoint: dict | None = None
) -> int:
    """Periodic node-log maintenance (Iceberg rewrite_data_files): fold
    the log down to the latest row per osm_id (same (update_seq,
    elem_idx) ordering as current_nodes) with tombstones dropped —
    nothing older survives the rewrite, so nothing can resurrect — and
    rewrite it as the table's partitioned BASE. After this,
    apply_update_batch partition-prunes the base scan to the affected
    coarse cells and reads only the (small) post-compaction tail in
    full. Rows keep their original update_seq so merge-on-read ordering
    against newer tail appends is unchanged."""

    return node_log.compact(spark, reducer=_latest_nodes, checkpoint=checkpoint)


def _partition_pruned(df: DataFrame, part: str | None, cells: list[int] | None) -> DataFrame:
    """df filtered to the coarse `cells` when df is laid out by the
    partition column `part`; df itself otherwise (cells is None only
    for such a flat layout, which collects no covering). Raises on a
    layout whose partition values are not COARSE_DEG floor cells (one
    stamped with the earlier hex cells, ids >= 2^58): the covering would
    match none of its partitions and silently drop every row."""
    if not part or part not in df.columns:
        return df
    pat = re.compile(rf"/{re.escape(part)}=(-?\d+)/")
    for f in df.inputFiles():
        m = pat.search(f)
        if m and abs(int(m.group(1))) > _MAX_PART:
            raise ValueError(
                f"{f}: {part} is not a floor-grid cell; re-stamp the layout "
                "with stamp_feed_cells"
            )
    return df.filter(F.col(part).isin(cells))


def apply_update_batch(
    spark: SparkSession,
    updates: DataFrame,
    node_log: SnapTable,
    result_log: SnapTable,
    gtfs: DataFrame,
    agency_names: list[str],
    batch_id: int,
    run_id: str = "sync",
    radius_m: float = DEFAULT_RADIUS_M,
    full_recompare_frac: float | None = 0.1,
    n_feed: int | None = None,
    feed_ids: DataFrame | None = None,
    **compare_kw,
) -> int:
    """One micro-batch of the incremental sync. `updates` rows use the
    node source schema plus a boolean `deleted` tombstone column.

    Steps: (1) effectively-once append to the node log, stamped with
    update_seq and cell_part, (2) compute the affected stops from every
    position the touched node ids EVER held in the log plus the batch's
    new positions (a superset of old∪new — replay-safe even when a crash
    landed between the two appends), (3) re-run the full batch compare
    for ONLY those stops against the node state pruned to their reach,
    (4) effectively-once append of the fresh rows (stamped with
    update_seq) to the result log. The two appends are separate atomic
    commits with separate ledgers, so a crash between them replays only
    the missing half. Returns the number of re-compared stops.

    full_recompare_frac: when the affected stops exceed this fraction of
    the feed, re-compare the whole feed instead: the delta machinery has
    no selectivity left (BENCH/delta_sync.json). None disables it.
    n_feed: the feed's row count (static per feed); passing it removes
    the per-batch gtfs.count(). feed_ids: a cached single-column
    `gtfs_id` frame of the FULL feed for the known-id shrink; without it
    the shrink reads the ids from the feed scan each batch. A `gtfs`
    with a `cell_part` column and a node log opened
    `partition_by="cell_part"` get their scans partition-pruned (module
    docstring)."""
    bid = int(batch_id)
    node_done = bid in node_log.processed_chunks(run_id)
    result_done = bid in result_log.processed_chunks(run_id + "_results")
    if node_done and result_done:
        return 0  # fully replayed micro-batch

    upd = updates.withColumn("update_seq", F.lit(bid))
    if "cell_part" not in upd.columns:
        # the node log's partition column when the table is partitioned
        upd = stamp_feed_cells(upd)
    if not node_done:
        node_log.append(upd, checkpoint={"run_id": run_id, "chunks": [bid]})
    log_df = node_log.read(spark)
    state = None  # resolved per-branch below (pruned where layout allows)

    # a node that MOVED influences its old neighborhood too: take every
    # position the touched ids ever held (superset of old∪new; extra
    # stops just re-compare to the same answer)
    batch_ids = [
        r["osm_id"]
        for r in upd.select("osm_id").distinct().limit(ID_PUSHDOWN_LIMIT + 1).collect()
    ]
    if len(batch_ids) <= ID_PUSHDOWN_LIMIT:
        touched_log = log_df.filter(F.col("osm_id").isin(batch_ids))
    else:
        touched_log = log_df.join(
            upd.select("osm_id").distinct(), "osm_id", "left_semi"
        )
    changed = touched_log.select("lat", "lon").unionByName(upd.select("lat", "lon"))

    if result_log.is_empty():
        # bootstrap: the first batch is the initial snapshot — every stop
        # needs a category (stops near NO node are legitimate
        # UPLOAD_NO_CONFLICT rows and would otherwise never be emitted)
        sub = gtfs
        known = gtfs
        n_recompared = n_feed if n_feed is not None else gtfs.count()
    else:
        # LINEAGE BREAK: every delta-path intermediate below is O(k * ring)
        # SMALL but sits on an expensive lineage (partition-pruned scans,
        # a merge-on-read aggregation) — and compare_stops consumes its
        # inputs from several branches (id match, adoption, conflict
        # probe, member resolution), so without a break each branch
        # re-executes the whole pruned pipeline. Measured at 4M stops /
        # 4.3M nodes / 8 cores: the un-checkpointed k=100 delta ran 183 s
        # — SLOWER than the 70 s full re-compare it exists to avoid — vs
        # ~15 s checkpointed (BENCH/delta_sync.json). localCheckpoint
        # materializes once on the executors (MEMORY_AND_DISK); replay
        # safety is unaffected because both SnapTable appends stay
        # idempotent per (run_id, batch id), so a lost executor just
        # re-runs the micro-batch.
        #
        # Each break also COALESCES first: the partition-pruned scans
        # surface one input split per surviving hive partition, so the
        # checkpointed frames would otherwise carry O(ring-cells)
        # near-empty partitions — and every one of compare's ~30 stages
        # pays per-task scheduling per partition. Measured at 1M stops /
        # 8 cores: 87-partition sub -> 22 s compare; coalesce(8) -> 5.3 s,
        # identical rows.
        par = spark.sparkContext.defaultParallelism
        changed = changed.coalesce(par).localCheckpoint()
        # one covering for both scans (module docstring), collected only
        # when a scan can use it: a partitioned feed or a compacted
        # partitioned node-log base (None: a flat layout)
        part = node_log.partition_by
        base, tail = node_log.read_split(spark) if part else (None, None)
        cells = (
            coarse_partition_cells(changed, radius_m)
            if "cell_part" in gtfs.columns or base is not None
            else None
        )
        feed = _partition_pruned(gtfs, "cell_part", cells)
        sub = _within_reach(feed, changed, radius_m).coalesce(par).localCheckpoint()
        known = gtfs
        n_recompared = sub.count()
        if full_recompare_frac is not None:
            nf = n_feed if n_feed is not None else gtfs.count()
            if n_recompared > full_recompare_frac * nf:
                sub = gtfs  # wide batch: the plain full compare is cheaper
                n_recompared = nf
        if sub is not gtfs:
            # a compacted base is pruned to the cells and the tail read in
            # full (read_split's soundness contract); a log without such a
            # base is read whole
            nodes = log_df
            if base is not None:
                nodes = _partition_pruned(base, part, cells)
                if tail is not None:
                    nodes = nodes.unionByName(tail, allowMissingColumns=True)
            state = (
                prune_state_to_stop_rings(current_nodes(nodes), sub, radius_m)
                .coalesce(par)
                .localCheckpoint()
            )
            # shrink the foreign-ness id universe to (feed ∩ pruned-node
            # ids): verdict-identical for every node still in state, and
            # it turns the probe's anti-join build side from O(feed)
            # into O(k * ring) — a map-only broadcast semi-join over
            # feed_ids when given (a cached in-memory column)
            id_digits = compare_kw.get("id_digits", 4)
            raw = F.col("tags").getItem("gtfs_id")
            node_ids = (
                state.filter(raw.isNotNull() & (raw != "missing"))
                .select(zero_pad_id(raw, id_digits).alias("gtfs_id"))
                .distinct()
            )
            ids_base = feed_ids if feed_ids is not None else gtfs
            known = ids_base.select("gtfs_id").join(
                F.broadcast(node_ids), "gtfs_id", "left_semi"
            )
    if n_recompared and not result_done:
        if state is None:
            # bootstrap / wide-batch fallback: materialize the merged
            # state once — compare's branches would otherwise each
            # re-run the full merge-on-read aggregation over the log
            state = current_nodes(log_df).localCheckpoint()
        fresh = compare_stops(
            sub,
            state,
            agency_names,
            radius_m=radius_m,
            # the delta subset must judge foreign-ness against the FULL
            # feed's id universe (shrunk to the ids the pruned state's
            # nodes carry — verdict-identical)
            known_ids=known,
            **compare_kw,
        ).withColumn("update_seq", F.lit(bid))
        result_log.append(
            fresh, checkpoint={"run_id": run_id + "_results", "chunks": [bid]}
        )
    return n_recompared


def current_results(result_log: SnapTable, spark: SparkSession) -> DataFrame:
    """Merge-on-read categorized view: latest update_seq per stop wins."""
    return _latest(result_log.read(spark), "gtfs_id", "update_seq").drop("update_seq")


def stream_node_sync(
    spark: SparkSession,
    source_dir: str,
    schema,
    node_log_root: str,
    result_log_root: str,
    gtfs: DataFrame,
    agency_names: list[str],
    checkpoint_dir: str,
    run_id: str = "sync",
    trigger_once: bool = True,
    **compare_kw,
):
    """File-source streaming wrapper: each parquet drop in source_dir is
    one update micro-batch through apply_update_batch. checkpoint_dir is
    required for the same durable-batch-id reason as
    ingest.stream_images_to_table."""
    if not checkpoint_dir:
        raise ValueError(
            "checkpoint_dir is required: without a durable streaming "
            "checkpoint, batch_id restarts at 0 on re-run and the "
            "effectively-once ledger would skip fresh batches"
        )
    node_log = SnapTable(node_log_root)
    result_log = SnapTable(result_log_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_update_batch(
            spark,
            batch_df,
            node_log,
            result_log,
            gtfs,
            agency_names,
            int(batch_id),
            run_id=run_id,
            **compare_kw,
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if trigger_once:
        q.awaitTermination()
    return q
