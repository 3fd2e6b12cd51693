"""The flagship end-to-end job: geotag -> tile -> kNN -> categorize ->
snapshot-table commit, chunked + checkpointed + resumable.

This is the Spark lifecycle equivalent of the reference's Compare entry
point (task/CompareData.java:1388-1445 -> startCompare 1324-1386 ->
compareBusStopData 1000-1290), generalized per the north rule:

  images --phash_latlon--> (lat,lon) --hex/s2 cells--> tiles
         --cover-grid radius join, haversine<400--> nearest feature
         --id-match priority window--> 4-way category
         --SnapTable.append (atomic, with per-chunk lineage/metrics)-->

Resume: chunk ids already committed for run_id are skipped; because the
synth source is id-deterministic and every operator is a pure function of
its input, a killed run + resume produces byte-identical table contents
(tested in tests/test_resume.py).

At cluster scale each "chunk" is an input partition batch (e.g. a date
or id range of the 10^12-row table); the checkpoint rides the same
atomic commit as the data so there is no lost+recomputed window.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.spatial_join import (
    DEFAULT_K,
    DEFAULT_RADIUS_M,
    ERROR_TO_ZERO_M,
    cover_radius_join,
    geotag_images,
)
from .sources.snaptable import SnapTable
from . import synth


class InjectedFailure(RuntimeError):
    """Raised by the fault-injection hook in resume tests."""


def assign_images(
    images_geo: DataFrame,
    features: DataFrame,
    radius_m: float = DEFAULT_RADIUS_M,
    k: int = DEFAULT_K,
    broadcast_features: bool = True,
) -> DataFrame:
    """Per image: tile cells + nearest feature + match category.

    Shuffle budget (r7 single-pass shape): ONE consumer of images_geo.
    The candidate join is a LEFT outer broadcast hash join against the
    cover-cell-exploded features (spatial_join.cover_radius_join) with
    the radius predicate (bbox prefilter first, then exact haversine) in
    the join condition, so images with no candidate survive as a single
    null-candidate row — the previous shape consumed images_geo twice
    (pairs + a final restore join),
    which re-ran the upstream generator/scan and paid a second 10^6-row
    join (guide §2.4: remove shuffles/passes outright). BOTH the
    nearest-by-distance head and the id-match-priority best then reduce
    in ONE partial-aggregatable groupBy via min(struct(...)) —
    lexicographic struct ordering encodes the (dist, feature_id) and
    (id_match desc, dist, feature_id) priorities; null-candidate rows
    contribute NULL structs which min() ignores, reproducing the old
    left-join NULL semantics exactly. Payload columns (phash, caption,
    ...) ride the same pass via first(): they fan out per candidate
    map-side only — nothing crosses the wire more than once, because
    the partial aggregate reduces to per-image rows before the single
    exchange.

    images_geo must already carry lat/lon/hex_cell (geotag_images) — at
    scale that is the stored table scan.
    """
    # lpad TRUNCATES strings longer than the pad width, so ids >= 1e8
    # would silently never id-match the feature side (which zero-pads
    # without truncating): only pad when shorter, else keep as-is.
    stripped = F.regexp_replace(F.regexp_replace("image_id", "^img", ""), "^0+", "")
    geo = images_geo.withColumn(
        "gtfs_id_img",
        F.when(F.length(stripped) < 8, F.lpad(stripped, 8, "0")).otherwise(stripped),
    )
    base_cols = [
        c
        for c in ("image_id", "phash", "caption", "lat", "lon", "hex_cell", "s2_cell")
        if c in images_geo.columns
    ]
    # the radius predicate sits inside the LEFT join condition, so an image
    # with no candidate survives as one null-candidate row (dist_m NULL)
    f = features.select(
        "feature_id",
        F.col("lat").alias("f_lat"),
        F.col("lon").alias("f_lon"),
        "gtfs_id",
    )
    pairs = cover_radius_join(
        geo, f, ("lat", "lon"), ("f_lat", "f_lon"), radius_m,
        how="left", hint="broadcast" if broadcast_features else None,
    ).withColumn(
        "id_match",
        F.when(
            F.col("gtfs_id").isNotNull() & (F.col("gtfs_id") == F.col("gtfs_id_img")),
            1,
        ).otherwise(0),
    )
    # physical note: min(struct) (like min_by and min(string)) lowers to
    # SortAggregate — HashAggregate needs fixed-width mutable buffers.
    # That is still partial-aggregating (map-side combine before the only
    # shuffle) and the per-task sort is over ~k candidates per image; the
    # exact (dist, feature_id) ordering it preserves is worth more than a
    # hash-agg would save (every lossy packing we measured either broke
    # exactness or needed numeric feature ids).
    has_cand = F.col("feature_id").isNotNull()
    agg = pairs.groupBy("image_id").agg(
        F.min(
            F.when(has_cand, F.struct(F.col("dist_m"), F.col("feature_id")))
        ).alias("_near"),
        F.min(
            F.when(
                has_cand,
                F.struct(
                    (1 - F.col("id_match")).alias("inv_match"),
                    F.col("dist_m"),
                    F.col("feature_id"),
                ),
            )
        ).alias("_best"),
        *[F.first(c).alias(c) for c in base_cols if c != "image_id"],
    )
    return agg.select(
        *base_cols,
        F.col("_near.feature_id").alias("nearest_feature_id"),
        F.round(F.col("_near.dist_m"), 6).alias("nearest_dist_m"),
        F.col("_best.feature_id").alias("match_feature_id"),
        F.when(F.col("_best").isNull(), "UPLOAD_NO_CONFLICT")
        .when(
            (F.col("_best.inv_match") == 0) & (F.col("_best.dist_m") <= ERROR_TO_ZERO_M),
            "NOTHING_NEW",
        )
        .when(F.col("_best.inv_match") == 0, "MODIFY")
        .otherwise("UPLOAD_CONFLICT")
        .alias("category"),
    )


@dataclass
class RunResult:
    run_id: str
    chunks_run: list[int]
    chunks_skipped: list[int]
    rows_out: int
    versions: list[int]


def run_flagship(
    spark: SparkSession,
    n_images: int,
    table_root: str,
    run_id: str = "run1",
    n_chunks: int = 8,
    n_features: int | None = None,
    fail_after_chunks: int | None = None,
) -> RunResult:
    """Chunked, checkpointed, resumable flagship run over the synthetic
    images table. fail_after_chunks injects a mid-run crash for tests."""
    table = SnapTable(table_root)
    done = table.processed_chunks(run_id)
    features = synth.generate_features(spark, n_images, n_features)

    chunk_size = (n_images + n_chunks - 1) // n_chunks
    ran: list[int] = []
    skipped: list[int] = []
    versions: list[int] = []
    total_rows = 0
    for chunk in range(n_chunks):
        if chunk in done:
            skipped.append(chunk)
            continue
        lo = chunk * chunk_size
        hi = min(lo + chunk_size, n_images)
        if lo >= hi:
            continue
        t0 = time.time()
        images = synth.generate_images(spark, hi, start=lo)
        # materialize the geotagged chunk once — the scan side is consumed
        # twice (pair join + final left join); at cluster scale this is the
        # stored-table read, here it's an explicit persist
        geo = geotag_images(images).drop("bytes").persist()
        out = assign_images(geo, features)
        rows = out.count()
        version = table.append(
            out,
            checkpoint={
                "run_id": run_id,
                "chunks": [chunk],
                "id_range": [lo, hi],
                "rows_in": hi - lo,
                "rows_out": rows,
                "wall_ms": int((time.time() - t0) * 1000),
            },
        )
        geo.unpersist()
        versions.append(version)
        ran.append(chunk)
        total_rows += rows
        if fail_after_chunks is not None and len(ran) >= fail_after_chunks:
            raise InjectedFailure(f"injected failure after {len(ran)} chunks")
    return RunResult(run_id, ran, skipped, total_rows, versions)


def stop_sync_document(
    gtfs: DataFrame,
    nodes: DataFrame,
    agency_names: list[str],
    id_digits: int = 4,
    radius_m: float | None = None,
    network_key: str = "operator",
    changeset: str = "0",
    capabilities_xml: str | None = None,
    broadcast_stops: bool = True,
    alias_regexes: list[str] | None = None,
    include_conflicts: bool = True,
) -> str:
    """The reference's full upload composition (task/UploadData.java:59-75:
    checkVersion -> createChangeSet -> createChunks) as one call: compare
    the feed against the node layer, then assemble the osmChange document
    from the AUTO-UPLOAD sets --

      <create>: UPLOAD_NO_CONFLICT stops PLUS (by default) the
        UPLOAD_CONFLICT stops carrying their FIXME merged tags — the
        reference's upload button always includes conflict stops:
        CompareData.java:1153-1155 builds the FIXME'd copy into
        `upload`, and they reach the upload set through the
        getOsmId()==null FIRST branch of
        ReportViewer.generateStopsToUpload:1589 (via
        uploadDataButtonActionPerformed:2909) regardless of the
        acceptedOnlyCheckbox — that checkbox (selected by default,
        ReportViewer.java:2691) only reroutes conflict stops that
        already carry an osmId. include_conflicts=False withholds them
        entirely — a safety posture THIS port adds for unattended
        composition (no reference analog), where FIXME'd
        near-duplicates should wait for human review;
      <modify>: MODIFY stops (id-matched or same-location-adopted, merged
        tags, node identity/location) UNION the node-side redundancy
        modifies (id-less nodes near unmatched stops gaining FIXME/note,
        CompareData.java:1172-1210).

    capabilities_xml, when given, gates the build exactly like
    HttpRequest.checkVersion (F18): an unsupported server version raises
    before any work is planned. The document itself is bounded by the
    sink's element guard (sources/sinks.py MAX_CHANGE_ELEMENTS).
    """
    from .operators.compare import compare_stops, redundant_node_modifies
    from .sources.osmxml import api_version_supported
    from .sources.sinks import osm_change_xml

    if capabilities_xml is not None and not api_version_supported(capabilities_xml):
        raise RuntimeError(
            "OSM API version unsupported by this client (HttpRequest.checkVersion)"
        )

    kw = dict(
        agency_names=agency_names,
        id_digits=id_digits,
        network_key=network_key,
        broadcast_stops=broadcast_stops,
        alias_regexes=alias_regexes,
    )
    if radius_m is not None:
        kw["radius_m"] = radius_m
    cmp = compare_stops(gtfs, nodes, **kw).cache()
    try:
        create_cats = (
            ["UPLOAD_NO_CONFLICT", "UPLOAD_CONFLICT"]
            if include_conflicts
            else ["UPLOAD_NO_CONFLICT"]
        )
        create = cmp.filter(F.col("category").isin(create_cats)).select(
            "gtfs_id",
            F.col("final_lat").alias("lat"),
            F.col("final_lon").alias("lon"),
            F.lit(None).cast("string").alias("version"),
            F.col("merged_tags").alias("tags"),
        )
        stop_mods = cmp.filter(F.col("category") == "MODIFY").select(
            "osm_id",
            F.col("osm_version").alias("version"),
            F.col("final_lat").alias("lat"),
            F.col("final_lon").alias("lon"),
            F.col("merged_tags").alias("tags"),
        )
        node_mods = redundant_node_modifies(gtfs, nodes, **kw).select(
            "osm_id", "version", "lat", "lon", "tags"
        )
        return osm_change_xml(
            create, stop_mods.unionByName(node_mods), None, changeset=changeset
        )
    finally:
        cmp.unpersist()
