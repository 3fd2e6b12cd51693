"""Image-column operators: decode stats (PSNR invariant) and mosaics."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.functions.codecs import png_decode
from gtfs_osm_sync_spark.operators import images as IMG
from gtfs_osm_sync_spark.operators.spatial_join import geotag_images


def test_decode_stats_psnr_invariant(spark):
    images = synth.generate_images(spark, 300, partitions=4)
    stats = IMG.decode_stats(images).toPandas()
    assert len(stats) == 300
    png_rows = stats[stats["image_id"].map(lambda s: int(s[3:]) % 2 == 0)]
    jpg_rows = stats[stats["image_id"].map(lambda s: int(s[3:]) % 2 == 1)]
    # png is lossless -> infinite PSNR; lossy stand-in >= 40 dB (input_hint)
    assert (png_rows["psnr_db"] == float("inf")).all()
    assert (jpg_rows["psnr_db"] >= 40.0).all()


def test_mosaic_deterministic_and_decodable(spark):
    images = synth.generate_images(spark, 800, partitions=5)
    geo = geotag_images(images)
    m1 = IMG.mosaic_by_cell(geo).toPandas().sort_values("hex_cell").reset_index(drop=True)
    m2 = IMG.mosaic_by_cell(geo).toPandas().sort_values("hex_cell").reset_index(drop=True)
    assert list(m1["hex_cell"]) == list(m2["hex_cell"])
    assert m1["mosaic_png"].map(bytes).tolist() == m2["mosaic_png"].map(bytes).tolist()
    assert (m1["n_images"] >= 1).all()
    # each mosaic decodes to the declared canvas and grid geometry
    for _, row in m1.head(20).iterrows():
        img = png_decode(row["mosaic_png"])
        assert img.shape == (row["tile_h"], row["tile_w"], 3)
        assert row["grid"] == max(int(math.ceil(math.sqrt(row["n_images"]))), 1)


def test_mosaic_content_matches_local_assembly(spark):
    images = synth.generate_images(spark, 400, partitions=4)
    geo = geotag_images(images)
    got = IMG.mosaic_by_cell(geo).toPandas()
    # rebuild one multi-image cell locally from first principles
    multi = got[got["n_images"] >= 2].iloc[0]
    cell = int(multi["hex_cell"])
    member_pdf = (
        geo.filter(geo.hex_cell == cell)
        .select("hex_cell", "image_id", "bytes", "fmt")
        .toPandas()
    )
    local = IMG.assemble_mosaic_pdf(member_pdf)
    assert bytes(local["mosaic_png"].iloc[0]) == bytes(multi["mosaic_png"])


def test_mosaic_cap_bounds_skew(spark):
    images = synth.generate_images(spark, 600, partitions=4)
    geo = geotag_images(images)
    capped = IMG.mosaic_by_cell(geo, max_images_per_cell=2).toPandas()
    assert (capped["n_images"] <= 2).all()
    assert (capped["n_images"] + capped["n_dropped"] >= 1).all()


def test_caption_and_pixel_equality_through_pipeline(spark):
    """north_rule per-row invariant: captions ride the flagship assign
    UNCHANGED (caption equality vs the source generator) and payload
    bytes decode allclose to the reference pixel generator after the
    full geotag->ring-join->kNN pipeline."""
    from gtfs_osm_sync_spark.pipeline import assign_images
    from gtfs_osm_sync_spark.functions.codecs import decode_image

    n = 400
    images = synth.generate_images(spark, n, partitions=4)
    feats = synth.generate_features(spark, n, 16)
    out = assign_images(geotag_images(images), feats).toPandas()
    assert len(out) == n
    # caption equality, per row, vs an independent regeneration
    ids = out["image_id"].map(lambda s: int(s[3:])).to_numpy(np.uint64)
    ref = synth.gen_images_pdf(ids)
    assert out["caption"].tolist() == ref["caption"].tolist()
    # decoded-pixel allclose vs the reference pixel generator
    if "bytes" in out.columns:
        for i in range(0, n, 97):
            got = decode_image(out["bytes"].iloc[i], out["fmt"].iloc[i])
            exp = decode_image(ref["bytes"].iloc[i], ref["fmt"].iloc[i])
            assert np.allclose(got, exp)


def test_pyramid_serving_layout_pruned_fetch(spark, tmp_path):
    """write_pyramid + tiles_for_bbox: the level filter reaches the scan
    as PartitionFilters (res is the hive partition column — other levels
    are never opened) and the bbox's cover rectangle as a hex_cell range
    (GreaterThanOrEqual/LessThanOrEqual) in PushedFilters; the fetch
    returns every level tile whose cell the bbox cover names (covering
    semantics — a bounded margin of adjacent tiles is allowed, nothing
    inside is missed)."""
    images = synth.generate_images(spark, 400, partitions=2)
    pyr = IMG.mosaic_pyramid(geotag_images(images), levels=2)
    path = str(tmp_path / "pyr")
    IMG.write_pyramid(pyr, path)

    pdf = pyr.toPandas()
    lvl8 = pdf[pdf["res"] == 8]
    assert len(lvl8)
    from gtfs_osm_sync_spark.functions.cells import hex_cell_center_latlon

    cells = lvl8["hex_cell"].to_numpy(np.int64)
    lats, lons = hex_cell_center_latlon(cells)
    # a bbox around the first few level-8 tiles
    bbox = (lats[:3].min(), lons[:3].min(), lats[:3].max(), lons[:3].max())
    got = IMG.tiles_for_bbox(spark, path, *bbox, res=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "res" in scan[0].split("PartitionFilters")[1].split("]")[0]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    pushed = [s.split("PushedFilters")[1] for s in pushed]
    assert any(
        "GreaterThanOrEqual(hex_cell" in s and "LessThanOrEqual(hex_cell" in s for s in pushed
    )
    got_pdf = got.toPandas()
    assert set(got_pdf["res"]) <= {8}
    # completeness: the three seed tiles are all in the fetch
    assert set(cells[:3]) <= set(got_pdf["hex_cell"])
    # pruning is real: the fetch is a strict subset of the level itself
    assert 0 < len(got_pdf) < len(lvl8)


def test_tiles_for_bbox_range_equals_cover_isin(spark, tmp_path):
    """The range fetch returns exactly the rows of an isin over the
    bbox's polygon_cells cover, for small, large, southern-hemisphere
    and |lat| 60 boxes, against a level stored densely around each box;
    an inverted box raises ValueError."""
    import pandas as pd

    from gtfs_osm_sync_spark.functions.cells import hex_cell_np
    from gtfs_osm_sync_spark.operators.pip import polygon_cells

    res = 8
    boxes = [
        (10.0, 10.0, 10.004, 10.006),  # small
        (30.0, -100.0, 30.5, -99.4),  # large
        (-45.2, 170.1, -45.0, 170.4),  # southern hemisphere
        (60.0, 10.0, 60.1, 10.3),  # |lat| 60
        (-60.3, -20.4, -60.0, -20.1),  # |lat| 60, south-west
    ]
    cells = []
    for min_lat, min_lon, max_lat, max_lon in boxes:
        lat, lon = np.meshgrid(
            np.arange(min_lat - 0.05, max_lat + 0.05, 0.002),
            np.arange(min_lon - 0.1, max_lon + 0.1, 0.002),
        )
        cells.append(np.unique(hex_cell_np(lat.ravel(), lon.ravel(), res)))
    level = pd.DataFrame({"hex_cell": np.unique(np.concatenate(cells)), "res": res})
    path = str(tmp_path / "level")
    spark.createDataFrame(level).write.partitionBy("res").parquet(path)

    for box in boxes:
        fetch = IMG.tiles_for_bbox(spark, path, *box, res=res)
        got = sorted(r[0] for r in fetch.select("hex_cell").collect())
        bbox = dict(poly_id="bbox", min_lat=box[0], min_lon=box[1], max_lat=box[2], max_lon=box[3])
        cover = polygon_cells(pd.DataFrame([bbox]), res=res)
        want = sorted(
            r[0]
            for r in spark.read.parquet(path)
            .filter(F.col("res") == res)
            .filter(F.col("hex_cell").isin([int(c) for c in cover["hex_cell"]]))
            .select("hex_cell")
            .collect()
        )
        assert got == want, box
        assert 0 < len(got) < len(level), box
    # inverted boxes (across the antimeridian, south above north) raise
    # instead of fetching the whole band between the two edges
    for box in ((0.0, 179.0, 1.0, -179.0), (1.0, 10.0, 0.0, 10.1)):
        with pytest.raises(ValueError, match="antimeridian"):
            IMG.tiles_for_bbox(spark, path, *box, res=res)


def test_mosaic_pyramid_single_base_pass(spark):
    """The pyramid's union consumes MATERIALIZED level frames: without
    the per-level localCheckpoint, each union branch re-executes the
    full-corpus base decode+stitch (union branches share no physical
    subplan; ReuseExchange dedupes only the shuffle below it). Pinned by
    the result plan containing no Python-stage nodes at all — every
    applyInPandas ran exactly once, during level materialization."""
    images = synth.generate_images(spark, 60, partitions=2)
    out = IMG.mosaic_pyramid(geotag_images(images), levels=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "mapInPandas" not in plan and "MapInPandas" not in plan


def test_mosaic_pyramid_conservation_and_pixels(spark):
    """Pyramid rollup: every level conserves the image count, res
    decrements per level, parenthood is center-containment, and a parent
    tile's pixel blocks are the exact block-means of its children's
    mosaics (re-derived here with raw numpy, not assemble_pyramid_pdf)."""
    from gtfs_osm_sync_spark.functions.cells import hex_parent_np

    images = synth.generate_images(spark, 900, partitions=5)
    geo = geotag_images(images)
    pyr = IMG.mosaic_pyramid(geo, levels=3).toPandas()
    assert sorted(pyr["res"].unique()) == [7, 8, 9]
    for res in (7, 8, 9):
        lvl = pyr[pyr["res"] == res]
        assert int(lvl["n_images"].sum()) == 900
        assert (lvl["px_sum"] > 0).all()
    base = pyr[pyr["res"] == 9]
    mid = pyr[pyr["res"] == 8].set_index("hex_cell")
    # child count conservation: res-8 children_sum == res-9 tile count
    assert int(pyr[pyr["res"] == 8]["n_children"].sum()) == len(base)

    # pick a res-8 parent with >= 2 children and re-derive its canvas
    parents = hex_parent_np(base["hex_cell"].to_numpy())
    base = base.assign(parent=parents)
    counts = base.groupby("parent").size()
    target = int(counts[counts >= 2].index[0])
    kids = base[base["parent"] == target].sort_values("hex_cell")
    got = png_decode(mid.loc[target, "mosaic_png"])
    thumb_px = 32
    grid = int(math.ceil(math.sqrt(len(kids))))
    for i, (_, kid) in enumerate(kids.iterrows()):
        img = png_decode(kid["mosaic_png"]).astype(np.float64)
        f = img.shape[0] // thumb_px
        expect = img.reshape(thumb_px, f, thumb_px, f, 3).mean(axis=(1, 3)).astype(np.uint8)
        rr, cc = divmod(i, grid)
        block = got[rr * thumb_px : (rr + 1) * thumb_px, cc * thumb_px : (cc + 1) * thumb_px]
        assert (block == expect).all()
    # px_sum is the decoded-canvas byte sum (codec-independent fingerprint)
    assert int(mid.loc[target, "px_sum"]) == int(got.astype(np.int64).sum())
