"""Point-in-polygon: ray-casting UDF + bbox-pruned join vs brute force."""

import numpy as np
import pandas as pd

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.operators import pip as PIP
from gtfs_osm_sync_spark.operators.spatial_join import geotag_images

N_IMAGES = 2500


def test_wkb_roundtrip():
    coords = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]
    wkb = synth.wkb_polygon(coords)
    ring = PIP.parse_wkb_polygon(wkb)
    assert ring.shape == (5, 2)  # auto-closed
    assert (ring[0] == ring[-1]).all()
    assert ring[0][0] == -1.0 and ring[2][1] == 1.0


def test_ray_casting_square():
    ring = np.array([[-1.0, -1.0], [1.0, -1.0], [1.0, 1.0], [-1.0, 1.0], [-1.0, -1.0]])
    lat = np.array([0.0, 0.0, 2.0, 0.999, -0.999, 1.5])
    lon = np.array([0.0, 2.0, 0.0, 0.999, -0.999, 1.5])
    got = PIP.point_in_ring_np(lat, lon, ring)
    assert list(got) == [True, False, False, True, True, False]


def test_ray_casting_concave():
    # arrow-head concave polygon: (0,0),(4,0),(4,4),(2,1.5),(0,4)
    ring = np.array([[0, 0], [4, 0], [4, 4], [2, 1.5], [0, 4], [0, 0]], dtype=float)
    # (2, 3) sits in the concave notch -> outside; (1, 1) inside
    got = PIP.point_in_ring_np(np.array([3.0, 1.0]), np.array([2.0, 1.0]), ring)
    assert list(got) == [False, True]


def test_pip_join_matches_bruteforce(spark):
    images = synth.generate_images(spark, N_IMAGES, partitions=6)
    geo = geotag_images(images).select("image_id", "lat", "lon")
    polys = synth.generate_polygons(spark)
    got = (
        PIP.pip_join(geo, polys)
        .select("image_id", "poly_id")
        .toPandas()
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )

    # brute force: every image x every polygon, no bbox pruning
    ids = np.arange(0, N_IMAGES)
    ph = synth.splitmix64(ids.astype(np.uint64)).view(np.int64)
    lat, lon = synth.phash_latlon_np(ph)
    ppdf = polys.toPandas()
    rows = []
    for _, p in ppdf.iterrows():
        ring = PIP.parse_wkb_polygon(p["wkb"])
        inside = PIP.point_in_ring_np(lat, lon, ring)
        for i in np.nonzero(inside)[0]:
            rows.append((f"img{int(ids[i]):012d}", p["poly_id"]))
    want = (
        pd.DataFrame(rows, columns=["image_id", "poly_id"])
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    assert len(want) > 100, "fixture produced too few PIP hits"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

def test_polygon_cells_covering_property():
    """Sampled-point covering: every point inside a polygon's bbox must
    land in one of polygon_cells' covering cells (the ADVICE.md round-1
    bug: q extremes from only 2 diagonal corners missed ~half the
    interior at tall bboxes)."""
    from gtfs_osm_sync_spark.functions.cells import hex_cell_np

    rng = np.random.default_rng(7)
    for res in (7, 9):
        for (lat0, lon0, dlat, dlon) in [
            (27.4, -126.9, 0.1, 0.005),  # tall-skinny (the reported case)
            (27.4, -126.9, 0.005, 0.1),  # wide-flat
            (-45.0, 170.0, 0.08, 0.08),  # southern hemisphere
            (60.0, 10.0, 0.05, 0.2),  # high latitude
        ]:
            pdf = pd.DataFrame(
                [("p", b"", lat0, lat0 + dlat, lon0, lon0 + dlon)],
                columns=["poly_id", "wkb", "min_lat", "max_lat", "min_lon", "max_lon"],
            )
            cells = set(int(x) for x in PIP.polygon_cells(pdf, res=res).hex_cell)
            lat = rng.uniform(lat0, lat0 + dlat, 4000)
            lon = rng.uniform(lon0, lon0 + dlon, 4000)
            pc = hex_cell_np(lat, lon, res)
            missed = sum(1 for c in pc if int(c) not in cells)
            assert missed == 0, f"res={res} bbox={lat0,lon0,dlat,dlon}: {missed} points outside covering"


def test_polygon_cells_nullable_int64_dtype():
    """A giant polygon's None marker must not upcast cell ids to float64
    (2^53 mantissa corrupts ~2.6e18 ids)."""
    pdf = pd.DataFrame(
        [
            ("small", b"", 10.0, 10.01, 10.0, 10.01),
            ("giant", b"", -80.0, 80.0, -170.0, 170.0),
        ],
        columns=["poly_id", "wkb", "min_lat", "max_lat", "min_lon", "max_lon"],
    )
    out = PIP.polygon_cells(pdf, res=9, max_cells=100_000)
    assert str(out.hex_cell.dtype) == "Int64"
    assert out[out.poly_id == "giant"].hex_cell.isna().all()
    small = out[out.poly_id == "small"].hex_cell
    # round-tripping through float64 would quantize to multiples of 512
    assert any(int(c) % 512 != 0 for c in small)


def test_pip_join_plan_is_hash_join(spark):
    """The cell-wired candidate path must plan a broadcast HASH join on
    the grid cell, not a BroadcastNestedLoopJoin over bbox theta
    predicates. The points come from a local table, so any Python node
    in the executed plan would be pip_join's own."""
    ids = np.arange(200)
    lat, lon = synth.phash_latlon_np(synth.splitmix64(ids.astype(np.uint64)).view(np.int64))
    geo = spark.createDataFrame(pd.DataFrame({"image_id": [f"img{i}" for i in ids], "lat": lat, "lon": lon}))
    polys = synth.generate_polygons(spark)
    out = PIP.pip_join(geo, polys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only BNLJ allowed is the giant-polygon bbox fallback branch
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # no Python node anywhere: the cover, the key and the ray cast run in the JVM
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def _pip_vs_numpy(spark, rings, lat, lon, wkbs=None):
    """pip_join's (point, polygon) pairs and point_in_ring_np's over all
    points x polygons; rings are (lon, lat) vertex lists."""
    rows = []
    for i, ring in enumerate(rings):
        xs, ys = [c[0] for c in ring], [c[1] for c in ring]
        wkb = wkbs[i] if wkbs else synth.wkb_polygon(ring)
        rows.append((f"p{i}", wkb, min(ys), max(ys), min(xs), max(xs)))
    polys = spark.createDataFrame(rows, synth.POLYGONS_SCHEMA)
    pts = spark.createDataFrame(
        [(f"i{k}", float(a), float(b)) for k, (a, b) in enumerate(zip(lat, lon))],
        "image_id string, lat double, lon double",
    )
    got = {(r[0], r[1]) for r in PIP.pip_join(pts, polys).select("image_id", "poly_id").collect()}
    want = set()
    for i, (_pid, wkb, *_bbox) in enumerate(rows):
        inside = PIP.point_in_ring_np(np.asarray(lat), np.asarray(lon), PIP.parse_wkb_polygon(wkb))
        want |= {(f"i{k}", f"p{i}") for k in np.nonzero(inside)[0]}
    return got, want


def test_pip_join_vertex_and_horizontal_edge(spark):
    """Points on a vertex and on horizontal edges follow point_in_ring_np's
    half-open (y1 > y) != (y2 > y) parity exactly."""
    sq = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]
    tri = [(2.0, 2.0), (3.0, 2.0), (2.5, 3.0)]
    lat = [-1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 0.0, 2.0, 2.0, 3.0, 2.0, 0.5]
    lon = [-1.0, 1.0, 1.0, -1.0, 0.0, 0.0, 0.0, 2.0, 2.5, 2.5, 3.0, 1.0]
    got, want = _pip_vs_numpy(spark, [sq, tri], lat, lon)
    assert got == want
    assert ("i6", "p0") in got and ("i4", "p0") in got and ("i5", "p0") not in got


def test_pip_join_unclosed_wkb_ring(spark):
    """A WKB ring whose last vertex is not its first is closed by
    pip_join the way point_in_ring_np closes it."""
    import struct

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 1.5), (0.0, 4.0)]
    wkb = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
    wkb += b"".join(struct.pack("<dd", x, y) for x, y in ring)
    assert len(PIP.parse_wkb_polygon(wkb)) == len(ring)  # stored open
    rng = np.random.default_rng(11)
    lat, lon = rng.uniform(-0.5, 4.5, 400), rng.uniform(-0.5, 4.5, 400)
    got, want = _pip_vs_numpy(spark, [ring], lat, lon, wkbs=[wkb])
    assert got == want and len(want) > 50


def test_pip_join_bbox_straddles_negative_grid_lines(spark):
    """A polygon whose bbox crosses cover-grid lines at negative lat/lon:
    points a hair either side of each line and on it match the oracle."""
    g = PIP.COVER_DEG
    ring = [(-2.5 * g, -1.5 * g), (-0.5 * g, -1.2 * g), (-0.4 * g, -0.3 * g), (-2.2 * g, -0.6 * g)]
    eps = 1e-9
    lat, lon = [], []
    for a in (-1.5 * g, -g - eps, -g, -g + eps, -0.7 * g, -0.3 * g):
        for b in (-2.5 * g, -2 * g - eps, -2 * g, -2 * g + eps, -1.5 * g, -g - eps, -g, -g + eps, -0.45 * g):
            lat.append(a)
            lon.append(b)
    rng = np.random.default_rng(5)
    lat += list(rng.uniform(-1.6 * g, -0.2 * g, 300))
    lon += list(rng.uniform(-2.6 * g, -0.3 * g, 300))
    got, want = _pip_vs_numpy(spark, [ring], lat, lon)
    assert got == want and len(want) > 50


def test_pip_join_giant_band_fallback(spark):
    """The band polygon spans more than MAX_COVER_CELLS grid cells, so it
    takes the bbox nested-loop branch; a small polygon inside it keeps
    the cell join. Both agree with the oracle."""
    band = [(-170.0, -10.0), (170.0, -10.0), (170.0, 10.0), (-170.0, 10.0)]
    small = [(20.0, 5.0), (20.3, 5.0), (20.3, 5.3), (20.0, 5.3)]
    assert (20.0 / PIP.COVER_DEG) * (340.0 / PIP.COVER_DEG) > PIP.MAX_COVER_CELLS
    rng = np.random.default_rng(9)
    lat = list(rng.uniform(-12.0, 12.0, 300)) + list(rng.uniform(4.9, 5.4, 100)) + [10.0, -10.0, 0.0]
    lon = list(rng.uniform(-179.0, 179.0, 300)) + list(rng.uniform(19.9, 20.4, 100)) + [0.0, 0.0, 170.0]
    got, want = _pip_vs_numpy(spark, [band, small], lat, lon)
    assert got == want
    assert sum(p == "p0" for _, p in want) > 100 and sum(p == "p1" for _, p in want) > 20
