"""Cell-index and geodesic kernel properties."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark.functions import cells, geo


def _rand(n=5000, seed=1):
    rng = np.random.default_rng(seed)
    return rng.uniform(-80, 80, n), rng.uniform(-179.5, 179.5, n)


def test_s2_roundtrip_leaf():
    lat, lon = _rand()
    face, i, j = cells.s2_face_ij(lat, lon)
    leaf = cells.s2_cell_from_face_ij(face, i, j, 30)
    f2, i2, j2 = cells.s2_leaf_to_face_ij(leaf)
    assert (f2 == face).all() and (i2 == i).all() and (j2 == j).all()


def test_s2_level15_center_within_cell():
    lat, lon = _rand(2000, 2)
    c = cells.s2_cell_np(lat, lon, 15)
    clat, clon = cells.s2_cell_center_latlon(c, 15)
    d = geo.haversine_m_np(lat, lon, clat, clon)
    # level-15 cells are ~300 m across; center distance < half diagonal
    assert d.max() < 300.0


def test_s2_hierarchy():
    lat, lon = _rand(2000, 3)
    c15 = cells.s2_cell_np(lat, lon, 15).view(np.uint64)
    c10 = cells.s2_cell_np(lat, lon, 10).view(np.uint64)
    lsb10 = np.uint64(1) << np.uint64(2 * (30 - 10))
    parent = (c15 & ~(np.uint64(2) * lsb10 - np.uint64(1))) | lsb10
    assert (parent == c10).all()


def test_s2_same_point_same_cell():
    lat, lon = _rand(100, 4)
    assert (cells.s2_cell_np(lat, lon, 15) == cells.s2_cell_np(lat, lon, 15)).all()


def test_s2_known_faces():
    # cube face centers: +x (0,0), +y (0,90), +z north pole, -x (0,180)
    lats = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lons = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    face, _, _ = cells.s2_face_ij(lats, lons)
    assert list(face) == [0, 1, 2, 3, 4, 5]


def test_hex_center_distance_bounded():
    lat, lon = _rand(2000, 5)
    c = cells.hex_cell_np(lat, lon, 9)
    hlat, hlon = cells.hex_cell_center_latlon(c)
    # plane-space distance must be within the hex circumradius (= edge)
    x1 = np.radians(lon) * cells.EARTH_RADIUS_M
    y1 = np.radians(lat) * cells.EARTH_RADIUS_M
    x2 = np.radians(hlon) * cells.EARTH_RADIUS_M
    y2 = np.radians(hlat) * cells.EARTH_RADIUS_M
    assert np.hypot(x1 - x2, y1 - y2).max() <= cells.hex_edge_m(9) + 1e-6


def test_vincenty_against_known_values():
    # Flinders Peak -> Buninyong (the canonical Vincenty test pair):
    # 54972.271 m on WGS-84
    d = geo.vincenty_m_np(
        np.array([-37.95103341]),
        np.array([144.42486789]),
        np.array([-37.65282114]),
        np.array([143.92649554]),
    )
    assert abs(d[0] - 54972.271) < 0.05


def test_vincenty_haversine_agree():
    lat, lon = _rand(1000, 7)
    lat2, lon2 = _rand(1000, 8)
    v = geo.vincenty_m_np(lat, lon, lat2, lon2)
    h = geo.haversine_m_np(lat, lon, lat2, lon2)
    ok = np.isfinite(v)
    # ellipsoidal vs spherical: within 0.6 %
    rel = np.abs(v[ok] - h[ok]) / np.maximum(v[ok], 1.0)
    assert rel.max() < 0.006


def test_vincenty_zero_and_symmetry():
    lat, lon = _rand(200, 9)
    assert np.allclose(geo.vincenty_m_np(lat, lon, lat, lon), 0.0)
    lat2, lon2 = _rand(200, 10)
    d1 = geo.vincenty_m_np(lat, lon, lat2, lon2)
    d2 = geo.vincenty_m_np(lat2, lon2, lat, lon)
    assert np.allclose(d1, d2, rtol=1e-9, atol=1e-6)


def test_hex_parent_res0_raises():
    """A res-0 cell has no parent: hex_parent_np must raise, not pack a
    negative res into the id (ADVICE r5)."""
    import numpy as np
    import pytest

    from gtfs_osm_sync_spark.functions import cells

    c0 = cells.hex_cell_np(np.array([10.0]), np.array([20.0]), 0)
    with pytest.raises(ValueError, match="res-0"):
        cells.hex_parent_np(c0)
    # mixed arrays fail too (any res-0 member poisons the batch)
    c9 = cells.hex_cell_np(np.array([10.0]), np.array([20.0]), 9)
    with pytest.raises(ValueError, match="res-0"):
        cells.hex_parent_np(np.concatenate([c9, c0]))


def test_vin_over_hav_bracket_contains_curvature_radii():
    """VIN_OVER_HAV_MIN/MAX must bracket both WGS-84 curvature radii
    (meridional M, prime-vertical N) over the mean radius at every
    latitude: the haversine bands that skip the Vincenty kernel rest on
    M/R and N/R lying inside [MIN, MAX]."""
    e2 = geo.WGS84_F * (2.0 - geo.WGS84_F)
    s2 = np.sin(np.radians(np.linspace(0.0, 90.0, 9001))) ** 2
    m = geo.WGS84_A * (1.0 - e2) / (1.0 - e2 * s2) ** 1.5
    n = geo.WGS84_A / np.sqrt(1.0 - e2 * s2)
    ratios = np.concatenate([m, n]) / geo.EARTH_RADIUS_M
    assert geo.VIN_OVER_HAV_MIN <= ratios.min()
    assert geo.VIN_OVER_HAV_MAX >= ratios.max()
    # the bracket is tight to ~1e-5, not a loose tolerance
    assert ratios.min() - geo.VIN_OVER_HAV_MIN < 1e-5
    assert geo.VIN_OVER_HAV_MAX - ratios.max() < 1e-5


def _destination(lat, lon, d, brg):
    """Spherical destination point (the haversine metric's geodesic) at
    distance d meters and initial bearing brg radians; lon unwrapped."""
    phi1, lam1, delta = np.radians(lat), np.radians(lon), d / geo.EARTH_RADIUS_M
    phi2 = np.arcsin(
        np.sin(phi1) * np.cos(delta) + np.cos(phi1) * np.sin(delta) * np.cos(brg)
    )
    lam2 = lam1 + np.arctan2(
        np.sin(brg) * np.sin(delta) * np.cos(phi1),
        np.cos(delta) - np.sin(phi1) * np.sin(phi2),
    )
    return np.degrees(phi2), np.degrees(lam2)


def _partners_within(rng, n, radius_m):
    """n random (point, partner) pairs with haversine(point, partner) <
    radius_m, |lat| <= 89 on both ends and no antimeridian crossing."""
    lat = rng.uniform(-89.0, 89.0, 4 * n)
    lon = rng.uniform(-179.0, 179.0, 4 * n)
    d = radius_m * np.sqrt(rng.uniform(0.0, 1.0, 4 * n)) * 0.999999
    plat, plon = _destination(lat, lon, d, rng.uniform(0.0, 2.0 * np.pi, 4 * n))
    ok = (
        (np.abs(plat) <= 89.0)
        & (np.abs(plon) < 180.0)
        & (geo.haversine_m_np(lat, lon, plat, plon) < radius_m)
    )
    idx = np.nonzero(ok)[0][:n]
    assert len(idx) == n
    return lat[idx], lon[idx], plat[idx], plon[idx]


def _partners_at_edge(radius_m):
    """Partners due N, S, E and W at 0.9999999 r from points at lat 0,
    45, 80 and 89.5 (and their mirror south) and lon 0 and +/-179.99,
    where the reach bbox's latitude and longitude half-widths are
    tightest. The cover does not wrap at the antimeridian, so partners
    whose longitude crosses +/-180 are left out."""
    lat, lon, brg = (
        a.ravel()
        for a in np.meshgrid(
            [0.0, 45.0, 80.0, 89.5, -45.0, -80.0, -89.5],
            [0.0, 179.99, -179.99],
            np.radians([0.0, 90.0, 180.0, 270.0]),
        )
    )
    plat, plon = _destination(lat, lon, np.full(len(lat), 0.9999999 * radius_m), brg)
    ok = np.abs(plon) <= 180.0
    assert (geo.haversine_m_np(lat, lon, plat, plon)[ok] < radius_m).all()
    return lat[ok], lon[ok], plat[ok], plon[ok]


def test_cover_cells_contain_every_partner_cell(spark):
    """The one candidate primitive: for random (point, partner within r)
    pairs, the partner's cover_cell_col lies in the point's
    cover_cells_col, at every radius the engine joins with (compare's
    70 m floor, 400 m, the 402.25 m Vincenty shell, 20 km, 30 km), plus
    the deterministic partners at the edge of the reach."""
    radii = [70.0, 400.0, 402.25, 20_000.0, 30_000.0]
    rng = np.random.default_rng(20261016)
    rows = []
    for i, r in enumerate(radii):
        for lat, lon, plat, plon in (_partners_within(rng, 400, r), _partners_at_edge(r)):
            rows += [(i, *map(float, t)) for t in zip(lat, lon, plat, plon)]
    df = spark.createDataFrame(rows, "ri int, lat double, lon double, plat double, plon double")
    covered = F.coalesce(
        *[
            F.when(
                F.col("ri") == i,
                F.array_contains(
                    cells.cover_cells_col(F.col("lat"), F.col("lon"), r),
                    cells.cover_cell_col(F.col("plat"), F.col("plon"), r),
                ),
            )
            for i, r in enumerate(radii)
        ]
    )
    missed = df.filter(~covered).select("ri", "lat", "lon", "plat", "plon").collect()
    assert not missed, f"{len(missed)} partners outside the cover, e.g. {missed[:3]}"
    with pytest.raises(ValueError):
        cells.cover_grid_deg(69.9)


def test_grid_stride_and_tight_cover(spark):
    """The floor grid's packing stride keeps the finest grid the engine
    keys on (cover_grid_deg(70 m), |lon index| up to 272k) injective: a
    row's cells at lon -180..180 all sort below the next row's. A 400 m
    cover is the reach bbox's exact cells, at most 3 rows x 4 columns
    below |lat| 40."""
    g = cells.cover_grid_deg(70.0)
    pts = spark.createDataFrame(
        [(row, (row + 0.5) * g, lon) for row in (10, 11) for lon in (-180.0, 0.0, 179.9999)],
        "row int, lat double, lon double",
    )
    got = (
        pts.select("row", cells.grid_cell_col(F.col("lat"), F.col("lon"), g).alias("c"))
        .groupBy("row")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"), F.countDistinct("c").alias("n"))
        .orderBy("row")
        .collect()
    )
    assert [r["n"] for r in got] == [3, 3]
    assert got[0]["hi"] < got[1]["lo"]
    # the oracle-side SQL formula packs with the same stride
    sql_eq = pts.select(
        (F.expr(cells.grid_cell_sql("lat", "lon", g))
         == cells.grid_cell_col(F.col("lat"), F.col("lon"), g)).alias("eq")
    )
    assert all(r["eq"] for r in sql_eq.collect())

    lat, lon = (a.ravel() for a in np.meshgrid(np.linspace(-40.0, 40.0, 161), [-120.0, 0.3, 77.7]))
    n_cells = (
        spark.createDataFrame([(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double")
        .select(F.size(cells.cover_cells_col(F.col("lat"), F.col("lon"), 400.0)).alias("n"))
        .agg(F.max("n").alias("max"), F.min("n").alias("min"))
        .first()
    )
    assert n_cells["min"] >= 4 and n_cells["max"] <= 12, n_cells
