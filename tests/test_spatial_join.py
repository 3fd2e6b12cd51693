"""Flagship spatial-join operators vs an independent brute-force oracle.

The oracle reimplements the reference's semantics (nearest-wins,
(dist, feature_id) tie-break — SURVEY §4 deviations) in pandas/numpy with
NO cell index: every (image, feature) pair is evaluated, exactly like
CompareData.java:1016-1069's nested loop. Equality therefore proves both
the kNN/category logic AND that the cover-grid prejoin is a covering.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.functions.geo import VIN_OVER_HAV_MIN, haversine_m_np, vincenty_m_np
from gtfs_osm_sync_spark.operators import spatial_join as SJ
from gtfs_osm_sync_spark.pipeline import assign_images

N_IMAGES = 3000
N_FEATURES = 60


@pytest.fixture(scope="module")
def data(spark):
    images = synth.generate_images(spark, N_IMAGES, partitions=8)
    features = synth.generate_features(spark, N_IMAGES, N_FEATURES)
    images_geo = SJ.geotag_images(images).select(
        "image_id", "phash", "lat", "lon", "hex_cell", "s2_cell"
    )
    # the image's equi-match key: its own index zero-padded, mirroring
    # gen_features_pdf's anchor linkage
    images_geo = images_geo.withColumn(
        "gtfs_id_img",
        F.lpad(F.regexp_replace(F.regexp_replace("image_id", "^img", ""), "^0+", ""), 8, "0"),
    )
    return images_geo, features


def _oracle_frames():
    """Brute-force pandas oracle over the same deterministic data."""
    ids = np.arange(0, N_IMAGES)
    ph = synth.splitmix64(ids.astype(np.uint64)).view(np.int64)
    ilat, ilon = synth.phash_latlon_np(ph)
    img = pd.DataFrame(
        {
            "image_id": [f"img{int(i):012d}" for i in ids],
            "gtfs_id_img": [str(int(i)).zfill(8) for i in ids],
            "lat": ilat,
            "lon": ilon,
        }
    )
    feat = synth.gen_features_pdf(np.arange(0, N_FEATURES), n_images=N_IMAGES, n_features=N_FEATURES)
    return img, feat


def _oracle_pairs(radius_m=400.0):
    img, feat = _oracle_frames()
    il = img["lat"].to_numpy()[:, None]
    io = img["lon"].to_numpy()[:, None]
    fl = feat["lat"].to_numpy()[None, :]
    fo = feat["lon"].to_numpy()[None, :]
    d = haversine_m_np(
        np.broadcast_to(il, (len(img), len(feat))),
        np.broadcast_to(io, (len(img), len(feat))),
        np.broadcast_to(fl, (len(img), len(feat))),
        np.broadcast_to(fo, (len(img), len(feat))),
    )
    ii, ff = np.nonzero(d < radius_m)
    return pd.DataFrame(
        {
            "image_id": img["image_id"].to_numpy()[ii],
            "gtfs_id_img": img["gtfs_id_img"].to_numpy()[ii],
            "feature_id": feat["feature_id"].to_numpy()[ff],
            "gtfs_id": feat["gtfs_id"].to_numpy()[ff],
            "dist_m": d[ii, ff],
        }
    )


def test_radius_join_matches_bruteforce(spark, data):
    images_geo, features = data
    got = (
        SJ.radius_join(images_geo, features)
        .select("image_id", "feature_id")
        .toPandas()
        .sort_values(["image_id", "feature_id"])
        .reset_index(drop=True)
    )
    want = (
        _oracle_pairs()[["image_id", "feature_id"]]
        .sort_values(["image_id", "feature_id"])
        .reset_index(drop=True)
    )
    assert len(want) > 50, "fixture produced too few in-radius pairs"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_knn_matches_bruteforce(spark, data):
    images_geo, features = data
    got = (
        SJ.knn_join(images_geo, features, k=5)
        .select("image_id", "feature_id", "rank_k")
        .toPandas()
        .sort_values(["image_id", "rank_k"])
        .reset_index(drop=True)
    )
    pairs = _oracle_pairs()
    pairs = pairs.sort_values(["image_id", "dist_m", "feature_id"])
    pairs["rank_k"] = pairs.groupby("image_id").cumcount() + 1
    want = (
        pairs[pairs["rank_k"] <= 5][["image_id", "feature_id", "rank_k"]]
        .sort_values(["image_id", "rank_k"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_categorize_matches_bruteforce(spark, data):
    """assign_images' four-way category and nearest feature against the
    brute-force oracle."""
    images_geo, features = data
    got = (
        assign_images(images_geo, features)
        .select("image_id", "category", "nearest_feature_id")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pairs = _oracle_pairs()
    nearest = (
        pairs.sort_values(["image_id", "dist_m", "feature_id"])
        .groupby("image_id")
        .head(1)[["image_id", "feature_id"]]
        .rename(columns={"feature_id": "nearest_feature_id"})
    )
    pairs["id_match"] = (
        pairs["gtfs_id"].notna() & (pairs["gtfs_id"] == pairs["gtfs_id_img"])
    ).astype(int)
    pairs = pairs.sort_values(
        ["image_id", "id_match", "dist_m", "feature_id"],
        ascending=[True, False, True, True],
    )
    best = pairs.groupby("image_id").head(1)
    img, _ = _oracle_frames()
    merged = img[["image_id"]].merge(best, on="image_id", how="left")
    conds = [
        merged["id_match"].isna(),
        (merged["id_match"] == 1) & (merged["dist_m"] <= SJ.ERROR_TO_ZERO_M),
        merged["id_match"] == 1,
    ]
    merged["category"] = np.select(
        conds, ["UPLOAD_NO_CONFLICT", "NOTHING_NEW", "MODIFY"], "UPLOAD_CONFLICT"
    )
    want = (
        merged[["image_id", "category"]]
        .merge(nearest, on="image_id", how="left")
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want["nearest_feature_id"] = want["nearest_feature_id"].astype(object).where(
        want["nearest_feature_id"].notna(), None
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every branch of CompareData.java:1059-1287 must actually occur
    assert set(want["category"].unique()) == {
        "NOTHING_NEW",
        "MODIFY",
        "UPLOAD_CONFLICT",
        "UPLOAD_NO_CONFLICT",
    }


def test_radius_join_emits_one_probe_hex_cell(spark, data):
    """Features carrying the image's derived hex_cell come back with ONE
    hex_cell, the image's."""
    images_geo, features = data
    out = SJ.radius_join(images_geo, features.withColumn("hex_cell", F.lit(-1).cast("long")))
    assert out.columns.count("hex_cell") == 1
    got = out.select("image_id", "hex_cell").distinct()
    want = images_geo.select("image_id", "hex_cell")
    assert got.count() > 50
    assert got.exceptAll(want).count() == 0


def test_builder_keeps_vincenty_pair_beyond_haversine_radius(spark):
    """A meridional pair straddling the equator, dlat 0.18 deg: Vincenty
    19,903 m (inside 20 km) but haversine 20,015 m. A Vincenty consumer
    asks the builder for haversine < r / VIN_OVER_HAV_MIN and must get
    it; the plain haversine keep set must not contain it."""
    left = spark.createDataFrame([(1, -0.09, 20.0)], "c int, lat double, lon double")
    right = spark.createDataFrame([(2, 0.09, 20.0)], "s int, r_lat double, r_lon double")
    vin = float(vincenty_m_np(-0.09, 20.0, 0.09, 20.0))
    hav = float(haversine_m_np(-0.09, 20.0, 0.09, 20.0))
    assert vin < 20_000.0 < hav

    def join(reach_m):
        return SJ.cover_radius_join(left, right, ("lat", "lon"), ("r_lat", "r_lon"), reach_m)

    got = join(20_000.0 / VIN_OVER_HAV_MIN).collect()
    assert [(r["c"], r["s"]) for r in got] == [(1, 2)]
    assert got[0]["dist_m"] == pytest.approx(hav, abs=1e-6)
    assert join(20_000.0).count() == 0


def test_builder_rejects_shared_column_names(spark):
    """Apart from the equi-keys, a right-side column that names a
    left-side one is an error, not a silent pick -- in particular the
    right side's lat/lon columns."""
    left = spark.createDataFrame([(1, 0.0, 0.0)], "c int, lat double, lon double")
    for right, right_ll in [
        (spark.createDataFrame([(1, 0.0, 0.0)], "c int, r_lat double, r_lon double"), ("r_lat", "r_lon")),
        (spark.createDataFrame([(2, 0.0, 0.0)], "s int, lat double, r_lon double"), ("lat", "r_lon")),
    ]:
        with pytest.raises(ValueError, match="also name left-side"):
            SJ.cover_radius_join(left, right, ("lat", "lon"), right_ll, 400.0)
    with pytest.raises(ValueError, match="also name left-side"):
        SJ.radius_join(left.withColumn("image_id", F.lit("i")), left.withColumn("feature_id", F.lit("f")))


@pytest.mark.parametrize(
    "how,explode", [("inner", "right"), ("inner", "left"), ("left_semi", "left"), ("left", "right")]
)
def test_builder_band_and_keys_match_bruteforce(spark, how, explode):
    """Every builder mode against a NumPy brute force: a (lo, hi)
    haversine band, an extra equi-key, and either side exploded."""
    rng = np.random.default_rng(7)
    n_l, n_r, lo, hi = 300, 200, 150.0, 900.0
    llat, llon = rng.uniform(44.99, 45.01, n_l), rng.uniform(6.99, 7.02, n_l)
    rlat, rlon = rng.uniform(44.99, 45.01, n_r), rng.uniform(6.99, 7.02, n_r)
    lgrp, rgrp = rng.integers(0, 3, n_l), rng.integers(0, 3, n_r)
    left = spark.createDataFrame(
        [(i, int(lgrp[i]), float(llat[i]), float(llon[i])) for i in range(n_l)],
        "a int, grp int, lat double, lon double",
    )
    right = spark.createDataFrame(
        [(j, int(rgrp[j]), float(rlat[j]), float(rlon[j])) for j in range(n_r)],
        "b int, grp int, r_lat double, r_lon double",
    )
    d = haversine_m_np(llat[:, None], llon[:, None], rlat[None, :], rlon[None, :])
    hit = (d > lo) & (d < hi) & (lgrp[:, None] == rgrp[None, :])
    out = SJ.cover_radius_join(
        left, right, ("lat", "lon"), ("r_lat", "r_lon"), hi, band=(lo, None),
        how=how, on=["grp"], explode=explode,
    )
    if how == "left_semi":
        got = sorted({r["a"] for r in out.collect()})
        assert got == sorted(np.nonzero(hit.any(axis=1))[0].tolist())
        return
    rows = out.select("a", "b").collect()
    got = sorted((r["a"], r["b"]) for r in rows if r["b"] is not None)
    assert got == sorted(zip(*map(lambda x: x.tolist(), np.nonzero(hit))))
    assert len(got) > 100
    if how == "left":
        assert len({r["a"] for r in rows}) == n_l
    assert out.columns.count("grp") == 1


def test_knn_subset_of_radius(spark, data):
    images_geo, features = data
    knn = SJ.knn_join(images_geo, features, k=5).select("image_id", "feature_id")
    rad = SJ.radius_join(images_geo, features).select("image_id", "feature_id")
    assert knn.exceptAll(rad).count() == 0
