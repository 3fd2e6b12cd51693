"""The flagship operator set: the cover-grid radius-join builder,
radius-bounded kNN, and image geotagging.

This is the Spark-first re-expression of the reference's
compareBusStopData (task/CompareData.java:1000-1290), which is an O(N*M)
nested Vincenty loop over parallelStream. Every radius join in the
engine (radius_join/knn_join here, assign_images, compare's conflict and
adoption probes, the driver's spatial queries) goes through ONE builder,
cover_radius_join:

  build side --cover_cells_col--> explode to the grid cells of its reach bbox
  probe side --cover_cell_col-->  its own grid cell (floor arithmetic)
  hash equi-join on (extra keys, cell)   (broadcast / shuffle-hash)
  conservative bbox test  (no trig)
  haversine with cos(lat) hoisted to one evaluation per row
  keep: haversine < reach_m, or inside a (lo, hi) band

Scale notes:
- Candidate generation multiplies ONE side by the 4-12 floor-grid cells
  its reach bbox touches at |lat| <= 40 (more toward the poles, where
  the bbox widens in longitude); it is all JVM Column arithmetic, so the
  join stage codegens with no Python boundary.
- When the exploded side does not fit a broadcast, both sides shuffle on
  the cell; dense urban cells are the skew risk, handled by AQE skew
  splitting and, in radius_join, by explicit salting (n_salt).
- The cover cells are a covering, not an exact set: the haversine keep
  predicate is the precise filter (same contract as the reference's
  RANGE check), and Vincenty consumers ask for the proven haversine
  superset of their Vincenty keep set (VIN_OVER_HAV_MIN).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.cells import COVER_MIN_RADIUS_M, cover_cell_col, cover_cells_col
from ..functions.geo import EARTH_RADIUS_M

DEFAULT_RADIUS_M = 400.0  # reference RANGE, CompareData.java:129
ERROR_TO_ZERO_M = 0.5  # reference ERROR_TO_ZERO, CompareData.java:127
DEFAULT_K = 5  # north_rule kNN k
HEX_RES = 9


def cover_radius_join(
    left: DataFrame,
    right: DataFrame,
    left_ll: tuple[str, str],
    right_ll: tuple[str, str],
    reach_m: float,
    band: tuple[float | None, float | None] | None = None,
    how: str = "inner",
    on: Sequence[str] = (),
    hint: str | None = "broadcast",
    explode: str = "right",
) -> DataFrame:
    """Every (left, right) row pair whose haversine distance is < reach_m.

    left_ll / right_ll name each side's (lat, lon) columns. band=(lo, hi)
    narrows the keep set to lo < haversine < hi (either end None =
    unbounded; hi <= reach_m): reach_m alone sizes the bbox and the cover
    grid (never below cells.COVER_MIN_RADIUS_M), so joins sharing a reach
    share the cell column. how: inner / left / left_semi. on: extra
    equi-keys present on both sides (emitted once, the left's). hint
    applies to the right side: "broadcast", "shuffle_hash" or None.
    explode names the side that carries the cover cells; the other side
    keys by its own cell. Apart from the keys, no right-side column may
    share a name with a left-side one (ValueError).

    Output: the left columns, then (unless left_semi) the right columns
    and dist_m, the haversine in meters (NULL for a left join's unmatched
    rows) -- the same expression tree as functions.geo.haversine_m_col
    with the cos factors materialized per row, so its doubles are
    bit-identical.
    """
    if explode not in ("left", "right"):
        raise ValueError(f"explode must be 'left' or 'right' (got {explode!r})")
    (llat, llon), (rlat, rlon) = left_ll, right_ll
    grid_m = max(reach_m, COVER_MIN_RADIUS_M)

    def cell(lat, lon, exploded):
        if exploded:
            return F.explode(cover_cells_col(F.col(lat), F.col(lon), grid_m))
        return cover_cell_col(F.col(lat), F.col(lon), grid_m)

    # one projection per side (every DataFrame step is a driver-side
    # analysis pass, which a ~1 s join pays per call)
    left_cols = left.columns
    clash = [c for c in right.columns if c in left_cols and c not in on]
    if clash:
        raise ValueError(f"right-side columns {clash} also name left-side columns")
    right_cols = right.columns
    lhs = left.select(
        "*",
        F.cos(F.radians(F.col(llat))).alias("_lcos"),
        cell(llat, llon, explode == "left").alias("_lcell"),
    )
    rhs = right.select(
        *[F.col(c).alias(f"_on_{c}") if c in on else F.col(c) for c in right_cols],
        F.cos(F.radians(F.col(rlat))).alias("_rcos"),
        cell(rlat, rlon, explode == "right").alias("_rcell"),
    )
    if hint is not None:
        rhs = rhs.hint(hint)

    # Conservative bbox, evaluated before any trig: haversine d >= R|dlat|
    # gives the lat bound; d >= 2R*asin(sqrt(cos1*cos2)*|sin(dlon/2)|) with
    # sin(x) >= 0.9999873*x for |x| <= 0.5 deg (0.9999874 divided by the
    # 1.0000001 float margin) gives the lon bound, which only applies under
    # the |dlon| < 1 deg guard -- larger dlon skips the test, it never drops.
    dlat = F.col(rlat) - F.col(llat)
    dlon = F.col(rlon) - F.col(llon)
    cosprod = F.col("_lcos") * F.col("_rcos")
    dlat_bound = math.degrees(reach_m / EARTH_RADIUS_M) * 1.0000001
    dlon_bound2 = (math.degrees((reach_m / EARTH_RADIUS_M) / 0.9999874) * 1.0000001) ** 2
    bbox = (F.abs(dlat) < F.lit(dlat_bound)) & (
        (dlon * dlon * cosprod < F.lit(dlon_bound2)) | (F.abs(dlon) >= F.lit(1.0))
    )
    hav = F.lit(2.0 * EARTH_RADIUS_M) * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(dlat) / 2.0), 2)
            + cosprod * F.pow(F.sin(F.radians(dlon) / 2.0), 2)
        )
    )
    lo, hi = band or (None, None)
    keep = hav < F.lit(reach_m if hi is None else hi)
    if lo is not None:
        keep = (hav > F.lit(lo)) & keep
    cond = F.col("_lcell") == F.col("_rcell")
    for k in on:
        cond = cond & (F.col(k) == F.col(f"_on_{k}"))
    out_cols = left_cols
    if how != "left_semi":
        out_cols = out_cols + [c for c in right_cols if c not in on] + [hav.alias("dist_m")]
    return lhs.join(rhs, cond & bbox & keep, how).select(*out_cols)


def geotag_images(images: DataFrame) -> DataFrame:
    """images + (lat, lon, hex_cell, s2_cell) derived columns.

    One map-only stage and ONE fused Arrow round-trip: a single pandas UDF
    computes geotag + both cell ids per batch (three separate UDFs would
    triple the Python worker serde for the same numbers).
    """
    from ..functions.cells import hex_cell_np, s2_cell_np
    from ..synth import phash_latlon_np

    @F.pandas_udf("lat double, lon double, hex_cell long, s2_cell long")
    def geotag(phash: pd.Series) -> pd.DataFrame:
        ph = phash.to_numpy(np.int64)
        lat, lon = phash_latlon_np(ph)
        return pd.DataFrame(
            {
                "lat": lat,
                "lon": lon,
                "hex_cell": hex_cell_np(lat, lon, HEX_RES),
                "s2_cell": s2_cell_np(lat, lon, 15),
            }
        )

    out = images.withColumn("_g", geotag(F.col("phash")))
    return out.select("*", "_g.lat", "_g.lon", "_g.hex_cell", "_g.s2_cell").drop("_g")


def radius_join(
    images_geo: DataFrame,
    features: DataFrame,
    radius_m: float = DEFAULT_RADIUS_M,
    broadcast_features: bool = True,
    n_salt: int = 0,
) -> DataFrame:
    """J1: every (image, feature) pair within radius_m meters.

    images_geo must carry (image_id, lat, lon); the feature coordinates
    come back as f_lat/f_lon, plus `dist_m`. A hex_cell/s2_cell on both
    sides comes back once, the image's; any other shared column name
    raises ValueError.

    Skew handling for the shuffle path (broadcast_features=False):
    AQE skew-join splitting is on session-wide; n_salt > 1 additionally
    salts the hot-cell shuffle EXPLICITLY (north_rule): the big side gets
    salt = hash(image_id) % n_salt, the small (cell-exploded) side is
    replicated across all salts, and the equi-join key becomes
    (cell, salt) -- a dense urban cell spreads over n_salt tasks.
    Results are identical with/without salting (tests pin this).
    """
    # cell ids the features carry give way to the image's own
    derived = [
        c for c in ("hex_cell", "s2_cell") if c in features.columns and c in images_geo.columns
    ]
    f = features.drop(*derived) if derived else features
    f = f.withColumnsRenamed({"lat": "f_lat", "lon": "f_lon"})
    on = []
    if not broadcast_features and n_salt and n_salt > 1:
        images_geo = images_geo.withColumn(
            "_salt", F.pmod(F.xxhash64("image_id"), F.lit(n_salt))
        )
        f = f.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        ).withColumn("_salt", F.col("_salt").cast("long"))
        on = ["_salt"]
    out = cover_radius_join(
        images_geo, f, ("lat", "lon"), ("f_lat", "f_lon"), radius_m,
        on=on, hint="broadcast" if broadcast_features else None,
    )
    return out.drop(*on)


def knn_join(
    images_geo: DataFrame,
    features: DataFrame,
    k: int = DEFAULT_K,
    radius_m: float = DEFAULT_RADIUS_M,
    id_col: str = "image_id",
    broadcast_features: bool = True,
) -> DataFrame:
    """J4: radius-bounded kNN, nearest-wins with (dist, feature_id)
    tie-break (deterministic replacement for the reference's
    first-match-wins scan order — SURVEY §4 deviation note)."""
    pairs = radius_join(images_geo, features, radius_m, broadcast_features)
    w = W.partitionBy(id_col).orderBy(F.asc("dist_m"), F.asc("feature_id"))
    return pairs.withColumn("rank_k", F.row_number().over(w)).filter(
        F.col("rank_k") <= k
    )
