"""Point-in-polygon join over WKB polygons, with no Python on the point side.

The reference has no PIP (GO_Sync only uses bbox + radius,
HttpRequest.java:121-163); this is a north_rule [custom] operator. The
polygon layer is broadcast, so it is driver-sized by contract. pip_join:

1. decode: collects the polygon frame once per call and decodes each WKB
   outer ring into closed ``xs``/``ys`` array<double> columns (closed the
   way point_in_ring_np closes a ring).
2. candidates: each polygon explodes its bbox to its floor-grid cells
   (cells.grid_bbox_cells_col at COVER_DEG, an F.sequence in the JVM);
   each point keys by the same codegen floor expression
   (cells.grid_cell_col). floor is monotone, so the covering is exact
   with no padding and the equi-join plans as a BroadcastHashJoin.
   Polygons whose bbox spans more than MAX_COVER_CELLS cells
   (continental/global bands) take a bbox BroadcastNestedLoopJoin
   instead, disjoint by poly_id.
3. exact test: a bbox refine, then an even-odd ray cast (rays in +lon)
   written as an F.aggregate over the ring's edges. It keeps
   point_in_ring_np's half-open rule (y1 > y) != (y2 > y), so a point on
   an edge is decided deterministically and side-consistently, and its
   (x2-x1)*(y-y1)/(y2-y1)+x1 operation order, so both agree bit for bit.
   The crossing is only evaluated under when(cond, ...), where y1 != y2,
   so ANSI division never sees a zero divisor.

parse_wkb_polygon and point_in_ring_np are the NumPy reference (tests,
oracles); polygon_cells is the NumPy hex cover of a bbox, the same
rectangle tiles_for_bbox fetches.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import (
    grid_bbox_cells_col,
    grid_cell_col,
    grid_index_col,
    hex_bbox_axial_range,
    hex_cell_pack,
)

COVER_DEG = 0.1  # candidate grid cell size (degrees); ~11 km, a 0.7 deg polygon spans ~64 cells
MAX_COVER_CELLS = 10_000  # bboxes over ~10 x 10 deg take the bbox nested-loop join


def parse_wkb_polygon(wkb: bytes) -> np.ndarray:
    """WKB polygon -> (n, 2) array of (lon, lat) outer-ring coords.

    Supports little/big endian, type 3 (Polygon); only the outer ring is
    used (v0: no holes, matching FIXTURES.md §1.3)."""
    bo = "<" if wkb[0] == 1 else ">"
    (gtype,) = struct.unpack(bo + "I", wkb[1:5])
    if gtype != 3:
        raise ValueError(f"not a WKB polygon (type {gtype})")
    (nrings,) = struct.unpack(bo + "I", wkb[5:9])
    if nrings < 1:
        return np.zeros((0, 2))
    (npts,) = struct.unpack(bo + "I", wkb[9:13])
    coords = np.frombuffer(wkb, dtype=bo + "f8", count=npts * 2, offset=13)
    return coords.reshape(npts, 2).copy()


def close_ring(ring: np.ndarray) -> np.ndarray:
    """The ring with its first vertex repeated at the end if it is open."""
    if len(ring) and (ring[0] != ring[-1]).any():
        return np.vstack([ring, ring[0]])
    return ring


def point_in_ring_np(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: rays cast in +lon direction.

    ring: (n, 2) of (lon, lat), closed or open (auto-closed).
    Returns boolean array, same shape as lat/lon.
    """
    ring = close_ring(ring)
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    inside = np.zeros(x.shape, dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    for e in range(len(x1)):
        cond = (y1[e] > y) != (y2[e] > y)
        if not cond.any():
            continue
        xs = (x2[e] - x1[e]) * (y - y1[e]) / (y2[e] - y1[e]) + x1[e]
        inside ^= cond & (x < xs)
    return inside


def polygon_cells(poly_pdf: pd.DataFrame, res: int = 9, max_cells: int = 200_000) -> pd.DataFrame:
    """Covering hex cells per polygon: the q x r rectangle of its bbox
    (cells.hex_bbox_axial_range), q-major. Polygons whose rectangle holds
    more than max_cells cells get one row with a NULL cell (the
    global-band marker). Returns (poly_id, hex_cell nullable Int64).
    """
    q_lo, q_hi, r_lo, r_hi = hex_bbox_axial_range(
        poly_pdf["min_lat"].to_numpy(np.float64),
        poly_pdf["min_lon"].to_numpy(np.float64),
        poly_pdf["max_lat"].to_numpy(np.float64),
        poly_pdf["max_lon"].to_numpy(np.float64),
        res,
    )
    n = (q_hi - q_lo + 1) * (r_hi - r_lo + 1)
    giant = n > max_cells
    cells = [np.zeros(0, dtype=np.int64)]
    for ql, qh, rl, rh, g in zip(q_lo, q_hi, r_lo, r_hi, giant):
        if g:
            cells.append(np.zeros(1, dtype=np.int64))
            continue
        q, r = np.meshgrid(np.arange(ql, qh + 1), np.arange(rl, rh + 1), indexing="ij")
        cells.append(hex_cell_pack(res, q.ravel(), r.ravel()))
    rows = np.where(giant, 1, n)
    # the giant marker must NOT upcast the int64 cell ids to float64 (the
    # 2^53 mantissa silently corrupts ~2.6e18 ids): nullable Int64
    return pd.DataFrame(
        {
            "poly_id": np.repeat(poly_pdf["poly_id"].to_numpy(object), rows),
            "hex_cell": pd.arrays.IntegerArray(np.concatenate(cells), np.repeat(giant, rows)),
        }
    )


def _ring_frame(polygons: DataFrame) -> DataFrame:
    """(poly_id, bbox, xs, ys): the polygon frame with each WKB outer ring
    decoded and closed on the driver. Rings with no edge contain nothing
    and are dropped."""
    bbox = ["min_lat", "max_lat", "min_lon", "max_lon"]
    rows = []
    for p in polygons.select("poly_id", "wkb", *bbox).collect():
        ring = close_ring(parse_wkb_polygon(bytes(p["wkb"])))
        if len(ring) >= 2:
            rows.append((p["poly_id"], *(p[c] for c in bbox), ring[:, 0].tolist(), ring[:, 1].tolist()))
    ring_type = T.ArrayType(T.DoubleType(), False)
    schema = T.StructType(
        [polygons.schema[c] for c in ("poly_id", *bbox)]
        + [T.StructField("xs", ring_type), T.StructField("ys", ring_type)]
    )
    # from pandas (Arrow), the frame is a LocalRelation: no Python worker
    # deserializes it, unlike a list of Python rows (a Python RDD scan)
    return polygons.sparkSession.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def _inside_ring_col(lat: Column, lon: Column) -> Column:
    """Even-odd ray cast of (lat, lon) against the closed ring xs/ys:
    point_in_ring_np's rule and operation order over edges i-1 -> i."""
    xs, ys = F.col("xs"), F.col("ys")

    def edge(inside: Column, i: Column) -> Column:
        x1, y1, x2, y2 = F.get(xs, i - 1), F.get(ys, i - 1), F.get(xs, i), F.get(ys, i)
        cross = (y1 > lat) != (y2 > lat)
        x_at = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        return inside != F.when(cross, lon < x_at).otherwise(F.lit(False))

    return F.aggregate(F.sequence(F.lit(1), F.size(xs) - 1), F.lit(False), edge)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "image_id",
) -> DataFrame:
    """All (point, polygon) pairs where the point lies inside the polygon,
    as (id_col, poly_id, lat_col, lon_col); the plan has no Python node.

    Polygons (poly_id, wkb, min/max lat/lon) are decoded on the driver.
    Candidates come from a BroadcastHashJoin on the floor-grid cell
    (COVER_DEG); polygons over MAX_COVER_CELLS cells join on the bbox in
    a BroadcastNestedLoopJoin. A bbox refine runs before the JVM ray
    cast. See the module docstring for why the covering is exact.
    """
    lat, lon = F.col(lat_col), F.col(lon_col)
    polys = _ring_frame(polygons)
    box = [F.col(c) for c in ("min_lat", "min_lon", "max_lat", "max_lon")]
    lat_lo, lon_lo, lat_hi, lon_hi = (grid_index_col(c, COVER_DEG) for c in box)
    small = (lat_hi - lat_lo + 1) * (lon_hi - lon_lo + 1) <= MAX_COVER_CELLS
    cover = polys.filter(small).select(
        F.explode(grid_bbox_cells_col(*box, COVER_DEG)).alias("_cell"), *polys.columns
    )
    keyed = points.select(id_col, lat_col, lon_col, grid_cell_col(lat, lon, COVER_DEG).alias("_cell"))
    in_bbox = (lat >= box[0]) & (lat <= box[2]) & (lon >= box[1]) & (lon <= box[3])
    cols = [id_col, "poly_id", lat_col, lon_col, "xs", "ys"]
    # a filter, not a join condition: Catalyst pushes the ray cast into the
    # join condition after the filters, so the bbox test is evaluated first
    pts = points.select(id_col, lat_col, lon_col)
    giant = pts.crossJoin(F.broadcast(polys.filter(~small))).filter(in_bbox)
    cand = keyed.join(F.broadcast(cover), "_cell").filter(in_bbox).select(*cols)
    cand = cand.unionByName(giant.select(*cols))
    return cand.filter(_inside_ring_col(lat, lon)).select(id_col, "poly_id", lat_col, lon_col)
