"""Spatial cell indexes (vectorized, pure numpy — no native geo libs).

Three index families, three jobs:

1. ``s2_cell``  — real S2 cell ids (level 15 default): unit sphere -> cube
   face -> quadratic ST projection -> 30-bit (i,j) -> Hilbert curve
   position, packed into the standard 64-bit S2CellId layout (3 face bits,
   2*level position bits, trailing 1). Implemented from the published S2
   geometry algorithm; ids are stored as signed int64 (two's-complement
   view of the uint64 id, the usual BIGINT convention). Used as a
   partition/cluster key: Hilbert locality keeps nearby images in nearby
   id ranges, which is what makes min/max file skipping work at 100 TB.

2. ``hex_cell`` — aperture-7-style hexagonal binning in axial coordinates
   on an equirectangular plane, with H3-compatible resolution sizing
   (edge_m(res) = res-0 edge / sqrt(7)^res, so res 9 ~ 174.4 m edge,
   matching H3 res 9). Stored as a data column and used for tiling (the
   aperture-7 mosaic pyramid). NOTE: this is an
   H3-*style* index (same cell sizing, same ring semantics), not
   bit-identical to Uber H3 — the h3 library is unavailable in this
   environment and the engine never assumes H3's exact bit layout.

3. ``grid_cell`` — a plain floor(lat/g)*2^21 + floor(lon/g) integer grid,
   the one cell system for candidate generation, with one covering rule:
   a shape maps to the exact cells its bbox touches
   (``grid_bbox_cells_col``). The PIP join explodes each polygon's bbox;
   every radius join (operators.spatial_join.cover_radius_join) explodes
   one side's reach bbox (``cover_cells_col``) and keys the other side
   by its own cell (``cover_cell_col``), so every pair within the radius
   shares a cell — a covering set, the exact distance predicate runs
   after the equi-join. The streaming sync partitions its feed and node
   log by a coarse grid cell and prunes both scans to the coarse cells
   of the changed nodes' reach (``reach_cells_col``, the same rule at a
   coarser cell). The grid is expressible in ANSI SQL
   (``grid_cell_sql``), so DuckDB-oracle-checked queries reproduce it.

Reference analog: GO_Sync has *no* spatial index (O(N*M) nested loop,
task/CompareData.java:1016-1069); this module is the headline
algorithmic upgrade that makes the join a cell equi-join.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .geo import EARTH_RADIUS_M

# ---------------------------------------------------------------------------
# S2 (real algorithm, vectorized)
# ---------------------------------------------------------------------------

_LOOKUP_BITS = 2  # build tables 2 Hilbert levels at a time (16*4 entries)
_SWAP = 1
_INVERT = 2
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT + _SWAP)
_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
_MAX_LEVEL = 30


def _init_lookup() -> tuple[np.ndarray, np.ndarray]:
    size = 1 << (2 * _LOOKUP_BITS + 2)
    lookup_pos = np.zeros(size, dtype=np.int64)
    lookup_ij = np.zeros(size, dtype=np.int64)

    def rec(level: int, i: int, j: int, orig: int, orient: int, pos: int) -> None:
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for sub in range(4):
            rec(
                level,
                i + (r[sub] >> 1),
                j + (r[sub] & 1),
                orig,
                orient ^ _POS_TO_ORIENT[sub],
                pos + sub,
            )

    for orientation in range(4):
        rec(0, 0, 0, orientation, orientation, 0)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _init_lookup()


def _latlon_to_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray):
    lat = np.radians(lat_deg)
    lon = np.radians(lon_deg)
    coslat = np.cos(lat)
    return coslat * np.cos(lon), coslat * np.sin(lon), np.sin(lat)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)

    u = np.empty_like(x)
    v = np.empty_like(x)
    face_uv = [
        (y, z, x),  # face 0 (+x): u=y/x  v=z/x
        (-x, z, y),  # face 1 (+y): u=-x/y v=z/y
        (-x, -y, z),  # face 2 (+z): u=-x/z v=-y/z
        (z, y, x),  # face 3 (-x): u=z/x  v=y/x
        (z, -x, y),  # face 4 (-y): u=z/y  v=-x/y
        (-y, -x, z),  # face 5 (-z): u=-y/z v=-x/z
    ]
    for f, (unum, vnum, den) in enumerate(face_uv):
        m = face == f
        if m.any():
            u[m] = unum[m] / den[m]
            v[m] = vnum[m] / den[m]
    return face, u, v


def _st_from_uv(u: np.ndarray) -> np.ndarray:
    # quadratic projection (S2_QUADRATIC_PROJECTION). np.where evaluates
    # BOTH branches, so clip each sqrt operand at 0 (negative only in the
    # branch that's discarded) to avoid RuntimeWarning spam in bench logs.
    return np.where(
        u >= 0,
        0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
        1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)),
    )


def _uv_from_st(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    ij = np.floor(s * (1 << _MAX_LEVEL)).astype(np.int64)
    return np.clip(ij, 0, (1 << _MAX_LEVEL) - 1)


def s2_face_ij(lat_deg, lon_deg):
    """(face, i, j) at level 30 for arrays of degrees."""
    lat_deg = np.asarray(lat_deg, dtype=np.float64)
    lon_deg = np.asarray(lon_deg, dtype=np.float64)
    x, y, z = _latlon_to_xyz(lat_deg, lon_deg)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_st_from_uv(u))
    j = _st_to_ij(_st_from_uv(v))
    return face, i, j


def s2_cell_from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """Pack (face, i30, j30) into S2CellId at `level` (uint64 viewed as int64)."""
    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _SWAP).astype(np.int64)
    mask = (1 << _LOOKUP_BITS) - 1
    steps = _MAX_LEVEL // _LOOKUP_BITS  # 15 steps of 2 bits
    for k in range(steps - 1, -1, -1):
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    id_leaf = (n << np.uint64(1)) | np.uint64(1)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((id_leaf & ~(lsb - np.uint64(1))) | lsb).view(np.int64)

def s2_cell_np(lat_deg, lon_deg, level: int = 15) -> np.ndarray:
    """S2 cell ids (int64 view) for arrays of lat/lon degrees."""
    face, i, j = s2_face_ij(lat_deg, lon_deg)
    return s2_cell_from_face_ij(face, i, j, level)


def s2_leaf_to_face_ij(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of the Hilbert packing (for tests): id -> (face, i, j) at level 30."""
    cid = np.asarray(cell_id).view(np.uint64)
    # strip trailing bit pattern down to leaf position: the position bits
    # above the lsb are valid; lower bits are the center of the cell.
    face = (cid >> np.uint64(61)).astype(np.int64)
    pos = ((cid & np.uint64((1 << 61) - 1)) >> np.uint64(1)).astype(np.int64)
    i = np.zeros_like(pos)
    j = np.zeros_like(pos)
    bits = face & _SWAP
    steps = _MAX_LEVEL // _LOOKUP_BITS
    for k in range(steps - 1, -1, -1):
        nbits = _LOOKUP_BITS
        bits += ((pos >> (k * 2 * _LOOKUP_BITS)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return face, i, j


def s2_cell_center_latlon(cell_id, level: int = 15):
    """Approximate center lat/lon of cells (for tests/locality checks)."""
    face, i, j = s2_leaf_to_face_ij(cell_id)
    # snap to cell center at `level`
    size = 1 << (_MAX_LEVEL - level)
    i = (i & ~(size - 1)) + size // 2
    j = (j & ~(size - 1)) + size // 2
    s = (i.astype(np.float64) + 0.5) / (1 << _MAX_LEVEL)
    t = (j.astype(np.float64) + 0.5) / (1 << _MAX_LEVEL)
    u = _uv_from_st(s)
    v = _uv_from_st(t)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    # inverse of the face table above: face -> xyz from (u, v, 1) on that face
    tbl = {
        0: lambda u, v: (np.ones_like(u), u, v),
        1: lambda u, v: (-u, np.ones_like(u), v),
        2: lambda u, v: (-u, -v, np.ones_like(u)),
        3: lambda u, v: (-np.ones_like(u), -v, -u),
        4: lambda u, v: (v, -np.ones_like(u), -u),
        5: lambda u, v: (v, u, -np.ones_like(u)),
    }
    for f, fn in tbl.items():
        m = face == f
        if m.any():
            xx, yy, zz = fn(u[m], v[m])
            x[m], y[m], z[m] = xx, yy, zz
    norm = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / norm))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


# ---------------------------------------------------------------------------
# Hex index (H3-style sizing, axial coordinates)
# ---------------------------------------------------------------------------

_HEX_RES0_EDGE_M = 1107712.591  # H3 res-0 mean edge; edge(res) = this / sqrt(7)^res
_HEX_OFF = 1 << 27  # axial coordinate offset so packed coords are non-negative
_HEX_FIELD_MASK = (1 << 29) - 1  # one axial field of a packed id (q or r, + _HEX_OFF)


def hex_edge_m(res: int) -> float:
    return _HEX_RES0_EDGE_M / (7.0 ** (res / 2.0))


def _hex_axial(lat_deg: np.ndarray, lon_deg: np.ndarray, res: int):
    """Pointy-top axial hex coords on the equirectangular plane (meters)."""
    size = hex_edge_m(res)
    x = np.radians(np.asarray(lon_deg, dtype=np.float64)) * EARTH_RADIUS_M
    y = np.radians(np.asarray(lat_deg, dtype=np.float64)) * EARTH_RADIUS_M
    qf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    # cube rounding
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = np.round(xf), np.round(yf), np.round(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def hex_cell_pack(res, q, r):
    """Packed hex cell id: (res << 58) | (q+OFF) << 29 | (r+OFF). At one
    res the id orders q-major, then r: an axial q x r rectangle is one
    id range plus an r-bits range (hex_bbox_cover_col)."""
    q, r = np.asarray(q, dtype=np.int64), np.asarray(r, dtype=np.int64)
    return (np.int64(res) << np.int64(58)) | ((q + _HEX_OFF) << np.int64(29)) | (r + _HEX_OFF)


def hex_cell_np(lat_deg, lon_deg, res: int = 9) -> np.ndarray:
    """Packed hex cell ids (hex_cell_pack) of arrays of lat/lon degrees."""
    q, r = _hex_axial(lat_deg, lon_deg, res)
    return hex_cell_pack(res, q, r)


def hex_bbox_axial_range(min_lat, min_lon, max_lat, max_lon, res: int):
    """(q_lo, q_hi, r_lo, r_hi): the axial rectangle holding the res-`res`
    cell of every point in a lat/lon bbox (scalars or arrays of bboxes).

    Axial q depends on BOTH lon and lat (q = (sqrt3/3*x - y/3)/size), so
    the extremes come from ALL FOUR corners; the two diagonal corners
    alone miss the (min_lat,max_lon)/(max_lat,min_lon) q extremes and drop
    about half the interior. qf/rf are linear in (x, y), so over a
    rectangle their extremes are at corners; a pad of 2 covers cube rounding.
    The rectangle over-covers the bbox: a covering, not an exact set."""
    lats = np.stack(np.broadcast_arrays(min_lat, min_lat, max_lat, max_lat)).astype(np.float64)
    lons = np.stack(np.broadcast_arrays(min_lon, max_lon, min_lon, max_lon)).astype(np.float64)
    q, r = _hex_axial(lats, lons, res)
    return q.min(axis=0) - 2, q.max(axis=0) + 2, r.min(axis=0) - 2, r.max(axis=0) + 2


def hex_bbox_cover_col(cell, min_lat, min_lon, max_lat, max_lon, res: int) -> "F.Column":
    """Predicate: hex `cell` lies in the bbox's hex_bbox_axial_range
    rectangle at `res`. Two ranges with O(1) literals for any bbox size:
    the packed-id range between the rectangle's corner cells (q-major,
    pushed to a parquet scan as GreaterThanOrEqual/LessThanOrEqual) and
    the r-bits range that cuts the rows of other q columns out of it."""
    rect = hex_bbox_axial_range(min_lat, min_lon, max_lat, max_lon, res)
    q_lo, q_hi, r_lo, r_hi = (int(v) for v in rect)
    lo, hi = int(hex_cell_pack(res, q_lo, r_lo)), int(hex_cell_pack(res, q_hi, r_hi))
    r_bits = cell.bitwiseAND(F.lit(_HEX_FIELD_MASK))
    return cell.between(lo, hi) & r_bits.between(r_lo + _HEX_OFF, r_hi + _HEX_OFF)


def hex_cell_unpack(cell_id):
    cid = np.asarray(cell_id, dtype=np.int64)
    res = (cid >> np.int64(58)).astype(np.int64)
    q = ((cid >> np.int64(29)) & np.int64(_HEX_FIELD_MASK)) - _HEX_OFF
    r = (cid & np.int64(_HEX_FIELD_MASK)) - _HEX_OFF
    return res, q, r


def hex_cell_center_latlon(cell_id):
    res, q, r = hex_cell_unpack(cell_id)
    size = _HEX_RES0_EDGE_M / np.power(7.0, res / 2.0)
    x = size * (math.sqrt(3.0) * q.astype(np.float64) + math.sqrt(3.0) / 2.0 * r)
    y = size * (1.5 * r.astype(np.float64))
    return np.degrees(y / EARTH_RADIUS_M), np.degrees(x / EARTH_RADIUS_M)


def make_hex_cell_udf(res: int = 9):
    @F.pandas_udf(T.LongType())
    def hex_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(hex_cell_np(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res))

    return hex_cell


def hex_parent_np(cell_id) -> np.ndarray:
    """Aperture-7 pyramid parent: the res-1 cell containing this cell's
    CENTER (H3's parent relation is also center-containment, modulo its
    rotation scheme). Deterministic, exactly one parent per cell, and a
    uniform field yields ~7 children per parent (the aperture) — so
    pyramid rollup groups are geometry-bounded. Vectorized for per-row
    res (the axial math broadcasts over an array edge size).

    Raises on res-0 input: a res-0 cell has no parent, and silently
    packing pres=-1 into the top bits would return a garbage id."""
    res, _q, _r = hex_cell_unpack(cell_id)
    if np.any(res < 1):
        raise ValueError("hex_parent_np: res-0 cells have no parent")
    lat, lon = hex_cell_center_latlon(cell_id)
    pres = (res - np.int64(1)).astype(np.int64)
    pq, pr = _hex_axial(lat, lon, pres)
    return hex_cell_pack(pres, pq, pr)


def make_hex_parent_udf():
    @F.pandas_udf(T.LongType())
    def hex_parent(cell: pd.Series) -> pd.Series:
        return pd.Series(hex_parent_np(cell.to_numpy(np.int64)))

    return hex_parent


# ---------------------------------------------------------------------------
# Floor grid: the one candidate-cell system (radius joins, the PIP join,
# the DuckDB-oracle queries)
# ---------------------------------------------------------------------------

# lat-index packing stride: |lon index| <= 180 / cell_deg < 2^20 for any
# cell at least cover_grid_deg(COVER_MIN_RADIUS_M) = 0.00066 deg wide
_GRID_STRIDE = 1 << 21
COVER_MIN_RADIUS_M = 70.0
_PAD = 1.0 + 1e-7  # float margin on the reach bbox half-widths


def grid_index_col(deg, cell_deg: float) -> "F.Column":
    """floor-grid row (lat) or column (lon) index of a coordinate."""
    return F.floor(deg / F.lit(cell_deg))


def grid_cell_col(lat, lon, cell_deg: float) -> "F.Column":
    """floor-grid cell key as a Column; same formula as grid_cell_sql."""
    return (
        grid_index_col(lat, cell_deg) * F.lit(_GRID_STRIDE) + grid_index_col(lon, cell_deg)
    ).cast("long")


def grid_bbox_cells_col(min_lat, min_lon, max_lat, max_lon, cell_deg: float) -> "F.Column":
    """Array of the grid_cell_col cells of every point in a bbox. floor is
    monotone, so a point with min <= v <= max has an index between the
    bbox corners' indices: the set is exact and needs no padding."""
    lon_lo, lon_hi = grid_index_col(min_lon, cell_deg), grid_index_col(max_lon, cell_deg)
    return F.flatten(
        F.transform(
            F.sequence(grid_index_col(min_lat, cell_deg), grid_index_col(max_lat, cell_deg)),
            lambda i: F.transform(
                F.sequence(lon_lo, lon_hi), lambda j: (i * F.lit(_GRID_STRIDE) + j).cast("long")
            ),
        )
    )


def grid_cell_sql(lat: str, lon: str, cell_deg: float) -> str:
    return (
        f"(CAST(floor(({lat}) / {cell_deg!r}) AS BIGINT) * {_GRID_STRIDE}"
        f" + CAST(floor(({lon}) / {cell_deg!r}) AS BIGINT))"
    )


def cover_grid_deg(radius_m: float) -> float:
    """Cell size (degrees) of the grid a radius join keys on.

    radius_m must be >= 70 m: below that the lon index range would
    overflow the _GRID_STRIDE packing and lat/lon cells could collide
    silently. Every engine radius (400 m compare/assign, 20 km driver
    queries) is far above the floor; the guard makes a future misuse
    fail loudly instead of corrupting the candidate set."""
    if radius_m < COVER_MIN_RADIUS_M:
        raise ValueError(
            f"cover grid requires radius_m >= {COVER_MIN_RADIUS_M} (got {radius_m!r}); "
            "the lon-index packing would overflow"
        )
    return math.degrees(radius_m / EARTH_RADIUS_M) * 1.05


def cover_cell_col(lat, lon, radius_m: float) -> "F.Column":
    """A point's own cell on the radius_m grid (the probe/stream side)."""
    return grid_cell_col(lat, lon, cover_grid_deg(radius_m))


def cover_cells_col(lat, lon, radius_m: float) -> "F.Column":
    """Array of the radius_m-grid cells of every point within radius_m
    (haversine) of this point (the exploded/build side)."""
    return reach_cells_col(lat, lon, radius_m, cover_grid_deg(radius_m))


def reach_cells_col(lat, lon, radius_m: float, cell_deg: float) -> "F.Column":
    """Array of the cell_deg-grid cells of every point within radius_m
    (haversine) of this point: the exact cells of its reach bbox.

    Covering: a partner at d < r has |dlat| <= deg(r/R) (d >= R|dlat|),
    so both latitudes lie within |lat| + deg(r/R), and d >=
    2R*asin(sqrt(cos1*cos2)*|sin(dlon/2)|) bounds |dlon| by
    B = 2*deg(asin(sin(r/2R) / cos(|lat| + deg(r/R)))). The partner thus
    lies in the bbox, whose cells grid_bbox_cells_col lists exactly. An
    asin argument at or above 1 (within ~deg(r/R) of a pole) makes B the
    whole longitude range. Longitude does not wrap at +/-180: a pair
    straddling the antimeridian is not co-bucketed."""
    reach_deg = math.degrees(radius_m / EARTH_RADIUS_M)
    arg = F.lit(math.sin(radius_m / (2.0 * EARTH_RADIUS_M))) / F.cos(
        F.radians(F.least(F.abs(lat) + F.lit(reach_deg), F.lit(89.9999)))
    )
    b = F.when(arg < 1.0, F.degrees(F.asin(arg)) * F.lit(2.0 * _PAD)).otherwise(F.lit(360.0))
    h = F.lit(reach_deg * _PAD)
    return grid_bbox_cells_col(
        lat - h, F.greatest(lon - b, F.lit(-180.0)), lat + h, F.least(lon + b, F.lit(180.0)),
        cell_deg,
    )
