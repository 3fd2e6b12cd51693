"""Independent NumPy oracles the benchmark checks workload outputs against.

They share no join, cell or pruning code with the program: every oracle
is an all-pairs brute force over inputs small enough to afford it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RADIUS_M = 400.0  # GO_Sync's match radius
ERROR_TO_ZERO_M = 0.5  # GO_Sync's "same location" distance
MEAN_EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(np.asarray(lon2) - np.asarray(lon1))
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * MEAN_EARTH_RADIUS_M * np.arcsin(np.sqrt(h))


def vincenty_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vincenty's inverse formula on WGS-84 (meters), vectorized."""
    a, f = 6378137.0, 1 / 298.257223563
    b = (1 - f) * a
    lat1, lon1, lat2, lon2 = (np.asarray(x, dtype=np.float64) for x in (lat1, lon1, lat2, lon2))
    L = np.radians(lon2 - lon1)
    u1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    u2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    su1, cu1, su2, cu2 = np.sin(u1), np.cos(u1), np.sin(u2), np.cos(u2)
    lam = L.copy()
    with np.errstate(invalid="ignore", divide="ignore"):
        for _ in range(200):
            sl, cl = np.sin(lam), np.cos(lam)
            ss = np.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
            cs = su1 * su2 + cu1 * cu2 * cl
            sigma = np.arctan2(ss, cs)
            sa = np.where(ss == 0, 0.0, cu1 * cu2 * sl / ss)
            c2a = 1 - sa**2
            c2sm = np.where(c2a == 0, 0.0, cs - 2 * su1 * su2 / c2a)
            C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
            prev = lam
            lam = L + (1 - C) * f * sa * (
                sigma + C * ss * (c2sm + C * cs * (-1 + 2 * c2sm**2))
            )
            if np.all(np.abs(lam - prev) < 1e-12):
                break
        u2sq = c2a * (a**2 - b**2) / b**2
        A = 1 + u2sq / 16384 * (4096 + u2sq * (-768 + u2sq * (320 - 175 * u2sq)))
        B = u2sq / 1024 * (256 + u2sq * (-128 + u2sq * (74 - 47 * u2sq)))
        ds = B * ss * (
            c2sm
            + B / 4 * (cs * (-1 + 2 * c2sm**2) - B / 6 * c2sm * (-3 + 4 * ss**2) * (-3 + 4 * c2sm**2))
        )
        return np.where(ss == 0, 0.0, b * A * (sigma - ds))


def assign_oracle(images: pd.DataFrame, features: pd.DataFrame) -> pd.DataFrame:
    """Per image: nearest feature within RADIUS_M (ties by feature_id),
    and GO_Sync's category from the best candidate, where an id match
    (feature gtfs_id == the image's numeric id) outranks distance."""
    f_lat = features["lat"].to_numpy(np.float64)
    f_lon = features["lon"].to_numpy(np.float64)
    f_id = features["feature_id"].to_numpy()
    f_gid = features["gtfs_id"].to_numpy()
    rows = []
    for img_id, lat, lon in zip(images["image_id"], images["lat"], images["lon"]):
        d = haversine_m(np.full_like(f_lat, lat), np.full_like(f_lon, lon), f_lat, f_lon)
        near = np.nonzero(d < RADIUS_M)[0]
        digits = img_id[3:].lstrip("0")
        gid = digits.rjust(8, "0")
        if not len(near):
            rows.append((img_id, None, None, "UPLOAD_NO_CONFLICT"))
            continue
        nearest = min(near, key=lambda j: (d[j], f_id[j]))
        best = min(near, key=lambda j: (0 if f_gid[j] == gid else 1, d[j], f_id[j]))
        if f_gid[best] != gid:
            cat = "UPLOAD_CONFLICT"
        elif d[best] <= ERROR_TO_ZERO_M:
            cat = "NOTHING_NEW"
        else:
            cat = "MODIFY"
        rows.append((img_id, f_id[nearest], f_id[best], cat))
    return pd.DataFrame(
        rows, columns=["image_id", "nearest_feature_id", "match_feature_id", "category"]
    )


def compare_oracle(
    stops: pd.DataFrame, nodes: pd.DataFrame, agency: str, id_digits: int
) -> dict[str, str]:
    """GO_Sync's four-way category per stop by exhaustive Vincenty:
    operator gate, first-in-document-order id match within RADIUS_M,
    NOTHING_NEW only at <= ERROR_TO_ZERO_M with no tag difference, and
    UPLOAD_CONFLICT for an unmatched stop with a foreign node in
    (ERROR_TO_ZERO_M, RADIUS_M)."""
    nodes = nodes.sort_values(["file_idx", "elem_idx"]).reset_index(drop=True)
    keep = nodes["tags"].map(lambda t: dict(t).get("operator") in (None, "missing", agency))
    nodes = nodes[keep].reset_index(drop=True)
    tags = [dict(t) for t in nodes["tags"]]
    node_gid = [t["gtfs_id"].zfill(id_digits) if "gtfs_id" in t else None for t in tags]
    stop_idx = {g: i for i, g in enumerate(stops["gtfs_id"])}
    slat = stops["lat"].to_numpy(np.float64)
    slon = stops["lon"].to_numpy(np.float64)
    nlat = nodes["lat"].to_numpy(np.float64)
    nlon = nodes["lon"].to_numpy(np.float64)
    cats: dict[str, str] = {}
    for j, g in enumerate(node_gid):
        i = stop_idx.get(g)
        if i is None or g in cats:
            continue
        d = float(vincenty_m(nlat[j], nlon[j], slat[i], slon[i]))
        if d >= RADIUS_M:
            continue
        want = {
            "gtfs_id": g,
            "operator": agency,
            "name": stops["name_raw"].iloc[i],
            "gtfs_stop_code": stops["gtfs_stop_code"].iloc[i],
        }
        have = {**tags[j], "gtfs_id": g}
        same = all(
            k in have and (have[k].upper() == v.upper() or v in have[k])
            for k, v in want.items()
        )
        cats[g] = "NOTHING_NEW" if d <= ERROR_TO_ZERO_M and same else "MODIFY"
    foreign = np.array([g is None or g not in stop_idx for g in node_gid], dtype=bool)
    flat, flon = nlat[foreign], nlon[foreign]
    for i, g in enumerate(stops["gtfs_id"]):
        if g in cats:
            continue
        d = vincenty_m(flat, flon, np.full_like(flat, slat[i]), np.full_like(flon, slon[i]))
        conflict = bool(((d > ERROR_TO_ZERO_M) & (d < RADIUS_M)).any())
        cats[g] = "UPLOAD_CONFLICT" if conflict else "UPLOAD_NO_CONFLICT"
    return cats


def pip_oracle(points: pd.DataFrame, polygons: pd.DataFrame) -> set[tuple[str, str]]:
    """Every (image_id, poly_id) with the point inside the polygon, by
    ray casting each point against every polygon."""
    from gtfs_osm_sync_spark.operators.pip import parse_wkb_polygon, point_in_ring_np

    lat = points["lat"].to_numpy(np.float64)
    lon = points["lon"].to_numpy(np.float64)
    ids = points["image_id"].to_numpy()
    out: set[tuple[str, str]] = set()
    for pid, wkb in zip(polygons["poly_id"], polygons["wkb"]):
        inside = point_in_ring_np(lat, lon, parse_wkb_polygon(bytes(wkb)))
        out.update((i, pid) for i in ids[inside])
    return out
