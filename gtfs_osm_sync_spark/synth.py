"""Deterministic synthetic data: the 10^12-scale images table, features,
and polygons — generated at small SF for tests/bench, no external data.

Everything derives from integer ids via splitmix64 bit mixing, so
generation is seed-stable across executors and partitionings (north_rule:
no Random without explicit per-row seeds). Spatial skew is built in:
8 of 64 clusters are "urban" — 9x the mass at 1/25 the spread — which is
what the salting / AQE-skew machinery is exercised against.

Feature placement anchors to image positions with a deterministic
delta cycle {0 m, ~0.3 m, ~50-350 m, > 1 km} and a gtfs_id that matches
the anchor image's id 2/3 of the time — guaranteeing every branch of the
reference's categorization (CompareData.java:1059-1287: NOTHING_NEW /
MODIFY / UPLOAD_CONFLICT / UPLOAD_NO_CONFLICT) occurs in every generated
dataset.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.codecs import encode_image

# ---------------------------------------------------------------------------
# bit mixing
# ---------------------------------------------------------------------------


def splitmix64(x: np.ndarray) -> np.ndarray:
    """The splitmix64 finalizer (public domain constant set), vectorized."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


N_CLUSTERS = 64
URBAN_MOD = 8  # clusters divisible by 8 are urban
URBAN_SPREAD_DEG = 0.02  # ~2.2 km cluster radius
RURAL_SPREAD_DEG = 0.5


def cluster_of(phash: np.ndarray) -> np.ndarray:
    """Skewed cluster assignment: upper half of a 128-way draw folds onto
    the 8 urban clusters -> urban clusters get ~9x the mass."""
    c1 = (splitmix64(phash) >> np.uint64(17)) % np.uint64(128)
    urban = (c1 % np.uint64(URBAN_MOD)) * np.uint64(URBAN_MOD)
    return np.where(c1 < N_CLUSTERS, c1, urban).astype(np.int64)


def cluster_center(cluster: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h1 = splitmix64(cluster.astype(np.uint64) * np.uint64(2) + np.uint64(1))
    h2 = splitmix64(cluster.astype(np.uint64) * np.uint64(2) + np.uint64(2))
    lat = -55.0 + (h1 % np.uint64(110_000)).astype(np.float64) / 1000.0
    lon = -165.0 + (h2 % np.uint64(330_000)).astype(np.float64) / 1000.0
    return lat, lon


def phash_latlon_np(
    phash: np.ndarray, spread_scale: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic geotag: phash -> (lat, lon) with urban skew.

    spread_scale grows every cluster's radius (world area ~ scale^2) —
    benchmarks pass scale = sqrt(n / 500k) so spatial DENSITY stays
    constant as n grows (otherwise the radius-join pair count grows
    quadratically with n, which no engine survives). Default 1.0 keeps
    the golden test world unchanged."""
    ph = np.asarray(phash).view(np.uint64) if np.asarray(phash).dtype == np.int64 else np.asarray(phash, dtype=np.uint64)
    cl = cluster_of(ph)
    clat, clon = cluster_center(cl)
    spread = np.where(cl % URBAN_MOD == 0, URBAN_SPREAD_DEG, RURAL_SPREAD_DEG) * spread_scale
    f1 = (splitmix64(ph ^ np.uint64(0xA5A5)) % np.uint64(2_000_001)).astype(np.float64) / 1e6 - 1.0
    f2 = (splitmix64(ph ^ np.uint64(0x5A5A)) % np.uint64(2_000_001)).astype(np.float64) / 1e6 - 1.0
    return clat + f1 * spread, clon + f2 * spread


# ---------------------------------------------------------------------------
# images table
# ---------------------------------------------------------------------------

_WORDS = (
    "plaza bridge market station river park tower museum harbor garden "
    "street corner fountain gallery castle library stadium chapel mill dock"
).split()

_PIX_GOLD = np.uint64(0xD1B54A32D192ED03)


def pixels_for(phash: int, h: int, w: int) -> np.ndarray:
    """Deterministic pixels of one image: counter-mode splitmix64 keyed by
    phash (vectorized; the oracle-side reconstruction used by PSNR checks)."""
    npix = h * w * 3
    nwords = (npix + 7) // 8
    with np.errstate(over="ignore"):  # uint64 wraparound is the intent
        base = np.uint64(phash) * _PIX_GOLD
        words = splitmix64(base + np.arange(nwords, dtype=np.uint64))
    return words.view(np.uint8)[:npix].reshape(h, w, 3).copy()


def pixels_batch(uph: np.ndarray, h: np.ndarray, w: np.ndarray) -> list[np.ndarray]:
    """pixels_for over a batch with ONE vectorized splitmix64 call."""
    npix = (h * w * 3).astype(np.int64)
    nwords = (npix + 7) // 8
    total = int(nwords.sum())
    # counter stream: per-image base + intra-image offset
    offsets = np.concatenate([[0], np.cumsum(nwords)[:-1]])
    with np.errstate(over="ignore"):
        idx = np.arange(total, dtype=np.uint64) - np.repeat(
            offsets.astype(np.uint64), nwords
        )
        bases = np.repeat(uph * _PIX_GOLD, nwords)
        words = splitmix64(bases + idx)
    flat = words.view(np.uint8)
    out = []
    for i in range(len(uph)):
        lo = int(offsets[i]) * 8
        out.append(flat[lo : lo + int(npix[i])].reshape(int(h[i]), int(w[i]), 3).copy())
    return out


IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def gen_images_pdf(ids: np.ndarray) -> pd.DataFrame:
    """One deterministic batch of image rows from integer ids."""
    ids = ids.astype(np.uint64)
    phash = splitmix64(ids).view(np.int64)
    uph = phash.view(np.uint64)
    w = (8 + (splitmix64(uph ^ np.uint64(1)) % np.uint64(25))).astype(np.int64)
    h = (8 + (splitmix64(uph ^ np.uint64(2)) % np.uint64(25))).astype(np.int64)
    fmt = np.where(ids % np.uint64(2) == 0, "png", "jpeg")
    w1 = (uph % np.uint64(len(_WORDS))).astype(np.int64)
    w2 = ((uph >> np.uint64(8)) % np.uint64(len(_WORDS))).astype(np.int64)
    w3 = ((uph >> np.uint64(16)) % np.uint64(len(_WORDS))).astype(np.int64)
    captions = [
        f"a photo of the {_WORDS[a]} near the {_WORDS[b]} {_WORDS[c]}"
        for a, b, c in zip(w1, w2, w3)
    ]
    pix = pixels_batch(uph, h, w)
    blobs = [
        encode_image(img, str(f)) for img, f in zip(pix, fmt)
    ]
    return pd.DataFrame(
        {
            "image_id": [f"img{int(i):012d}" for i in ids],
            "bytes": blobs,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmt,
            "caption": captions,
            "phash": phash,
        }
    )


def generate_images(
    spark: SparkSession, n: int, partitions: int | None = None, start: int = 0
) -> DataFrame:
    """Distributed deterministic images table (mapInPandas over a range).

    Rows for ids [start, n) are identical no matter how the range is
    chunked or partitioned — the resume contract relies on this.
    """
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield gen_images_pdf(pdf["id"].to_numpy())

    return spark.range(start, n, 1, parts).mapInPandas(gen, IMAGES_SCHEMA)


def generate_images_with_dups(
    spark: SparkSession,
    n: int,
    every: int = 10,
    delta: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """The images table plus PIXEL-LEVEL near-duplicate plants: every
    `every`-th image gains a copy (image_id 'dup%012d') whose pixels are
    brightness-shifted by `delta` (clipped) and re-encoded in the same
    format — a real mutated payload, NOT a metadata tweak, so only an
    operator that actually decodes and perceptually hashes the pixels
    (operators/images.py image_features) can pair it with its original.
    Caption and stored ingest fingerprint are copied (how a crawler
    re-encounter of the same picture looks). Deterministic per (n,
    every, delta) under any partitioning."""
    from .functions.codecs import decode_image

    base = generate_images(spark, n, partitions)

    def mutate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nums = pdf["image_id"].str.slice(3).astype(np.int64)
            sub = pdf[(nums % every == 0).to_numpy()]
            blobs = [
                encode_image(
                    np.clip(
                        decode_image(data, fmt).astype(np.int16) + delta, 0, 255
                    ).astype(np.uint8),
                    str(fmt),
                )
                for data, fmt in zip(sub["bytes"], sub["fmt"])
            ]
            out = sub.copy()
            out["image_id"] = "dup" + sub["image_id"].str.slice(3)
            out["bytes"] = blobs
            yield out

    return base.unionByName(base.mapInPandas(mutate, IMAGES_SCHEMA))


IMAGES_GEO_SCHEMA = T.StructType(
    IMAGES_SCHEMA.fields
    + [
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("hex_cell", T.LongType(), True),
        T.StructField("s2_cell", T.LongType(), True),
    ]
)


def generate_images_geo(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    start: int = 0,
    spread_scale: float = 1.0,
) -> DataFrame:
    """generate_images + geotag fused into ONE python stage.

    Identical rows to geotag_images(generate_images(...)) but the binary
    payload crosses the Python<->JVM Arrow boundary once instead of three
    times — at 10^12 rows the payload column dominates the serde budget,
    so ingestion jobs should always use the fused generator.
    """
    from .functions.cells import hex_cell_np, s2_cell_np

    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = gen_images_pdf(pdf["id"].to_numpy())
            lat, lon = phash_latlon_np(out["phash"].to_numpy(np.int64), spread_scale)
            out["lat"] = lat
            out["lon"] = lon
            out["hex_cell"] = hex_cell_np(lat, lon, 9)
            out["s2_cell"] = s2_cell_np(lat, lon, 15)
            yield out

    return spark.range(start, n, 1, parts).mapInPandas(gen, IMAGES_GEO_SCHEMA)


GEO_ONLY_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("hex_cell", T.LongType(), True),
        T.StructField("s2_cell", T.LongType(), True),
    ]
)


def generate_geo_only(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    start: int = 0,
    spread_scale: float = 1.0,
) -> DataFrame:
    """Metadata-only view of the images table (no payload bytes) — for
    join-side benchmarks and very large staged inputs. Same ids, phash,
    and geotags as generate_images_geo."""
    from .functions.cells import hex_cell_np, s2_cell_np

    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            phash = splitmix64(ids).view(np.int64)
            lat, lon = phash_latlon_np(phash, spread_scale)
            yield pd.DataFrame(
                {
                    "image_id": [f"img{int(i):012d}" for i in ids],
                    "phash": phash,
                    "lat": lat,
                    "lon": lon,
                    "hex_cell": hex_cell_np(lat, lon, 9),
                    "s2_cell": s2_cell_np(lat, lon, 15),
                }
            )

    return spark.range(start, n, 1, parts).mapInPandas(gen, GEO_ONLY_SCHEMA)


# ---------------------------------------------------------------------------
# features table (OSM-node analog), anchored to image space
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("operator", T.StringType(), True),
        T.StructField("gtfs_id", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
    ]
)

OPERATORS = ["Metro Transit", "METRO", "City Lines", "Metro Transit Authority"]
_DEG_PER_M = 1.0 / 111_320.0  # latitude degrees per meter

# delta cycle exercising every categorization branch
# (0 m exact, 0.3 m <= ERROR_TO_ZERO 0.5 m, mid-range < 400 m, far > 1 km)
_DELTAS_M = [0.0, 0.3, 180.0, 2500.0]


def gen_features_pdf(
    fids: np.ndarray,
    n_images: int,
    n_features: int,
    id_digits: int = 8,
    spread_scale: float = 1.0,
) -> pd.DataFrame:
    """Deterministic per-id feature rows. `n_features` is the TOTAL count
    (not the batch size) so anchors are invariant to batch partitioning."""
    fids = fids.astype(np.uint64)
    stride = max(n_images // max(n_features, 1), 1)
    anchor = (fids * np.uint64(max(stride, 1)) + splitmix64(fids) % np.uint64(max(stride, 1))) % np.uint64(
        max(n_images, 1)
    )
    phash = splitmix64(anchor)
    alat, alon = phash_latlon_np(phash.view(np.int64), spread_scale)
    delta_m = np.array([_DELTAS_M[int(i % 4)] for i in fids], dtype=np.float64)
    ang = (splitmix64(fids ^ np.uint64(7)) % np.uint64(6283)).astype(np.float64) / 1000.0
    lat = alat + np.cos(ang) * delta_m * _DEG_PER_M
    lon = alon + np.sin(ang) * delta_m * _DEG_PER_M / np.maximum(
        np.cos(np.radians(alat)), 1e-6
    )
    has_id = fids % np.uint64(3) != np.uint64(2)
    gtfs_id = [
        str(int(a)).zfill(id_digits) if keep else None
        for a, keep in zip(anchor, has_id)
    ]
    op = [OPERATORS[int(i % len(OPERATORS))] for i in fids]
    names = [f"Stop {int(a)}" for a in anchor]
    tags = [
        {
            "highway": "bus_stop",
            "name": nm,
            "operator": o,
            **({"gtfs_id": g} if g else {}),
        }
        for nm, o, g in zip(names, op, gtfs_id)
    ]
    return pd.DataFrame(
        {
            "feature_id": [f"node{int(i):010d}" for i in fids],
            "lat": lat,
            "lon": lon,
            "name": names,
            "operator": op,
            "gtfs_id": gtfs_id,
            "tags": tags,
            "version": (splitmix64(fids ^ np.uint64(11)) % np.uint64(9) + np.uint64(1)).astype(
                np.int32
            ),
            "user": [f"mapper{int(i % 17)}" for i in fids],
        }
    )


def generate_features(
    spark: SparkSession,
    n_images: int,
    n_features: int | None = None,
    spread_scale: float = 1.0,
) -> DataFrame:
    n_features = n_features or max(n_images // 50, 8)
    parts = max(spark.sparkContext.defaultParallelism // 2, 2)

    total = n_features

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield gen_features_pdf(
                pdf["id"].to_numpy(), n_images, total, spread_scale=spread_scale
            )

    return spark.range(0, n_features, 1, parts).mapInPandas(gen, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# polygons table (WKB)
# ---------------------------------------------------------------------------


def wkb_polygon(coords: list[tuple[float, float]]) -> bytes:
    """Little-endian WKB polygon, one outer ring of (lon, lat) coords
    (closed automatically)."""
    ring = list(coords)
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
    for lon, lat in ring:
        out += struct.pack("<dd", lon, lat)
    return out


POLYGONS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType(), False),
        T.StructField("wkb", T.BinaryType(), True),
        T.StructField("min_lat", T.DoubleType(), True),
        T.StructField("max_lat", T.DoubleType(), True),
        T.StructField("min_lon", T.DoubleType(), True),
        T.StructField("max_lon", T.DoubleType(), True),
    ]
)


def generate_polygons(spark: SparkSession) -> DataFrame:
    """One irregular pentagon per cluster + one global band polygon."""
    rows = []
    cl = np.arange(N_CLUSTERS, dtype=np.uint64)
    clat, clon = cluster_center(cl)
    for i in range(N_CLUSTERS):
        r = 0.35 if i % URBAN_MOD else 0.08
        h = splitmix64(np.array([i * 31 + 5], dtype=np.uint64))[0]
        coords = []
        for k in range(5):
            ang = 2 * np.pi * k / 5 + (int(h) % 360) * np.pi / 180.0
            rr = r * (0.7 + 0.3 * (((int(h) >> (4 * k)) % 16) / 15.0))
            coords.append(
                (float(clon[i] + rr * np.cos(ang)), float(clat[i] + rr * np.sin(ang)))
            )
        lats = [c[1] for c in coords]
        lons = [c[0] for c in coords]
        rows.append(
            (
                f"poly{i:04d}",
                wkb_polygon(coords),
                min(lats),
                max(lats),
                min(lons),
                max(lons),
            )
        )
    # a wide band crossing many clusters (multi-cell polygon case)
    band = [(-170.0, -10.0), (170.0, -10.0), (170.0, 10.0), (-170.0, 10.0)]
    rows.append(("poly_band", wkb_polygon(band), -10.0, 10.0, -170.0, 170.0))
    return spark.createDataFrame(rows, POLYGONS_SCHEMA)


# ---------------------------------------------------------------------------
# compare world: stop + node tables whose compare categories are known by
# construction (the large-scale twin of the HART fixture)
# ---------------------------------------------------------------------------

COMPARE_AGENCY = "Metro Transit"
_CMP_DIGITS = 7


def gen_compare_stops_pdf(ids: np.ndarray, spread_scale: float = 1.0) -> pd.DataFrame:
    ids = ids.astype(np.uint64)
    ph = splitmix64(ids ^ np.uint64(0xC0FFEE))
    lat, lon = phash_latlon_np(ph.view(np.int64), spread_scale)
    sid = [str(int(i)).zfill(_CMP_DIGITS) for i in ids]
    return pd.DataFrame(
        {
            "gtfs_id": sid,
            "lat": lat,
            "lon": lon,
            "lat_raw": [repr(float(x)) for x in lat],
            "lon_raw": [repr(float(x)) for x in lon],
            "name": [f"Stop {s}" for s in sid],
            "name_raw": [f"Stop {s}" for s in sid],
            "operator": COMPARE_AGENCY,
            "gtfs_stop_code": [str(int(i)) for i in ids],
        }
    )


def gen_compare_nodes_pdf(ids: np.ndarray, spread_scale: float = 1.0) -> pd.DataFrame:
    """One node per stop id, mode = id % 5 (CompareData.java category map):
      0 -> id node at 0.3 m, tags fully matching      => NOTHING_NEW
      1 -> id node at 0.3 m, different name           => MODIFY (tag diff)
      2 -> id node at 180 m, same id                  => MODIFY (moved)
      3 -> id node at 2500 m (out of range)           => UPLOAD_NO_CONFLICT*
      4 -> FOREIGN node (no gtfs_id) at 100 m         => UPLOAD_CONFLICT*
    *modes 3/4 are cross-contaminated by geometry (a mode-4 foreign node
    within 400 m of ANY unmatched stop conflicts it) — the pytest oracle
    recomputes that with exact numpy Vincenty. Every 13th id adds an EXTRA
    node with a foreign operator; the gate must drop them with no effect."""
    ids = ids.astype(np.uint64)
    stops = gen_compare_stops_pdf(ids, spread_scale)
    mode = (ids % np.uint64(5)).astype(np.int64)
    delta = np.choose(mode, [0.3, 0.3, 180.0, 2500.0, 100.0])
    ang = (splitmix64(ids ^ np.uint64(0xA11CE)) % np.uint64(6283)).astype(np.float64) / 1000.0
    lat = stops["lat"].to_numpy() + np.cos(ang) * delta * _DEG_PER_M
    lon = stops["lon"].to_numpy() + np.sin(ang) * delta * _DEG_PER_M / np.maximum(
        np.cos(np.radians(stops["lat"].to_numpy())), 1e-6
    )
    rows = []
    for k, i in enumerate(ids):
        i = int(i)
        m = int(mode[k])
        sid = str(i).zfill(_CMP_DIGITS)
        tags = {
            "highway": "bus_stop",
            "operator": COMPARE_AGENCY,
            "ntd_id": "9999",
            "route_ref": str(i % 60),
        }
        if m != 4:
            tags["gtfs_id"] = str(i)  # unpadded: exercises ingest zero-pad
            tags["gtfs_stop_code"] = str(i)
            tags["name"] = f"Stop {sid}" if m != 1 else f"Old name {sid}"
        rows.append(
            (
                f"n{i:012d}",
                str(1 + i % 7),
                f"mapper{i % 17}",
                "2026-01-01T00:00:00Z",
                float(lat[k]),
                float(lon[k]),
                tags,
                0,
                i,
            )
        )
        if i % 13 == 0:  # operator-gate chaff: must be filtered, no effect
            rows.append(
                (
                    f"x{i:012d}",
                    "1",
                    "other",
                    "2026-01-01T00:00:00Z",
                    float(lat[k]) + 0.0001,
                    float(lon[k]),
                    {"highway": "bus_stop", "operator": "Rival Lines Co", "gtfs_id": str(i)},
                    0,
                    10_000_000_000 + i,
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "osm_id", "version", "user", "timestamp", "lat", "lon", "tags",
            "file_idx", "elem_idx",
        ],
    )


COMPARE_STOPS_SCHEMA = (
    "gtfs_id string, lat double, lon double, lat_raw string, lon_raw string,"
    " name string, name_raw string, operator string, gtfs_stop_code string"
)
COMPARE_NODES_SCHEMA = (
    "osm_id string, version string, user string, timestamp string,"
    " lat double, lon double, tags map<string,string>, file_idx int, elem_idx long"
)


def generate_compare_world(
    spark: SparkSession, n_stops: int, spread_scale: float = 1.0, partitions: int = 8
):
    """Distributed generation of the (stops, nodes) compare world."""

    def gs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield gen_compare_stops_pdf(pdf["id"].to_numpy(), spread_scale)

    def gn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield gen_compare_nodes_pdf(pdf["id"].to_numpy(), spread_scale)

    rng = spark.range(0, n_stops, 1, partitions)
    return rng.mapInPandas(gs, COMPARE_STOPS_SCHEMA), rng.mapInPandas(
        gn, COMPARE_NODES_SCHEMA
    )


# ---------------------------------------------------------------------------
# documents corpus (dedup-pipeline scaling bench)
# ---------------------------------------------------------------------------

DOCS_SCHEMA = "doc_id string, text string"
_DOC_VOCAB = 4096  # synthetic word ids; ~98 shingles/doc at 100 words


def _doc_words(ids: np.ndarray, n_words: int) -> list[list[str]]:
    """Deterministic word lists: word j of doc i = splitmix64(i*K + j) %
    vocab — seed-stable across partitionings like every other generator
    here (no RNG objects, pure bit mixing)."""
    cols = []
    base = ids.astype(np.uint64) * np.uint64(131_071)
    for j in range(n_words):
        w = splitmix64(base + np.uint64(j)) % np.uint64(_DOC_VOCAB)
        cols.append(w)
    mat = np.stack(cols, axis=1)  # (n_docs, n_words)
    return [["w%04d" % w for w in row] for row in mat]


def gen_documents_pdf(ids: np.ndarray, dup_frac: float, n_words: int) -> pd.DataFrame:
    """Corpus batch with planted near-duplicates: a `dup_frac` slice of
    docs re-generates an EARLIER doc's words (parent = id - small
    deterministic offset) and mutates ~10% of positions — Jaccard vs the
    parent ~0.8, well above the pipeline's 0.5 verify threshold, so
    MinHash -> LSH -> verify -> CC all get real work. Mutated word ids
    draw from a disjoint range so a mutation never accidentally matches."""
    ids = ids.astype(np.int64)
    h = splitmix64(ids.astype(np.uint64))
    is_dup = (ids > 16) & ((h % np.uint64(1000)).astype(np.int64) < int(dup_frac * 1000))
    offset = ((h >> np.uint64(13)) % np.uint64(8)).astype(np.int64) + 1
    src = np.where(is_dup, ids - offset, ids)
    words = _doc_words(src, n_words)
    n_mut = max(n_words // 10, 1)
    di = np.nonzero(is_dup)[0]
    if di.size:
        mseed = splitmix64(ids[di].astype(np.uint64) * np.uint64(7) + np.uint64(3))
        for m in range(n_mut):
            pos = (splitmix64(mseed + np.uint64(m)) % np.uint64(n_words)).astype(np.int64)
            sub = (splitmix64(mseed ^ np.uint64(m + 77)) % np.uint64(_DOC_VOCAB)).astype(np.int64)
            for j, i in enumerate(di):
                words[i][int(pos[j])] = "m%04d" % int(sub[j])
    return pd.DataFrame(
        {"doc_id": ["d%012d" % i for i in ids], "text": [" ".join(w) for w in words]}
    )


def generate_documents(
    spark: SparkSession,
    n_docs: int,
    dup_frac: float = 0.2,
    n_words: int = 60,
    partitions: int = 8,
) -> DataFrame:
    """Distributed deterministic documents corpus for the dedup bench."""

    def gd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield gen_documents_pdf(pdf["id"].to_numpy(), dup_frac, n_words)

    return spark.range(0, n_docs, 1, partitions).mapInPandas(gd, DOCS_SCHEMA)


def generate_embeddings(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    n_clusters: int = 64,
    eps: float = 0.5,
    partitions: int = 8,
) -> DataFrame:
    """Distributed deterministic clustered-embedding corpus for the ANN
    recall/scaling bench (same shape as the driver's `embeddings` table:
    (vec_id bigint, embedding array<double>)).

    Structure: vector i sits on cluster (i % n_clusters); component d is
    a xxhash64-derived uniform in [-1, 1] for the cluster base plus
    eps * an i-specific jitter — so ground-truth neighbors of a query are
    its jitter-aligned same-cluster vectors (non-trivial top-k inside a
    cluster), cross-cluster cosine ~ 0, and every value is a pure
    function of (vec_id, d): identical at any parallelism, no stored
    model, no RNG. Pure codegen (sequence/transform over xxhash64), no
    Python in the row path."""

    def unit(*cols):  # xxhash64 -> uniform in [-1, 1], 1e-4 grain
        return F.pmod(F.xxhash64(*cols), F.lit(20001)) / 10000.0 - 1.0

    cl = (F.col("id") % n_clusters).cast("long")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: unit(F.lit("c"), cl, d) + eps * unit(F.lit("j"), F.col("id"), d),
    )
    return spark.range(0, n_vecs, 1, partitions).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    )
