"""Image-column operators: decode/verify and per-cell raster mosaics.

Multimodal plumbing pattern (BinaryType payload + typed metadata):
- decode_stats: mapInPandas over (bytes, fmt) -> per-row decoded stats +
  PSNR vs the deterministic original (the per-row invariant from
  BASELINE.json input_hint: decoded-pixel allclose, PSNR >= 40 dB lossy).
- mosaic_by_cell (A10 target-only op): groupBy(hex_cell).applyInPandas —
  decode each member image, paste onto a fixed tile_px x tile_px RGB
  canvas on a ceil(sqrt(n)) grid (images sorted by image_id for
  determinism), re-encode as PNG. The canvas is bounded and the group
  input is capped (max_images_per_cell) so a skewed urban cell cannot
  OOM an executor — the cap is the same guard production mosaic jobs
  use; overflow count is reported in the output row.

Arrow ships the binary columns in batches; nothing here is per-row
Python at the Spark API level.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import (
    bilinear_resize,
    dct_phash_batch,
    decode_image,
    encode_image,
    luma,
    png_decode,
    png_encode,
    psnr,
    resize_uint8,
)
from ..synth import pixels_for


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("psnr_db", T.DoubleType()),
    ]
)


def decode_stats(images: DataFrame, check_against_phash: bool = True) -> DataFrame:
    """Decode every payload; emit shape/mean stats and, when the original
    pixels are reconstructible from phash (synthetic data), PSNR vs them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            has_phash = check_against_phash and "phash" in pdf.columns
            phashes = pdf["phash"].to_numpy() if has_phash else None
            # zip over raw columns, not iterrows: Series construction per
            # row costs more than the decode on small payloads
            for i, (image_id, data, fmt) in enumerate(
                zip(pdf["image_id"], pdf["bytes"], pdf["fmt"])
            ):
                img = decode_image(data, fmt)
                p = float("nan")
                if has_phash:
                    orig = pixels_for(
                        int(np.uint64(np.int64(phashes[i]))), img.shape[0], img.shape[1]
                    )
                    p = psnr(orig, img)
                means = img.reshape(-1, 3).mean(axis=0)
                out.append(
                    (
                        image_id,
                        img.shape[0],
                        img.shape[1],
                        round(float(means[0]), 4),
                        round(float(means[1]), 4),
                        round(float(means[2]), 4),
                        p,
                    )
                )
            yield pd.DataFrame(out, columns=[f.name for f in DECODE_STATS_SCHEMA])

    cols = ["image_id", "bytes", "fmt"] + (
        ["phash"] if check_against_phash else []
    )
    return images.select(*cols).mapInPandas(run, DECODE_STATS_SCHEMA)


MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("hex_cell", T.LongType()),
        T.StructField("n_images", T.IntegerType()),
        T.StructField("n_dropped", T.IntegerType()),
        T.StructField("grid", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("mosaic_png", T.BinaryType()),
    ]
)


def assemble_mosaic_pdf(
    pdf: pd.DataFrame, cell_px: int = 32, max_images_per_cell: int = 256
) -> pd.DataFrame:
    """One cell's mosaic: deterministic order, bounded canvas.

    If the caller pre-limited the group (mosaic_by_cell), `_n_total`
    carries the true cell population; otherwise it's len(pdf). px_sum
    (sum of canvas bytes) is the codec-independent content fingerprint
    the pyramid's base level carries."""
    pdf = pdf.sort_values("image_id")
    n_total = int(pdf["_n_total"].iloc[0]) if "_n_total" in pdf.columns and len(pdf) else len(pdf)
    pdf = pdf.head(max_images_per_cell)
    n = len(pdf)
    grid = max(int(math.ceil(math.sqrt(n))), 1)
    canvas = np.zeros((grid * cell_px, grid * cell_px, 3), dtype=np.uint8)
    for i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
        img = decode_image(data, fmt)
        hh = min(img.shape[0], cell_px)
        ww = min(img.shape[1], cell_px)
        r, c = divmod(i, grid)
        canvas[r * cell_px : r * cell_px + hh, c * cell_px : c * cell_px + ww] = img[
            :hh, :ww
        ]
    return pd.DataFrame(
        [
            (
                int(pdf["hex_cell"].iloc[0]) if n else None,
                n,
                n_total - n,
                grid,
                canvas.shape[1],
                canvas.shape[0],
                int(canvas.astype(np.int64).sum()),
                png_encode(canvas),
            )
        ],
        columns=[f.name for f in MOSAIC_SCHEMA],
    )


def mosaic_by_cell(
    images_geo: DataFrame, cell_px: int = 32, max_images_per_cell: int = 256
) -> DataFrame:
    """A10: groupBy(hex_cell).applyInPandas(assemble_mosaic).

    Skew guard: rows per cell are capped BEFORE the pandas group is
    materialized. applyInPandas loads the entire group into one task's
    pandas memory (no spill), so a hot urban cell would otherwise OOM
    regardless of what the UDF later drops. The row_number window runs on
    the same hex_cell key, so Catalyst plans ONE exchange: the window
    (whose buffer spills to disk, unlike pandas) ranks and filters, then
    the applyInPandas group — guaranteed <= cap rows — reuses the same
    partitioning. n_dropped comes from a count(*) window on the same key.
    """
    from pyspark.sql import Window as W

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return assemble_mosaic_pdf(pdf, cell_px, max_images_per_cell)

    wr = W.partitionBy("hex_cell").orderBy("image_id")
    # count over the SAME ordered spec (full frame) so both functions
    # evaluate in ONE WindowExec pass — a second unordered spec would add
    # another Window operator (~30% slower on this stage, measured)
    wc = wr.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = (
        images_geo.select("hex_cell", "image_id", "bytes", "fmt")
        .withColumn("_n_total", F.count("*").over(wc))
        .withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= max_images_per_cell)
        .drop("_rn")
    )
    return ranked.groupBy("hex_cell").applyInPandas(fn, MOSAIC_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("brightness", T.DoubleType()),
        T.StructField("contrast", T.DoubleType()),
        T.StructField("phash64", T.LongType()),
    ]
)


def image_features(images: DataFrame) -> DataFrame:
    """ONE decode pass per image -> luma stats + a REAL 64-bit DCT
    perceptual hash (functions/codecs.py dct_phash_batch — resize to
    32x32, 2-D DCT, AC-median threshold). Unlike the table's stored
    `phash` column (an ingest-time fingerprint), phash64 is computed
    FROM THE PIXELS, so re-encoded / brightness-shifted copies of the
    same picture land within Hamming <=2 of each other while unrelated
    images sit near 32 (measured; pinned in tests/test_image_curation.py).

    Batch shape: the decode loop is per-image (payload sizes vary) but
    the resized luma planes are STACKED and hashed with one einsum per
    Arrow batch; nothing row-at-a-time crosses the Python<->JVM boundary.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            grays = np.empty((n, 32, 32), dtype=np.float64)
            bright = np.empty(n)
            contrast = np.empty(n)
            hh = np.empty(n, dtype=np.int32)
            ww = np.empty(n, dtype=np.int32)
            for i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                img = decode_image(data, fmt)
                g = luma(img)
                bright[i] = g.mean()
                contrast[i] = g.std()
                hh[i], ww[i] = img.shape[:2]
                grays[i] = bilinear_resize(g, 32, 32)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "caption": pdf["caption"],
                    "h": hh,
                    "w": ww,
                    "brightness": np.round(bright, 6),
                    "contrast": np.round(contrast, 6),
                    "phash64": dct_phash_batch(grays) if n else np.array([], dtype=np.int64),
                }
            )

    return images.select("image_id", "caption", "bytes", "fmt").mapInPandas(
        run, FEATURES_SCHEMA
    )


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("fmt", T.StringType()),
    ]
)


def resize_images(images: DataFrame, out_h: int, out_w: int, fmt_out: str = "png") -> DataFrame:
    """Decode -> bilinear resize (half-pixel-center sampling) -> re-encode.
    The thumbnail stage every multimodal training pipeline runs before
    batching; map-only, payload crosses Arrow once each way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                encode_image(resize_uint8(decode_image(data, fmt), out_h, out_w), fmt_out)
                for data, fmt in zip(pdf["bytes"], pdf["fmt"])
            ]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "h": np.full(len(pdf), out_h, dtype=np.int32),
                    "w": np.full(len(pdf), out_w, dtype=np.int32),
                    "bytes": blobs,
                    "fmt": fmt_out,
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(run, THUMB_SCHEMA)


def curate_images(
    images: DataFrame,
    n_shards: int = 16,
    bright_lo: float = 112.0,
    bright_hi: float = 143.0,
    min_contrast: float = 8.0,
    min_caption_tokens: int = 3,
    max_hamming: int = 3,
    band_bits: int = 16,
    features: DataFrame | None = None,
) -> DataFrame:
    """The composed image-curation pipeline a 100 TB training-data build
    runs end to end (the image-axis sibling of d14's document pipeline):

      1. image_features — ONE decode pass: luma stats + real DCT phash64.
      2. quality gate — brightness window (over/under-exposure cut),
         minimum contrast, minimum caption token count. Plain codegen
         filters; nothing re-decodes.
      3. near-dup dedup — pigeonhole banding on phash64 (simhash_pairs,
         the d12 engine: per-band hash joins + exact popcount verify,
         max_bucket skew cap) -> connected components (large-star/
         small-star, O(log^2 n) rounds) -> keep each component's MIN
         image_id; survivors carry n_dups (members dropped behind them).
      4. shard assign — pmod(xxhash64(image_id), n_shards): deterministic,
         uniform, co-partitionable by any later writer.

    Every stage is bucketed/capped (no all-pairs surface); the payload
    column is touched exactly once (stage 1). The gated feature frame
    feeds TWO consumers (pair building and the survivor join), so it is
    persisted here (MEMORY_AND_DISK; payload-free rows — the bytes
    column never outlives stage 1) to keep the decode pass single-run;
    at cluster scale pass `features=` (a stored image_features table)
    and the pipeline becomes pure joins over that table. Returns
    curated rows: (image_id, caption, h, w, brightness, contrast,
    phash64, n_dups, shard).
    """
    from pyspark import StorageLevel

    from .dedup import connected_components, simhash_pairs

    feats = features if features is not None else image_features(images)
    ok = feats.filter(
        F.col("brightness").between(bright_lo, bright_hi)
        & (F.col("contrast") >= min_contrast)
        & (F.size(F.split(F.col("caption"), r"\s+")) >= min_caption_tokens)
    )
    if features is None:
        ok = ok.persist(StorageLevel.MEMORY_AND_DISK)
    # banding candidate volume is O(n_bands * n^2 / 2^band_bits); the
    # default 4x16 partitions the 64-bit hash exactly (pigeonhole
    # completeness for Hamming<=3 — ~8 rows/bucket at 500k images). At
    # larger corpora trade recall guarantee for volume via (n_bands,
    # band_bits) pairs that still tile 64 bits (e.g. 3x21 for
    # Hamming<=2), and rely on max_bucket inside simhash_pairs to cap
    # the degenerate tail.
    pairs = simhash_pairs(
        ok.select("image_id", "phash64"),
        max_hamming=max_hamming,
        id_col="image_id",
        sig_col="phash64",
        n_bands=4,
        band_bits=band_bits,
    )
    comp = connected_components(pairs, id_a="id_a", id_b="id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("_n_members"))
    # survivors: component minimum (component == own id) or untouched by
    # any pair; n_dups = members dropped behind the canonical row
    out = (
        ok.join(comp.withColumnRenamed("doc_id", "image_id"), "image_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("image_id")))
        .join(sizes, "component", "left")
        .withColumn("n_dups", F.coalesce(F.col("_n_members") - 1, F.lit(0)).cast("int"))
        .withColumn("shard", F.pmod(F.xxhash64("image_id"), F.lit(n_shards)).cast("int"))
        .drop("component", "_n_members")
    )
    return out


PYRAMID_SCHEMA = T.StructType(
    [
        T.StructField("hex_cell", T.LongType()),
        T.StructField("n_children", T.IntegerType()),
        T.StructField("n_images", T.LongType()),
        T.StructField("grid", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("mosaic_png", T.BinaryType()),
    ]
)


def assemble_pyramid_pdf(
    pdf: pd.DataFrame, thumb_px: int = 32, max_children: int = 64
) -> pd.DataFrame:
    """One parent tile from its child tiles: each child mosaic (a
    grid*thumb_px square) block-mean downsamples EXACTLY by its own grid
    factor to one thumb_px thumbnail, pasted in child-cell-id order on a
    ceil(sqrt(n)) grid — the same deterministic layout as the base
    mosaics. px_sum (sum of canvas bytes) rides along as the
    codec-independent content fingerprint."""
    pdf = pdf.sort_values("hex_cell")
    n_total = len(pdf)
    pdf = pdf.head(max_children)
    n = len(pdf)
    grid = max(int(math.ceil(math.sqrt(n))), 1)
    canvas = np.zeros((grid * thumb_px, grid * thumb_px, 3), dtype=np.uint8)
    for i, png in enumerate(pdf["mosaic_png"]):
        img = png_decode(png)
        f = img.shape[0] // thumb_px
        if f >= 1 and img.shape == (f * thumb_px, f * thumb_px, 3):
            thumb = (
                img.astype(np.float64)
                .reshape(thumb_px, f, thumb_px, f, 3)
                .mean(axis=(1, 3))
                .astype(np.uint8)
            )
        else:  # non-square / sub-thumb tile: paste-crop (defensive; the
            # pyramid's own tiles are always square multiples of thumb_px)
            thumb = np.zeros((thumb_px, thumb_px, 3), dtype=np.uint8)
            hh, ww = min(img.shape[0], thumb_px), min(img.shape[1], thumb_px)
            thumb[:hh, :ww] = img[:hh, :ww]
        rr, cc = divmod(i, grid)
        canvas[
            rr * thumb_px : (rr + 1) * thumb_px, cc * thumb_px : (cc + 1) * thumb_px
        ] = thumb
    return pd.DataFrame(
        [
            (
                int(pdf["parent_cell"].iloc[0]),
                n_total,
                int(pdf["n_images"].sum()),
                grid,
                canvas.shape[1],
                canvas.shape[0],
                int(canvas.astype(np.int64).sum()),
                png_encode(canvas),
            )
        ],
        columns=[f.name for f in PYRAMID_SCHEMA],
    )


def mosaic_pyramid(
    images_geo: DataFrame,
    levels: int = 3,
    cell_px: int = 32,
    max_images_per_cell: int = 256,
    max_children: int = 64,
) -> DataFrame:
    """Multi-resolution tile pyramid over the image table (the raster
    side of the tiling engine; extends A10 the way slippy-map/tile-server
    pyramids extend a single zoom level — no reference analog, the GUI
    renders one level only).

    Scale shape: the raw image table is read EXACTLY ONCE (the base
    mosaic_by_cell build). Every coarser level L+1 is built from level
    L's TILES: one shuffle on the aperture-7 parent cell over a frame
    that SHRINKS ~7x per step, so total pyramid cost beyond the base is
    a geometric series in the base tile count — never a second pass over
    the corpus. Each level's tile frame is localCheckpoint'd because it
    is consumed TWICE (as a union branch of the result and as the next
    level's rollup input) and union branches share no physical subplan:
    ReuseExchange dedupes only the shuffle below the base build, so
    without the break the base decode+stitch (the one full-corpus
    Python pass) would re-execute once per pyramid level. Tile frames
    are O(cells), so the materialization is bounded by the grid, never
    the corpus. Group sizes are geometry-bounded (center-containment
    parents take ~7, observed max 8, children; max_children is a
    defensive cap), so applyInPandas memory is O(grid^2 * cell_px^2)
    per task regardless of corpus size, mirroring the skew guard notes
    on mosaic_by_cell.
    """
    from ..functions.cells import make_hex_parent_udf

    base = mosaic_by_cell(images_geo, cell_px, max_images_per_cell)
    cur = base.select(
        "hex_cell",
        F.col("n_images").alias("n_children"),
        (F.col("n_images") + F.col("n_dropped")).cast("long").alias("n_images"),
        "grid",
        "tile_w",
        "tile_h",
        "px_sum",
        "mosaic_png",
    )

    parent = make_hex_parent_udf()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return assemble_pyramid_pdf(pdf, cell_px, max_children)

    frames = [cur.localCheckpoint()]
    for _ in range(max(levels, 1) - 1):
        frames.append(
            frames[-1]
            .withColumn("parent_cell", parent("hex_cell"))
            .groupBy("parent_cell")
            .applyInPandas(fn, PYRAMID_SCHEMA)
            .localCheckpoint()
        )
    cols = [f.name for f in PYRAMID_SCHEMA]
    out = None
    for fr in frames:
        lvl = fr.select(
            F.shiftright("hex_cell", 58).cast("int").alias("res"), *cols
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


def write_pyramid(pyr: DataFrame, path: str) -> None:
    """Tile-SERVING layout for a mosaic_pyramid result: hive-partitioned
    by res (a tile fetch names exactly one level, so the level filter
    becomes PartitionFilters — the scan never opens other levels),
    repartition("res") first so each level is one compacted file tree
    (the same small-files discipline as the sync's cell_part feed).
    Iceberg equivalent: partition spec (res) + rewrite_data_files."""
    pyr.repartition("res").write.mode("overwrite").partitionBy("res").parquet(path)


def tiles_for_bbox(
    spark,
    path: str,
    min_lat: float,
    min_lon: float,
    max_lat: float,
    max_lon: float,
    res: int,
) -> DataFrame:
    """Tile-server fetch: the tiles of ONE pyramid level that cover a
    bbox, from a write_pyramid layout. The level filter partition-prunes
    the scan. The bbox's q x r axial cover rectangle
    (cells.hex_bbox_axial_range, the rectangle pip.polygon_cells lists)
    is one packed-id range pushed to the parquet reader as
    GreaterThanOrEqual/LessThanOrEqual(hex_cell), so it row-group-skips
    inside the level, plus an r-bits range applied after the scan. The
    plan holds O(1) literals for any bbox size, so there is no cell cap
    and no whole-level fallback. COVERING semantics: every tile
    intersecting the bbox is returned, plus a bounded margin of adjacent
    tiles from the rectangle (clients clip; exactness is the renderer's
    job, pruning is the scan's). Raises ValueError on an inverted bbox
    (min above max): the axial cover would span the whole band between
    the two longitudes instead of wrapping across +/-180."""
    from ..functions.cells import hex_bbox_cover_col

    if min_lat > max_lat or min_lon > max_lon:
        raise ValueError(
            f"inverted bbox ({min_lat}, {min_lon}, {max_lat}, {max_lon}): min must not "
            "exceed max; split a request across the antimeridian into two bboxes, "
            "one on each side of +/-180"
        )

    return (
        spark.read.parquet(path)
        .filter(F.col("res") == res)
        .filter(hex_bbox_cover_col(F.col("hex_cell"), min_lat, min_lon, max_lat, max_lon, res))
    )
