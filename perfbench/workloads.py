"""The benchmark's four workloads.

Each workload stages seeded inputs as parquet (the program only ever
reads staged parquet), checks the program's output against an oracle
from perfbench/oracles.py, and exposes one pass of timed operations.
The seed picks the id window fed to synth's per-id generators, so the
same seed always stages the same rows.

Why these four (perfbench/README.md has the sizes):
- assign: the images headline (geotag -> 400 m kNN -> category); JVM
  cell join and reduce, zero Python. Vincenty or PIP changes read flat.
- compare: GO_Sync's own stop<->node compare; Python Vincenty, windows,
  anti-joins and tag merges dominate.
- sync: the incremental path, the same compare on O(k * ring) inputs
  plus two SnapTable appends per micro-batch; fixed per-stage cost
  dominates, so extra stages or broadcasts show here.
- tiles: the only workload through operators.pip and operators.images,
  with pyramid writes beside bbox reads.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass
from statistics import median
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.functions.cells import (
    cover_cell_col,
    cover_cells_col,
    hex_cell_np,
    make_hex_cell_udf,
    s2_cell_np,
)
from gtfs_osm_sync_spark.operators import compare as C
from gtfs_osm_sync_spark.operators import images as IMG
from gtfs_osm_sync_spark.operators import pip as PIP
from gtfs_osm_sync_spark.operators.spatial_join import HEX_RES, radius_join
from gtfs_osm_sync_spark.pipeline import assign_images
from gtfs_osm_sync_spark.sources.snaptable import SnapTable, bloom_filter_options
from gtfs_osm_sync_spark.streaming import sync as S

import oracles

AGENCY = synth.COMPARE_AGENCY
ID_DIGITS = synth._CMP_DIGITS
RADIUS_M = 400.0
PARTS = max(os.cpu_count() or 4, 4)  # files per staged table, as synth's generators split


def digest(df: DataFrame, cols: list) -> tuple[int, int]:
    """Order-independent (hash-sum, count) of a frame."""
    r = df.agg(F.sum(F.hash(*cols)).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]
    return int(r["h"] or 0), int(r["n"])


def sorted_map(c: str):
    """A map column as a hashable, order-independent value."""
    return F.array_sort(F.map_entries(F.col(c)))


def timed(fn: Callable[[], Any]) -> tuple[Any, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


_DDL_TYPES = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "boolean": T.BooleanType(),
    "map<string,string>": T.MapType(T.StringType(), T.StringType()),
}


def ddl_schema(ddl: str) -> T.StructType:
    """StructType of a flat "name type, ..." DDL string, without a JVM."""
    pairs = re.findall(r"(\w+)\s+(map<[^>]*>|\w+)", ddl)
    return T.StructType([T.StructField(n, _DDL_TYPES[t.replace(" ", "")]) for n, t in pairs])


def write_parquet(pdf: pd.DataFrame, path: str, schema: T.StructType, parts: int = 1) -> None:
    """Stage a pandas frame as `parts` parquet files with Spark's schema,
    without a Spark job (staging overlaps the session start)."""
    os.makedirs(path, exist_ok=True)
    arrow = to_arrow_schema(schema)
    pdf = pdf.copy()
    for f in schema:
        if isinstance(f.dataType, T.MapType):
            pdf[f.name] = [None if m is None else list(dict(m).items()) for m in pdf[f.name]]
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        table = pa.Table.from_pandas(pdf.iloc[chunk], schema=arrow, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def geo_only_pdf(ids: np.ndarray) -> pd.DataFrame:
    """synth.generate_geo_only's rows for `ids`."""
    ids = ids.astype(np.uint64)
    phash = synth.splitmix64(ids).view(np.int64)
    lat, lon = synth.phash_latlon_np(phash)
    return pd.DataFrame(
        {
            "image_id": [f"img{int(i):012d}" for i in ids],
            "phash": phash,
            "lat": lat,
            "lon": lon,
            "hex_cell": hex_cell_np(lat, lon, 9),
            "s2_cell": s2_cell_np(lat, lon, 15),
        }
    )


def images_geo_pdf(ids: np.ndarray) -> pd.DataFrame:
    """synth.generate_images_geo's rows (payload bytes included) for `ids`."""
    out = synth.gen_images_pdf(ids)
    lat, lon = synth.phash_latlon_np(out["phash"].to_numpy(np.int64))
    out["lat"], out["lon"] = lat, lon
    out["hex_cell"] = hex_cell_np(lat, lon, 9)
    out["s2_cell"] = s2_cell_np(lat, lon, 15)
    return out


def features_pdf(start: int, n: int) -> pd.DataFrame:
    """synth features anchored to images [start, start + n): one per 50."""
    total = start + n
    fids = np.arange(start // 50, total // 50)
    return synth.gen_features_pdf(fids, total, total // 50)


@dataclass
class Op:
    """One timed operation. `run` is timed; `settle` runs untimed after
    it and turns run's result into the digest that must repeat across
    passes."""

    key: str
    kind: str
    records: int
    run: Callable[[], Any]
    settle: Callable[[Any], Any] | None = None


class Workload:
    name = ""
    record = ""  # what rows_per_s counts
    latency_kind = ""  # the op kind whose time is the latency sample
    rate_kind = ""  # the op kind whose records and time give rows_per_s
    window_limit = 10**9  # exclusive upper bound on generated ids
    warm_passes = 1  # set-up ends with this many passes of pass_ops()

    def __init__(self, work: str, seed: int, smoke: bool):
        self.spark: SparkSession | None = None
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.smoke = smoke
        os.makedirs(self.work, exist_ok=True)

    def window(self, n: int) -> int:
        """First id of this seed's window of n ids."""
        return (self.seed % (self.window_limit // n - 1)) * n

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    # -- lifecycle, in the order the runner calls it --------------------------
    def stage(self) -> None:
        """Generate and write the seeded inputs; runs before the session
        exists, so pandas and pyarrow only (untimed)."""

    def stage_spark(self) -> None:
        """Staging that needs the session (untimed)."""

    def load(self) -> None:
        """Read the staged inputs and hold what every operation uses."""

    def warmup(self) -> None:
        """Work a user pays once before steady state (timed as set-up)."""

    def check(self) -> list[str]:
        """Oracle check before set-up (untimed); returns the mismatches."""
        return []

    def begin_pass(self) -> None:
        """Untimed reset before each pass of pass_ops()."""

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def recache(self) -> None:
        """Re-hold inputs after the runner cleared the session caches."""

    def verify(self) -> list[str]:
        """Untimed end-of-run check of accumulated state."""
        return []

    def scan_frames(self) -> list[DataFrame]:
        return []

    def layers(self, probe, op_times: dict[str, list[float]]) -> dict[str, float]:
        """Per-layer metrics for the traced run; `probe(layer, fn)` runs
        fn under the layer's job group and returns (result, seconds)."""
        return {}


# ---------------------------------------------------------------------------
# assign: images -> nearest feature + category
# ---------------------------------------------------------------------------


class Assign(Workload):
    name = "assign"
    record = "images"
    latency_kind = rate_kind = "assign"
    warm_passes = 4  # a pass is ~1 s; op times still fall through the first few

    def __init__(self, *a):
        super().__init__(*a)
        self.n = 10_000 if self.smoke else 100_000
        self.n_check = 2_000 if self.smoke else 3_000
        self.start = self.window(self.n)

    def stage(self) -> None:
        for suffix, n, parts in (("", self.n, PARTS), ("_check", self.n_check, 1)):
            ids = np.arange(self.start, self.start + n)
            write_parquet(geo_only_pdf(ids), self.path("images" + suffix), synth.GEO_ONLY_SCHEMA, parts)
            write_parquet(features_pdf(self.start, n), self.path("features" + suffix), synth.FEATURES_SCHEMA)

    def load(self) -> None:
        self.images, self.features = self.read("images"), self.read("features")
        self.images.count(), self.features.count()

    def check(self) -> list[str]:
        imgs, feats = self.read("images_check"), self.read("features_check")
        got = assign_images(imgs, feats).toPandas().set_index("image_id")
        want = oracles.assign_oracle(imgs.toPandas(), feats.toPandas()).set_index("image_id")
        bad = []
        for col in ("nearest_feature_id", "match_feature_id", "category"):
            diff = got[col].fillna("-").ne(want[col].reindex(got.index).fillna("-"))
            bad += [f"assign {i}: {col} {got.at[i, col]!r} != {want.at[i, col]!r}" for i in got.index[diff][:3]]
        if len(got) != len(want):
            bad.append(f"assign: {len(got)} rows != {len(want)} images")
        return bad

    def pass_ops(self) -> list[Op]:
        cols = ["image_id", "nearest_feature_id", "nearest_dist_m", "match_feature_id", "category"]
        run = lambda: digest(assign_images(self.images, self.features, k=5), cols)  # noqa: E731
        return [Op("assign", "assign", self.n, run)]

    def scan_frames(self) -> list[DataFrame]:
        return [self.images, self.features]

    def layers(self, probe, op_times) -> dict[str, float]:
        out: dict[str, float] = {}
        f = self.features.select(F.explode(cover_cells_col(F.col("lat"), F.col("lon"), RADIUS_M)).alias("_c"))
        out["cells.cover_rows"], out["cells.cover_s"] = probe("cells.cover", f.count)
        kept, out["spatial_join.s"] = probe(
            "spatial_join", lambda: radius_join(self.images, self.features, RADIUS_M).count()
        )
        left = self.images.select(cover_cell_col(F.col("lat"), F.col("lon"), RADIUS_M).alias("_c"))
        cand, _ = probe("spatial_join.candidates", left.join(F.broadcast(f), "_c").count)
        out["spatial_join.candidate_pairs"] = cand
        out["spatial_join.kept_pairs"] = kept
        out["spatial_join.keep_ratio"] = kept / cand if cand else 0.0
        # self time of the reduce: the pipeline pass minus its join prefix
        out["pipeline.reduce_s"] = max(median(op_times["assign"]) - out["spatial_join.s"], 0.0)
        return out


# ---------------------------------------------------------------------------
# compare: GO_Sync stop <-> node categorization
# ---------------------------------------------------------------------------

STOPS_SCHEMA = ddl_schema(synth.COMPARE_STOPS_SCHEMA)
NODES_SCHEMA = ddl_schema(synth.COMPARE_NODES_SCHEMA)
UPDATES_SCHEMA = ddl_schema(synth.COMPARE_NODES_SCHEMA + ", deleted boolean")
STOP_COLS = ["gtfs_id", "category", "osm_id", "dist_m", "final_lat", "final_lon"]


def compare_digest(df: DataFrame) -> tuple[int, int]:
    return digest(df, STOP_COLS + [sorted_map("merged_tags")])


def modifies_digest(df: DataFrame) -> tuple[int, int]:
    return digest(df, ["osm_id", "version", "lat", "lon", sorted_map("tags")])


def stage_compare_world(path: Callable[[str], str], start: int, n: int, suffix: str = "") -> tuple:
    """Stage stops and nodes for ids [start, start + n); returns both."""
    ids = np.arange(start, start + n)
    stops, nodes = synth.gen_compare_stops_pdf(ids), synth.gen_compare_nodes_pdf(ids)
    write_parquet(stops, path("stops" + suffix), STOPS_SCHEMA)
    write_parquet(nodes, path("nodes" + suffix), NODES_SCHEMA)
    return stops, nodes


class Compare(Workload):
    name = "compare"
    record = "stops"
    latency_kind = rate_kind = "compare"
    window_limit = 10**ID_DIGITS  # stop ids keep their zero-padded width

    def __init__(self, *a):
        super().__init__(*a)
        self.n = 500 if self.smoke else 4_000
        self.n_check = 300 if self.smoke else 500
        self.start = self.window(self.n)
        self.split: dict[str, list[float]] = {"compare_stops": [], "node_modifies": []}

    def stage(self) -> None:
        stage_compare_world(self.path, self.start, self.n)
        stage_compare_world(self.path, self.start, self.n_check, "_check")

    def load(self) -> None:
        self.stops, self.nodes = self.read("stops"), self.read("nodes")
        self.stops.count(), self.nodes.count()

    def check(self) -> list[str]:
        stops, nodes = self.read("stops_check"), self.read("nodes_check")
        got = {
            r["gtfs_id"]: r["category"]
            for r in C.compare_stops(stops, nodes, [AGENCY], id_digits=ID_DIGITS).select("gtfs_id", "category").collect()
        }
        want = oracles.compare_oracle(stops.toPandas(), nodes.toPandas(), AGENCY, ID_DIGITS)
        bad = [f"compare {g}: {got.get(g)} != {w}" for g, w in want.items() if got.get(g) != w]
        if len(got) != len(want):
            bad.append(f"compare: {len(got)} rows != {len(want)} stops")
        return bad[:5]

    def run_once(self) -> tuple:
        args = (self.stops, self.nodes, [AGENCY])
        a, t1 = timed(lambda: compare_digest(C.compare_stops(*args, id_digits=ID_DIGITS)))
        b, t2 = timed(lambda: modifies_digest(C.redundant_node_modifies(*args, id_digits=ID_DIGITS)))
        self.split["compare_stops"].append(t1)
        self.split["node_modifies"].append(t2)
        return a, b

    def pass_ops(self) -> list[Op]:
        return [Op("compare", "compare", self.n, self.run_once)]

    def scan_frames(self) -> list[DataFrame]:
        return [self.stops, self.nodes]

    def layers(self, probe, op_times) -> dict[str, float]:
        cells = self.stops.select(F.explode(cover_cells_col(F.col("lat"), F.col("lon"), RADIUS_M)))
        rows, secs = probe("cells.cover", cells.count)
        # the first split belongs to the warm-up pass
        steady = {k: v[1:] or v for k, v in self.split.items()}
        return {
            "cells.cover_rows": rows,
            "cells.cover_s": secs,
            "compare.compare_stops_s": median(steady["compare_stops"]),
            "compare.node_modifies_s": median(steady["node_modifies"]),
        }


# ---------------------------------------------------------------------------
# sync: clustered node-move micro-batches through the incremental sync
# ---------------------------------------------------------------------------


class Sync(Workload):
    name = "sync"
    record = "node updates"
    latency_kind = rate_kind = "batch"
    window_limit = 10**ID_DIGITS
    warm_passes = 0  # the bootstrap batch is the warm-up

    def __init__(self, *a):
        super().__init__(*a)
        self.n = 600 if self.smoke else 3_000
        self.k = 20 if self.smoke else 50
        self.n_batches = 2 if self.smoke else 3
        self.start = self.window(self.n)
        self.returns: list[int] = []
        self.appends: list[tuple[float, int, int]] = []
        self.applied: list[int] = []  # batches run since the last restore

    def stage(self) -> None:
        # the oracle's inputs stay host-side
        self.stops_pdf, nodes = stage_compare_world(self.path, self.start, self.n)
        nodes["deleted"] = False
        write_parquet(nodes, self.path("nodes0"), UPDATES_SCHEMA)
        # clustered batches: k nodes of one coarse cell move 100 m north,
        # so the delta path runs instead of the full-recompare fallback
        cell = hex_cell_np(nodes["lat"].to_numpy(), nodes["lon"].to_numpy(), S.COARSE_RES)
        sizes = pd.Series(cell).value_counts()
        chosen = sorted(sizes[sizes >= self.k].sort_values(kind="stable").index[: self.n_batches])
        if len(chosen) < self.n_batches:
            raise RuntimeError(f"sync: only {len(chosen)} coarse cells hold {self.k} nodes")
        self.moves = []
        for j, c in enumerate(chosen):
            b = nodes[cell == c].sort_values("osm_id").head(self.k).copy()
            b["lat"] += 0.0009
            write_parquet(b, self.path(f"batch{j}"), UPDATES_SCHEMA)
            self.moves.append(b)
        self.nodes_pdf = nodes

    def stage_spark(self) -> None:
        # the stored feed layout the sync docs prescribe: stamped cells,
        # hive-partitioned by the coarse cell, one file per partition
        S.stamp_feed_cells(self.read("stops")).repartition("cell_part").write.mode(
            "overwrite"
        ).partitionBy("cell_part").parquet(self.path("feed"))

    def load(self) -> None:
        self.feed = self.read("feed")
        self.n_feed = self.feed.count()
        self.recache()
        self.batches = [self.read(f"batch{j}") for j in range(self.n_batches)]
        self.stops = self.read("stops")

    def recache(self) -> None:
        self.feed_ids = self.feed.select("gtfs_id").cache()
        self.feed_ids.count()

    def apply(self, upd: DataFrame, bid: int) -> int:
        return S.apply_update_batch(
            self.spark, upd, self.nlog, self.rlog, self.feed, [AGENCY], bid,
            n_feed=self.n_feed, feed_ids=self.feed_ids, id_digits=ID_DIGITS,
        )

    def warmup(self) -> None:
        """Bootstrap the sync state: the first batch is the full node
        snapshot (a full compare), then the node log is compacted into
        its partitioned base."""
        for d in ("nlog", "rlog"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        self.nlog = SnapTable(
            self.path("nlog"), partition_by="cell_part", write_options=bloom_filter_options(["osm_id"])
        )
        self.rlog = SnapTable(self.path("rlog"))
        self.apply(self.read("nodes0"), 0)
        S.compact_node_log(self.spark, self.nlog)

    def begin_pass(self) -> None:
        # restore the post-bootstrap state so every pass replays the same
        # batches against the same tables
        for d in ("nlog", "rlog"):
            snap = self.path(d + "_boot")
            if not os.path.exists(snap):
                shutil.copytree(self.path(d), snap)
            shutil.rmtree(self.path(d))
            shutil.copytree(snap, self.path(d))
        self.nlog = SnapTable(self.path("nlog"))
        self.rlog = SnapTable(self.path("rlog"))
        self.applied = []

    def pass_ops(self) -> list[Op]:
        ops = []
        for j, upd in enumerate(self.batches):
            bid = j + 1

            def run(upd=upd, bid=bid) -> int:
                n = self.apply(upd, bid)
                self.returns.append(n)
                self.applied.append(bid - 1)
                return n

            def settle(n, bid=bid):
                rows = self.rlog.read(self.spark).filter(F.col("update_seq") == bid)
                return n, compare_digest(rows)

            ops.append(Op(f"batch{bid}", "batch", self.k, run, settle))
        return ops

    def final_state(self) -> DataFrame:
        return S.current_nodes(self.nlog.read(self.spark))

    def verify(self) -> list[str]:
        """The merged result categories must equal the oracle's on the
        final node state (the bootstrap snapshot plus the batches run)."""
        nodes = self.nodes_pdf.set_index("osm_id")
        for j in self.applied:
            moved = self.moves[j].set_index("osm_id")
            nodes.loc[moved.index, "lat"] = moved["lat"]
        want = oracles.compare_oracle(self.stops_pdf, nodes.reset_index(), AGENCY, ID_DIGITS)
        merged = S.current_results(self.rlog, self.spark).select("gtfs_id", "category").collect()
        got = {r[0]: r[1] for r in merged}
        bad = [f"sync {g}: merged {got.get(g)} != oracle {w}" for g, w in want.items() if got.get(g) != w]
        if len(got) != len(want):
            bad.append(f"sync: {len(got)} merged rows != {len(want)} stops")
        return bad[:5]

    def scan_frames(self) -> list[DataFrame]:
        return [self.feed, self.read("nodes0")]

    def layers(self, probe, op_times) -> dict[str, float]:
        out: dict[str, float] = {}
        hexc = make_hex_cell_udf(HEX_RES)
        cells = self.feed.select(hexc(F.col("lat"), F.col("lon")).alias("c"))
        out["cells.hex_udf_rows"], out["cells.hex_udf_s"] = probe("cells.hex_udf", cells.count)
        # the first batch's delta path, one public call at a time
        upd = self.batches[0]
        old = self.read("nodes0").join(upd.select("osm_id"), "osm_id", "left_semi")
        changed = old.select("lat", "lon").unionByName(upd.select("lat", "lon")).localCheckpoint()
        touched, out["sync.affected_s"] = probe(
            "sync.affected", lambda: S.affected_stop_ids(self.feed, changed).localCheckpoint()
        )
        sub = self.feed.join(F.broadcast(touched), "gtfs_id", "left_semi").localCheckpoint()
        state = self.final_state()
        pruned, out["sync.prune_state_s"] = probe(
            "sync.prune_state", lambda: S.prune_state_to_stop_rings(state, sub).localCheckpoint()
        )
        _, out["sync.recompare_s"] = probe(
            "sync.recompare",
            lambda: compare_digest(C.compare_stops(sub, pruned, [AGENCY], id_digits=ID_DIGITS, known_ids=self.feed)),
        )
        # the compare layer on the full feed against the final node state
        args = (self.stops, state, [AGENCY])
        _, out["compare.compare_stops_s"] = probe(
            "compare", lambda: compare_digest(C.compare_stops(*args, id_digits=ID_DIGITS))
        )
        _, out["compare.node_modifies_s"] = probe(
            "compare.node_modifies", lambda: modifies_digest(C.redundant_node_modifies(*args, id_digits=ID_DIGITS))
        )
        n = len(self.returns)
        out["sync.recompared_stops"] = sum(self.returns) / n
        out["sync.fallback_batches"] = sum(r >= self.n_feed for r in self.returns)
        if self.appends:
            out["snaptable.append_s"] = sum(a[0] for a in self.appends) / n
            out["snaptable.bytes_written"] = sum(a[1] for a in self.appends) / n
            out["snaptable.files_written"] = sum(a[2] for a in self.appends) / n
        return out


class AppendTrace:
    """Wraps SnapTable.append while active: time, bytes and files of
    each append go to `sink`."""

    def __init__(self, sink: list):
        self.sink = sink
        self.orig = SnapTable.append

    def __enter__(self):
        orig, sink = self.orig, self.sink

        def append(table, df, checkpoint=None):
            before = dir_bytes(table.root)
            v, dt = timed(lambda: orig(table, df, checkpoint=checkpoint))
            after = dir_bytes(table.root)
            sink.append((dt, after[0] - before[0], after[1] - before[1]))
            return v

        SnapTable.append = append
        return self

    def __exit__(self, *exc):
        SnapTable.append = self.orig


# ---------------------------------------------------------------------------
# tiles: PIP join, mosaic pyramid build + write, bbox tile fetches
# ---------------------------------------------------------------------------

PYRAMID_LEVELS = 3
FETCH_RES = 8


class Tiles(Workload):
    """A tile server: set-up builds the mosaic pyramid store (PIP
    classification, pyramid, write); steady state serves bbox fetches
    beside re-running the per-image PIP classification."""

    name = "tiles"
    record = "images"
    latency_kind = "fetch"
    rate_kind = "pip"
    warm_passes = 0  # the warm-up builds the store and warms each fetch

    def __init__(self, *a):
        super().__init__(*a)
        self.n = 200 if self.smoke else 300
        # fetch half-widths in degrees, small and large alternating so a
        # pass the deadline cuts short keeps a balanced mix
        self.half_deg = [0.01, 0.05] if self.smoke else [0.005, 0.1, 0.01, 0.07, 0.02, 0.04]
        self.start = self.window(self.n)
        self.pairs: set[tuple[str, str]] = set()

    def stage(self) -> None:
        ids = np.arange(self.start, self.start + self.n)
        write_parquet(images_geo_pdf(ids), self.path("images"), synth.IMAGES_GEO_SCHEMA, parts=2)

    def stage_spark(self) -> None:
        synth.generate_polygons(self.spark).write.mode("overwrite").parquet(self.path("polygons"))

    def load(self) -> None:
        self.images, self.polygons = self.read("images"), self.read("polygons")
        self.images.count(), self.polygons.count()
        # fetch boxes centered on staged images
        pts = self.images.select("lat", "lon").orderBy("image_id").limit(len(self.half_deg)).collect()
        self.bboxes = [
            (p["lat"] - h, p["lon"] - h, p["lat"] + h, p["lon"] + h) for p, h in zip(pts, self.half_deg)
        ]

    def pip(self) -> tuple[int, int]:
        rows = PIP.pip_join(self.images, self.polygons).select("image_id", "poly_id").collect()
        self.pairs = {(r[0], r[1]) for r in rows}
        return len(rows), hash(frozenset(self.pairs))

    def warmup(self) -> None:
        """Build the tile store, then warm every fetch once."""
        self.pip()
        IMG.write_pyramid(IMG.mosaic_pyramid(self.images, levels=PYRAMID_LEVELS), self.path("pyramid"))
        for b in self.bboxes:
            self.fetch(b)

    def verify(self) -> list[str]:
        """The last PIP pass's pairs against all-pairs ray casting; every pyramid level
        holds every image exactly once."""
        points = self.images.select("image_id", "lat", "lon").toPandas()
        want = oracles.pip_oracle(points, self.polygons.toPandas())
        bad = [f"pip: {p} missing" for p in sorted(want - self.pairs)[:3]]
        bad += [f"pip: {p} extra" for p in sorted(self.pairs - want)[:3]]
        pyr = self.read("pyramid")
        sums = {r["res"]: r["s"] for r in pyr.groupBy("res").agg(F.sum("n_images").alias("s")).collect()}
        if len(sums) != PYRAMID_LEVELS or any(s != self.n for s in sums.values()):
            bad.append(f"tiles: pyramid image sums per level {sums} != {self.n}")
        return bad

    def fetch(self, bbox) -> tuple[int, int]:
        df = IMG.tiles_for_bbox(self.spark, self.path("pyramid"), *bbox, res=FETCH_RES)
        return digest(df, ["hex_cell", "n_images", "px_sum"])

    def pass_ops(self) -> list[Op]:
        # every fetch before the first PIP pass, so even a slow pass that
        # the deadline cuts holds each bbox once
        ops = [Op(f"fetch{i}", "fetch", 0, lambda b=b: self.fetch(b)) for i, b in enumerate(self.bboxes)]
        pip = Op("pip", "pip", self.n, self.pip)
        return ops + [pip, pip]

    def scan_frames(self) -> list[DataFrame]:
        return [self.images, self.polygons]

    def layers(self, probe, op_times) -> dict[str, float]:
        out: dict[str, float] = {}
        hexc = make_hex_cell_udf(7)
        cells = self.images.select(hexc(F.col("lat"), F.col("lon")).alias("c"))
        out["cells.hex_udf_rows"], out["cells.hex_udf_s"] = probe("cells.hex_udf", cells.count)
        out["pip.cover_cells"] = int(PIP.polygon_cells(self.polygons.toPandas(), res=7)["hex_cell"].notna().sum())
        out["pip.kept_rows"], _ = probe("pip", PIP.pip_join(self.images, self.polygons).count)
        _, out["images.mosaic_s"] = probe(
            "images.pyramid",
            lambda: IMG.write_pyramid(IMG.mosaic_pyramid(self.images, levels=PYRAMID_LEVELS), self.path("pyramid")),
        )
        out["images.write_bytes"] = dir_bytes(self.path("pyramid"))[0]
        cover, plan, run = [], [], []
        for b in self.bboxes:
            box = pd.DataFrame([dict(poly_id="bbox", min_lat=b[0], min_lon=b[1], max_lat=b[2], max_lon=b[3])])
            cover.append(int(PIP.polygon_cells(box, res=FETCH_RES)["hex_cell"].notna().sum()))
            df, t = timed(lambda: IMG.tiles_for_bbox(self.spark, self.path("pyramid"), *b, res=FETCH_RES))
            plan.append(t)
            run.append(probe("images.fetch", lambda: digest(df, ["hex_cell", "n_images", "px_sum"]))[1])
        out["images.fetch_cover_cells"] = sum(cover) / len(cover)
        out["images.fetch_plan_s"] = sum(plan) / len(plan)
        out["images.fetch_exec_s"] = sum(run) / len(run)
        return out


WORKLOADS = {w.name: w for w in (Assign, Compare, Sync, Tiles)}
