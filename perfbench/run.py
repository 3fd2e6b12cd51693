"""The repo benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload assign --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each run stages its workload's seeded
inputs under .perfbench_work/, checks the program against an oracle,
sets up (session, input load, warm-up), then runs operations back to
back for --seconds and prints a table followed by one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
(which also enables the Spark event log). --smoke runs every workload
at toy sizes in one session and validates metric names and units
against BENCHMARK.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback
from collections import defaultdict
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOAD_ROUNDS = 3  # set-up input loads per run; setup_s takes their median
DRIVER_MEM = "2g"  # the session default (24g) exceeds this 15 GB host's share

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "scan.rows": "rows",
    "scan.s": "s",
    "cells.cover_rows": "rows",
    "cells.cover_s": "s",
    "cells.hex_udf_rows": "rows",
    "cells.hex_udf_s": "s",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.kept_pairs": "count",
    "spatial_join.keep_ratio": "ratio",
    "spatial_join.s": "s",
    "geo.vincenty_rows": "rows",
    "geo.vincenty_python_s": "s",
    "pipeline.reduce_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "compare.compare_stops_s": "s",
    "compare.node_modifies_s": "s",
    "compare.python_rows": "rows",
    "compare.shuffle_bytes": "bytes",
    "compare.stages": "count",
    "compare.cached_left": "count",
    "sync.recompared_stops": "rows",
    "sync.fallback_batches": "count",
    "sync.affected_s": "s",
    "sync.prune_state_s": "s",
    "sync.recompare_s": "s",
    "sync.stages_per_batch": "count",
    "sync.tasks_per_batch": "count",
    "snaptable.append_s": "s",
    "snaptable.bytes_written": "bytes",
    "snaptable.files_written": "count",
    "pip.cover_cells": "count",
    "pip.raycast_rows": "rows",
    "pip.kept_rows": "rows",
    "pip.keep_ratio": "ratio",
    "pip.python_s": "s",
    "images.mosaic_s": "s",
    "images.pyramid_python_s": "s",
    "images.write_bytes": "bytes",
    "images.fetch_cover_cells": "count",
    "images.fetch_plan_s": "s",
    "images.fetch_exec_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "jvm.gc_s": "s",
    "executor.peak_exec_mem_bytes": "bytes",
    "traced.latency_p50_s": "s",
    "traced.rows_per_s": "rows/s",
}


def prepare_env(work: str) -> None:
    """Host hygiene, set before the JVM starts: Python workers import the
    package from the repo root, native math libraries stay
    single-threaded, and every scratch file lands in `work`."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]


def session_conf(work: str, trace: bool) -> dict[str, str]:
    from tracing import event_log_conf

    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size, so peak RSS does not hinge on when the heap grew
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def persisted(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs().items())


class Runner:
    """Runs one workload: stage, check, set up, timed loop, verify and,
    when tracing, the per-layer probes."""

    def __init__(self, spark, workload, seconds: float):
        self.spark = spark
        self.wl = workload
        self.seconds = seconds
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)  # by op kind
        self.by_key: dict[str, list[tuple[float, int]]] = defaultdict(list)  # (seconds, records)
        self.attempted = self.failed = 0
        self.cached_left = 0
        self.refs: dict[str, object] = {}
        self.keep: set[int] = set()
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Wall time since the previous phase ended, for the report."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def release(self) -> None:
        """Count the Dataset caches an operation left behind, then drop
        everything it persisted so passes stay independent."""
        left = {k: v for k, v in persisted(self.spark).items() if k not in self.keep}
        # Dataset caches carry a name; localCheckpoint blocks do not
        named = sum(1 for v in left.values() if v.name())
        self.cached_left = max(self.cached_left, named)
        if named:
            self.spark.catalog.clearCache()
            self.wl.recache()
            self.keep = set(persisted(self.spark))
        for k, v in persisted(self.spark).items():
            if k not in self.keep:
                v.unpersist(False)

    def run_op(self, op, timed: bool) -> float | None:
        try:
            t0 = time.perf_counter()
            out = op.run()
            dt = time.perf_counter() - t0
            dig = op.settle(out) if op.settle else out
            if self.refs.setdefault(op.key, dig) != dig:
                raise RuntimeError(f"{op.key}: digest {dig} != first pass {self.refs[op.key]}")
        except Exception:
            if not timed:
                raise
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            dt = None
        finally:
            self.release()
        if timed and dt is not None:
            self.samples[op.kind].append(dt)
            self.by_key[(op.kind, op.key)].append((dt, op.records))
        return dt

    def setup(self, get_spark_s: float) -> float:
        """The oracle check (untimed), then set-up: session start (already
        done), median input load, warm-up. Checking first keeps the warm-up
        passes right before the timed loop."""
        wl = self.wl
        self.group("stage")
        wl.stage_spark()
        self.phase("stage")
        self.group("check")
        self.problems += wl.check()
        self.phase("check")
        self.group("setup")
        loads = []
        for _ in range(LOAD_ROUNDS):
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t0)
        self.keep = set(persisted(self.spark))
        t0 = time.perf_counter()
        wl.warmup()
        warm = time.perf_counter() - t0
        self.release()
        for _ in range(wl.warm_passes):
            wl.begin_pass()
            warm += sum(self.run_op(op, timed=False) for op in wl.pass_ops())
        self.phase("setup")
        self.setup_parts = {"get_spark": get_spark_s, "load": median(loads), "warm": warm}
        return get_spark_s + median(loads) + warm

    def timed_phase(self) -> float:
        from tracing import RssSampler

        self.group("op")
        deadline = time.perf_counter() + self.seconds
        with RssSampler() as rss:
            while time.perf_counter() < deadline:
                self.wl.begin_pass()
                for op in self.wl.pass_ops():
                    if time.perf_counter() >= deadline:
                        break
                    self.attempted += 1
                    self.run_op(op, timed=True)
        self.phase("timed")
        return rss.peak_bytes / 2**20

    def end_to_end(self) -> dict[str, float]:
        """Medians, so one slow operation (a GC pause, a late JIT) moves
        nothing. Latency is the median over the workload's distinct
        operations of each one's median, so where the deadline cuts a
        pass does not change the mix (tiles fetches vary 4x by bbox)."""
        wl = self.wl
        lat = [median(t for t, _ in v) for (kind, _), v in self.by_key.items() if kind == wl.latency_kind]
        rates = [n / t for (kind, _), v in self.by_key.items() if kind == wl.rate_kind for t, n in v]
        return {
            "rows_per_s": median(rates) if rates else 0.0,
            "latency_p50_s": median(lat) if lat else 0.0,
        }

    def tail(self) -> str:
        lat = sorted(self.samples[self.wl.latency_kind])
        n = len(lat)
        if n < 20:
            return f"n/a ({n} samples; the highest percentile with 10 beyond it needs 20+)"
        pct = math.floor(100 * (n - 10) / n)
        return f"p{pct} = {lat[n - 11]:.4f} s over {n} samples"

    def probe(self, layer: str, fn):
        self.group("layer:" + layer)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.group("idle")
        return out, dt

    def layer_metrics(self) -> dict[str, float]:
        from workloads import digest, sorted_map
        from pyspark.sql import functions as F
        from pyspark.sql.types import MapType

        out: dict[str, float] = {}
        rows, secs = 0, 0.0
        for df in self.wl.scan_frames():
            cols = [sorted_map(f.name) if isinstance(f.dataType, MapType) else F.col(f.name) for f in df.schema]
            (_, n), dt = self.probe("scan", lambda: digest(df, cols))
            rows, secs = rows + n, secs + dt
        out["scan.rows"], out["scan.s"] = rows, secs
        out.update(self.wl.layers(self.probe, self.samples))
        return out


def event_metrics(stats: dict, workload: str, n_ops: int) -> dict[str, float]:
    """Per-layer metrics read from the event log, per timed operation."""
    out: dict[str, float] = {}
    op = stats.get("op")
    if op is not None and n_ops:
        out["executor.run_s"] = op.run_ms / 1000 / n_ops
        out["executor.cpu_s"] = op.cpu_ns / 1e9 / n_ops
        out["jvm.gc_s"] = op.gc_ms / 1000 / n_ops
        out["executor.peak_exec_mem_bytes"] = op.peak_exec_mem
        out["geo.vincenty_rows"] = op.python_rows("vincenty") / n_ops
        out["geo.vincenty_python_s"] = op.python_s("vincenty") / n_ops
        if workload == "assign":
            out["pipeline.shuffle_bytes"] = op.shuffle_write_bytes / n_ops
            out["pipeline.spill_bytes"] = op.spill_bytes / n_ops
        if workload == "compare":
            out["compare.python_rows"] = op.python_rows() / n_ops
            out["compare.shuffle_bytes"] = op.shuffle_write_bytes / n_ops
            out["compare.stages"] = len(op.stages) / n_ops
        if workload == "sync":
            out["sync.stages_per_batch"] = len(op.stages) / n_ops
            out["sync.tasks_per_batch"] = op.tasks / n_ops
    full = stats.get("layer:compare")
    if workload == "sync" and full is not None:
        out["compare.python_rows"] = full.python_rows()
        out["compare.shuffle_bytes"] = full.shuffle_write_bytes
        out["compare.stages"] = len(full.stages)
    pip = stats.get("layer:pip")
    if pip is not None:
        out["pip.raycast_rows"] = pip.python_rows("test_batches")
        out["pip.python_s"] = pip.python_s()
    pyr = stats.get("layer:images.pyramid")
    if pyr is not None:
        out["images.pyramid_python_s"] = pyr.python_s()
    return out


def stop_everything(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext
    from tracing import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def start(name: str, seed: int, work: str, trace: bool, smoke: bool = False):
    """Create the workload and stage its inputs while the session (and
    its JVM) starts; returns (workload, spark, get_spark seconds)."""
    from concurrent.futures import ThreadPoolExecutor

    from gtfs_osm_sync_spark.session import get_spark
    import workloads

    wl = workloads.WORKLOADS[name](work, seed, smoke)
    with ThreadPoolExecutor(1) as pool:
        staged = pool.submit(wl.stage)
        t0 = time.perf_counter()
        spark = get_spark(os.cpu_count(), extra_conf=session_conf(work, trace))
        get_s = time.perf_counter() - t0
        try:
            staged.result()
        except BaseException:
            stop_everything(spark)
            raise
    return wl, spark, get_s


def run_workload(spark, wl, seconds: float, trace: bool, get_spark_s: float) -> tuple[Runner, dict, dict]:
    """Everything from the session being up to (not including) its
    shutdown; returns the runner, the end-to-end metrics and, when
    tracing, the per-layer metrics."""
    import workloads

    wl.spark = spark
    r = Runner(spark, wl, seconds)
    appends: list = []
    with workloads.AppendTrace(appends) if trace else contextlib.nullcontext():
        setup_s = r.setup(get_spark_s)
        wl.appends = appends  # appends during the timed phase only
        appends.clear()
        peak_mb = r.timed_phase()
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **r.end_to_end()}
    r.problems += wl.verify()
    r.phase("verify")
    if not trace:
        return r, e2e, {}
    layers = {k: 0.0 for k in PER_LAYER}
    layers["session.get_spark_s"] = get_spark_s
    layers["compare.cached_left"] = r.cached_left
    layers["traced.latency_p50_s"] = e2e["latency_p50_s"]
    layers["traced.rows_per_s"] = e2e["rows_per_s"]
    layers.update(r.layer_metrics())
    r.phase("layers")
    return r, e2e, layers


def report(r: Runner, name: str, metrics: dict[str, float], trace: bool) -> dict:
    units = PER_LAYER if trace else END_TO_END
    print(f"# workload {name}: {r.wl.record} per op; {r.attempted} ops attempted, {r.failed} failed")
    if not trace:
        print(f"# latency_tail_s: {r.tail()}")
        print(f"# fail_ratio: {r.failed / max(r.attempted, 1):.4f}")
    print("# wall s: " + ", ".join(f"{k} {v:.1f}" for k, v in r.phases.items()))
    print("# setup_s parts: " + ", ".join(f"{k} {v:.2f}" for k, v in r.setup_parts.items()))
    for kind, times in r.samples.items():
        print(f"# {kind} op seconds: " + " ".join(f"{t:.3f}" for t in times))
    for k, unit in units.items():
        print(f"{k:32s} {fmt(metrics[k]):>14s} {unit}")
    for p in r.problems:
        print(f"# CHECK FAILED: {p}", file=sys.stderr)
    return {
        "correct": not r.problems and r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def smoke(work: str) -> int:
    """Every workload at toy sizes, traced, in one session; checks every
    output and the metric names and units BENCHMARK.json declares."""
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    t0 = time.perf_counter()
    bad = []
    spark = None
    try:
        for name in workloads.WORKLOADS:
            run_work = os.path.join(work, name)
            if spark is None:
                wl, spark, get_s = start(name, 7, run_work, trace=True, smoke=True)
            else:
                wl = workloads.WORKLOADS[name](run_work, 7, True)
                wl.stage()
            r, e2e, layers = run_workload(spark, wl, 2.0, True, get_s)
            for trace, metrics in ((False, e2e), (True, layers)):
                res = report(r, name, metrics, trace)
            if not res["correct"]:
                bad.append(f"{name}: {res['failed']} of {res['attempted']} ops failed; {r.problems}")
        for key, units in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
            declared = {m["name"]: m["unit"] for m in bench[key]}
            if declared != units:
                bad.append(f"BENCHMARK.json {key} {sorted(declared.items())} != reported {sorted(units.items())}")
    finally:
        if spark is not None:
            stop_everything(spark)
    for b in bad:
        print("SMOKE FAILED:", b, file=sys.stderr)
    print(f"smoke: {'ok' if not bad else 'FAILED'} in {time.perf_counter() - t0:.0f} s")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["assign", "compare", "sync", "tiles"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work)
    try:
        if args.smoke:
            return smoke(work)
        import tracing

        trace = bool(args.trace)
        wl, spark, get_s = start(args.workload, args.seed, work, trace)
        try:
            r, e2e, layers = run_workload(spark, wl, args.seconds, trace, get_s)
        finally:
            stop_everything(spark)
        metrics = layers if trace else e2e
        if trace:
            stats = tracing.parse_event_log(os.path.join(work, "eventlog"))
            n_ops = sum(len(v) for v in r.samples.values())
            ev = event_metrics(stats, args.workload, n_ops)
            if "pip.raycast_rows" in ev:
                ev["pip.keep_ratio"] = metrics["pip.kept_rows"] / max(ev["pip.raycast_rows"], 1)
            metrics.update(ev)
        result = report(r, args.workload, metrics, trace)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
