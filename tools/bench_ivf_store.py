"""IVF stored-index serving A/B (VERDICT r5 top item's bench evidence).

Claim under test: ivf_topk_stored's storage-level list pruning — the
probed list ids pushed as PartitionFilters on the list_id-partitioned
index — beats an unpruned scan of the SAME stored index for the same
query batch, with row-identical results. This is the serving-path twin
of the delta-sync feed prune: the compute-only prune (ivf_topk's
equi-join) already bounds the re-rank folds, but only the stored layout
stops READING the unprobed lists — at 10^12 vectors that scan is the
cost that matters.

Method (tools/bench_delta_sync.py hygiene): staged tmpfs corpus, fresh
taskset-pinned JVM, index build untimed (the ann scaling phase grades
the build), per-variant warm-up then best-of-3, host sha256 probes
bracketing the child for drift context. Both variants read the SAME
SnapTable files; the ONLY difference is the In(list_id, ...) partition
filter. Results are hash-compared in-child.

Writes BENCH/ivf_store_ab.json (rendered into BENCH/BASELINE.md by
tools/bench_scaling.regen_md) and prints one JSON line.

Usage: python tools/bench_ivf_store.py [n_vecs] [cpus]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_STAGER = r"""
import sys
sys.path.insert(0, {repo!r})
from gtfs_osm_sync_spark.session import get_spark
from gtfs_osm_sync_spark import synth
spark = get_spark(shuffle_partitions=32,
                  extra_conf={{"spark.local.dir": "/dev/shm/bivf_stage"}})
(synth.generate_embeddings(spark, {n_vecs}, partitions=64)
 .write.mode("overwrite").parquet({stage_dir!r} + "/vecs"))
print("STAGED")
"""

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import pyspark.sql.functions as F
from gtfs_osm_sync_spark.session import get_spark
from gtfs_osm_sync_spark.operators import similarity as SIM

N_LISTS, NPROBE, K = 128, 8, 10
spark = get_spark(shuffle_partitions={cpus},
                  extra_conf={{"spark.local.dir": "/dev/shm/bivf_child"}})
corpus = spark.read.parquet({stage_dir!r} + "/vecs")
n_vecs = corpus.count()

# index build (untimed here; the ann scaling phase grades it): sample
# k-means + auto assign, persisted hive-partitioned by list_id
train = corpus.filter(F.col("vec_id") % 20 == 0)
cents = SIM.kmeans_centroids(train, n_lists=N_LISTS, iters=3)
t0 = time.time()
store = SIM.ivf_store(corpus, cents, {stage_dir!r} + "/ivf")
t_build = time.time() - t0

# serving batch: a handful of fixed queries so the probed-list union is
# a strict minority of the lists (the regime where pruning pays; a
# probe of every list reads what the plain scan reads)
q = corpus.filter(F.col("vec_id") % max(n_vecs // 4, 1) == 0).cache()
n_q = q.count()
n_probed = (SIM._ivf_probes(q, cents, NPROBE)
            .select("list_id").distinct().count())

def consume(df):
    return tuple(df.agg(F.bit_xor(F.xxhash64("q_id", "n_id", "rank_k")),
                        F.count("*")).collect()[0])

def pruned():
    return SIM.ivf_topk_stored(spark, q, store, cents, k=K, nprobe=NPROBE)

def full():
    # same stored files, NO partition filter: the in-memory ivf_topk
    # over the store's plain read
    return SIM.ivf_topk(q, store.read(spark), cents, k=K, nprobe=NPROBE)

def timed(fn, trials=3):
    sig = consume(fn())  # warm-up (JIT on the fold loops) + result hash
    best = float("inf")
    for _ in range(trials):
        t0 = time.time()
        assert consume(fn()) == sig
        best = min(best, time.time() - t0)
    return best, sig

t_full, sig_full = timed(full)
t_pruned, sig_pruned = timed(pruned)
out = dict(
    n_vecs=n_vecs, n_lists=N_LISTS, nprobe=NPROBE, k=K, n_queries=n_q,
    n_probed_lists=n_probed, build_sec=round(t_build, 2),
    full_sec=round(t_full, 3), pruned_sec=round(t_pruned, 3),
    speedup=round(t_full / t_pruned, 2),
    identical=bool(sig_full == sig_pruned),
)
print("RESULT " + json.dumps(out))
"""


def _host_probe() -> float:
    import hashlib

    buf = b"\x5a" * (1 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        h = hashlib.sha256()
        for _ in range(700):
            h.update(buf)
        best = min(best, time.time() - t0)
    return round(best, 3)


def _run(code: str, cpus: int | None, timeout: int = 2400) -> str:
    env = dict(os.environ)
    env.update(
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        NUMEXPR_NUM_THREADS="1",
    )
    cmd = [sys.executable, "-c", code]
    if cpus is not None and os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=timeout, cwd=REPO, env=env
    )
    return out.stdout + ("" if out.returncode == 0 else "\nSTDERR:\n" + out.stderr[-3000:])


def _result(out: str) -> dict:
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT:\n{out[-3000:]}")


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    stage = "/dev/shm/bench_ivf" if os.path.isdir("/dev/shm") else "/tmp/bench_ivf"
    t0 = time.time()
    probe_pre = _host_probe()
    out = _run(_STAGER.format(repo=REPO, n_vecs=n_vecs, stage_dir=stage), None)
    if "STAGED" not in out:
        raise RuntimeError(f"staging failed:\n{out[-3000:]}")
    try:
        res = _result(
            _run(_CHILD.format(repo=REPO, cpus=cpus, stage_dir=stage), cpus)
        )
    finally:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    probe_post = _host_probe()
    import subprocess as sp

    build = sp.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout.strip()
    summary = {
        "metric": "IVF stored-index serving: pruned (In(list_id) PartitionFilters) vs unpruned scan",
        "build": build,
        "cpus": cpus,
        **res,
        "host_probe_pre": probe_pre,
        "host_probe_post": probe_post,
        "wall_sec": round(time.time() - t0, 1),
    }
    with open(os.path.join(REPO, "BENCH", "ivf_store_ab.json"), "w") as f:
        json.dump(summary, f, indent=2)
    import bench_scaling  # noqa: PLC0415 — same tools/ dir

    bench_scaling.regen_md()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
