"""IVF-PQ: codebook training (L2 k-means), map-only encode, stored
layout, ADC search. The sharp correctness test uses an exactly-
representable corpus (every vector IS a concatenation of codebook
centroids): encode must recover the exact codes and ADC must equal the
true cosine to rounding — isolating the machinery from quantization
error, which on the synthetic random corpus is measured, not assumed."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark.operators import pq as PQ
from gtfs_osm_sync_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def books4(spark):
    """Hand-built codebooks: 2 subspaces x 4 codes x 2 dims, chosen
    well-separated so nearest-code assignment is unambiguous."""
    cents = {
        0: [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]), (3, [0.0, -1.0])],
        1: [(0, [2.0, 0.0]), (1, [0.0, 2.0]), (2, [-2.0, 0.0]), (3, [1.0, 1.0])],
    }
    rows = [(s, c, v) for s, lst in cents.items() for c, v in lst]
    return spark.createDataFrame(
        rows, "sub int, code int, centroid array<double>"
    ), cents


def _vec(cents, c0, c1):
    return cents[0][c0][1] + cents[1][c1][1]


def test_encode_recovers_exact_codes(spark, books4):
    books, cents = books4
    rows = [(i, _vec(cents, i % 4, (i * 2 + 1) % 4)) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: list(r["codes"]) for r in PQ.pq_encode(df, books).collect()
    }
    for i in range(8):
        assert got[i] == [i % 4, (i * 2 + 1) % 4]


def test_adc_equals_exact_cosine_on_representable_corpus(spark, books4, tmp_path):
    """When quantization error is zero, the ADC estimate IS the cosine:
    every (query, candidate) adc_score must match the exact cosine to
    the in-plan rounding."""
    books, cents = books4
    rows = [(i, _vec(cents, i % 4, (i * 3) % 4)) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    ivf_cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0, 1.0])], "list_id int, embedding array<double>"
    )  # one list: no probe pruning, every pair scored
    store = PQ.pq_store(df, ivf_cents, books, str(tmp_path / "pq"))
    q = df.filter(F.col("vec_id") < 3)
    got = PQ.pq_topk_stored(spark, q, store, ivf_cents, books, k=12, nprobe=1)

    vecs = dict(rows)
    for r in got.collect():
        a, b = vecs[r["q_id"]], vecs[r["n_id"]]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert r["adc_score"] == pytest.approx(dot / (na * nb), abs=2e-6)


def test_stored_layout_prunes_scan_and_reads_codes_only(spark, tmp_path):
    """The PQ index inherits the IVF serving contract (In(list_id)
    PartitionFilters on probed lists) AND the compression contract:
    the pruned scan's ReadSchema carries codes + vnorm, never a raw
    embedding column."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.kmeans_centroids(emb, n_lists=8, iters=2)
    books = PQ.pq_train(emb, m=8, k=16, iters=1)
    store = PQ.pq_store(emb, cents, books, str(tmp_path / "pq"))
    q = emb.filter(F.col("vec_id") < 3)
    got = PQ.pq_topk_stored(spark, q, store, cents, books, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    store_scans = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "codes" in l
    ]
    assert store_scans, "PQ store scan not found in plan"
    inside = store_scans[0].split("PartitionFilters")[1].split("]")[0]
    assert "list_id" in inside and " IN (" in inside
    rs = store_scans[0].split("ReadSchema")[1]
    assert "codes" in rs and "vnorm" in rs and "embedding" not in rs


def test_measured_recall_on_synth_corpus(spark, tmp_path):
    """Recall vs exact brute force on the (unstructured) synthetic
    corpus — MEASURED and pinned, the g06/g07 convention. Random
    64-dim vectors have top-1 cosine ~0.35 over a ~0.3 background, so
    4-bit-per-subspace quantization keeps only part of that margin;
    the pinned floor documents reality rather than assuming quality."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.kmeans_centroids(emb, n_lists=8, iters=2)
    books = PQ.pq_train(emb, m=8, k=16, iters=2)
    store = PQ.pq_store(emb, cents, books, str(tmp_path / "pq"))
    q = emb.filter(F.col("vec_id") < 20)
    got = PQ.pq_topk_stored(spark, q, store, cents, books, k=5, nprobe=4)
    exact = SIM.brute_force_topk(q, emb, k=5)
    g = {(r["q_id"], r["n_id"]) for r in got.collect()}
    e = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall >= 0.15  # deterministic; floor leaves no wiggle to zero


def test_l2_kmeans_separates_obvious_clusters(spark):
    rows = [(i, [10.0 + 0.1 * i, 0.0]) for i in range(5)] + [
        (10 + i, [-10.0 - 0.1 * i, 0.1]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = SIM.kmeans_centroids(df, n_lists=2, iters=3, metric="l2")
    got = sorted([r["embedding"] for r in cents.collect()], key=lambda v: v[0])
    assert got[0][0] == pytest.approx(-10.2, abs=1e-6)
    assert got[1][0] == pytest.approx(10.2, abs=1e-6)


def test_kmeans_rejects_unknown_metric(spark):
    df = spark.createDataFrame([(1, [1.0])], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="metric"):
        SIM.kmeans_centroids(df, n_lists=1, iters=1, metric="dot")
