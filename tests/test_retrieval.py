"""BM25 / TF-IDF retrieval + stored inverted-index serving layout.

The oracle gate (t01/t02/t03) proves value parity vs DuckDB; these tests
pin the physical properties the gate can't see: the pruned index scan's
PartitionFilters, the indexed==brute equality on arbitrary params and
hand-checked BM25 math on a tiny corpus.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark.operators import retrieval as R


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "fast scan fast join"),
        (1, "slow table scan the the the"),
        (2, "fast fast fast fast"),
        (3, "join merge window agg"),
        (4, "the a big vector"),
        (5, "scan scan table fast merge"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_bm25_hand_checked(spark, docs):
    """Single-term query scored by hand with the Lucene idf +
    Robertson saturation (k1=1.2, b=0.75)."""
    got = {
        r["doc_id"]: r["score"]
        for r in R.bm25_topk(spark, docs, [(1, "fast")], k=10).collect()
    }
    # corpus: N=6, sum dl = 4+6+4+4+4+5 = 27, avgdl = 27/6
    n, avgdl = 6, 27 / 6
    df = 3  # docs 0, 2, 5 contain 'fast'
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))

    def w(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    want = {0: w(2, 4), 2: w(4, 4), 5: w(1, 5)}
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(round(s, 6), abs=1e-6)
    # tf saturation: doc 2 (tf=4) beats doc 0 (tf=2) but by less than 2x
    assert got[2] > got[0] > got[5]
    assert got[2] < 2 * got[0]


def test_bm25_rank_is_deterministic_on_ties(spark, docs):
    """Equal rounded scores break by doc_id ascending — the oracle-side
    convention, pinned here so both engines rank identically."""
    two = spark.createDataFrame(
        [(7, "merge window"), (8, "merge window"), (9, "agg only here")],
        "doc_id BIGINT, text STRING",
    )
    out = R.bm25_topk(spark, two, [(1, "merge window")], k=3).collect()
    assert [(r["rank"], r["doc_id"]) for r in out] == [(1, 7), (2, 8)]
    assert out[0]["score"] == out[1]["score"]


def test_indexed_layout_prunes_scan(spark, docs, tmp_path):
    """The stored inverted index's serving contract: the query
    vocabulary's term buckets push as In(bucket, ...) PartitionFilters
    on the postings scan (real I/O skipping), results row-identical to
    the unindexed bm25_topk (the ivf_topk_stored / _partition_pruned
    convention)."""
    idx, stats = R.build_term_index(docs, str(tmp_path / "idx"))
    qs = [(1, "fast merge"), (2, "window the")]
    vocab = sorted({t for _, q in qs for t in q.split()})
    n_buckets = {R._py_term_bucket(t) for t in vocab}

    got = R.bm25_topk_indexed(spark, idx, stats, qs, k=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "postings scan lost its partition layout"
    inside = pf[0].split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in inside and " IN (" in inside
    in_set = inside.split(" IN (")[1].split(")")[0].split(",")
    assert len(in_set) == len(n_buckets)  # prunes to exactly the probed buckets

    key = lambda df: sorted(map(tuple, df.collect()))
    want = R.bm25_topk(spark, docs, qs, k=4)
    assert key(got) == key(want)


def test_index_df_exact_under_pruning(spark, docs, tmp_path):
    """A bucket holds EVERY posting of its terms, so document
    frequencies from a pruned read equal the global ones — scored
    output must not drift when unrelated buckets are skipped."""
    idx, stats = R.build_term_index(docs, str(tmp_path / "idx2"))
    pruned = R.bm25_topk_indexed(spark, idx, stats, [(1, "scan")], k=10)
    brute = R.bm25_topk(spark, docs, [(1, "scan")], k=10)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_postings_restricted_to_vocab(spark, docs):
    """query_postings carries only query-vocabulary tokens through the
    shuffle: the exploded frame contains no other term."""
    p = R.query_postings(docs, ["fast", "merge"])
    terms = {r["term"] for r in p.select("term").distinct().collect()}
    assert terms == {"fast", "merge"}
    # dl is the FULL document length, not the restricted token count
    rows = {(r["doc_id"], r["term"]): r for r in p.collect()}
    assert rows[(0, "fast")]["dl"] == 4 and rows[(0, "fast")]["tf"] == 2
    assert rows[(5, "merge")]["dl"] == 5 and rows[(5, "merge")]["tf"] == 1
    # doc 1 has no vocab token at all -> absent from the postings
    assert not any(d == 1 for d, _ in rows)


def test_tfidf_weights(spark, docs):
    """Smooth-idf TF-IDF hand check: score = tf * (ln((N+1)/(df+1))+1)."""
    got = {
        r["doc_id"]: r["score"]
        for r in R.tfidf_topk(spark, docs, [(1, "table")], k=10).collect()
    }
    idf = math.log(7 / 3) + 1  # N=6, df('table')=2
    assert got == {
        1: pytest.approx(round(idf, 6), abs=1e-6),
        5: pytest.approx(round(idf, 6), abs=1e-6),
    }


def test_rrf_fuse_hand_checked(spark):
    """RRF = sum of 1/(60+rank) over the lists an item appears in;
    single-list items keep one term; ties break by doc_id."""
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id INT, doc_id BIGINT, rank INT",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id INT, doc_id BIGINT, rank INT",
    )
    got = {
        r["doc_id"]: (r["rank"], r["score"])
        for r in R.rrf_fuse(a, b, k=10).collect()
    }
    import pytest as _pt

    # doc 11: rank 2 in a + rank 1 in b -> both terms; others single
    assert got[11][1] == _pt.approx(round(1 / 62 + 1 / 61, 6), abs=1e-6)
    assert got[10][1] == _pt.approx(round(1 / 61, 6), abs=1e-6)
    assert got[13][1] == _pt.approx(round(1 / 62, 6), abs=1e-6)
    assert got[12][1] == _pt.approx(round(1 / 63, 6), abs=1e-6)
    # order: 11 (two terms) > 10 (1/61) > 13 (1/62) > 12 (1/63)
    assert [d for d, (rk, _) in sorted(got.items(), key=lambda x: x[1][0])] == [
        11, 10, 13, 12
    ]


def test_incremental_append_stats_cumulative(spark, docs, tmp_path):
    """Two build_term_index appends (corpus split in half) must serve
    EXACTLY like one build over the union: stats rows are summed at read
    time (r7 fix — a second append used to leave n_docs/sum_dl at one
    arbitrary row, silently skewing idf/avgdl)."""
    half_a = docs.filter(F.col("doc_id") < 3)
    half_b = docs.filter(F.col("doc_id") >= 3)
    root = str(tmp_path / "idx_inc")
    idx, stats = R.build_term_index(half_a, root)
    idx2, stats2 = R.build_term_index(half_b, root)
    qs = [(1, "fast merge"), (2, "scan the")]
    got = R.bm25_topk_indexed(spark, idx2, stats2, qs, k=10)
    want = R.bm25_topk(spark, docs, qs, k=10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_term_buckets_one_job_for_vocab(spark):
    """A cold multi-term vocabulary is resolved in ONE Spark job
    (r7 batch fix), results identical to per-term evaluation."""
    terms = [f"zz_cold_{i}" for i in range(12)]
    for t in terms:
        R._BUCKET_CACHE.pop((t, R.N_TERM_BUCKETS), None)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    got = R._term_buckets(terms)
    # every term resolved and memoized; re-resolution touches no Spark
    assert set(got) == set(terms)
    assert all((t, R.N_TERM_BUCKETS) in R._BUCKET_CACHE for t in terms)
    again = R._term_buckets(terms)
    assert again == got
    # parity with the authoritative JVM expression, evaluated directly
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term STRING")
        .select("term", R.term_bucket(F.col("term")).alias("b"))
        .collect()
    )
    assert {r["term"]: r["b"] for r in rows} == got
