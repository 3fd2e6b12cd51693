"""Text retrieval: BM25 / TF-IDF scored top-k over a document corpus,
with an optional stored inverted-index serving layout.

The reference has no text-retrieval surface (its fuzzy operator-name
predicate, OperatorInfo.java, is the closest analog); this family is part
of the engine's LLM-training-data toolkit alongside dedup and ANN. The
design is the standard sparse-retrieval factorization, expressed
Spark-first:

- tokenization and document length are scan-stage Column expressions
  (codegen, zero Python);
- the postings shuffle is restricted to the QUERY vocabULARY before the
  explode (`array_intersect`-style filter inside the scan stage), so its
  size is O(matching tokens), never O(corpus tokens);
- corpus stats (N, sum dl) are one bounded 1-row aggregation; per-term
  document frequencies are a tiny aggregation over the restricted
  postings, broadcast back into the scoring join;
- top-k per query is two-stage: a salted partial top-k bounds the final
  per-query sort to `parts * k` rows, so no single task ever sorts a
  head-term's full candidate list (the same partial-before-global shape
  as the engine's mosaic pre-limit).

Scoring uses exact-integer inputs (tf, dl are ints; avgdl is one exact
integer sum / count division), so Spark and the DuckDB oracle agree to
IEEE rounding; final scores are rounded in-query on both sides per the
driver-gate portability rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# BM25 constants (Robertson/Sparck Jones defaults, Lucene's idf form)
K1 = 1.2
B = 0.75


def _query_terms_df(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, term) rows from (query_id, 'space separated terms')."""
    rows = []
    for qid, text in queries:
        for t in dict.fromkeys(text.split()):  # dedup, keep order
            rows.append((qid, t))
    return spark.createDataFrame(rows, "query_id INT, term STRING")


def query_postings(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Postings restricted to `vocab`: (doc_id, term, tf, dl).

    The restriction happens INSIDE the scan stage (filter on the token
    array before explode), so the shuffle that builds tf carries only
    tokens that can ever score — at 100 TB the postings exchange is
    proportional to the query vocabulary's corpus frequency, not the
    corpus token count. dl (full document length) rides along as a
    constant per doc; max() reassembles it after the explode with no
    second scan or join.
    """
    varr = F.array(*[F.lit(t) for t in sorted(set(vocab))])
    toks = F.split(F.col(text_col), " ")
    hits = F.filter(toks, lambda w: F.array_contains(varr, w))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("dl"),
            F.explode(hits).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"), F.max("dl").alias("dl"))
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, int]:
    """(n_docs, sum_dl) — one bounded 1-row aggregation.

    avgdl is derived as sum_dl / n_docs by the caller: the integer sum is
    exact in any aggregation order, so the single division is
    bit-identical across engines (a float avg() would not be).
    """
    row = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def _as_col(x, cast: str | None = None) -> Column:
    """Scalar -> literal Column; Column passes through (r7: the batch
    scorers feed corpus stats IN-PLAN as 1-row broadcast columns instead
    of driver-collected Python floats — same IEEE doubles, one fewer
    corpus scan and one fewer driver action per query batch)."""
    c = F.lit(float(x)) if isinstance(x, (int, float)) else x
    return c.cast(cast) if cast else c


def _bm25_weight(n_docs, avgdl) -> Column:
    """Per-(doc, term) BM25 contribution from tf, dl, df columns.
    n_docs/avgdl may be Python scalars or (double) Columns."""
    nd = _as_col(n_docs)
    idf = F.log(
        F.lit(1.0) + (nd - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    sat = tf * F.lit(K1 + 1.0) / (
        tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / _as_col(avgdl))
    )
    return idf * sat


def _tfidf_weight(n_docs, avgdl) -> Column:
    """Smooth TF-IDF: tf * (ln((N+1)/(df+1)) + 1) (sklearn's smooth idf)."""
    idf = F.log((_as_col(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return F.col("tf").cast("double") * idf


def _topk(scores: DataFrame, k: int, parts: int) -> DataFrame:
    """Two-stage deterministic top-k per query.

    Stage 1 ranks within (query_id, salt) buckets — every global top-k
    member survives its own bucket's top-k — so stage 2's per-query sort
    sees at most parts*k rows. Ordering is (rounded score desc, doc_id)
    on BOTH stages and on the oracle side, so rank ties are broken
    identically everywhere.
    """
    ordered = [F.col("score_r").desc(), F.col("doc_id").asc()]
    salted = W.partitionBy("query_id", F.pmod(F.xxhash64("doc_id"), F.lit(parts)))
    pre = scores.withColumn("prn", F.row_number().over(salted.orderBy(*ordered)))
    final = W.partitionBy("query_id").orderBy(*ordered)
    return (
        pre.filter(F.col("prn") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.col("score_r").alias("score"),
        )
    )


def _score_topk(
    postings: DataFrame,
    qterms: DataFrame,
    weight: Column,
    k: int,
    parts: int,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: df aggregation -> broadcast scoring join ->
    per-(query, doc) sum -> salted top-k.

    `postings` may be freshly computed (query_postings) or read pruned
    from a stored index — document frequencies come out the same because
    an index bucket holds EVERY posting of its terms.

    stats_df (r7): optional 1-row (_n_docs, _sum_dl) frame broadcast-
    cross-joined into the scoring join so `weight` may reference corpus
    stats as COLUMNS — keeps the whole batch one Spark action (no
    driver-side stats collect, no second corpus scan).
    """
    dfreq = postings.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    cand = postings.join(F.broadcast(qterms), "term").join(F.broadcast(dfreq), "term")
    if stats_df is not None:
        cand = cand.crossJoin(F.broadcast(stats_df))
    cand = cand.withColumn("w", weight)
    scores = (
        cand.groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score_r"))
    )
    return _topk(scores, k, parts)


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    parts: int = 32,
) -> DataFrame:
    """BM25 top-k: (query_id, rank, doc_id, score) for each query.

    One postings shuffle (restricted to the query vocabulary), one tiny
    df aggregation, broadcast scoring joins, salted top-k. r7: the whole
    batch is ONE Spark action — the query vocabulary comes straight from
    the Python `queries` list (it was a driver-side collect of a LOCAL
    frame) and corpus stats ride in-plan as a 1-row broadcast
    (exact-integer count/sum, so the in-plan sum_dl/n_docs division is
    the same IEEE double the collected path produced).
    """
    qterms = _query_terms_df(spark, queries)
    vocab = sorted({t for _, q in queries for t in q.split()})
    postings = query_postings(docs, vocab, text_col, id_col)
    stats_df = docs.agg(
        F.count("*").alias("_n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("_sum_dl"),
    )
    weight = _bm25_weight(
        F.col("_n_docs").cast("double"),
        F.col("_sum_dl") / F.col("_n_docs"),
    )
    return _score_topk(postings, qterms, weight, k, parts, stats_df=stats_df)


def tfidf_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    parts: int = 32,
) -> DataFrame:
    """Smooth-TF-IDF top-k, same plan shape (and one-action batch) as
    bm25_topk."""
    qterms = _query_terms_df(spark, queries)
    vocab = sorted({t for _, q in queries for t in q.split()})
    postings = query_postings(docs, vocab, text_col, id_col)
    stats_df = docs.agg(F.count("*").alias("_n_docs"))
    weight = _tfidf_weight(F.col("_n_docs").cast("double"), None)
    return _score_topk(postings, qterms, weight, k, parts, stats_df=stats_df)


# ---------------------------------------------------------------------------
# stored inverted index (serving layout)
# ---------------------------------------------------------------------------

N_TERM_BUCKETS = 64


def term_bucket(term: Column, n_buckets: int = N_TERM_BUCKETS) -> Column:
    """Stable term -> storage bucket (hive partition key of the index)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def build_term_index(
    docs: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_TERM_BUCKETS,
):
    """One-time inverted-index BUILD with a stored layout: FULL postings
    (every term) hive-partitioned by term_bucket in a SnapTable — the
    third use of the engine's serving-layout machinery (delta-sync feed,
    IVF lists, now term postings). A bucket holds every posting of its
    terms, so a pruned read still yields exact global document
    frequencies. Corpus stats (n_docs, sum_dl) are committed as a 1-row
    sibling table: idf needs the FULL corpus N, which a pruned postings
    read cannot reproduce.

    At 10^12 documents each append is one postings shuffle partitioned
    into n_buckets trees; incremental corpus growth appends new postings
    and maybe_compact() bounds the manifest (the curation-stream
    cadence).
    """
    from ..sources.snaptable import SnapTable

    toks = F.split(F.col(text_col), " ")
    postings = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"), F.max("dl").alias("dl"))
        .withColumn("bucket", term_bucket(F.col("term"), n_buckets))
    )
    idx = SnapTable(f"{root}/postings", partition_by="bucket")
    idx.append(postings)
    n_docs, sum_dl = corpus_stats(docs, text_col)
    stats = SnapTable(f"{root}/stats")
    stats.append(
        docs.sparkSession.createDataFrame(
            [(n_docs, sum_dl)], "n_docs BIGINT, sum_dl BIGINT"
        )
    )
    return idx, stats


def bm25_topk_indexed(
    spark: SparkSession,
    index,
    stats,
    queries: list[tuple[int, str]],
    k: int = 10,
    n_buckets: int = N_TERM_BUCKETS,
    parts: int = 32,
) -> DataFrame:
    """BM25 search against a build_term_index store with STORAGE-level
    bucket pruning: the query vocabulary's term buckets (a bounded
    driver-side computation — at most n_buckets ints) become an
    In(bucket, ...) filter on the partitioned postings scan, so only
    the probed buckets' files are READ (PartitionFilters — pinned in
    tests/test_retrieval.py). Row-identical to bm25_topk over the same
    corpus: a bucket holds every posting of its terms, so tf/df/dl all
    come out exact. The bucket filter is evaluated once per bucket
    directory, never per row, so it applies at any query width (the
    ivf_topk_stored convention)."""
    qterms = _query_terms_df(spark, queries)
    vocab = sorted({t for _, q in queries for t in q.split()})
    buckets = sorted(set(_term_buckets(vocab, n_buckets).values()))
    postings = index.read(spark).filter(F.col("bucket").isin(buckets))
    # restrict to the query vocabulary before the df agg: the pruned
    # buckets still hold unrelated terms that share the hash bucket
    postings = postings.filter(F.col("term").isin(vocab))
    # stats rows are cumulative across incremental appends (one row per
    # build_term_index append): SUM them so idf/avgdl stay exact for a
    # grown index instead of reading an arbitrary single row
    srow = stats.read(spark).agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    ).collect()[0]
    n_docs, sum_dl = int(srow["n_docs"]), int(srow["sum_dl"])
    return _score_topk(
        postings, qterms, _bm25_weight(n_docs, sum_dl / n_docs), k, parts
    )


_BUCKET_CACHE: dict[tuple[str, int], int] = {}


def _term_buckets(terms: list[str], n_buckets: int = N_TERM_BUCKETS) -> dict[str, int]:
    """Driver-side mirror of term_bucket for a WHOLE vocabulary: all
    uncached terms are evaluated in ONE bounded Spark job
    (createDataFrame -> term_bucket -> collect), memoized — xxhash64 has
    no public Python implementation in this environment, so the
    authoritative JVM expression computes its own bucket ids. (r7: was
    one 1-row job per distinct cold term — a V-term query batch paid V
    sequential driver round-trips just to compute partition keys.)"""
    missing = [t for t in terms if (t, n_buckets) not in _BUCKET_CACHE]
    if missing:
        from ..session import get_spark

        spark = get_spark()
        rows = (
            spark.createDataFrame([(t,) for t in missing], "term STRING")
            .select("term", term_bucket(F.col("term"), n_buckets).alias("b"))
            .collect()
        )
        for r in rows:
            _BUCKET_CACHE[(r["term"], n_buckets)] = int(r["b"])
    return {t: _BUCKET_CACHE[(t, n_buckets)] for t in terms}


def _py_term_bucket(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Single-term convenience wrapper over _term_buckets (memoized)."""
    return _term_buckets([term], n_buckets)[term]


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard fusion constant (Cormack et al., SIGIR 2009)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
    parts: int = 32,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (the standard hybrid
    lexical+semantic combiner): each (query_id, doc_id, rank) row
    contributes 1/(rrf_k + rank); items present in only one list keep
    their single term. Inputs are top-k lists, so the union is
    O(queries * k) — the fusion itself never touches the corpus; the
    only shuffle is the per-(query, doc) sum, and the final top-k is
    the same salted two-stage as the retrieval scorers.

    Rank-based (not score-based) fusion means the two systems'
    incomparable score scales never matter — exactly why RRF is the
    standard baseline — and makes the result exactly reproducible in
    ANSI SQL (the t04 oracle)."""
    cols = ["query_id", "doc_id", "rank"]
    u = ranked_a.select(*cols).unionByName(ranked_b.select(*cols))
    scores = (
        u.withColumn("w", F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank")))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score_r"))
    )
    return _topk(scores, k, parts)
