"""Product quantization (IVF-PQ): compressed vector codes + asymmetric
distance (ADC) search over the stored IVF serving layout.

At 10^12 vectors the full-precision index is the cost driver: 64 float32
components = 256 bytes/vector of scan I/O per probed list. PQ stores M
uint8-sized codes instead (M=8 here: 16-32x smaller), and search scores
candidates WITHOUT decompressing — per query, a tiny M x K table of
sub-dot-products is precomputed, and a candidate's approximate score is
M table lookups (Jegou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public method).

Spark-first shape:
- codebook training reuses the deterministic Lloyd machinery
  (similarity.kmeans_centroids) per subspace with the L2 metric —
  sub-vector L2 is what bounds the dot-product approximation error;
- encoding is a MAP-ONLY literal fold (the ivf_assign_literal pattern):
  M x K x subdim literals baked into the plan, no join, no shuffle —
  sized for small codebooks (M*K*subdim = 1024 literals at the 8x16x8
  default; past a few thousand, train larger codebooks offline and use
  a broadcast-join encode, the ivf_assign_auto rule);
- ADC search joins candidates to a BROADCAST (q_id, sub, code, w) table
  (Q*M*K rows — driver-built from the collected query batch, the
  engine's bounded-collect contract), then one partial-aggregating
  shuffle per (q_id, vec_id) sums the M contributions;
- the store is the SAME list_id-partitioned SnapTable layout as
  ivf_store, so the probed lists prune the scan (PartitionFilters) and
  the scan now reads codes instead of raw vectors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .similarity import _ivf_probes, kmeans_centroids

M_SUBS = 8
K_CODES = 16


def _dist2(a: Column, b: Column) -> Column:
    """Squared L2 between two array columns (sequential fold)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _best_code_expr(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Map-only argmin-L2 over a LITERAL sub-codebook (the
    _best_list_expr pattern with the metric PQ needs). transform +
    array_min evaluates each code's distance ONCE (a fold with the
    distance in both the condition and the kept struct would pay it
    twice — review finding r6); array_min's lexicographic (d, code)
    compare keeps the lowest code on ties, so encodes are
    deterministic across mechanisms and runs."""
    arr = F.array(
        *[
            F.struct(
                F.lit(int(code)).alias("code"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("c_vec"),
            )
            for code, cv in cents
        ]
    )
    return F.array_min(
        F.transform(
            arr,
            lambda c: F.struct(
                _dist2(vec, c["c_vec"]).alias("d"), c["code"].alias("code")
            ),
        )
    )["code"]


def pq_train(
    corpus: DataFrame,
    m: int = M_SUBS,
    k: int = K_CODES,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks: (sub, code, centroid) rows, m*k
    total. Each subspace runs the deterministic Lloyd k-means with the
    L2 metric over that slice of the corpus. At 10^12 rows pass a
    .sample() as `corpus` — codebook quality needs thousands of rows
    per centroid, not the full table (standard PQ practice; the sample
    keeps each training round's broadcast-join small)."""
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    parts = []
    for s in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sd + 1, sd).alias(vec_col),
        )
        cb = kmeans_centroids(
            sub, n_lists=k, iters=iters, id_col=id_col, vec_col=vec_col,
            metric="l2",
        )
        parts.append(
            cb.select(
                F.lit(s).alias("sub"),
                F.col("list_id").alias("code"),
                F.col(vec_col).alias("centroid"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def load_codebooks(codebooks: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """Collect trained codebooks into the driver-side dict every ADC
    call needs (bounded: m*k rows). A serving process calls this once
    and passes the dict to pq_topk_stored for its whole lifetime."""
    return _collect_codebooks(codebooks)


def _collect_codebooks(codebooks: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.collect():  # bounded: m*k rows
        books.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["centroid"]])
        )
    return {s: sorted(v) for s, v in books.items()}


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Replace `vec_col` with `codes array<int>` (one code per
    subspace). Map-only: the codebooks are literals in the plan —
    encoding shuffles nothing and parallelizes at any corpus size."""
    books = _collect_codebooks(codebooks)
    m = len(books)
    sd = len(books[0][0][1])
    codes = F.array(
        *[
            _best_code_expr(
                F.slice(F.col(vec_col), s * sd + 1, sd), books[s]
            )
            for s in range(m)
        ]
    )
    return df.withColumn("codes", codes).drop(vec_col)


def pq_store(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max_lists: int = 256,
):
    """IVF-PQ index BUILD: coarse-assign every vector to its IVF list
    (ivf_assign_auto), PQ-encode it, and persist (id, ..., codes,
    list_id) hive-partitioned by list_id — the ivf_store layout with
    codes in place of raw vectors, so a probed-list scan reads M small
    ints per row instead of the full embedding."""
    from ..sources.snaptable import SnapTable
    from .similarity import ivf_assign_auto, norm

    assigned = ivf_assign_auto(df, centroids, id_col, vec_col, literal_max_lists)
    # one stored float per vector (standard PQ practice): lets ADC
    # estimate COSINE (dot / norms) instead of raw dot, so rank order
    # degrades only with quantization error, not corpus norm spread
    assigned = assigned.withColumn(
        "vnorm", F.round(norm(F.col(vec_col)), 6)
    )
    t = SnapTable(root, partition_by="list_id")
    t.append(pq_encode(assigned, codebooks, vec_col))
    return t


def adc_weight_rows(
    queries: list[tuple[int, list[float]]],
    books: dict[int, list[tuple[int, list[float]]]],
) -> list[tuple[int, int, int, float]]:
    """Driver-side ADC tables: (q_id, sub, code, w) where w is the
    sub-dot-product between the query's subspace slice and that code's
    centroid, pre-divided by ||q|| (the candidate side divides by its
    stored vnorm in-plan, completing the cosine estimate). Bounded:
    Q*m*k rows (numpy, float64)."""
    m = len(books)
    sd = len(books[0][0][1])
    rows = []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        qn = float(np.linalg.norm(q)) or 1.0
        for s in range(m):
            qs = q[s * sd : (s + 1) * sd]
            for code, cv in books[s]:
                rows.append(
                    (int(qid), s, int(code), float(qs @ np.asarray(cv)) / qn)
                )
    return rows


def pq_topk_stored(
    spark: SparkSession,
    queries: DataFrame,
    store,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k against a pq_store index: the query batch's probed
    lists prune the partitioned scan (In(list_id) PartitionFilters,
    the ivf_topk_stored contract), candidates' codes posexplode into M
    (sub, code) lookups against the BROADCAST ADC table, and one
    partial-aggregating shuffle per (q_id, vec_id) sums the
    approximate dot product. Returns (q_id, n_id, rank_k, adc_score) —
    score rounded in-plan (6 dp), rank ties broken by n_id, so results
    are deterministic across parallelism.

    Approximation contract: adc_score estimates COSINE — the summed
    sub-dot-products divided by the stored vector norm and the query
    norm (folded into the ADC table driver-side) — so rank order
    degrades only with quantization error, not corpus norm spread.
    Recall is MEASURED against the exact brute force in tests and the
    driver gate, never assumed.

    Serving-path cost shape: the probe subplan (query x centroid
    crossjoin + window) is evaluated ONCE and collected — bounded
    n_queries x nprobe rows — and everything driver-derived (probed
    lists, ADC tables, the (q_id, list_id) fan-out) becomes literals,
    so the executed plan is exactly: pruned index scan -> broadcast
    joins -> one partial-agg shuffle -> top-k window. `codebooks` may
    be the training DataFrame or an already-collected dict (a serving
    process holds its codebooks in memory — pass the dict to avoid one
    collect job per query batch)."""
    probes = _ivf_probes(queries, centroids, nprobe, id_col, vec_col)
    prows = probes.collect()  # bounded: n_queries x nprobe (ONE eval)
    probed = sorted({int(r["list_id"]) for r in prows})
    qvecs = {int(r["q_id"]): [float(x) for x in r["q_vec"]] for r in prows}
    corpus = store.read(spark).filter(F.col("list_id").isin(probed))

    books = (
        codebooks if isinstance(codebooks, dict)
        else _collect_codebooks(codebooks)
    )
    wdf = F.broadcast(
        spark.createDataFrame(
            adc_weight_rows(sorted(qvecs.items()), books),
            "q_id bigint, sub int, code int, w double",
        )
    )
    qlists = F.broadcast(
        spark.createDataFrame(
            sorted({(int(r["q_id"]), int(r["list_id"])) for r in prows}),
            "q_id bigint, list_id int",
        )
    )

    cand = qlists.join(
        corpus.select(
            F.col(id_col).alias("n_id"),
            F.col("codes"),
            F.col("vnorm"),
            F.col("list_id"),
        ),
        "list_id",
    )
    if exclude_self:
        # the _ivf_rerank convention — correct when queries come FROM
        # the corpus (dedup/eval); pass exclude_self=False when query
        # ids live in a different namespace, where a numeric collision
        # would silently drop a true neighbor (review finding r6)
        cand = cand.filter(F.col("q_id") != F.col("n_id"))
    scored = (
        cand.select(
            "q_id", "n_id", "vnorm",
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(wdf, ["q_id", "sub", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.round(
                F.sum("w") / F.when(F.max("vnorm") > 0, F.max("vnorm")).otherwise(1.0),
                6,
            ).alias("adc_score")
        )
    )
    rn = F.row_number().over(
        W.partitionBy("q_id").orderBy(
            F.col("adc_score").desc(), F.col("n_id").asc()
        )
    )
    return (
        scored.withColumn("rank_k", rn)
        .filter(F.col("rank_k") <= k)
        .select("q_id", "n_id", "rank_k", "adc_score")
    )
