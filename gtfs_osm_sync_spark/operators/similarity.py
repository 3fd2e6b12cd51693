"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, expressed with JVM array expressions
(`zip_with` + `aggregate` fold — no Python, stays in codegen). The fold is
sequential left-to-right, which makes the double math reproducible across
engines (DuckDB list_sum folds the same way) for oracle checks.

Scale path: sign-LSH (random-hyperplane) bucketing — `lsh_bucket` maps
each vector to an m-bit signature from deterministic pseudo-hyperplanes;
candidate pairs are generated per bucket (plus optional multi-probe over
1-bit flips), turning the O(N^2) similarity join into a per-bucket local
join. At 10^12 rows brute force is impossible; IVF/LSH drops the pair
space by the bucket fan-out while the final exact cosine re-rank keeps
precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 3,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query over the corpus.

    Broadcast the (small) query side; corpus streams through one stage.
    Excludes self-pairs. Tie-break on neighbor id for determinism.
    Returns (q_id, n_id, rank_k, sim).

    Norms are precomputed ONCE per side before the cross join — the
    array folds are Catalyst higher-order functions (not codegen'd), so
    folding 3 per pair dominated the scan; per-side precompute cuts the
    per-pair work to the single dot fold. Bit-identical to the naive
    form: `cosine` is dot/(norm(a)*norm(b)) and both factors are the
    same sqrt-of-self-dot fold, so the pinned g06 literal oracle and the
    recall tests see unchanged sims.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("n_id"))
    scored = pairs.withColumn(
        "sim",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec"))
            / (F.col("q_norm") * F.col("n_norm")),
            round_dp,
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= k)
        .select("q_id", "n_id", "rank_k", "sim")
    )


def lsh_bucket(vec: Column, n_bits: int = 8, dim: int = 64) -> Column:
    """Sign-LSH bucket id from deterministic pseudo-random hyperplanes.

    Hyperplane h's weight for dimension d is a +/-1 derived from the md5
    of "h:d" (high bit of first hex nibble) — fully deterministic, no
    stored model, identically computable in plain SQL. Returns an int in
    [0, 2^n_bits).
    """
    bit_cols = []
    for h in range(n_bits):
        # +/-1 weights per dim, fixed at plan-build time (tiny literal array)
        import hashlib

        weights = [
            1 if int(hashlib.md5(f"{h}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1
            for d in range(dim)
        ]
        w = F.array(*[F.lit(float(x)) for x in weights])
        proj = dot(vec, w)
        bit_cols.append(F.when(proj > 0, F.lit(1 << h)).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the LSH bucket, exact re-rank.

    Plan shape AS WRITTEN: one corpus scan, bucket computed per row, and
    a broadcast hash join against the (small) query side — the bucket
    equi-join prunes the PAIR space (compute), not the scan. For a
    query batch too large to broadcast, both sides hash-shuffle on
    `bucket` instead (Catalyst picks this automatically past the
    broadcast threshold); a stored bucket layout would additionally
    prune I/O exactly as ivf_store/ivf_topk_stored do for IVF lists.
    Recall < 1 by construction; tests measure it vs brute_force_topk."""
    bucket = lsh_bucket(F.col(vec_col), n_bits, dim)
    # per-side norm precompute (see brute_force_topk): one fold per pair
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        bucket.alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
        bucket.alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("q_id") != F.col("n_id"))
    scored = pairs.withColumn(
        "sim",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm")),
            3,
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= k)
        .select("q_id", "n_id", "rank_k", "sim")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 3,
) -> DataFrame:
    """Embedding near-dup pairs: all (a < b) with cosine >= threshold.

    Exact (self cross join) — the oracle-checkable baseline. The LSH
    variant above is the 100 TB formulation.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "sim",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                round_dp,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: each vector joins its nearest centroid
    (exact cosine over the broadcast centroid set). Returns df + `list_id`
    (an in-memory frame — persisting it clustered by list_id is
    ivf_store's job; this function only computes the assignment).

    At 10^12 rows the one-time index build uses ivf_assign_auto (map-only
    literal fold or broadcast-join agg) + ivf_store; this window-based
    variant shuffles corpus x n_lists rows and exists as the
    oracle-checkable baseline the others are pinned against."""
    c = F.broadcast(
        centroids.select(F.col("list_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = df.crossJoin(c).withColumn("c_sim", cosine(F.col(vec_col), F.col("c_vec")))
    w = W.partitionBy(id_col).orderBy(F.desc("c_sim"), F.asc("list_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "c_vec", "c_sim")
    )


def make_centroids(
    corpus: DataFrame, n_lists: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic training-free centroid set: the n_lists vectors with
    the smallest xxhash64(id) seed the inverted lists (k-means would
    converge tighter lists but needs iterative training; for a
    deterministic, resume-safe index build a hash-uniform seed is standard
    practice and recall is measured, not assumed).

    Scale: `orderBy(hash).limit(n)` lowers to TakeOrderedAndProject — a
    per-partition top-n heap followed by a merge of n_lists rows per
    partition. No global sort, no extra count() action, no window over the
    full corpus; map-only at any corpus size. The final list_id assignment
    is a window over exactly n_lists rows."""
    seeds = (
        corpus.select(F.col(id_col).alias("_sid"), F.col(vec_col))
        .withColumn("_h", F.xxhash64(F.col("_sid")))
        .orderBy("_h", "_sid")
        .limit(n_lists)
    )
    # single-partition window is intentional and bounded: it sees exactly
    # n_lists rows (post-limit); partitionBy(lit) silences the global-window
    # warning without changing the plan
    w = W.partitionBy(F.lit(0)).orderBy("_h", "_sid")
    return (
        seeds.withColumn("list_id", (F.row_number().over(w) - 1).cast("int"))
        .select("list_id", vec_col)
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query's `nprobe` nearest inverted lists (broadcast centroid
    set, deterministic ties): (q_id, q_vec, q_norm, list_id)."""
    c = F.broadcast(centroids.select("list_id", F.col(vec_col).alias("c_vec")))
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    return (
        q.crossJoin(c)
        .withColumn("c_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("c_sim"), F.asc("list_id"))
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "q_vec", "q_norm", "list_id")
    )


def _ivf_rerank(
    probes: DataFrame,
    corpus_assigned: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine re-rank of each query against its probed lists'
    candidates (broadcast probes, per-side norm precompute).
    exclude_self drops q_id == n_id pairs — correct when queries come
    FROM the corpus; pass False when query ids live in a different
    namespace (a numeric collision would silently drop a true
    neighbor)."""
    # per-side norm precompute (see brute_force_topk): the candidate
    # re-rank — the O(corpus/n_lists * nprobe) hot path — folds once
    cand = corpus_assigned.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
        "list_id",
    )
    pairs = cand.join(F.broadcast(probes), "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("q_id") != F.col("n_id"))
    scored = pairs.withColumn(
        "sim",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm")),
            3,
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= k)
        .select("q_id", "n_id", "rank_k", "sim")
    )


def ivf_topk(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over an IN-MEMORY assigned corpus: each query probes
    its `nprobe` nearest inverted lists, exact cosine re-rank inside
    them. corpus_assigned = ivf_assign output.

    The probe join is an equi-join on list_id, so the prune here is
    COMPUTE-only: the re-rank folds touch nprobe/n_lists of the rows,
    but the corpus frame itself is scanned in full per query batch. For
    the serving path against a persisted index — where the scan, not
    the fold, is the at-scale cost — use ivf_store + ivf_topk_stored,
    which prunes the I/O via the list_id partition layout. Recall
    measured vs brute force in tests; deterministic ties throughout."""
    probes = _ivf_probes(queries, centroids, nprobe, id_col, vec_col)
    return _ivf_rerank(probes, corpus_assigned, k, id_col, vec_col)


def ivf_store(
    df: DataFrame,
    centroids: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max_lists: int = 256,
):
    """One-time IVF index BUILD with a stored layout: assign every
    vector its nearest centroid (ivf_assign_auto picks the map-only
    literal fold or the broadcast-join aggregation by n_lists) and
    persist the corpus hive-partitioned by list_id in a SnapTable —
    the same machinery as the delta sync's cell_part feed store. Each
    partitioned append is an immutable list_id=N tree, so a search
    that filters by the probed lists gets PartitionFilters: only
    nprobe/n_lists of the index is READ, not just re-ranked. Returns
    the SnapTable (atomic snapshot commit; rebuilds are appends +
    compact, rollback restores prior index versions)."""
    from ..sources.snaptable import SnapTable

    t = SnapTable(root, partition_by="list_id")
    t.append(ivf_assign_auto(df, centroids, id_col, vec_col, literal_max_lists))
    return t


def ivf_topk_stored(
    spark,
    queries: DataFrame,
    store,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF search against an ivf_store index with STORAGE-level list
    pruning: the query batch's probed list ids (a bounded driver
    collect — at most n_lists ints, the sync's touched-id contract)
    become an In(list_id, ...) filter on the partitioned corpus scan,
    so only the probed lists' files are read (PartitionFilters — real
    I/O skipping, pinned in tests/test_similarity.py). Results are
    row-identical to ivf_topk over the same assigned corpus: the
    filter keeps exactly the lists the probe equi-join would keep.

    The filter is always applied, as in streaming/sync._partition_pruned:
    it is evaluated once per list directory, never per row, so a batch
    probing every list costs what a plain scan does. The driver collect
    evaluates the probe subplan once; its result is re-derived in the
    re-rank join (n_queries x nprobe rows — recomputing beats caching
    at this size)."""
    probes = _ivf_probes(queries, centroids, nprobe, id_col, vec_col)
    probed = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    corpus = store.read(spark).filter(F.col("list_id").isin(probed))
    return _ivf_rerank(probes, corpus, k, id_col, vec_col, exclude_self)


def lsh_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    n_flip: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH: each query probes its own bucket plus every
    bucket within `n_flip` bit flips (the standard multi-probe trick —
    near-boundary neighbors land one sign flip away, so probing Hamming-1
    buckets recovers most of the recall a single-table LSH loses, without
    building extra tables). Probe fan-out = 1 + C(n_bits, n_flip); only
    the QUERY side explodes, the corpus stays bucketed once."""
    bucket = lsh_bucket(F.col(vec_col), n_bits, dim)
    flips = [0] + [1 << b for b in range(n_bits)]
    if n_flip >= 2:
        flips += [
            (1 << a) | (1 << b) for a in range(n_bits) for b in range(a + 1, n_bits)
        ]
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            # norm BEFORE the probe explode: one fold per query, not per probe
            norm(F.col(vec_col)).alias("q_norm"),
            bucket.alias("b0"),
        )
        .withColumn("flip", F.explode(F.array(*[F.lit(x) for x in flips])))
        .withColumn("bucket", F.expr("int(b0) ^ int(flip)"))
        .drop("b0", "flip")
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
        bucket.alias("bucket"),
    )
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        # a pair can arrive via several probed buckets: dedup BEFORE the
        # rank so duplicates don't consume top-k slots
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = pairs.withColumn(
        "sim",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm")),
            3,
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= k)
        .select("q_id", "n_id", "rank_k", "sim")
    )


def _best_list_expr(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Map-only argmax over a LITERAL centroid array: a fold keeping the
    (best_sim, best_list) struct. No join, no shuffle — the centroid set
    is tiny and baked into the plan, so assignment is embarrassingly
    parallel at any corpus size.

    Deliberately a fold, NOT transform+array_min (pq._best_code_expr's
    shape): measured at 200k x 64 lists x dim 64, the fold runs 23.2 s
    vs 26.6 s for transform+array_min — at this arity the materialized
    64-struct array per row costs more than the fold's doubled cosine
    condition (which the interpreter effectively CSEs). The opposite
    holds for PQ's 16-code x 8-dim sub-codebooks (9.5 -> 7.7 s), so the
    two keep different shapes on measurement, not taste."""
    arr = F.array(
        *[
            F.struct(
                F.lit(int(lid)).alias("list_id"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("c_vec"),
            )
            for lid, cv in cents
        ]
    )
    return F.aggregate(
        arr,
        F.struct(F.lit(-2.0).alias("sim"), F.lit(-1).alias("list_id")),
        lambda acc, c: F.when(
            cosine(vec, c["c_vec"]) > acc["sim"],
            F.struct(cosine(vec, c["c_vec"]).alias("sim"), c["list_id"].alias("list_id")),
        ).otherwise(acc),
    )["list_id"]


def kmeans_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    metric: str = "cos",
) -> DataFrame:
    """Deterministic Lloyd-iteration k-means for the IVF index build
    (tightens inverted lists vs the hash-seeded make_centroids; recall
    measured in tests, never assumed).

    Scale shape per iteration: a broadcast-join assignment (train rows x
    n_lists scored pairs, reduced by a map-side-partial min(struct) agg —
    NOT the literal fold `ivf_assign_literal` uses: a fold over n_lists
    * dim literals costs tens of seconds of PLAN COMPILE per iteration,
    a fixed driver-side cost that would repeat every Lloyd round; the
    broadcast join keeps every plan small and the work on executors) +
    ONE partial-aggregating shuffle (groupBy(list_id, dim_pos).avg over
    posexploded components, keyed on n_lists*dim tiny key space) + a
    driver collect of n_lists*dim doubles. Assignment ties break exactly
    like _best_list_expr (highest sim, then lowest list_id — min over a
    (-sim, list_id) struct), so swapping the mechanism never moves a
    vector: the trained centroids are bit-identical to the fold-based
    form (g07's pinned oracle re-verified). Component means are rounded
    to `round_dp` before the next round, pinning run-to-run determinism
    against float summation order. Empty lists keep their previous
    centroid.

    metric: "cos" (IVF coarse lists — assignment identical to
    _best_list_expr) or "l2" (PQ sub-codebooks, operators/pq.py —
    sub-vector L2 is what bounds the PQ dot-product approximation
    error). Both break ties toward the lowest list_id."""
    if metric not in ("cos", "l2"):
        raise ValueError(f"unknown metric {metric!r} (use 'cos' or 'l2')")
    spark = corpus.sparkSession
    seeds = make_centroids(corpus, n_lists, id_col, vec_col).collect()
    cents: dict[int, list[float]] = {
        int(r["list_id"]): [float(x) for x in r[vec_col]] for r in seeds
    }
    src = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_vn"),
    )
    for _ in range(iters):
        cdf = F.broadcast(
            spark.createDataFrame(
                [(lid, v) for lid, v in sorted(cents.items())],
                "list_id int, _cv array<double>",
            ).withColumn("_cn", norm(F.col("_cv")))
        )
        if metric == "cos":
            # same arithmetic as cosine(vec, c_vec): dot / (norm a * norm b)
            sim = dot(F.col("_v"), F.col("_cv")) / (F.col("_vn") * F.col("_cn"))
            key = (-sim).alias("_ns")
        else:
            # |v-c|^2 = |v|^2 - 2 v.c + |c|^2 with per-side norm precompute
            key = (
                F.col("_vn") * F.col("_vn")
                - F.lit(2.0) * dot(F.col("_v"), F.col("_cv"))
                + F.col("_cn") * F.col("_cn")
            ).alias("_ns")
        best = (
            src.join(cdf)
            .groupBy("_id")
            # _v rides the struct BEHIND list_id: per-group list_ids are
            # distinct, so the array never participates in the comparison
            .agg(
                F.min(
                    F.struct(key, F.col("list_id"), F.col("_v"))
                ).alias("_b")
            )
            .select(F.col("_b.list_id").alias("list_id"), F.col("_b._v").alias("_v"))
        )
        means = (
            best.select("list_id", F.posexplode("_v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.round(F.avg("x"), round_dp).alias("m"))
            .collect()
        )
        new_cents: dict[int, dict[int, float]] = {}
        for r in means:
            new_cents.setdefault(int(r["list_id"]), {})[int(r["pos"])] = float(r["m"])
        for lid, comp in new_cents.items():
            cents[lid] = [comp[i] for i in range(len(comp))]
    return spark.createDataFrame(
        [(lid, vec) for lid, vec in sorted(cents.items())],
        f"list_id int, {vec_col} array<double>",
    )


def ivf_assign_literal(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_assign without the crossJoin+window: centroids collected (tiny)
    and folded as literals — a pure map stage, the index-build formulation
    for 10^12-row corpora (ivf_assign's window shuffles corpus x n_lists
    rows; this shuffles nothing). Plan size grows with n_lists * dim
    literals, so this path is for SMALL centroid sets — see
    ivf_assign_auto for the sizing rule."""
    cents = [
        (int(r["list_id"]), [float(x) for x in r[vec_col]])
        for r in centroids.collect()
    ]
    return df.withColumn("list_id", _best_list_expr(F.col(vec_col), sorted(cents)))


def ivf_assign_bcast(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast-join assignment for LARGE centroid sets: df x centroids
    scored pairs reduced by a map-side-partial min(struct) aggregation —
    the mechanism kmeans_centroids' Lloyd rounds use, extended to carry
    the full input row through. The literal fold's plan compiles
    n_lists * dim literals on the driver (tens of seconds at thousands
    of lists, repeated per job); this keeps every plan small and the
    work on executors at one corpus-keyed shuffle.

    Ties identical to _best_list_expr (highest sim, then lowest
    list_id — min over a (-sim, list_id) struct), so the two mechanisms
    assign every vector identically (pinned in tests). The row struct
    rides BEHIND (-sim, list_id) in the min: per-group those pairs are
    distinct, so row payloads never participate in the comparison."""
    rest = [c for c in df.columns if c != id_col]
    cdf = F.broadcast(
        centroids.select(
            F.col("list_id"), F.col(vec_col).alias("_cv")
        ).withColumn("_cn", norm(F.col("_cv")))
    )
    src = df.withColumn("_vn", norm(F.col(vec_col)))
    sim = dot(F.col(vec_col), F.col("_cv")) / (F.col("_vn") * F.col("_cn"))
    best = (
        src.join(cdf)
        .groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-sim).alias("_ns"),
                    F.col("list_id"),
                    F.struct(*[F.col(c) for c in rest]).alias("_row"),
                )
            ).alias("_b")
        )
    )
    return best.select(
        F.col(id_col),
        *[F.col(f"_b._row.{c}").alias(c) for c in rest],
        F.col("_b.list_id").alias("list_id"),
    )


def ivf_assign_auto(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max_lists: int = 256,
) -> DataFrame:
    """Index-build assignment with the n_lists SCALE RULE applied.

    Standard IVF sizing is n_lists ~ sqrt(N): 10^6 vectors -> ~1k
    lists, 10^12 -> ~10^6 lists. The literal fold's plan size (and its
    per-job driver compile cost) grows with n_lists * dim, so it only
    wins while the centroid set is small; past `literal_max_lists` the
    broadcast-join aggregation is selected instead — small plan, one
    corpus-keyed shuffle, work on executors. The centroid count() here
    is a metadata-cheap action over the tiny centroid frame."""
    n_lists = centroids.count()
    if n_lists <= literal_max_lists:
        return ivf_assign_literal(df, centroids, id_col, vec_col)
    return ivf_assign_bcast(df, centroids, id_col, vec_col)
