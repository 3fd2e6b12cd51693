"""Driver-gate query registry: Spark query + DuckDB oracle SQL pairs.

Each registered query runs over the driver's TPC-H-ish parquet tables and
re-expresses one or more operators from SURVEY.md §2 (reference file:line
cited per query). The Spark side uses the engine's idiomatic plan (cell
prejoins, broadcast dims, windows); the oracle side is plain ANSI SQL that
DuckDB evaluates independently — for spatial queries the oracle is the
brute-force O(N*M) formulation (exactly the reference's nested-loop
semantics, CompareData.java:1016-1069), so the comparison also proves the
cell prejoin is a correct covering.

Portability rules used throughout (Spark SQL vs DuckDB must hash-match):
- coordinates are synthesized from integer keys with pure integer
  arithmetic + one division (bit-identical IEEE in both engines);
- every float output is rounded (>= 1 decimal place below any plausible
  cross-libm ulp divergence);
- integer aggregates are cast to BIGINT explicitly (DuckDB sum(int) is
  HUGEINT otherwise);
- all columns aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .functions.geo import VIN_OVER_HAV_MIN, haversine_sql
from .functions.cells import grid_cell_col, grid_cell_sql
from .operators.spatial_join import cover_radius_join

# ---------------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


# ---------------------------------------------------------------------------
# synthetic coordinates (portable Spark <-> DuckDB)
# ---------------------------------------------------------------------------
# key -> lat in [-60, 60), lon in [-170, 170); 16 coarse clusters to create
# realistic spatial skew (urban clustering), mirroring how the engine's
# synth geotags images from phash (phash_latlon).

# lat in [-58, 51), lon in [-160, 128): 16 cluster bases 7 deg / 19 deg
# apart, ~2 deg x 3 deg jitter inside each cluster (spatial skew by design).
# CAST(... AS DOUBLE) matters: Spark would otherwise treat the `/ 600000.0`
# literal as DECIMAL and truncate the division to 8 fractional digits,
# while DuckDB computes in DOUBLE — the cast pins both to IEEE doubles.
_LAT_EXPR = (
    "(CAST(-58.0 AS DOUBLE) + (({k} % 16) * 7) "
    "+ CAST(({k} * 2654435761) % 1200000 AS DOUBLE) / 600000.0)"
)
_LON_EXPR = (
    "(CAST(-160.0 AS DOUBLE) + (({k} % 16) * 19) "
    "+ CAST(({k} * 40503) % 3000000 AS DOUBLE) / 1000000.0)"
)


def synth_lat_sql(key: str) -> str:
    return _LAT_EXPR.format(k=key)


def synth_lon_sql(key: str) -> str:
    return _LON_EXPR.format(k=key)


def with_synth_coords(df: DataFrame, key: str, lat: str = "lat", lon: str = "lon") -> DataFrame:
    return df.withColumn(lat, F.expr(synth_lat_sql(key))).withColumn(
        lon, F.expr(synth_lon_sql(key))
    )


RADIUS_M = 20_000.0


def _near_pairs(cust: DataFrame, supp: DataFrame, reach_m: float = RADIUS_M, **kw) -> DataFrame:
    """Customer x supplier pairs with haversine < reach_m, through the
    engine's one radius-join builder (the J1 analog): the supplier side
    explodes to its cover-grid cells and is broadcast, customers key by
    their own cell. Supplier coordinates come back as r_lat/r_lon, the
    haversine as dist_m; kw passes through (on=)."""
    supp = supp.withColumnsRenamed({"lat": "r_lat", "lon": "r_lon"})
    return cover_radius_join(cust, supp, ("lat", "lon"), ("r_lat", "r_lon"), reach_m, **kw)


# ---------------------------------------------------------------------------
# A. relational core (TPC-H-ish): aggregations, joins, windows, set ops
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1-style scan+agg (SURVEY §2.4 A-group; pushdown showcase)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q02_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q02(spark, sf_dir):
    """Top-k per group window — the kNN ranking pattern (J4, CompareData.java:73-82)."""
    (orders,) = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rn",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


@register(
    "q03_revenue_by_nation",
    """
    SELECT n_name, r_name,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def q03(spark, sf_dir):
    """Multi-way equi-join with broadcast dimensions (J-group; star join).

    r7 (guide §2.3/§2.4): aggregate by the INT nationkey through a single
    2-column broadcast probe, then attach the (n_name, r_name) labels to
    the 25 aggregated rows — nationkey <-> (n_name, r_name) is a
    bijection in TPC-H, so the grouping sets are identical and only the
    intra-group addition order changes, which the in-query round(,2)
    absorbs (the same guard that already covers the Spark-vs-DuckDB sum
    order). Measured 2x at sf1.0: 0.39-0.47 s vs 0.78-1.0 s, hash-equal.
    """
    orders, customer, nation, region = load(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    slim = customer.select("c_custkey", "c_nationkey")
    agg = (
        orders.join(F.broadcast(slim), orders.o_custkey == slim.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("o_totalprice").alias("_s"), F.count("*").alias("n_orders"))
    )
    names = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")
    return agg.join(
        F.broadcast(names), agg.c_nationkey == names.n_nationkey
    ).select("n_name", "r_name", F.round("_s", 2).alias("revenue"), "n_orders")


@register(
    "q04_customers_without_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q04(spark, sf_dir):
    """Anti-join — 'new stops to upload' (J5, CompareData.java:1272-1287)."""
    customer, orders = load(spark, sf_dir, "customer", "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "q05_segment_order_activity",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_active
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
)
def q05(spark, sf_dir):
    """Semi-join (intersection marking, CompareData.java:815-818)."""
    customer, orders = load(spark, sf_dir, "customer", "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q06_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def q06(spark, sf_dir):
    """Set ops union/except (SURVEY §2.7; reviseUpload CompareData.java:410-439)."""
    (customer,) = load(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    c = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.union(b).distinct().exceptAll(c.distinct())


@register(
    "q07_refs_per_supplier",
    """
    SELECT l_suppkey,
           array_to_string(array_agg(DISTINCT l_returnflag ORDER BY l_returnflag), ';')
             AS flag_refs,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q07(spark, sf_dir):
    """Grouped distinct-set + sorted ';'-join — route_ref string agg
    (A3/A8, GTFSReadIn.java:531-562,633-646; lexical order per SURVEY §4)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.concat_ws(";", F.sort_array(F.collect_set("l_returnflag"))).alias("flag_refs"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "q08_variant_dedup",
    """
    WITH seqs AS (
      SELECT l_orderkey,
             md5(string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber))
               AS variant_sig
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT variant_sig,
           CAST(min(l_orderkey) AS BIGINT) AS variant_id,
           CAST(count(*) AS BIGINT) AS n_trips
    FROM seqs GROUP BY variant_sig HAVING count(*) > 1
    """,
)
def q08(spark, sf_dir):
    """RouteVariant dedup: identical ordered item sequences collapse
    (A4/A5, GTFSReadIn.java:384-407,434-464; RouteVariant.java:123-126)."""
    (li,) = load(spark, sf_dir, "lineitem")
    # r7: pack (l_linenumber, l_partkey) into ONE bigint — linenumber in
    # the top bits, partkey (< 2^56 at any TPC-H scale) below — so the
    # collect_list buffer/shuffle carries primitive longs instead of
    # 2-field structs and array_sort compares longs, not struct ordinals
    # (guide §2.3 narrower types). Lexicographic (linenumber, partkey)
    # order == numeric order of the packed value since both are
    # non-negative, so the sorted partkey sequence — and the md5 — are
    # unchanged.
    enc = F.col("l_linenumber").cast("long") * F.lit(1 << 56) + F.col("l_partkey")
    seqs = (
        li.groupBy("l_orderkey")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(enc)),
                        lambda x: (x % F.lit(1 << 56)).cast("string"),
                    ),
                )
            ).alias("variant_sig")
        )
    )
    return (
        seqs.groupBy("variant_sig")
        .agg(
            F.min("l_orderkey").alias("variant_id"),
            F.count("*").alias("n_trips"),
        )
        .filter(F.col("n_trips") > 1)
    )


# ---------------------------------------------------------------------------
# B. spatial core: radius join, kNN, categorization, bbox
# ---------------------------------------------------------------------------


def _cust_coords(spark, sf_dir):
    (customer,) = load(spark, sf_dir, "customer")
    return with_synth_coords(customer.select("c_custkey"), "c_custkey")


def _supp_coords(spark, sf_dir):
    (supplier,) = load(spark, sf_dir, "supplier")
    return with_synth_coords(supplier.select("s_suppkey"), "s_suppkey")


_CUST_SQL = f"""customer_geo AS (
  SELECT c_custkey, {synth_lat_sql('c_custkey')} AS lat, {synth_lon_sql('c_custkey')} AS lon
  FROM customer
)"""
_SUPP_SQL = f"""supplier_geo AS (
  SELECT s_suppkey, {synth_lat_sql('s_suppkey')} AS lat, {synth_lon_sql('s_suppkey')} AS lon
  FROM supplier
)"""
_DIST_SQL = haversine_sql("c.lat", "c.lon", "s.lat", "s.lon")


@register(
    "q09_radius_join",
    f"""
    WITH {_CUST_SQL}, {_SUPP_SQL}
    SELECT c.c_custkey, s.s_suppkey, round({_DIST_SQL}, 1) AS dist_m
    FROM customer_geo c CROSS JOIN supplier_geo s
    WHERE {_DIST_SQL} < {RADIUS_M!r}
    """,
)
def q09(spark, sf_dir):
    """Radius distance join via cover-grid prejoin (J1; replaces the
    reference's O(N*M) loop CompareData.java:1016-1069). The DuckDB oracle
    IS the O(N*M) loop, so equality proves covering correctness."""
    cust = _cust_coords(spark, sf_dir)
    supp = _supp_coords(spark, sf_dir)
    return _near_pairs(cust, supp).select(
        "c_custkey", "s_suppkey", F.round("dist_m", 1).alias("dist_m")
    )


@register(
    "q10_knn",
    f"""
    WITH {_CUST_SQL}, {_SUPP_SQL}, pairs AS (
      SELECT c.c_custkey, s.s_suppkey, {_DIST_SQL} AS dist_m
      FROM customer_geo c CROSS JOIN supplier_geo s
      WHERE {_DIST_SQL} < {RADIUS_M!r}
    )
    SELECT c_custkey, s_suppkey, rank_k, round(dist_m, 1) AS dist_m FROM (
      SELECT c_custkey, s_suppkey, dist_m,
             CAST(row_number() OVER (PARTITION BY c_custkey
                            ORDER BY dist_m, s_suppkey) AS INT) AS rank_k
      FROM pairs
    ) WHERE rank_k <= 5
    """,
)
def q10(spark, sf_dir):
    """Radius-bounded kNN k=5, (dist, id) tie-break — the match report
    (J4, CompareData.java:73-82,272-312; north_rule k=5 haversine)."""
    cust = _cust_coords(spark, sf_dir)
    supp = _supp_coords(spark, sf_dir)
    j = _near_pairs(cust, supp)
    w = W.partitionBy("c_custkey").orderBy(F.asc("dist_m"), F.asc("s_suppkey"))
    return (
        j.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 5)
        .select("c_custkey", "s_suppkey", "rank_k", F.round("dist_m", 1).alias("dist_m"))
    )


# categorization: give each supplier a synthetic "gtfs_id" = s_suppkey*13%1500
# so some customers have an id-matched feature nearby. Reference rule
# (CompareData.java:1059-1287): id match within range -> MODIFY (moved,
# >500m here) or NOTHING_NEW (<=500m); no id match but neighbor within
# range -> UPLOAD_CONFLICT; no neighbor -> UPLOAD_NO_CONFLICT.
_ID_MATCH_SQL = "(s.s_suppkey * 13) % 1500 = c.c_custkey % 1500"


@register(
    "q11_match_categories",
    f"""
    WITH {_CUST_SQL}, {_SUPP_SQL}, pairs AS (
      SELECT c.c_custkey, s.s_suppkey, {_DIST_SQL} AS dist_m,
             CASE WHEN {_ID_MATCH_SQL} THEN 1 ELSE 0 END AS id_match
      FROM customer_geo c CROSS JOIN supplier_geo s
      WHERE {_DIST_SQL} < {RADIUS_M!r}
    ), best AS (
      SELECT c_custkey, dist_m, id_match,
             row_number() OVER (PARTITION BY c_custkey
                 ORDER BY id_match DESC, dist_m, s_suppkey) AS rn
      FROM pairs
    ), cat AS (
      SELECT c.c_custkey,
             CASE
               WHEN b.c_custkey IS NULL THEN 'UPLOAD_NO_CONFLICT'
               WHEN b.id_match = 1 AND b.dist_m <= 500.0 THEN 'NOTHING_NEW'
               WHEN b.id_match = 1 THEN 'MODIFY'
               ELSE 'UPLOAD_CONFLICT'
             END AS category
      FROM customer_geo c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON c.c_custkey = b.c_custkey
    )
    SELECT category, CAST(count(*) AS BIGINT) AS n FROM cat GROUP BY category
    """,
)
def q11(spark, sf_dir):
    """Four-way match categorization (J2/J3/J5/J6,
    CompareData.java:1059-1287): one category column, not four mutable sets."""
    cust = _cust_coords(spark, sf_dir)
    supp = _supp_coords(spark, sf_dir)
    pairs = _near_pairs(cust, supp).withColumn(
        "id_match",
        F.when((F.col("s_suppkey") * 13) % 1500 == F.col("c_custkey") % 1500, 1).otherwise(0),
    )
    # single partial-aggregating min(struct) replaces the row_number
    # window: map-side combine shrinks pairs to per-customer rows before
    # the only shuffle (same trade as the flagship assign, pipeline.py).
    # Measured head-to-head at sf0.1/local[32], 5 trials each: struct
    # median 0.993 s vs window 1.017 s — a local-scale tie; struct wins
    # at scale because the window must shuffle ALL pairs before ranking
    # while the partial agg reduces them map-side first. (BENCH_r02's
    # +33% was host noise: n=3 re-measure medians 1.8-2.25 s spanning
    # both rounds' numbers.)
    best = pairs.groupBy("c_custkey").agg(
        F.min(
            F.struct(
                (1 - F.col("id_match")).alias("inv_match"),
                F.col("dist_m").alias("dist_m"),
                F.col("s_suppkey").alias("s_suppkey"),
            )
        ).alias("_b")
    ).select(
        "c_custkey",
        (1 - F.col("_b.inv_match")).alias("id_match"),
        F.col("_b.dist_m").alias("dist_m"),
    )
    cat = cust.join(best, "c_custkey", "left").withColumn(
        "category",
        F.when(F.col("id_match").isNull(), "UPLOAD_NO_CONFLICT")
        .when((F.col("id_match") == 1) & (F.col("dist_m") <= 500.0), "NOTHING_NEW")
        .when(F.col("id_match") == 1, "MODIFY")
        .otherwise("UPLOAD_CONFLICT"),
    )
    return cat.groupBy("category").agg(F.count("*").alias("n"))


@register(
    "q12_bbox",
    f"""
    WITH {_CUST_SQL}
    SELECT round(min(lat) - 0.004, 6) AS min_lat, round(max(lat) + 0.004, 6) AS max_lat,
           round(min(lon) - 0.004, 6) AS min_lon, round(max(lon) + 0.004, 6) AS max_lon
    FROM customer_geo
    """,
)
def q12(spark, sf_dir):
    """Padded bounding-box aggregation (A1, CompareData.java:202-261,
    DELTA=0.004 deg CompareData.java:128)."""
    cust = _cust_coords(spark, sf_dir)
    return cust.agg(
        F.round(F.min("lat") - 0.004, 6).alias("min_lat"),
        F.round(F.max("lat") + 0.004, 6).alias("max_lat"),
        F.round(F.min("lon") - 0.004, 6).alias("min_lon"),
        F.round(F.max("lon") + 0.004, 6).alias("max_lon"),
    )


# ---------------------------------------------------------------------------
# C. training-data pipeline ops: dedup family, ANN, text analysis
# ---------------------------------------------------------------------------

from .operators import dedup as DD  # noqa: E402
from .operators import similarity as SIM  # noqa: E402
from .operators import text as TX  # noqa: E402
from .functions import mappings as MP  # noqa: E402

# documents augmented with planted near-duplicates: every doc_id % 10 == 0
# gets a mutated copy (first 80% of words) at doc_id + 100000 — gives the
# near-dup operators deterministic positives in both engines.
_DOCS_AUG_SQL = """docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(w[1:greatest(CAST(floor(len(w) * 0.8) AS INT), 3)], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE doc_id % 10 = 0
)"""

# DuckDB shingle expression over pre-split words column `w` (3-grams,
# mirror of operators.dedup.word_shingles)
_SHINGLE_SQL = (
    "CASE WHEN len(w) >= 3 THEN "
    "list_transform(generate_series(1, len(w) - 2), i -> "
    "concat(w[i], ' ', w[i+1], ' ', w[i+2])) "
    "ELSE [array_to_string(w, ' ')] END"
)


def _docs_aug(spark, sf_dir) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    docs = docs.select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    k = F.greatest(F.floor(F.size(words) * 0.8).cast("int"), F.lit(3))
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(words, 1, k), " ").alias("text"),
    )
    return docs.unionByName(mutated)


@register(
    "d01_dedup_exact",
    f"""
    WITH {_DOCS_AUG_SQL}, full_docs AS (
      SELECT doc_id, text FROM docs_aug
      UNION ALL
      SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0
    )
    SELECT md5(text) AS content_sig,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM full_docs GROUP BY content_sig
    """,
)
def d01(spark, sf_dir):
    """Exact dedup via content-hash groupBy (one shuffle); exact copies
    planted at doc_id+200000 so n_dups>1 groups exist."""
    docs = _docs_aug(spark, sf_dir)
    (raw,) = load(spark, sf_dir, "documents")
    copies = raw.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return DD.exact_dedup(docs.unionByName(copies))


@register(
    "d02_text_stats",
    """
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_tokens,
           CAST(len(list_distinct(w)) AS INT) AS n_unique,
           round(len(list_distinct(w)) / len(w), 6) AS uniq_ratio,
           CAST(len(list_filter(w, x -> list_contains(
             ['the','a','row','scan','table','join','data'], x))) AS INT) AS stop_hits,
           CAST(list_sum(list_transform(w, x ->
             CAST(ceil(length(x) / 4.0) AS INT))) AS INT) AS n_pieces,
           round((len(list_distinct(w)) / len(w)) *
                 (1.0 - len(list_filter(w, x -> list_contains(
                   ['the','a','row','scan','table','join','data'], x))) / len(w)),
                 6) AS quality
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    """,
)
def d02(spark, sf_dir):
    """Token counting + quality scoring, all codegen'd expressions."""
    (docs,) = load(spark, sf_dir, "documents")
    return TX.text_stats(docs)


@register(
    "d03_lang_id",
    """
    WITH scored AS (
      SELECT doc_id, [
        CAST(len(list_filter(w, x -> list_contains(['agg','vector','window','schnell'], x))) AS INT),
        CAST(len(list_filter(w, x -> list_contains(['the','a','fast','key'], x))) AS INT),
        CAST(len(list_filter(w, x -> list_contains(['data','stream','grande'], x))) AS INT),
        CAST(len(list_filter(w, x -> list_contains(['line','petit','order'], x))) AS INT),
        CAST(len(list_filter(w, x -> list_contains(['big','join','merge'], x))) AS INT)
      ] AS scores
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    SELECT doc_id,
           (['de','en','es','fr','zh'])[list_position(scores, list_max(scores))]
             AS pred_lang,
           CAST(list_max(scores) AS INT) AS score
    FROM scored
    """,
)
def d03(spark, sf_dir):
    """Marker-token n-gram language heuristic, argmax + lexical tie-break."""
    (docs,) = load(spark, sf_dir, "documents")
    return TX.lang_id(docs)


@register(
    "d04_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(
             list_sort(list_transform({_SHINGLE_SQL}, s -> md5(s)))[1:4], '|'))
             AS fingerprint
    FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    """,
)
def d04(spark, sf_dir):
    """Winnowing-style min-k shingle fingerprint."""
    (docs,) = load(spark, sf_dir, "documents")
    return TX.fingerprint(docs)


_MINHASH_SQL_BODY = f"""
    sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs_aug)
    ),
    seeded AS (
      SELECT doc_id, h, md5(concat(CAST(h AS VARCHAR), ':', shingle)) AS hv
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h)
    ),
    sigs AS (SELECT doc_id, h, min(hv) AS minhash FROM seeded GROUP BY doc_id, h),
    banded AS (
      SELECT doc_id, h // 3 AS band,
             md5(string_agg(minhash, '|' ORDER BY h)) AS band_key
      FROM sigs GROUP BY doc_id, h // 3
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@register(
    "d05_dedup_minhash_lsh",
    f"""
    WITH {_DOCS_AUG_SQL}, {_MINHASH_SQL_BODY}
    SELECT i.id_a, i.id_b,
           round(i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN cand c ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN cnt ca ON i.id_a = ca.doc_id
    JOIN cnt cb ON i.id_b = cb.doc_id
    WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= 0.5
    """,
)
def d05(spark, sf_dir):
    """MinHash(12) + LSH banding (4 bands x 3 rows) -> candidate pairs ->
    exact Jaccard verify >= 0.5. Finds the planted 80%-prefix mutations."""
    docs = _docs_aug(spark, sf_dir)
    sigs = DD.minhash_signatures(docs, num_hashes=12)
    cand = DD.lsh_candidate_pairs(sigs, num_hashes=12, band_rows=3)
    return DD.jaccard_pairs(docs, cand, threshold=0.5)


@register(
    "d06_simhash",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN substr(md5(tok), b + 1, 1) IN
               ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS vote
      FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
    ),
    votes AS (SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def d06(spark, sf_dir):
    """32-bit SimHash per document (token md5-nibble hyperplanes)."""
    (docs,) = load(spark, sf_dir, "documents")
    return DD.simhash32(docs)


@register(
    "d07_ngram_jaccard",
    f"""
    WITH {_DOCS_AUG_SQL},
    sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs_aug)
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i JOIN cnt ca ON i.id_a = ca.doc_id JOIN cnt cb ON i.id_b = cb.doc_id
    WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= 0.5
    """,
)
def d07(spark, sf_dir):
    """Exhaustive n-gram Jaccard >= 0.5 (no LSH) — recall baseline for d05."""
    docs = _docs_aug(spark, sf_dir)
    return DD.jaccard_pairs(docs, None, threshold=0.5)


_COS_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cos_expr(a: str, b: str) -> str:
    dot = _COS_SQL.format(a=a, b=b)
    na = _COS_SQL.format(a=a, b=a)
    nb = _COS_SQL.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


@register(
    "d08_ann_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
               WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
    scored AS (
      SELECT q_id, n_id, round({_cos_expr('q_vec', 'n_vec')}, 3) AS sim
      FROM q CROSS JOIN c WHERE q_id != n_id
    )
    SELECT q_id, n_id, rank_k, sim FROM (
      SELECT q_id, n_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
                  AS INT) AS rank_k
      FROM scored
    ) WHERE rank_k <= 5
    """,
)
def d08(spark, sf_dir):
    """Brute-force cosine top-5 ANN baseline (JVM fold dot products)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)


@register(
    "d09_embedding_dedup",
    f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS vec_a FROM embeddings),
    b AS (SELECT vec_id AS id_b, embedding AS vec_b FROM embeddings)
    SELECT id_a, id_b, round({_cos_expr('vec_a', 'vec_b')}, 3) AS sim
    FROM a JOIN b ON id_a < id_b
    WHERE round({_cos_expr('vec_a', 'vec_b')}, 3) >= 0.3
    """,
)
def d09(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact baseline; LSH variant is the
    scale path, tested in pytest for recall)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    return SIM.cosine_dedup_pairs(emb, threshold=0.3)


# ---------------------------------------------------------------------------
# D. events: sessionization, time windows, duration formatting
# ---------------------------------------------------------------------------


@register(
    "e01_sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_n
      FROM e
    )
    SELECT user_id, CAST(sess_n AS INT) AS session_n,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, sess_n
    """,
)
def e01(spark, sf_dir):
    """Gap-based sessionization (30 min) via lag + cumulative sum."""
    (events,) = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    gap = sec - F.lag(sec).over(w)
    e = events.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    s = e.withColumn(
        "sess_n", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", F.col("sess_n").cast("int").alias("session_n")).agg(
        F.count("*").alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_s"),
    )


@register(
    "e02_hourly_rollup",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def e02(spark, sf_dir):
    """Tumbling 1h time-window rollup (streaming-window analog in batch)."""
    (events,) = load(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", "ts").cast("string").alias("hour_ts"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "e03_user_span_hhmm",
    """
    SELECT user_id,
           concat(lpad(CAST(date_diff('second', min(ts), max(ts)) // 3600
                    AS VARCHAR), 2, '0'), ':',
                  lpad(CAST((date_diff('second', min(ts), max(ts)) % 3600) // 60
                    AS VARCHAR), 2, '0')) AS span_hhmm,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def e03(spark, sf_dir):
    """F15 duration HH:MM formatting (RouteVariant.java:157-180)."""
    (events,) = load(spark, sf_dir, "events")
    agg = events.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("t0"),
        F.unix_timestamp(F.max("ts")).alias("t1"),
        F.count("*").alias("n_events"),
    )
    dur = F.col("t1") - F.col("t0")
    return agg.select(
        "user_id",
        F.concat(
            F.lpad((dur / 3600).cast("long").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((dur % 3600) / 60).cast("long").cast("string"), 2, "0"),
        ).alias("span_hhmm"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# E. scalar mapping showcase (F-group) on `part`
# ---------------------------------------------------------------------------


@register(
    "p01_scalar_mappings",
    """
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_id,
           CASE p_size % 8 WHEN 0 THEN 'light_rail' WHEN 1 THEN 'subway'
             WHEN 2 THEN 'train' WHEN 3 THEN 'bus' WHEN 4 THEN 'ferry'
             WHEN 5 THEN 'tram' WHEN 6 THEN 'yes' WHEN 7 THEN 'funicular'
           END AS mode,
           CASE p_size % 8 WHEN 6 THEN 'aerialway' WHEN 7 THEN 'railway'
             ELSE 'route' END AS mode_key,
           CASE p_size % 3 WHEN 1 THEN 'limited' WHEN 2 THEN 'no' ELSE '' END
             AS wheelchair,
           CASE WHEN substr(md5(p_name), 1, 6) = 'ffffff' THEN NULL
                ELSE concat('#', substr(md5(p_name), 1, 6)) END AS color_tag,
           trim(regexp_replace(p_type, ' +', ' ', 'g')) AS type_squeezed,
           replace(replace(p_name, '&', '&amp;'), '<', '&lt;') AS name_escaped
    FROM part
    """,
)
def p01(spark, sf_dir):
    """Scalar F-group showcase: zero-pad (F2), route_type mode+key (F10),
    wheelchair (F9), color normalize (F11), whitespace squeeze (F16),
    XML escape (F3)."""
    (part,) = load(spark, sf_dir, "part")
    size_mod = F.col("p_size") % 8
    color = F.substring(F.md5("p_name"), 1, 6)
    return part.select(
        "p_partkey",
        MP.zero_pad_id(F.col("p_partkey"), 10).alias("padded_id"),
        MP.route_type_to_mode(size_mod).alias("mode"),
        MP.route_type_to_key(size_mod).alias("mode_key"),
        MP.wheelchair_to_osm(F.col("p_size") % 3).alias("wheelchair"),
        MP.normalize_color(color).alias("color_tag"),
        MP.squeeze_whitespace(F.col("p_type")).alias("type_squeezed"),
        MP.xml_escape(F.col("p_name")).alias("name_escaped"),
    )


# ---------------------------------------------------------------------------
# F. PIP oracle, scored route join, window frames, cube
# ---------------------------------------------------------------------------

from .synth import wkb_polygon  # noqa: E402
from .operators import pip as PIPOP  # noqa: E402

# three fixed pentagons over cluster bases 2/7/12 of the synth coord space
# (literal coords — the DuckDB oracle unrolls the exact even-odd crossing
# test per edge, proving the engine's vectorized ray-casting UDF correct)
_PIP_POLYS: dict[str, list[tuple[float, float]]] = {
    "tri_a": [(-121.0, -45.5), (-118.0, -45.0), (-119.5, -42.0)],
    "pent_b": [(-28.5, -10.5), (-26.0, -9.8), (-25.5, -7.2), (-27.8, -6.5), (-29.3, -8.4)],
    "quad_c": [(69.0, 26.0), (72.5, 26.4), (72.0, 29.8), (68.6, 29.2)],
}


def _pip_case_sql(lat: str, lon: str, ring: list[tuple[float, float]]) -> str:
    pts = list(ring)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    terms = []
    for (x1, y1), (x2, y2) in zip(pts[:-1], pts[1:]):
        terms.append(
            f"(CASE WHEN (({y1!r} > {lat}) <> ({y2!r} > {lat})) AND "
            f"({lon} < ({x2!r} - {x1!r}) * ({lat} - {y1!r}) / ({y2!r} - {y1!r}) + {x1!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


_PIP_UNION_SQL = " UNION ALL ".join(
    f"SELECT c_custkey, '{pid}' AS poly_id FROM customer_geo "
    f"WHERE {_pip_case_sql('lat', 'lon', ring)}"
    for pid, ring in _PIP_POLYS.items()
)


@register(
    "q13_point_in_polygon",
    f"""
    WITH {_CUST_SQL}
    {_PIP_UNION_SQL}
    """,
)
def q13(spark, sf_dir):
    """PIP join: engine's WKB ray cast (a JVM aggregate over the ring
    edges) vs the oracle's unrolled per-edge crossing SQL (north_rule
    custom operator)."""
    cust = _cust_coords(spark, sf_dir)
    rows = []
    for pid, ring in _PIP_POLYS.items():
        lats = [p[1] for p in ring]
        lons = [p[0] for p in ring]
        rows.append(
            (pid, wkb_polygon(ring), min(lats), max(lats), min(lons), max(lons))
        )
    polys = spark.createDataFrame(
        rows, "poly_id string, wkb binary, min_lat double, max_lat double, "
        "min_lon double, max_lon double"
    )
    out = PIPOP.pip_join(
        cust.select(F.col("c_custkey").cast("string").alias("ck"), "lat", "lon"),
        polys,
        id_col="ck",
    )
    return out.select(F.col("ck").cast("bigint").alias("c_custkey"), "poly_id")


@register(
    "q14_scored_route_join",
    """
    WITH variants AS (
      SELECT l_orderkey AS o_orderkey,
             md5(string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber))
               AS variant_sig
      FROM lineitem GROUP BY l_orderkey
    ),
    sides AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, v.variant_sig
      FROM orders o JOIN variants v ON o.o_orderkey = v.o_orderkey
    ),
    rels AS (
      SELECT o_orderkey AS rel_id, o_custkey AS rel_custkey,
             o_orderpriority AS rel_priority, variant_sig AS rel_sig
      FROM sides WHERE o_orderkey % 97 = 0
    ),
    tiered AS (
      SELECT s.o_orderkey, r.rel_id, 1000 AS tier
      FROM sides s JOIN rels r ON s.variant_sig = r.rel_sig
      UNION ALL
      SELECT s.o_orderkey, r.rel_id, 600 AS tier
      FROM sides s JOIN rels r ON s.o_custkey = r.rel_custkey
      UNION ALL
      SELECT s.o_orderkey, r.rel_id, 300 AS tier
      FROM sides s JOIN rels r
        ON s.o_custkey % 500 = r.rel_custkey % 500
       AND s.o_orderpriority = r.rel_priority
    ),
    scored AS (
      SELECT o_orderkey, rel_id,
             tier - (CAST(row_number() OVER (PARTITION BY o_orderkey, tier
                       ORDER BY rel_id) AS INT) - 1) AS score
      FROM tiered
    )
    SELECT o_orderkey, rel_id, score FROM (
      SELECT o_orderkey, rel_id, score,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY score DESC, rel_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q14(spark, sf_dir):
    """J7: the scored 3-tier route/relation join with tie-decrement
    (CompareData.java:920-995 scores 959-986: trip 1000 / route 600 /
    short-name 300, score-- per extra candidate; best per trip)."""
    (li,) = load(spark, sf_dir, "lineitem")
    (orders,) = load(spark, sf_dir, "orders")
    variants = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                    lambda x: x["l_partkey"].cast("string"),
                ),
            )
        ).alias("variant_sig")
    )
    sides = orders.join(variants, "o_orderkey").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "variant_sig"
    )
    rels = sides.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("rel_id"),
        F.col("o_custkey").alias("rel_custkey"),
        F.col("o_orderpriority").alias("rel_priority"),
        F.col("variant_sig").alias("rel_sig"),
    )
    rels = F.broadcast(rels)
    t1 = sides.join(rels, sides.variant_sig == rels.rel_sig).select(
        "o_orderkey", "rel_id", F.lit(1000).alias("tier")
    )
    t2 = sides.join(rels, sides.o_custkey == rels.rel_custkey).select(
        "o_orderkey", "rel_id", F.lit(600).alias("tier")
    )
    t3 = sides.join(
        rels,
        (sides.o_custkey % 500 == rels.rel_custkey % 500)
        & (sides.o_orderpriority == rels.rel_priority),
    ).select("o_orderkey", "rel_id", F.lit(300).alias("tier"))
    tiered = t1.unionByName(t2).unionByName(t3)
    w_tier = W.partitionBy("o_orderkey", "tier").orderBy("rel_id")
    scored = tiered.withColumn(
        "score", F.col("tier") - (F.row_number().over(w_tier) - 1)
    )
    w_best = W.partitionBy("o_orderkey").orderBy(F.desc("score"), F.asc("rel_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "rel_id", "score")
    )


@register(
    "q15_window_frames",
    """
    SELECT l_orderkey, l_linenumber,
           round(sum(l_extendedprice) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber ROWS UNBOUNDED PRECEDING), 2) AS running_price,
           round(avg(l_quantity) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4)
             AS centered_avg_qty,
           round(coalesce(lag(l_extendedprice) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber), 0.0), 2) AS prev_price,
           CAST(rank() OVER (PARTITION BY l_orderkey
             ORDER BY l_quantity DESC, l_linenumber) AS INT) AS qty_rank
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def q15(spark, sf_dir):
    """Window frames: running sum, centered rows-between avg, lag, rank
    (SURVEY §2.5 — Spark windows replacing the reference's TreeMaps)."""
    (li,) = load(spark, sf_dir, "lineitem")
    li = li.filter(F.col("l_orderkey") % 50 == 0)
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.sum("l_extendedprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_price"),
        F.round(F.avg("l_quantity").over(w.rowsBetween(-1, 1)), 4).alias(
            "centered_avg_qty"
        ),
        F.round(F.coalesce(F.lag("l_extendedprice").over(w), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
        F.rank()
        .over(W.partitionBy("l_orderkey").orderBy(F.desc("l_quantity"), "l_linenumber"))
        .cast("int")
        .alias("qty_rank"),
    )


@register(
    "q16_cube_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q16(spark, sf_dir):
    """CUBE grouping sets (built-in Catalyst; absent in the reference —
    SURVEY §2.4 'grouping sets: built-in if needed')."""
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "q17_pivot",
    """
    SELECT l_suppkey,
           round(coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0), 2) AS qty_a,
           round(coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0), 2) AS qty_n,
           round(coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0), 2) AS qty_r
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q17(spark, sf_dir):
    """Pivot (conditional aggregation form)."""
    (li,) = load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_suppkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    return p.select(
        "l_suppkey",
        F.round(F.coalesce(F.col("A"), F.lit(0.0)), 2).alias("qty_a"),
        F.round(F.coalesce(F.col("N"), F.lit(0.0)), 2).alias("qty_n"),
        F.round(F.coalesce(F.col("R"), F.lit(0.0)), 2).alias("qty_r"),
    )


# ---------------------------------------------------------------------------
# G. tag algebra (oracle-checked) + real-engine rows-only queries
# ---------------------------------------------------------------------------

from .functions import tags as TG  # noqa: E402


@register(
    "q18_tag_diff",
    """
    WITH t AS (
      SELECT p_partkey, p_name,
             upper(p_name) AS osm_name,               -- equal case-insens.
             concat(p_brand, ' and more') AS osm_brand, -- contains new
             p_brand,
             p_type,
             'other' AS osm_type                       -- conflict
      FROM part
    )
    SELECT p_partkey,
           concat('brand_osm=', osm_brand,
                  '|type=', p_type, ';', osm_type) AS diff_kv
    FROM t
    """,
)
def q18(spark, sf_dir):
    """F5 tag diff (CompareData.java:443-467) on MapType columns; the
    oracle replays the per-key rules on flat columns. Key rules hit:
    equal-case-insensitive -> drop, osm-contains-new -> keep osm (but the
    brand_osm key name differs so it lands as a plain new key), conflict
    -> 'new;osm'."""
    (part,) = load(spark, sf_dir, "part")
    new_tags = F.create_map(
        F.lit("name"), F.col("p_name"),
        F.lit("brand_osm"), F.concat(F.col("p_brand"), F.lit(" and more")),
        F.lit("type"), F.col("p_type"),
    )
    osm_tags = F.create_map(
        F.lit("name"), F.upper(F.col("p_name")),
        F.lit("type"), F.lit("other"),
    )
    # name: equal case-insens -> dropped; brand_osm: missing in osm -> kept
    # as-is; type: conflict -> 'new;osm'
    return part.select(
        "p_partkey",
        TG.tags_to_kv_string(TG.tag_diff(new_tags, osm_tags)).alias("diff_kv"),
    )


@register(
    "q19_tag_merge",
    """
    SELECT p_partkey,
           concat('brand=', p_brand,
                  '|name=', p_name,
                  '|size=', CAST(p_size AS VARCHAR)) AS merged_keep,
           concat('brand=', p_brand,
                  '|name=NEW ', p_name,
                  '|size=none') AS merged_overwrite
    FROM part
    """,
)
def q19(spark, sf_dir):
    """F6/F7 tag merges (OsmPrimitive.java:59-92): keep-existing vs
    overwrite with the '' -> 'none' sentinel."""
    (part,) = load(spark, sf_dir, "part")
    new_tags = F.create_map(
        F.lit("name"), F.concat(F.lit("NEW "), F.col("p_name")),
        F.lit("size"), F.lit(""),
    )
    old_tags = F.create_map(
        F.lit("name"), F.col("p_name"),
        F.lit("brand"), F.col("p_brand"),
        F.lit("size"), F.col("p_size").cast("string"),
    )
    return part.select(
        "p_partkey",
        TG.tags_to_kv_string(TG.tag_merge_keep_existing(new_tags, old_tags)).alias(
            "merged_keep"
        ),
        TG.tags_to_kv_string(TG.tag_merge_overwrite(new_tags, old_tags)).alias(
            "merged_overwrite"
        ),
    )


# -- rows-only queries: the real engine surface (phash geotag, hex/S2
# cells, Vincenty, WKB PIP, mosaics, LSH ANN) is not ANSI-SQL-expressible;
# the driver records a rows-only check and the pytest suite holds the
# semantics against brute-force oracles (tests/test_spatial_join.py etc.)


def _sf_n(sf_dir: str, per_unit: int = 200_000, lo: int = 2_000) -> int:
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = 0.01
    return max(int(per_unit * sf), lo)


# ---------------------------------------------------------------------------
# g-queries: engine-native ops with no ANSI-SQL formulation. Where the
# output is a SMALL deterministic aggregate (histograms, parity counters)
# the oracle is a literal-VALUES table pinned PER SCALE (round 6): each
# VALUES row leads with an `sf_key` column — the `orders` row count,
# unique per testdata SF (1500 / 15,000 / 150,000) and visible to the
# DuckDB side — and the oracle filters to the current scale's rows, so
# one string grades sf0.001/sf0.01/sf0.1 alike. Values are computed once
# from the engine via tools/pin_oracle_literals.py, verified identical
# under different core counts / shuffle-partition settings (two-capture
# diff) and brute-force- or golden-verified in pytest (numpy Vincenty,
# HART fixture, pixel equality); tools/gen_scaled_oracles.py bakes them
# in. The literal does not independently re-derive semantics (the
# pytest oracles do); it makes ANY later drift in these operators flip
# the driver's value-hash. Large-row-set outputs digest to per-group
# checksums first (g02's ranked pair set -> per-rank key/distance sums);
# as of round 5 the two ANN RECALL queries (g06/g07) are literal-pinned
# too — their seeded bucketing is deterministic per sf (verified across
# core counts), and each still carries its in-plan recall floor.
# ---------------------------------------------------------------------------


@register(
    "g01_images_assign_categories",
    """
        SELECT category, CAST(n AS BIGINT) AS n FROM (VALUES
      (1500, 'MODIFY', 6),
      (1500, 'NOTHING_NEW', 14),
      (1500, 'UPLOAD_CONFLICT', 59),
      (1500, 'UPLOAD_NO_CONFLICT', 1921),
      (15000, 'MODIFY', 6),
      (15000, 'NOTHING_NEW', 14),
      (15000, 'UPLOAD_CONFLICT', 59),
      (15000, 'UPLOAD_NO_CONFLICT', 1921),
      (150000, 'MODIFY', 66),
      (150000, 'NOTHING_NEW', 134),
      (150000, 'UPLOAD_CONFLICT', 4769),
      (150000, 'UPLOAD_NO_CONFLICT', 15031))
      AS t(sf_key, category, n)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY category
    """,
)
def g01(spark, sf_dir):
    """Flagship engine pipeline on the synthetic images world (north_rule):
    geotag -> cover-grid radius join -> kNN + 4-way category; emits category counts."""
    from . import synth
    from .pipeline import assign_images

    n = _sf_n(sf_dir)
    geo = synth.generate_geo_only(spark, n)
    feats = synth.generate_features(spark, n, max(n // 50, 8))
    out = assign_images(geo, feats)
    return out.groupBy("category").agg(F.count("*").alias("n")).orderBy("category")


@register(
    "g02_vincenty_knn",
    """
        SELECT rank_k, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(cust_sum AS BIGINT) AS cust_sum,
           CAST(supp_sum AS BIGINT) AS supp_sum,
           CAST(dm_sum AS BIGINT) AS dm_sum FROM (VALUES
      (1500, 1, 10, 45, 45, 0),
      (15000, 1, 412, 301330, 20322, 36362584),
      (15000, 2, 2, 1520, 48, 377121),
      (150000, 1, 10006, 73243515, 5258651, 1116293953),
      (150000, 2, 7450, 51074591, 3581583, 1073030700),
      (150000, 3, 2732, 19585033, 1395593, 460069976),
      (150000, 4, 219, 1666608, 117712, 41067300))
      AS t(sf_key, rank_k, n_pairs, cust_sum, supp_sum, dm_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY rank_k
    """,
)
def g02(spark, sf_dir):
    """kNN ranked by the vectorized Vincenty pandas UDF (the reference's
    exact metric, OsmDistance.java:28-82) instead of haversine —
    digested to a per-rank histogram with key/distance checksums
    (decimeter-integer sums, exact long arithmetic) so the full ranked
    pair SET is hash-checked by the literal oracle pinned at the driver
    gate's sf=0.01 scale (g01 convention; the pairwise semantics are
    brute-force-verified against numpy Vincenty in
    tests/test_spatial_join.py). Any drift in the Vincenty constants,
    the cover-grid prejoin, the radius gate, or the tie-break ordering changes
    some checksum."""
    from .functions.geo import vincenty_m_udf

    cust = _cust_coords(spark, sf_dir)
    supp = _supp_coords(spark, sf_dir)
    # vincenty < RADIUS_M implies haversine < RADIUS_M / VIN_OVER_HAV_MIN
    j = _near_pairs(cust, supp, RADIUS_M / VIN_OVER_HAV_MIN)
    j = j.withColumn(
        "vdist_m", vincenty_m_udf(F.col("lat"), F.col("lon"), F.col("r_lat"), F.col("r_lon"))
    ).filter(F.col("vdist_m") < RADIUS_M)
    w = W.partitionBy("c_custkey").orderBy(F.asc("vdist_m"), F.asc("s_suppkey"))
    ranked = (
        j.withColumn("rank_k", F.row_number().over(w))
        .filter(F.col("rank_k") <= 5)
        .select("c_custkey", "s_suppkey", "rank_k", F.round("vdist_m", 1).alias("vdist_m"))
    )
    return (
        ranked.groupBy("rank_k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("c_custkey").cast("long").alias("cust_sum"),
            F.sum("s_suppkey").cast("long").alias("supp_sum"),
            F.sum(F.round(F.col("vdist_m") * 10).cast("long")).alias("dm_sum"),
        )
        .orderBy("rank_k")
    )


@register(
    "g03_cell_index",
    """
        SELECT CAST(n_images AS BIGINT) AS n_images, CAST(n_cells AS BIGINT) AS n_cells,
           CAST(s2_cells AS BIGINT) AS s2_cells FROM (VALUES
      (1500, 1, 1579, 1579),
      (1500, 2, 165, 249),
      (1500, 3, 26, 53),
      (1500, 4, 2, 6),
      (1500, 5, 1, 2),
      (15000, 1, 1579, 1579),
      (15000, 2, 165, 249),
      (15000, 3, 26, 53),
      (15000, 4, 2, 6),
      (15000, 5, 1, 2),
      (150000, 1, 8937, 8937),
      (150000, 2, 167, 245),
      (150000, 3, 258, 470),
      (150000, 4, 320, 668),
      (150000, 5, 322, 721),
      (150000, 6, 345, 822),
      (150000, 7, 261, 665),
      (150000, 8, 162, 446),
      (150000, 9, 87, 237),
      (150000, 10, 58, 159),
      (150000, 11, 23, 61),
      (150000, 12, 11, 32),
      (150000, 13, 5, 14),
      (150000, 14, 1, 2),
      (150000, 15, 3, 9))
      AS t(sf_key, n_images, n_cells, s2_cells)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY n_images
    """,
)
def g03(spark, sf_dir):
    """Hex res-9 + S2 level-15 cell encoding over the synthetic world:
    per-cell occupancy histogram (the partition-key distribution that
    drives salting decisions)."""
    from . import synth

    n = _sf_n(sf_dir)
    geo = synth.generate_geo_only(spark, n)
    return (
        geo.groupBy("hex_cell")
        .agg(F.count("*").alias("n_images"), F.countDistinct("s2_cell").alias("n_s2"))
        .groupBy("n_images")
        .agg(F.count("*").alias("n_cells"), F.sum("n_s2").alias("s2_cells"))
        .orderBy("n_images")
    )


@register(
    "g04_mosaic",
    """
        SELECT CAST(grid AS INT) AS grid, CAST(n_cells AS BIGINT) AS n_cells,
           CAST(n_images AS BIGINT) AS n_images, CAST(max_w AS INT) AS max_w FROM (VALUES
      (1500, 1, 1579, 1579, 32),
      (1500, 2, 193, 416, 64),
      (1500, 3, 1, 5, 96),
      (15000, 1, 1579, 1579, 32),
      (15000, 2, 193, 416, 64),
      (15000, 3, 1, 5, 96),
      (150000, 1, 2552, 2552, 32),
      (150000, 2, 581, 1382, 64),
      (150000, 3, 13, 66, 96))
      AS t(sf_key, grid, n_cells, n_images, max_w)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY grid
    """,
)
def g04(spark, sf_dir):
    """Per-cell raster mosaics (A10 applyInPandas) over synthetic payloads;
    emits cell geometry stats (pixel equality is pytest-verified)."""
    from . import synth
    from .operators.images import mosaic_by_cell

    n = min(_sf_n(sf_dir, per_unit=40_000), 20_000)
    geo = synth.generate_images_geo(spark, n)
    m = mosaic_by_cell(geo)
    return m.groupBy("grid").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_images").alias("n_images"),
        F.max("tile_w").alias("max_w"),
    ).orderBy("grid")


@register(
    "g05_pip_wkb",
    """
        SELECT poly_id, CAST(n_inside AS BIGINT) AS n_inside FROM (VALUES
      (1500, 'poly0000', 141),
      (1500, 'poly0001', 1),
      (1500, 'poly0002', 3),
      (1500, 'poly0003', 3),
      (1500, 'poly0004', 3),
      (1500, 'poly0005', 3),
      (1500, 'poly0006', 6),
      (1500, 'poly0007', 2),
      (1500, 'poly0008', 132),
      (1500, 'poly0009', 5),
      (1500, 'poly0012', 3),
      (1500, 'poly0013', 3),
      (1500, 'poly0014', 7),
      (1500, 'poly0015', 5),
      (1500, 'poly0016', 125),
      (1500, 'poly0017', 7),
      (1500, 'poly0018', 1),
      (1500, 'poly0019', 7),
      (1500, 'poly0020', 5),
      (1500, 'poly0021', 5),
      (1500, 'poly0022', 6),
      (1500, 'poly0023', 4),
      (1500, 'poly0024', 129),
      (1500, 'poly0025', 3),
      (1500, 'poly0026', 6),
      (1500, 'poly0027', 2),
      (1500, 'poly0028', 2),
      (1500, 'poly0029', 2),
      (1500, 'poly0030', 3),
      (1500, 'poly0031', 8),
      (1500, 'poly0032', 140),
      (1500, 'poly0033', 3),
      (1500, 'poly0034', 1),
      (1500, 'poly0035', 3),
      (1500, 'poly0036', 1),
      (1500, 'poly0037', 6),
      (1500, 'poly0038', 5),
      (1500, 'poly0039', 5),
      (1500, 'poly0040', 155),
      (1500, 'poly0041', 4),
      (1500, 'poly0042', 1),
      (1500, 'poly0043', 1),
      (1500, 'poly0044', 5),
      (1500, 'poly0045', 6),
      (1500, 'poly0046', 3),
      (1500, 'poly0047', 5),
      (1500, 'poly0048', 141),
      (1500, 'poly0049', 6),
      (1500, 'poly0050', 4),
      (1500, 'poly0052', 4),
      (1500, 'poly0053', 5),
      (1500, 'poly0054', 5),
      (1500, 'poly0055', 3),
      (1500, 'poly0056', 148),
      (1500, 'poly0057', 4),
      (1500, 'poly0058', 2),
      (1500, 'poly0059', 2),
      (1500, 'poly0060', 2),
      (1500, 'poly0061', 1),
      (1500, 'poly0062', 1),
      (1500, 'poly0063', 4),
      (1500, 'poly_band', 408),
      (15000, 'poly0000', 141),
      (15000, 'poly0001', 1),
      (15000, 'poly0002', 3),
      (15000, 'poly0003', 3),
      (15000, 'poly0004', 3),
      (15000, 'poly0005', 3),
      (15000, 'poly0006', 6),
      (15000, 'poly0007', 2),
      (15000, 'poly0008', 132),
      (15000, 'poly0009', 5),
      (15000, 'poly0012', 3),
      (15000, 'poly0013', 3),
      (15000, 'poly0014', 7),
      (15000, 'poly0015', 5),
      (15000, 'poly0016', 125),
      (15000, 'poly0017', 7),
      (15000, 'poly0018', 1),
      (15000, 'poly0019', 7),
      (15000, 'poly0020', 5),
      (15000, 'poly0021', 5),
      (15000, 'poly0022', 6),
      (15000, 'poly0023', 4),
      (15000, 'poly0024', 129),
      (15000, 'poly0025', 3),
      (15000, 'poly0026', 6),
      (15000, 'poly0027', 2),
      (15000, 'poly0028', 2),
      (15000, 'poly0029', 2),
      (15000, 'poly0030', 3),
      (15000, 'poly0031', 8),
      (15000, 'poly0032', 140),
      (15000, 'poly0033', 3),
      (15000, 'poly0034', 1),
      (15000, 'poly0035', 3),
      (15000, 'poly0036', 1),
      (15000, 'poly0037', 6),
      (15000, 'poly0038', 5),
      (15000, 'poly0039', 5),
      (15000, 'poly0040', 155),
      (15000, 'poly0041', 4),
      (15000, 'poly0042', 1),
      (15000, 'poly0043', 1),
      (15000, 'poly0044', 5),
      (15000, 'poly0045', 6),
      (15000, 'poly0046', 3),
      (15000, 'poly0047', 5),
      (15000, 'poly0048', 141),
      (15000, 'poly0049', 6),
      (15000, 'poly0050', 4),
      (15000, 'poly0052', 4),
      (15000, 'poly0053', 5),
      (15000, 'poly0054', 5),
      (15000, 'poly0055', 3),
      (15000, 'poly0056', 148),
      (15000, 'poly0057', 4),
      (15000, 'poly0058', 2),
      (15000, 'poly0059', 2),
      (15000, 'poly0060', 2),
      (15000, 'poly0061', 1),
      (15000, 'poly0062', 1),
      (15000, 'poly0063', 4),
      (15000, 'poly_band', 408),
      (150000, 'poly0000', 1368),
      (150000, 'poly0001', 32),
      (150000, 'poly0002', 44),
      (150000, 'poly0003', 37),
      (150000, 'poly0004', 33),
      (150000, 'poly0005', 29),
      (150000, 'poly0006', 45),
      (150000, 'poly0007', 16),
      (150000, 'poly0008', 1365),
      (150000, 'poly0009', 33),
      (150000, 'poly0010', 27),
      (150000, 'poly0011', 19),
      (150000, 'poly0012', 35),
      (150000, 'poly0013', 30),
      (150000, 'poly0014', 21),
      (150000, 'poly0015', 25),
      (150000, 'poly0016', 1366),
      (150000, 'poly0017', 35),
      (150000, 'poly0018', 33),
      (150000, 'poly0019', 39),
      (150000, 'poly0020', 31),
      (150000, 'poly0021', 33),
      (150000, 'poly0022', 33),
      (150000, 'poly0023', 37),
      (150000, 'poly0024', 1408),
      (150000, 'poly0025', 22),
      (150000, 'poly0026', 36),
      (150000, 'poly0027', 34),
      (150000, 'poly0028', 41),
      (150000, 'poly0029', 28),
      (150000, 'poly0030', 22),
      (150000, 'poly0031', 40),
      (150000, 'poly0032', 1446),
      (150000, 'poly0033', 32),
      (150000, 'poly0034', 29),
      (150000, 'poly0035', 50),
      (150000, 'poly0036', 31),
      (150000, 'poly0037', 42),
      (150000, 'poly0038', 36),
      (150000, 'poly0039', 33),
      (150000, 'poly0040', 1415),
      (150000, 'poly0041', 38),
      (150000, 'poly0042', 24),
      (150000, 'poly0043', 27),
      (150000, 'poly0044', 34),
      (150000, 'poly0045', 31),
      (150000, 'poly0046', 29),
      (150000, 'poly0047', 45),
      (150000, 'poly0048', 1411),
      (150000, 'poly0049', 46),
      (150000, 'poly0050', 20),
      (150000, 'poly0051', 24),
      (150000, 'poly0052', 37),
      (150000, 'poly0053', 32),
      (150000, 'poly0054', 38),
      (150000, 'poly0055', 40),
      (150000, 'poly0056', 1412),
      (150000, 'poly0057', 31),
      (150000, 'poly0058', 37),
      (150000, 'poly0059', 25),
      (150000, 'poly0060', 37),
      (150000, 'poly0061', 22),
      (150000, 'poly0062', 31),
      (150000, 'poly0063', 32),
      (150000, 'poly_band', 3840))
      AS t(sf_key, poly_id, n_inside)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY poly_id
    """,
)
def g05(spark, sf_dir):
    """WKB ray-casting PIP join over the synthetic polygon set
    (per-polygon containment counts)."""
    from . import synth
    from .operators.pip import pip_join
    from .operators.spatial_join import geotag_images

    n = _sf_n(sf_dir)
    geo = synth.generate_geo_only(spark, n)
    polys = synth.generate_polygons(spark)
    out = pip_join(geo, polys)
    return out.groupBy("poly_id").agg(F.count("*").alias("n_inside")).orderBy("poly_id")


@register(
    "g06_lsh_ann_recall",
    """
        SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_hit AS BIGINT) AS n_hit,
           CAST(recall_at_5 AS DOUBLE) AS recall_at_5,
           CAST(passes_floor AS BOOLEAN) AS passes_floor FROM (VALUES
      (1500, 100, 21, 0.21, TRUE),
      (15000, 100, 16, 0.16, TRUE),
      (150000, 400, 58, 0.145, TRUE))
      AS t(sf_key, n_exact, n_hit, recall_at_5, passes_floor)
    WHERE sf_key = (SELECT count(*) FROM orders)
    """,
)
def g06(spark, sf_dir):
    """Sign-LSH bucketed ANN vs brute force: recall@5 (the scale path's
    quality metric). passes_floor rides in the result so an ANN-quality
    regression trips the driver gate, not just pytest (floor mirrors
    tests/test_similarity.py::test_lsh_recall_reasonable). Oracle is a
    literal pinned at the driver gate's sf=0.01 scale (g01/g02
    convention): the seeded hyperplanes make the bucketing — and so the
    recall summary — deterministic, verified identical at local[8]/sp=8
    vs local[32]/sp=64; any drift in the hash family, banding, or
    brute-force tie-break flips the value hash."""
    from .operators.similarity import brute_force_topk, lsh_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    exact = brute_force_topk(q, emb, k=5).select("q_id", "n_id")
    approx = lsh_topk(q, emb, k=5, n_bits=4).select("q_id", "n_id")
    hit = exact.join(approx, ["q_id", "n_id"], "left_semi").count()
    total = exact.count()
    rec = hit / max(total, 1)
    return spark.createDataFrame(
        [(total, hit, round(rec, 4), bool(rec > 0.05))],
        "n_exact bigint, n_hit bigint, recall_at_5 double, passes_floor boolean",
    )


# ---------------------------------------------------------------------------
# H. pairing join, operator predicate, precedence dedup, split/join scalars
# ---------------------------------------------------------------------------


@register(
    "q20_platform_pairing",
    f"""
    WITH {_CUST_SQL}, {_SUPP_SQL}, pairs AS (
      SELECT c.c_custkey, s.s_suppkey, {_DIST_SQL} AS dist_m
      FROM customer_geo c CROSS JOIN supplier_geo s
      WHERE c.c_custkey % 16 = s.s_suppkey % 16 AND {_DIST_SQL} < 30000.0
    )
    SELECT c_custkey, s_suppkey,
           CASE WHEN dist_m <= 15000.0 THEN 'stop' ELSE 'platform' END AS role,
           round(dist_m, 1) AS dist_m
    FROM (
      SELECT c_custkey, s_suppkey, dist_m,
             row_number() OVER (PARTITION BY c_custkey ORDER BY dist_m, s_suppkey) AS rn
      FROM pairs
    ) WHERE rn = 1
    """,
)
def q20(spark, sf_dir):
    """J9: platform<->stop_position pairing inside a relation — each
    platform adopts the nearest stop within MAX_PLATFORM_STOP_DISTANCE,
    rewriting roles (gui/ReportViewer.java:1244-1272, 30 m there; scaled
    here). Relation membership analog = shared key % 16."""
    cust = _cust_coords(spark, sf_dir).withColumn("grp", F.col("c_custkey") % 16)
    supp = _supp_coords(spark, sf_dir).withColumn("grp", F.col("s_suppkey") % 16)
    pairs = _near_pairs(cust, supp, 30000.0, on=["grp"])
    w = W.partitionBy("c_custkey").orderBy("dist_m", "s_suppkey")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            "s_suppkey",
            F.when(F.col("dist_m") <= 15000.0, "stop").otherwise("platform").alias("role"),
            F.round("dist_m", 1).alias("dist_m"),
        )
    )


@register(
    "q21_operator_predicate",
    """
    SELECT s_suppkey, s_name,
           CASE WHEN (
             strpos(upper(s_name), 'SUPPLIER#000000001') > 0
             OR strpos('SUPPLIER#000000001', upper(s_name)) > 0
             OR strpos(upper(s_name), 'SUPPLIER#00000002') > 0
             OR strpos('SUPPLIER#00000002', upper(s_name)) > 0
           ) THEN 1 ELSE 0 END AS op_match
    FROM supplier
    """,
)
def q21(spark, sf_dir):
    """P3: the fuzzy operator predicate — case-insensitive substring
    containment in either direction over an alias list
    (object/OperatorInfo.java:112-126; applied CompareData.java:1040-1054)."""
    from .functions.tags import operator_matches

    (supplier,) = load(spark, sf_dir, "supplier")
    return supplier.select(
        "s_suppkey",
        "s_name",
        operator_matches(
            F.col("s_name"), ["Supplier#000000001", "Supplier#00000002"]
        )
        .cast("int")
        .alias("op_match"),
    )


@register(
    "q22_category_precedence",
    """
    WITH labeled AS (
      SELECT o_orderkey, o_custkey,
             CASE
               WHEN o_orderstatus = 'F' THEN 'modify'
               WHEN o_totalprice > 200000 THEN 'noUpload'
               ELSE 'upload'
             END AS bucket
      FROM orders
    ), ranked AS (
      SELECT o_custkey, bucket,
             row_number() OVER (PARTITION BY o_custkey ORDER BY
               CASE bucket WHEN 'modify' THEN 1 WHEN 'noUpload' THEN 2 ELSE 3 END,
               bucket) AS rn
      FROM labeled
    )
    SELECT o_custkey AS custkey, bucket AS final_bucket
    FROM ranked WHERE rn = 1
    """,
)
def q22(spark, sf_dir):
    """J6: set-difference precedence — upload loses to noUpload loses to
    modify (reviseUpload/reviseNoUpload, CompareData.java:410-439) as one
    deterministic priority window instead of mutable set subtraction."""
    (orders,) = load(spark, sf_dir, "orders")
    labeled = orders.withColumn(
        "bucket",
        F.when(F.col("o_orderstatus") == "F", "modify")
        .when(F.col("o_totalprice") > 200000, "noUpload")
        .otherwise("upload"),
    )
    prio = (
        F.when(F.col("bucket") == "modify", 1)
        .when(F.col("bucket") == "noUpload", 2)
        .otherwise(3)
    )
    w = W.partitionBy("o_custkey").orderBy(prio, "bucket")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("o_custkey").alias("custkey"), F.col("bucket").alias("final_bucket"))
    )


@register(
    "q23_alt_names",
    """
    SELECT n_nationkey,
           concat(n_name, ';', lower(n_name), ';', substr(n_name, 1, 3)) AS alt_name,
           CAST(len(string_split(concat(n_name, ';', lower(n_name), ';',
             substr(n_name, 1, 3)), ';')) AS INT) AS n_alts,
           string_split(concat(n_name, ';', lower(n_name), ';',
             substr(n_name, 1, 3)), ';')[2] AS second_alt
    FROM nation
    """,
)
def q23(spark, sf_dir):
    """F17: alt_name ';'-join and split (object/Stop.java:57-66,161-167)."""
    (nation,) = load(spark, sf_dir, "nation")
    alt = F.concat_ws(
        ";", F.col("n_name"), F.lower("n_name"), F.substring("n_name", 1, 3)
    )
    return nation.select(
        "n_nationkey",
        alt.alias("alt_name"),
        F.size(F.split(alt, ";")).alias("n_alts"),
        F.element_at(F.split(alt, ";"), 2).alias("second_alt"),
    )


@register(
    "q24_scalar_subquery",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_above_avg
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    """,
)
def q24(spark, sf_dir):
    """Scalar subquery + filter-above-global-aggregate (Catalyst subquery
    handling; absent in the reference, 'built-in' row of SURVEY §2.3)."""
    (customer,) = load(spark, sf_dir, "customer")
    # in-plan scalar: crossJoin(broadcast(1-row agg)) keeps the subquery
    # inside one Spark job (no driver collect / no extra action)
    avg_bal = customer.agg(F.avg("c_acctbal").alias("_avg_bal"))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_above_avg"))
    )


@register(
    "g07_ivf_ann_recall",
    """
        SELECT CAST(nprobe AS INT) AS nprobe, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(recall_at_5 AS DOUBLE) AS recall_at_5,
           CAST(passes_floor AS BOOLEAN) AS passes_floor FROM (VALUES
      (1500, 1, 100, 35, 0.35, TRUE),
      (1500, 4, 100, 72, 0.72, TRUE),
      (1500, 8, 100, 100, 1.0, TRUE),
      (15000, 1, 100, 25, 0.25, TRUE),
      (15000, 4, 100, 69, 0.69, TRUE),
      (15000, 8, 100, 100, 1.0, TRUE),
      (150000, 1, 400, 98, 0.245, TRUE),
      (150000, 4, 400, 286, 0.715, TRUE),
      (150000, 8, 400, 400, 1.0, TRUE))
      AS t(sf_key, nprobe, n_exact, n_hit, recall_at_5, passes_floor)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY nprobe
    """,
)
def g07(spark, sf_dir):
    """IVF-bucketed ANN (coarse quantize -> nprobe lists -> exact rerank):
    recall@5 at nprobe 1/4/8 of 8 lists vs brute force. Literal oracle
    pinned at the driver gate's sf=0.01 scale (g01/g02 convention):
    TakeOrderedAndProject centroid seeding + deterministic Lloyd rounds
    make every row reproducible, verified identical at local[8]/sp=8 vs
    local[32]/sp=64; the nprobe=8 row doubles as the exhaustive-probe
    invariant (recall exactly 1.0)."""
    from .operators.similarity import brute_force_topk, ivf_assign, ivf_topk, make_centroids

    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    exact = brute_force_topk(q, emb, k=5).select("q_id", "n_id")
    cents = make_centroids(emb, n_lists=8)
    assigned = ivf_assign(emb, cents)
    rows = []
    n_exact = exact.count()
    prev = 0.0
    for nprobe in (1, 4, 8):
        ap = ivf_topk(q, assigned, cents, k=5, nprobe=nprobe).select("q_id", "n_id")
        hit = exact.join(ap, ["q_id", "n_id"], "left_semi").count()
        rec = hit / max(n_exact, 1)
        # floors (mirroring test_ivf_recall_monotone_in_nprobe): recall
        # monotone in nprobe, non-zero, and nprobe=all-lists exhaustive
        ok = rec >= prev - 1e-9 and rec > 0.0 and (nprobe != 8 or hit == n_exact)
        prev = rec
        rows.append((nprobe, n_exact, hit, round(rec, 4), bool(ok)))
    return spark.createDataFrame(
        rows,
        "nprobe int, n_exact bigint, n_hit bigint, recall_at_5 double, passes_floor boolean",
    )


@register(
    "q25_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           round(max(l_extendedprice), 2) AS pmax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q25(spark, sf_dir):
    """Exact continuous percentiles (the deterministic counterpart of
    percentile_approx for the oracle gate; approx sketches can't
    cross-engine-match by construction)."""
    (li,) = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
        F.round(F.max("l_extendedprice"), 2).alias("pmax"),
    )


@register(
    "q26_asof_join",
    """
    SELECT e.event_id, e.user_id,
           CAST(p.event_id AS BIGINT) AS last_purchase_id,
           CAST(coalesce(date_diff('second', p.ts, e.ts), -1) AS BIGINT)
             AS secs_since_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q26(spark, sf_dir):
    """As-of join (absent in the reference — SURVEY §2.3 notes Spark
    composes it): each click joins the latest prior purchase per user.
    Spark side: union-tag + window max-of-struct carry-forward (one sort
    per user partition, no range explosion); oracle: DuckDB native
    ASOF JOIN."""
    (events,) = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
    )
    tagged = clicks.select(
        "user_id", "ts", "event_id", F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("long").alias("p_event_id"), F.lit(1).alias("is_click")
    ).unionByName(
        buys.select(
            "user_id", F.col("p_ts").alias("ts"), F.lit(None).cast("long").alias("event_id"),
            "p_ts", "p_event_id", F.lit(0).alias("is_click")
        )
    )
    # carry the latest purchase (by ts, then event_id) forward over the
    # user's timeline; purchases sort before clicks at equal ts so a
    # same-instant purchase is visible to the click (ts >= p.ts)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = tagged.withColumn(
        "last_p", F.max(F.struct(F.col("p_ts"), F.col("p_event_id"))).over(w)
    )
    out = carried.filter(F.col("is_click") == 1).select(
        "event_id",
        "user_id",
        F.col("last_p.p_event_id").alias("last_purchase_id"),
        F.coalesce(
            F.unix_timestamp("ts") - F.unix_timestamp(F.col("last_p.p_ts")),
            F.lit(-1),
        ).cast("long").alias("secs_since_purchase"),
    )
    return out


@register(
    "g08_hart_fixture_parity",
    """
    SELECT metric, CAST(n AS BIGINT) AS n FROM (VALUES
      ('MODIFY', 184), ('NOTHING_NEW', 3531), ('UPLOAD_CONFLICT', 34),
      ('UPLOAD_NO_CONFLICT', 53), ('CLEAN_SUBSET', 3679),
      ('EXPORT_EXACT', 3626), ('TOTAL_STOPS', 3802)) AS t(metric, n)
    ORDER BY metric
    """,
)
def g08(spark, sf_dir):
    """End-to-end golden run on the reference's OWN data: GTFS_Temp
    (3,802 HART stops) x DataFromServer.osm (7,029 nodes) through the OSM
    XML source + compare pipeline (operator gate, padded-id Vincenty
    match, category, tag merge) and the K1 export, diffed row-by-row
    against the reference's committed exportGtfsValueWithOsmTags.csv
    (task/CompareData.java:1000-1290, io/WriteFile.java:214-296).

    Returns the category histogram plus parity counters: CLEAN_SUBSET =
    stops whose GTFS inputs are byte-identical across feed vintages,
    EXPORT_EXACT = rows reproduced exactly (canonical tag order). The
    residual gap is OSM-snapshot drift in the committed fixture, not
    semantics (tests/test_osmxml_compare.py pins both numbers)."""
    import csv as _csv

    from .operators import compare as C
    from .sources import gtfs as G
    from .sources import osmxml

    ref_dir = "/root/reference/Data"
    if not os.path.isdir(ref_dir):
        raise FileNotFoundError(
            f"g08 reads the reference snapshot directory {ref_dir}, which does not exist"
        )
    agency = "Hillsborough Area Regional Transit"
    stops = G.read_stops(spark, f"{ref_dir}/GTFS_Temp/stops.txt", id_digits=4, operator=agency)
    nodes = osmxml.osm_nodes(osmxml.read_osm_xml(spark, f"{ref_dir}/DataFromServer.osm"))
    cmp = C.compare_stops(stops, nodes, agency_names=[agency, "HART"])
    exp = C.export_gtfs_value_with_osm_tags(
        cmp, ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"]
    )
    mine = {r["stop_id"]: r.asDict() for r in exp.collect()}
    cats = {
        r["category"]: r["cnt"]
        for r in cmp.groupBy("category").agg(F.count("*").alias("cnt")).collect()
    }

    def rd(path):
        with open(path, encoding="utf-8-sig") as f:
            return {r["stop_id"].zfill(4): r for r in _csv.DictReader(f)}

    stops_csv = rd(f"{ref_dir}/GTFS_Temp/stops.txt")
    ref_gtfsonly = rd(f"{ref_dir}/exportGtfsValueGtfsOnly.csv")
    ref = rd(f"{ref_dir}/exportGtfsValueWithOsmTags.csv")
    canon = lambda s: "|".join(sorted(s.split("|"))) if s else ""  # noqa: E731
    clean = [
        sid
        for sid, s in stops_csv.items()
        if (e := ref_gtfsonly.get(sid)) is not None
        and s["stop_name"] == e["stop_name"]
        and s["stop_lat"] == e["stop_lat"]
        and s["stop_lon"] == e["stop_lon"]
        and s["stop_code"].zfill(4) == e["stop_code"].zfill(4)
    ]
    exact = sum(
        1
        for sid in clean
        if canon(ref[sid]["OSM_TAGs"]) == canon(mine[sid]["OSM_TAGs"] or "")
    )
    rows = sorted(cats.items()) + [
        ("CLEAN_SUBSET", len(clean)),
        ("EXPORT_EXACT", exact),
        ("TOTAL_STOPS", len(mine)),
    ]
    return spark.createDataFrame(rows, "metric string, n bigint")


@register(
    "p02_role_and_mode_tags",
    """
    WITH base AS (
      SELECT p_partkey,
             CASE p_size % 5 WHEN 0 THEN 'stop' WHEN 1 THEN 'platform_exit_only'
               WHEN 2 THEN 'forward_entry_only' WHEN 3 THEN 'backward'
               ELSE 'platform' END AS role,
             CASE p_size % 4 WHEN 1 THEN 'stop_position' WHEN 2 THEN 'platform'
               WHEN 3 THEN 'halt' ELSE NULL END AS ref_pt,
             CASE p_size % 3 WHEN 0 THEN 'platform' WHEN 1 THEN 'stop_position'
               ELSE 'station' END AS pt_type,
             CASE p_size % 8 WHEN 0 THEN 'light_rail' WHEN 1 THEN 'subway'
               WHEN 2 THEN 'train' WHEN 3 THEN 'bus' WHEN 4 THEN 'ferry'
               WHEN 5 THEN 'tram' WHEN 6 THEN 'yes' WHEN 7 THEN 'funicular'
             END AS mode
      FROM part
    )
    SELECT p_partkey, role, ref_pt, pt_type, mode,
           CASE
             WHEN ref_pt IS NULL OR ref_pt NOT IN ('stop_position', 'platform')
               THEN role
             WHEN right(role, 10) = '_exit_only'
               THEN (CASE ref_pt WHEN 'stop_position' THEN 'stop' ELSE 'platform' END) || '_exit_only'
             WHEN right(role, 11) = '_entry_only'
               THEN (CASE ref_pt WHEN 'stop_position' THEN 'stop' ELSE 'platform' END) || '_entry_only'
             ELSE role
           END AS final_role,
           CASE pt_type
             WHEN 'platform' THEN
               CASE WHEN mode IN ('bus', 'trolley_bus', 'share_taxi') THEN 'highway=bus_stop'
                    WHEN mode IN ('railway', 'tram', 'subway', 'light_rail') THEN 'railway=paltform'
                    ELSE '' END
             WHEN 'stop_position' THEN mode || '=yes'
             ELSE
               CASE WHEN mode = 'bus' THEN 'amenity=bus_station'
                    WHEN mode IN ('railway', 'tram', 'subway', 'light_rail') THEN 'railway=station'
                    WHEN mode = 'ferry' THEN 'amenity=ferry_terminal'
                    WHEN mode = 'funicular' THEN 'railway=station|station=funicular'
                    ELSE '' END
           END AS mode_tags
    FROM base
    """,
)
def p02(spark, sf_dir):
    """F13 role rewrite (RelationMember.java:60-82) + F14 mode tags by
    stop type (GTFSReadIn.java:566-623) over synthesized (role, ref_pt,
    pt_type, mode) combinations; the F14 map canonicalized to a sorted
    'k=v|k=v' string on both sides."""
    from .functions import mappings as MP2

    (part,) = load(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        F.when(F.col("p_size") % 5 == 0, "stop")
        .when(F.col("p_size") % 5 == 1, "platform_exit_only")
        .when(F.col("p_size") % 5 == 2, "forward_entry_only")
        .when(F.col("p_size") % 5 == 3, "backward")
        .otherwise("platform")
        .alias("role"),
        F.when(F.col("p_size") % 4 == 1, "stop_position")
        .when(F.col("p_size") % 4 == 2, "platform")
        .when(F.col("p_size") % 4 == 3, "halt")
        .otherwise(F.lit(None).cast("string"))
        .alias("ref_pt"),
        F.when(F.col("p_size") % 3 == 0, "platform")
        .when(F.col("p_size") % 3 == 1, "stop_position")
        .otherwise("station")
        .alias("pt_type"),
        MP2.route_type_to_mode(F.col("p_size") % 8).alias("mode"),
    )
    mt = MP2.mode_tags_for_stop(F.col("pt_type"), F.array(F.col("mode")))
    return base.select(
        "p_partkey", "role", "ref_pt", "pt_type", "mode",
        MP2.rewrite_member_role(F.col("role"), F.col("ref_pt")).alias("final_role"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries(mt)),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            "|",
        ).alias("mode_tags"),
    )


@register(
    "q27_relation_members_diff",
    """
    WITH pairs AS (
      SELECT o_orderkey AS route_id, o_orderkey AS relation_id
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    route_members AS (
      SELECT l_orderkey AS route_id, l_partkey AS ref
      FROM lineitem
    ),
    relation_members AS (
      SELECT l_orderkey AS relation_id, l_partkey AS ref
      FROM lineitem WHERE l_linenumber <= 4
    )
    SELECT p.route_id, p.relation_id,
           CASE WHEN EXISTS (
             SELECT 1 FROM route_members rm
             WHERE rm.route_id = p.route_id
               AND NOT EXISTS (
                 SELECT 1 FROM relation_members xm
                 WHERE xm.relation_id = p.relation_id AND xm.ref = rm.ref)
           ) THEN 'm' ELSE 'e' END AS status
    FROM pairs p
    """,
)
def q27(spark, sf_dir):
    """Relation change detection (CompareData.java:822-828 containsAll):
    status 'm' when the relation misses any route member, expressed as a
    pairing join + LEFT ANTI member diff (operators/compare.py)."""
    from .operators.compare import relation_change_status

    (orders, lineitem) = load(spark, sf_dir, "orders", "lineitem")
    pairs = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("route_id"),
        F.col("o_orderkey").alias("relation_id"),
    )
    route_members = lineitem.select(
        F.col("l_orderkey").alias("route_id"), F.col("l_partkey").alias("ref")
    )
    relation_members = lineitem.filter(F.col("l_linenumber") <= 4).select(
        F.col("l_orderkey").alias("relation_id"), F.col("l_partkey").alias("ref")
    )
    return relation_change_status(pairs, route_members, relation_members)


@register(
    "q28_grid_occupancy",
    f"""
    WITH pts AS (
      SELECT c_custkey,
             {synth_lat_sql('c_custkey')} AS lat,
             {synth_lon_sql('c_custkey')} AS lon
      FROM customer
    ),
    cells AS (
      SELECT {grid_cell_sql('lat', 'lon', 0.5)} AS cell,
             CAST(count(*) AS BIGINT) AS n_pts
      FROM pts GROUP BY 1
    )
    SELECT n_pts, CAST(count(*) AS BIGINT) AS n_cells
    FROM cells GROUP BY n_pts
    """,
)
def q28(spark, sf_dir):
    """Grid-cell occupancy histogram (the partition-key distribution the
    salting decisions read — g03's engine behavior moved into the
    hash-checked tier via the SQL-expressible grid)."""
    (customer,) = load(spark, sf_dir, "customer")
    pts = with_synth_coords(customer.select("c_custkey"), "c_custkey")
    return (
        pts.withColumn("cell", grid_cell_col(F.col("lat"), F.col("lon"), 0.5))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_pts"))
        .groupBy("n_pts")
        .agg(F.count("*").cast("long").alias("n_cells"))
    )


@register(
    "d10_ngram_jaccard_capped",
    f"""
    WITH {_DOCS_AUG_SQL},
    sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs_aug)
    ),
    shd0 AS (SELECT DISTINCT doc_id, shingle FROM sh),
    shd AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM shd0
      ) WHERE df <= 8
    ),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i JOIN cnt ca ON i.id_a = ca.doc_id JOIN cnt cb ON i.id_b = cb.doc_id
    WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= 0.5
    """,
)
def d10(spark, sf_dir):
    """Document-frequency-capped exact Jaccard (the 100 TB formulation:
    shingles shared by more than df_cap docs drop BEFORE the self-join,
    bounding the quadratic pair blow-up) — semantics mirrored exactly in
    the DuckDB oracle so the cap itself is hash-checked."""
    docs = _docs_aug(spark, sf_dir)
    return DD.jaccard_pairs(docs, None, threshold=0.5, df_cap=8)


@register(
    "g09_compare_world",
    """
        SELECT category, CAST(n_stops AS BIGINT) AS n_stops FROM (VALUES
      (1500, 'MODIFY', 800),
      (1500, 'NOTHING_NEW', 400),
      (1500, 'UPLOAD_CONFLICT', 500),
      (1500, 'UPLOAD_NO_CONFLICT', 300),
      (15000, 'MODIFY', 800),
      (15000, 'NOTHING_NEW', 400),
      (15000, 'UPLOAD_CONFLICT', 500),
      (15000, 'UPLOAD_NO_CONFLICT', 300),
      (150000, 'MODIFY', 8000),
      (150000, 'NOTHING_NEW', 4000),
      (150000, 'UPLOAD_CONFLICT', 6248),
      (150000, 'UPLOAD_NO_CONFLICT', 1752))
      AS t(sf_key, category, n_stops)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY category
    """,
)
def g09(spark, sf_dir):
    """The reference's core compare task on the synthetic compare world
    (all five category modes planted + operator-gate chaff; categories
    brute-force-verified against exact numpy Vincenty in
    tests/test_compare_world.py). Returns the category histogram —
    deterministic for a fixed sf, so the oracle is the literal histogram
    pinned at the driver gate's sf=0.01 (n=2000) scale; a semantics
    drift in ANY compare branch flips the hash."""
    from . import synth
    from .operators.compare import compare_stops

    n = max(_sf_n(sf_dir, per_unit=200_000), 2_000)
    stops, nodes = synth.generate_compare_world(spark, n, partitions=8)
    cmp = compare_stops(
        stops, nodes, agency_names=[synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS
    )
    return (
        cmp.groupBy("category")
        .agg(F.count("*").alias("n_stops"))
        .orderBy("category")
    )


@register(
    "g10_node_modifies",
    """
        SELECT version, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(id_sum AS BIGINT) AS id_sum FROM (VALUES
      (1500, '1', 57, 56658),
      (1500, '2', 57, 57513),
      (1500, '3', 57, 56373),
      (1500, '4', 57, 57228),
      (1500, '5', 58, 58087),
      (1500, '6', 57, 56943),
      (1500, '7', 57, 57798),
      (15000, '1', 57, 56658),
      (15000, '2', 57, 57513),
      (15000, '3', 57, 56373),
      (15000, '4', 57, 57228),
      (15000, '5', 58, 58087),
      (15000, '6', 57, 56943),
      (15000, '7', 57, 57798),
      (150000, '1', 572, 5723718),
      (150000, '2', 571, 5712284),
      (150000, '3', 572, 5720858),
      (150000, '4', 571, 5709429),
      (150000, '5', 572, 5717998),
      (150000, '6', 571, 5706574),
      (150000, '7', 571, 5715139))
      AS t(sf_key, version, n_nodes, id_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY version
    """,
)
def g10(spark, sf_dir):
    """Node-side redundancy modifies (CompareData.java:1172-1210) on the
    synthetic compare world: every id-less gated-in node within
    (0.5 m, 400 m) of an unmatched stop gains FIXME/note and enters the
    modify set. Deterministic at a fixed sf: exactly the mode-4 foreign
    nodes fire (planted at 100 m from their conflict stops). The oracle
    pins the per-version histogram PLUS a per-bucket sum of the numeric
    node ids at the driver gate's sf=0.01 (n=2000) scale, so the check
    is sensitive to the exact flagged id SET — a drift in the operator
    gate, the FIXME skip, the distance band, or the adoption exclusion
    changes some id_sum even if counts survive."""
    from . import synth
    from .operators.compare import redundant_node_modifies

    n = max(_sf_n(sf_dir, per_unit=200_000), 2_000)
    stops, nodes = synth.generate_compare_world(spark, n, partitions=8)
    out = redundant_node_modifies(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS
    )
    return (
        out.withColumn("id_num", F.substring("osm_id", 2, 12).cast("long"))
        .groupBy("version")
        .agg(F.count("*").alias("n_nodes"), F.sum("id_num").alias("id_sum"))
        .orderBy("version")
    )


@register(
    "g13_video_shot_cuts",
    """
        SELECT CAST(has_cut AS BOOLEAN) AS has_cut, CAST(n_clips AS BIGINT) AS n_clips,
           CAST(id_sum AS BIGINT) AS id_sum, CAST(frames_sum AS BIGINT) AS frames_sum FROM (VALUES
      (1500, FALSE, 300, 60000, 2400),
      (1500, TRUE, 100, 19800, 800),
      (15000, FALSE, 300, 60000, 2400),
      (15000, TRUE, 100, 19800, 800),
      (150000, FALSE, 3000, 6000000, 24000),
      (150000, TRUE, 1000, 1998000, 8000))
      AS t(sf_key, has_cut, n_clips, id_sum, frames_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY has_cut
    """,
)
def g13(spark, sf_dir):
    """Video modality with a REAL container codec: parseable RIFF/AVI
    payloads (operators/media.py encode_avi — avih/strh/strf headers,
    idx1 seek index, Motion-PNG frames via the repo's own PNG codec)
    through the per-clip container parse in sample_frames (avih header
    as metadata source of truth), then shot-boundary detection (classic
    max inter-frame brightness-delta cut detector, one media_id-keyed
    window). synth_avi_table plants a colour inversion at the midpoint
    of every 4th clip with guaranteed margins (ramp delta 2 vs cut
    delta >=74 vs threshold 60), so exactly 25% of clips cut. The
    oracle pins the per-bucket clip count, summed numeric ids (set
    sensitivity), and summed sampled-frame counts at the driver gate's
    sf=0.01 scale (n=400); all-integer aggregates, no float summation.
    Container grammar + round-trip + fallback paths are pytest-verified
    in tests/test_media.py."""
    from .operators.media import shot_boundaries, synth_avi_table

    n = _sf_n(sf_dir, per_unit=40_000, lo=400)
    out = shot_boundaries(synth_avi_table(spark, n, partitions=8))
    return (
        out.withColumn("_num", F.substring("media_id", 4, 12).cast("long"))
        .groupBy("has_cut")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("_num").alias("id_sum"),
            F.sum("n_frames").alias("frames_sum"),
        )
        .orderBy("has_cut")
    )


@register(
    "g16_tile_fetch",
    """
        SELECT CAST(n_tiles AS BIGINT) AS n_tiles, CAST(cell_xor AS BIGINT) AS cell_xor,
           CAST(images_sum AS BIGINT) AS images_sum, CAST(px_sum AS BIGINT) AS px_sum FROM (VALUES
      (1500, 12, 110595408119, 12, 2439353),
      (15000, 12, 110595408119, 12, 2439353),
      (150000, 26, 19327352964, 26, 4274159))
      AS t(sf_key, n_tiles, cell_xor, images_sum, px_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    """,
)
def g16(spark, sf_dir):
    """The tile-SERVING read path, oracle-checked end to end: build the
    g14 pyramid (levels=2), store it write_pyramid (hive-partitioned by
    res, compacted), then tiles_for_bbox a fixed bbox at res 8 — the
    level filter partition-prunes the scan and the bbox's cover
    rectangle pushes as a hex_cell range (plan pinned in
    test_pyramid_serving_layout_pruned_fetch). Digested to one
    all-integer row (count, bit_xor of the tile cell ids — set
    sensitivity without int64 sum overflow on ~2.6e18 cell ids — image
    and decoded-pixel sums); literal oracle pinned at the driver gate's
    sf=0.01 scale. The serving store is written under a run-unique temp
    dir (the digest row is computed eagerly so the dir can be removed
    before returning)."""
    import shutil
    import tempfile

    from . import synth
    from .operators.images import mosaic_pyramid, tiles_for_bbox, write_pyramid

    n = min(_sf_n(sf_dir, per_unit=40_000), 20_000)
    geo = synth.generate_images_geo(spark, n)
    path = tempfile.mkdtemp(prefix="g16_pyr_")
    try:
        write_pyramid(mosaic_pyramid(geo, levels=2), path)
        got = tiles_for_bbox(spark, path, 9.6, -148.4, 10.4, -147.6, res=8)
        rows = got.agg(
            F.count("*").alias("n_tiles"),
            F.bit_xor("hex_cell").alias("cell_xor"),
            F.sum("n_images").alias("images_sum"),
            F.sum("px_sum").alias("px_sum"),
        ).collect()  # bounded: ONE digest row, so the store can be dropped
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows)


@register(
    "g14_mosaic_pyramid",
    """
        SELECT CAST(res AS INT) AS res, CAST(n_tiles AS BIGINT) AS n_tiles,
           CAST(children_sum AS BIGINT) AS children_sum,
           CAST(images_sum AS BIGINT) AS images_sum,
           CAST(max_w AS INT) AS max_w, CAST(px_sum AS BIGINT) AS px_sum FROM (VALUES
      (1500, 7, 969, 1224, 2000, 96, 173144296),
      (1500, 8, 1224, 1773, 2000, 96, 259305588),
      (1500, 9, 1773, 2000, 2000, 96, 309072322),
      (15000, 7, 969, 1224, 2000, 96, 173144296),
      (15000, 8, 1224, 1773, 2000, 96, 259305588),
      (15000, 9, 1773, 2000, 2000, 96, 309072322),
      (150000, 7, 1830, 2119, 4000, 96, 308315344),
      (150000, 8, 2119, 3146, 4000, 96, 453601360),
      (150000, 9, 3146, 4000, 4000, 96, 620315946))
      AS t(sf_key, res, n_tiles, children_sum, images_sum, max_w, px_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY res
    """,
)
def g14(spark, sf_dir):
    """Multi-resolution raster tile pyramid (operators/images.py
    mosaic_pyramid): base res-9 mosaics roll up through aperture-7
    center-containment parents (functions/cells.py hex_parent_np), each
    level built from the PREVIOUS level's tiles — the raw image table is
    read once, and per-level cost shrinks with the cell population. The
    oracle pins per-res tile counts, child/image conservation sums
    (images_sum == n at every level), max canvas width, and px_sum — the
    codec-independent decoded-canvas byte sum — at the driver gate's
    sf=0.01 scale (n=2000, same world as g04: 1773 base cells).
    Block-mean thumb content and layout are pytest-verified
    (tests/test_images_ops.py)."""
    from . import synth
    from .operators.images import mosaic_pyramid

    n = min(_sf_n(sf_dir, per_unit=40_000), 20_000)
    geo = synth.generate_images_geo(spark, n)
    return (
        mosaic_pyramid(geo, levels=3)
        .groupBy("res")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("n_children").alias("children_sum"),
            F.sum("n_images").alias("images_sum"),
            F.max("tile_w").alias("max_w"),
            F.sum("px_sum").alias("px_sum"),
        )
        .orderBy("res")
    )


@register(
    "g12_audio_wav_stats",
    """
        SELECT CAST(clipped AS BOOLEAN) AS clipped, CAST(n_clips AS BIGINT) AS n_clips,
           CAST(dur_sum AS DOUBLE) AS dur_sum, CAST(rms_sum AS DOUBLE) AS rms_sum,
           CAST(peak_sum AS DOUBLE) AS peak_sum, CAST(zc_sum AS BIGINT) AS zc_sum,
           CAST(clip_sum AS DOUBLE) AS clip_sum FROM (VALUES
      (1500, FALSE, 320, 220.0, 164.04, 231.997, 217995, 0.0),
      (1500, TRUE, 80, 54.813, 60.247, 79.998, 54003, 23.0988),
      (15000, FALSE, 320, 220.0, 164.04, 231.997, 217995, 0.0),
      (15000, TRUE, 80, 54.813, 60.247, 79.998, 54003, 23.0988),
      (150000, FALSE, 3200, 2199.625, 1640.398, 2319.971, 2175144, 0.0),
      (150000, TRUE, 800, 550.0, 602.466, 799.975, 544009, 230.9878))
      AS t(sf_key, clipped, n_clips, dur_sum, rms_sum, peak_sum, zc_sum, clip_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY clipped
    """,
)
def g12(spark, sf_dir):
    """Audio modality with a REAL codec: decodable RIFF/PCM-16 WAV
    payloads (operators/media.py synth_wav_table — any stdlib `wave`
    reader accepts the bytes) through the zip-batch mapInPandas decode
    (audio_features: stdlib-wave parse, header as metadata source of
    truth, downmix, RMS/peak/zero-crossing/clipping). Digested to a
    per-clipped-bucket checksum row set; literal oracle pinned at the
    driver gate's sf=0.01 scale (g01 convention; decode round-trip,
    downmix, 8-bit path, and header precedence are pytest-verified in
    tests/test_media.py). Every 5th clip is planted with amplitude 1.1,
    so the clipped bucket is exactly 20% of rows."""
    from .operators.media import audio_features, synth_wav_table

    n = _sf_n(sf_dir, per_unit=40_000, lo=400)
    feats = audio_features(synth_wav_table(spark, n, partitions=8))
    return (
        feats.withColumn("clipped", F.col("clipped_pct") > 0)
        .groupBy("clipped")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.sum("duration_s"), 3).alias("dur_sum"),
            F.round(F.sum("rms"), 3).alias("rms_sum"),
            F.round(F.sum("peak"), 3).alias("peak_sum"),
            F.sum("zero_crossings").alias("zc_sum"),
            F.round(F.sum("clipped_pct"), 4).alias("clip_sum"),
        )
        .orderBy("clipped")
    )


@register(
    "g11_phash_near_dup",
    """
        SELECT CAST(hamming AS INT) AS hamming, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(id_sum AS BIGINT) AS id_sum FROM (VALUES
      (1500, 2, 200, 398000),
      (15000, 2, 200, 398000),
      (150000, 2, 2000, 39980000))
      AS t(sf_key, hamming, n_pairs, id_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY hamming
    """,
)
def g11(spark, sf_dir):
    """Image-axis near-dup detection: perceptual-hash Hamming pairs over
    the synthetic image world via the same pigeonhole banding engine as
    d12 (simhash_pairs is signature-agnostic) — 64-bit phash, 4 x 16-bit
    bands, max Hamming 3. Every image_id % 10 == 0 plants a mutated copy
    (phash XOR 0b101 = 2 bit flips); random 64-bit phashes collide at
    Hamming <= 3 with p ~ 2e-15, so the planted pairs are exactly the
    result. The oracle pins the per-Hamming histogram plus the summed
    numeric ids of both pair sides at sf=0.01 (n=2000) — sensitive to
    the exact pair SET, the banding recall, and the popcount verify."""
    from . import synth

    n = _sf_n(sf_dir)
    base = synth.generate_geo_only(spark, n).select(
        "image_id", "phash", F.substring("image_id", 4, 12).cast("long").alias("_num")
    )
    dups = base.filter(F.col("_num") % 10 == 0).select(
        F.format_string("dup%012d", F.col("_num")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
        "_num",
    )
    pairs = DD.simhash_pairs(
        base.unionByName(dups),
        max_hamming=3,
        id_col="image_id",
        sig_col="phash",
        n_bands=4,
        band_bits=16,
    )
    return (
        pairs.withColumn("_na", F.substring("id_a", 4, 12).cast("long"))
        .withColumn("_nb", F.substring("id_b", 4, 12).cast("long"))
        .groupBy("hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("_na") + F.col("_nb")).alias("id_sum"),
        )
        .orderBy("hamming")
    )


@register(
    "g15_image_curation",
    """
        SELECT CAST(shard AS INT) AS shard, CAST(n_images AS BIGINT) AS n_images,
           CAST(id_sum AS BIGINT) AS id_sum, CAST(phash_xor AS BIGINT) AS phash_xor,
           CAST(dup_sum AS BIGINT) AS dup_sum, CAST(bright_sum AS BIGINT) AS bright_sum FROM (VALUES
      (1500, 0, 112, 115696, 8612412025916977581, 8, 14364768375),
      (1500, 1, 116, 117031, 3816210045208386387, 13, 14859123429),
      (1500, 2, 131, 137275, -128579386929107992, 16, 16851943839),
      (1500, 3, 114, 103428, 1978211674574507299, 14, 14549052161),
      (1500, 4, 128, 127337, 207529182242915750, 11, 16386239778),
      (1500, 5, 120, 125399, 691975432454488345, 11, 15420600010),
      (1500, 6, 114, 113617, 4656021945824964694, 11, 14608133688),
      (1500, 7, 118, 110510, 4320000736980841873, 14, 15086383456),
      (1500, 8, 121, 119212, -8428474618560843462, 13, 15480917223),
      (1500, 9, 144, 149072, 7858231911290764753, 18, 18493437915),
      (1500, 10, 127, 124810, -8245094714656389129, 12, 16274746985),
      (1500, 11, 110, 123506, 1122868718630419705, 4, 14075222980),
      (1500, 12, 119, 117518, -6860085147988041431, 9, 15215122413),
      (1500, 13, 152, 149520, 7371563786793859805, 18, 19461894909),
      (1500, 14, 137, 127613, -113233547782934256, 12, 17509805636),
      (1500, 15, 137, 137456, -8654630407069405998, 15, 17597864697),
      (15000, 0, 112, 115696, 8612412025916977581, 8, 14364768375),
      (15000, 1, 116, 117031, 3816210045208386387, 13, 14859123429),
      (15000, 2, 131, 137275, -128579386929107992, 16, 16851943839),
      (15000, 3, 114, 103428, 1978211674574507299, 14, 14549052161),
      (15000, 4, 128, 127337, 207529182242915750, 11, 16386239778),
      (15000, 5, 120, 125399, 691975432454488345, 11, 15420600010),
      (15000, 6, 114, 113617, 4656021945824964694, 11, 14608133688),
      (15000, 7, 118, 110510, 4320000736980841873, 14, 15086383456),
      (15000, 8, 121, 119212, -8428474618560843462, 13, 15480917223),
      (15000, 9, 144, 149072, 7858231911290764753, 18, 18493437915),
      (15000, 10, 127, 124810, -8245094714656389129, 12, 16274746985),
      (15000, 11, 110, 123506, 1122868718630419705, 4, 14075222980),
      (15000, 12, 119, 117518, -6860085147988041431, 9, 15215122413),
      (15000, 13, 152, 149520, 7371563786793859805, 18, 19461894909),
      (15000, 14, 137, 127613, -113233547782934256, 12, 17509805636),
      (15000, 15, 137, 137456, -8654630407069405998, 15, 17597864697),
      (150000, 0, 1228, 12389174, 3435832181825664092, 129, 157407523234),
      (150000, 1, 1243, 12609885, -5068804160584866785, 113, 159297985494),
      (150000, 2, 1276, 12643227, 1991247193574542426, 135, 163648560354),
      (150000, 3, 1224, 12086473, 7722823520743102977, 128, 156715425654),
      (150000, 4, 1219, 12160089, -5195459609825063150, 140, 156212603482),
      (150000, 5, 1227, 12299958, -1686720566068250787, 105, 157163779877),
      (150000, 6, 1238, 12628663, 5769423375908803232, 131, 158851024296),
      (150000, 7, 1238, 12385159, 607879590751636554, 121, 158722039000),
      (150000, 8, 1269, 12824398, -2754434854839179333, 119, 162509771503),
      (150000, 9, 1241, 12411778, -6300599695477192792, 136, 158949558418),
      (150000, 10, 1285, 12841142, -7308363095237866183, 128, 164609454249),
      (150000, 11, 1233, 12424753, -4550292290844066392, 105, 158009071401),
      (150000, 12, 1263, 12700434, -1600655385588963718, 134, 161870874099),
      (150000, 13, 1231, 11908361, -1714102273101092690, 110, 157654499597),
      (150000, 14, 1303, 12848954, -3544216574019323330, 127, 166793779171),
      (150000, 15, 1278, 12792022, 4018456882860996126, 137, 163623385917))
      AS t(sf_key, shard, n_images, id_sum, phash_xor, dup_sum, bright_sum)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY shard
    """,
)
def g15(spark, sf_dir):
    """The composed image-curation pipeline end to end (the image-axis
    sibling of d14): pixel-level near-dup plants
    (synth.generate_images_with_dups: every 10th image re-appears
    brightness-shifted +4 and re-encoded — only a real perceptual hash
    of the DECODED pixels can pair it with its original) ->
    curate_images (operators/images.py): ONE decode pass computing luma
    stats + real 32x32-DCT phash64, quality gates (brightness window,
    contrast, caption tokens), pigeonhole-banded Hamming<=3 pairing
    (the d12 engine), large-star/small-star components, canonical
    min-id survivor with n_dups, xxhash64 shard assign. Digested to
    per-shard ALL-INTEGER checksums (counts, numeric-id sums, bit_xor
    of the computed phash64 — sensitive to every bit of the DCT path —
    dup counts, and round(brightness*1e6) sums), pinned as a literal
    oracle at the driver gate's sf=0.01 scale (g01 convention). Hash
    properties (plants Hamming<=2, unrelated ~32) and stage semantics
    are pytest-verified in tests/test_image_curation.py."""
    from . import synth
    from .operators.images import curate_images

    n = _sf_n(sf_dir, per_unit=200_000, lo=2_000)
    cur = curate_images(synth.generate_images_with_dups(spark, n))
    return (
        cur.groupBy("shard")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.substring("image_id", 4, 12).cast("long")).alias("id_sum"),
            F.bit_xor("phash64").alias("phash_xor"),
            F.sum("n_dups").cast("long").alias("dup_sum"),
            F.sum(F.round(F.col("brightness") * 1e6).cast("long")).alias("bright_sum"),
        )
        .orderBy("shard")
    )


@register(
    "d11_dup_components",
    f"""
    WITH RECURSIVE {_DOCS_AUG_SQL},
    sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM docs_aug)
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN cnt ca ON i.id_a = ca.doc_id JOIN cnt cb ON i.id_b = cb.doc_id
      WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= 0.5
    ),
    edges AS (
      -- UNION ALL: bare UNION in a WITH RECURSIVE block keeps dups
      -- anyway (see cdoc note in d14); duplicate edges are harmless to
      -- reachability, so make the intent explicit
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS component
    FROM reach GROUP BY src
    """,
)
def d11(spark, sf_dir):
    """Near-dup CLUSTERING: connected components over the >=0.5-Jaccard
    pair graph, min-id component labels (min-label propagation, one
    partial-agg shuffle per round; oracle = DuckDB recursive transitive
    closure)."""
    from .operators.dedup import connected_components

    docs = _docs_aug(spark, sf_dir)
    pairs = DD.jaccard_pairs(docs, None, threshold=0.5).select("id_a", "id_b")
    cc = connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "d13_embedding_dup_components",
    f"""
    WITH RECURSIVE
    a AS (SELECT vec_id AS id_a, embedding AS vec_a FROM embeddings),
    b AS (SELECT vec_id AS id_b, embedding AS vec_b FROM embeddings),
    prs AS (
      SELECT id_a, id_b FROM a JOIN b ON id_a < id_b
      WHERE round({_cos_expr('vec_a', 'vec_b')}, 3) >= 0.3
    ),
    edges AS (
      -- UNION ALL: bare UNION in a WITH RECURSIVE block keeps dups
      -- anyway (see cdoc note in d14); duplicate edges are harmless to
      -- reachability, so make the intent explicit
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT CAST(src AS BIGINT) AS vec_id,
           CAST(least(src, min(dst)) AS BIGINT) AS component
    FROM reach GROUP BY src
    """,
)
def d13(spark, sf_dir):
    """Embedding near-dup CLUSTERING: the cosine pair graph (d09, exact
    baseline) contracted to components by alternating large-star/
    small-star — the canonical-survivor labeling a dedup pipeline
    applies AFTER pair generation. Oracle = DuckDB recursive transitive
    closure over the same cosine pairs. Composition of two
    independently-verified operators, hash-checked end-to-end."""
    from .operators.dedup import connected_components

    (emb,) = load(spark, sf_dir, "embeddings")
    pairs = SIM.cosine_dedup_pairs(emb, threshold=0.3).select("id_a", "id_b")
    cc = connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "d12_simhash_pairs",
    f"""
    WITH {_DOCS_AUG_SQL},
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs_aug
    ),
    bits AS (
      SELECT doc_id, tok, md5(tok) AS tok_md5, unnest(generate_series(0, 31)) AS b
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN substr(tok_md5, b + 1, 1) IN ('8','9','a','b','c','d','e','f')
                      THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY doc_id, b
    ),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN CAST(power(2.0, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def d12(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 of 32 bits) via pigeonhole
    banding — per-band hash joins + exact popcount verify; the oracle
    recomputes the same pairs with an all-pairs scan (tiny at sf0.01)."""
    from .operators.dedup import simhash32, simhash_pairs

    docs = _docs_aug(spark, sf_dir)
    sigs = simhash32(docs)
    return simhash_pairs(sigs, max_hamming=3).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


@register(
    "d14_scaled_dedup_pipeline",
    f"""
    WITH RECURSIVE {_DOCS_AUG_SQL}, {_MINHASH_SQL_BODY},
    cdoc AS (
      -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE,
      -- DuckDB parses any CTE's top-level UNION as base/recursive-step
      -- and KEEPS duplicates across the parts even when the step never
      -- references the CTE — duplicated doc rows inflated the df-cap
      -- window counts (caught by the round-6 sf0.001 sweep)
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM cand
        UNION ALL SELECT id_b FROM cand
      )
    ),
    cshd0 AS (
      SELECT s.doc_id, s.shingle FROM shd s JOIN cdoc USING (doc_id)
    ),
    cshd AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM cshd0
      ) WHERE df <= 8
    ),
    ccnt AS (SELECT doc_id, count(*) AS n_sh FROM cshd GROUP BY doc_id),
    cinter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM cshd a JOIN cshd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT i.id_a, i.id_b
      FROM cinter i
      JOIN cand c ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN ccnt ca ON i.id_a = ca.doc_id
      JOIN ccnt cb ON i.id_b = cb.doc_id
      WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= 0.5
    ),
    edges AS (
      -- UNION ALL: bare UNION in a WITH RECURSIVE block keeps dups
      -- anyway (see cdoc note in d14); duplicate edges are harmless to
      -- reachability, so make the intent explicit
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS component
    FROM reach GROUP BY src
    """,
)
def d14(spark, sf_dir):
    """The at-scale dedup pipeline composed END-TO-END — exactly what a
    100 TB run executes: MinHash(12) -> LSH banding (4x3) candidate
    pairs -> df-capped exact-Jaccard verify (>= 0.5) restricted to the
    candidates -> large-star/small-star connected components. Every
    stage is bucketed/capped (never all-pairs, never O(diameter)); the
    DuckDB oracle mirrors the full composition, including the df cap
    computed over the candidate-restricted shingle universe, so the
    composition itself is hash-checked, not just its pieces (d05 grades
    the candidate+verify stages, d10 the cap, d11/d13 the exact-path
    clustering)."""
    from .operators.dedup import connected_components

    docs = _docs_aug(spark, sf_dir)
    sigs = DD.minhash_signatures(docs, num_hashes=12)
    # materialized once (jobs/run_dedup.py convention): jaccard_pairs
    # consumes the candidate frame twice; without this the banding
    # window re-executes per consumer (measured 2x at 100k docs)
    cand = DD.lsh_candidate_pairs(sigs, num_hashes=12, band_rows=3).localCheckpoint()
    pairs = DD.jaccard_pairs(docs, cand, threshold=0.5, df_cap=8).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "g17_ivf_stored_search",
    """
        SELECT CAST(rank_k AS INT) AS rank_k, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(qid_sum AS BIGINT) AS qid_sum, CAST(nid_sum AS BIGINT) AS nid_sum,
           CAST(sim_milli_sum AS BIGINT) AS sim_milli_sum,
           CAST(match_inmem AS BOOLEAN) AS match_inmem FROM (VALUES
      (1500, 1, 20, 4750, 5266, 7030, TRUE),
      (1500, 2, 20, 4750, 5443, 6293, TRUE),
      (1500, 3, 20, 4750, 5312, 5790, TRUE),
      (1500, 4, 20, 4750, 5009, 5447, TRUE),
      (1500, 5, 20, 4750, 5740, 5222, TRUE),
      (15000, 1, 20, 4750, 5856, 7488, TRUE),
      (15000, 2, 20, 4750, 5068, 6610, TRUE),
      (15000, 3, 20, 4750, 5312, 5840, TRUE),
      (15000, 4, 20, 4750, 5407, 5515, TRUE),
      (15000, 5, 20, 4750, 4408, 5310, TRUE),
      (150000, 1, 80, 79000, 73739, 31344, TRUE),
      (150000, 2, 80, 79000, 72351, 28893, TRUE),
      (150000, 3, 80, 79000, 80112, 27557, TRUE),
      (150000, 4, 80, 79000, 81279, 26590, TRUE),
      (150000, 5, 80, 79000, 77617, 25812, TRUE))
      AS t(sf_key, rank_k, n_pairs, qid_sum, nid_sum, sim_milli_sum, match_inmem)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY rank_k
    """,
)
def g17(spark, sf_dir):
    """The IVF SERVING path against a stored index, oracle-checked end
    to end (round-6 closure of the r5 verdict's top item): build
    deterministic Lloyd centroids, persist the assigned corpus with
    ivf_store (SnapTable hive-partitioned by list_id), then search a
    fixed query batch with ivf_topk_stored — the probed lists become
    PartitionFilters on the corpus scan (plan pinned in
    tests/test_similarity.py::test_ivf_stored_layout_prunes_scan), so
    only nprobe/n_lists of the index is READ. Digested per rank_k with
    exact-long key/sim checksums (g02 convention; sims are 3-dp-rounded
    in-plan so x1000 is integral), plus an in-plan match_inmem flag:
    the stored path must be row-identical to ivf_topk over the same
    assignment. Literal oracle pinned at the driver gate's sf=0.01
    scale. The index lives in a run-unique temp dir (digest computed
    eagerly, then removed)."""
    import shutil
    import tempfile

    from .operators.similarity import (
        ivf_store,
        ivf_topk,
        ivf_topk_stored,
        kmeans_centroids,
    )

    (emb,) = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_lists=8, iters=2)
    q = emb.filter(F.col("vec_id") % 25 == 0)
    path = tempfile.mkdtemp(prefix="g17_ivf_")
    try:
        store = ivf_store(emb, cents, path)
        got = ivf_topk_stored(spark, q, store, cents, k=5, nprobe=2)
        mem = ivf_topk(q, store.read(spark), cents, k=5, nprobe=2)
        n_diff = got.exceptAll(mem).count() + mem.exceptAll(got).count()
        rows = (
            got.groupBy("rank_k")
            .agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.sum("q_id").cast("long").alias("qid_sum"),
                F.sum("n_id").cast("long").alias("nid_sum"),
                F.sum(F.round(F.col("sim") * 1000).cast("long")).alias(
                    "sim_milli_sum"
                ),
            )
            .withColumn("match_inmem", F.lit(bool(n_diff == 0)))
            .orderBy("rank_k")
            .collect()  # bounded: k digest rows, so the store can be dropped
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "rank_k int, n_pairs bigint, qid_sum bigint, nid_sum bigint, "
        "sim_milli_sum bigint, match_inmem boolean",
    )


# ---------------------------------------------------------------------------
# text retrieval (t-family): BM25 / TF-IDF top-k + stored inverted index
# ---------------------------------------------------------------------------
# The reference has no retrieval surface (the fuzzy operator-name predicate,
# OperatorInfo.java:45-77, is its closest analog); this family belongs to
# the engine's LLM-training-data toolkit next to dedup and ANN. Fixed query
# strings over the synth documents vocabulary — present at every SF.

_RETRIEVAL_QS = [
    (1, "fast table scan"),
    (2, "window agg merge"),
    (3, "customer order query"),
    (4, "big vector join the"),
]

_RETRIEVAL_Q_VALUES = """
  VALUES (1,'fast'),(1,'table'),(1,'scan'),
         (2,'window'),(2,'agg'),(2,'merge'),
         (3,'customer'),(3,'order'),(3,'query'),
         (4,'big'),(4,'vector'),(4,'join'),(4,'the')
"""

def _bm25_sql(k: int = 10) -> str:
    """The t01 oracle, parameterized on the rank cut so t04 can splice
    the whole computation in as a nested-WITH subquery at k=20."""
    return f"""
    WITH q(query_id, term) AS ({_RETRIEVAL_Q_VALUES}),
    corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
      FROM corpus
    ),
    tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM corpus),
    postings AS (
      SELECT doc_id, term, CAST(count(*) AS INT) AS tf, CAST(max(dl) AS INT) AS dl
      FROM tok WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
    scores AS (
      SELECT q.query_id, p.doc_id,
             round(sum(
               ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
             ), 6) AS score
      FROM q JOIN postings p ON p.term = q.term
      JOIN dfreq f ON f.term = q.term
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    )
    SELECT * FROM (
      SELECT query_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank,
             doc_id, score
      FROM scores
    ) WHERE rank <= {k}
"""


_BM25_SQL = _bm25_sql(10)


@register("t01_bm25_topk", _BM25_SQL)
def t01(spark, sf_dir):
    """BM25 top-10 per query over the documents corpus. The postings
    shuffle is restricted to the query vocabulary inside the scan stage
    (O(matching tokens), never O(corpus tokens)); df/idf are a tiny
    broadcast; top-k is the salted two-stage (no single task sorts a
    head term's full candidate list). The oracle is the brute-force
    unnest-everything formulation — hash-matching it also proves the
    vocabulary restriction loses no candidate."""
    from .operators.retrieval import bm25_topk

    (docs,) = load(spark, sf_dir, "documents")
    return bm25_topk(spark, docs, _RETRIEVAL_QS, k=10)


@register(
    "t02_tfidf_topk",
    f"""
    WITH q(query_id, term) AS ({_RETRIEVAL_Q_VALUES}),
    corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
    tok AS (SELECT doc_id, unnest(w) AS term FROM corpus),
    postings AS (
      SELECT doc_id, term, CAST(count(*) AS INT) AS tf
      FROM tok WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
    scores AS (
      SELECT q.query_id, p.doc_id,
             round(sum(p.tf * (ln((s.n_docs + 1.0) / (f.df + 1.0)) + 1.0)), 6) AS score
      FROM q JOIN postings p ON p.term = q.term
      JOIN dfreq f ON f.term = q.term
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    )
    SELECT * FROM (
      SELECT query_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank,
             doc_id, score
      FROM scores
    ) WHERE rank <= 10
    """,
)
def t02(spark, sf_dir):
    """Smooth-TF-IDF top-10 per query (sklearn's ln((N+1)/(df+1))+1 idf),
    same plan shape as t01."""
    from .operators.retrieval import tfidf_topk

    (docs,) = load(spark, sf_dir, "documents")
    return tfidf_topk(spark, docs, _RETRIEVAL_QS, k=10)


@register("t03_bm25_indexed", _BM25_SQL)
def t03(spark, sf_dir):
    """BM25 against a STORED inverted index, oracle-checked end to end:
    build_term_index persists full postings hive-partitioned by
    term_bucket (SnapTable — the serving-layout machinery's third use
    after the delta-sync feed and the IVF lists) plus a 1-row corpus
    stats table; bm25_topk_indexed turns the query vocabulary's buckets
    into In(bucket, ...) PartitionFilters on the postings scan (plan
    pinned in tests/test_retrieval.py). The oracle is t01's SQL
    verbatim, so the gate itself proves indexed == brute-force. The
    index lives in a run-unique temp dir (rows collected eagerly — at
    most 4 queries x k — then the store is removed)."""
    import shutil
    import tempfile

    from .operators.retrieval import bm25_topk_indexed, build_term_index

    (docs,) = load(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="t03_idx_")
    try:
        idx, stats = build_term_index(docs, path)
        rows = bm25_topk_indexed(spark, idx, stats, _RETRIEVAL_QS, k=10).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id bigint, score double"
    )


@register(
    "g18_pq_ann",
    """
        SELECT CAST(rank_k AS INT) AS rank_k, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(qid_sum AS BIGINT) AS qid_sum, CAST(nid_sum AS BIGINT) AS nid_sum,
           CAST(adc_micro_sum AS BIGINT) AS adc_micro_sum,
           CAST(recall_milli AS INT) AS recall_milli FROM (VALUES
      (1500, 1, 20, 4750, 4706, 5010920, 210),
      (1500, 2, 20, 4750, 6537, 4264582, 210),
      (1500, 3, 20, 4750, 5619, 4009506, 210),
      (1500, 4, 20, 4750, 4737, 3761908, 210),
      (1500, 5, 20, 4750, 5465, 3582333, 210),
      (15000, 1, 20, 4750, 5287, 4927339, 240),
      (15000, 2, 20, 4750, 4226, 4334506, 240),
      (15000, 3, 20, 4750, 5447, 3951161, 240),
      (15000, 4, 20, 4750, 4907, 3727640, 240),
      (15000, 5, 20, 4750, 6138, 3505074, 240),
      (150000, 1, 80, 79000, 84227, 19625876, 110),
      (150000, 2, 80, 79000, 75225, 18108763, 110),
      (150000, 3, 80, 79000, 79773, 17088506, 110),
      (150000, 4, 80, 79000, 84853, 16292801, 110),
      (150000, 5, 80, 79000, 73763, 15781477, 110))
      AS t(sf_key, rank_k, n_pairs, qid_sum, nid_sum, adc_micro_sum, recall_milli)
    WHERE sf_key = (SELECT count(*) FROM orders)
    ORDER BY rank_k
    """,
)
def g18(spark, sf_dir):
    """IVF-PQ compressed serving, oracle-checked end to end: train
    per-subspace L2 codebooks (pq_train — deterministic Lloyd), build a
    pq_store (the ivf_store list_id layout with M=8 4-bit-ish codes +
    one stored norm REPLACING the raw embedding: a 16-32x scan-size
    cut), then ADC-search a fixed query batch — probed lists prune the
    scan (PartitionFilters) and the candidates' codes join a broadcast
    (q_id, sub, code, w) table (plan pinned in tests/test_pq.py).
    Digested per rank_k with exact-long checksums (adc_score is
    6-dp-rounded in-plan so x1e6 is integral) plus recall_milli vs the
    exact brute force — MEASURED in-plan, the g06/g07 convention: the
    synthetic corpus is unstructured (top-1 cosine ~0.35 over a ~0.3
    background), so the pinned value documents reality. The store lives
    in a run-unique temp dir (digest computed eagerly, then removed)."""
    import shutil
    import tempfile

    from .operators.pq import pq_store, pq_topk_stored, pq_train
    from .operators.similarity import brute_force_topk, kmeans_centroids

    (emb,) = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_lists=8, iters=2)
    books = pq_train(emb, m=8, k=16, iters=2)
    q = emb.filter(F.col("vec_id") % 25 == 0)
    path = tempfile.mkdtemp(prefix="g18_pq_")
    try:
        store = pq_store(emb, cents, books, path)
        got = pq_topk_stored(spark, q, store, cents, books, k=5, nprobe=2)
        exact = brute_force_topk(q, emb, k=5)
        hits = got.join(exact, ["q_id", "n_id"], "left_semi")
        n_exact = exact.count()
        recall_milli = int(round(hits.count() * 1000 / n_exact))
        rows = (
            got.groupBy("rank_k")
            .agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.sum("q_id").cast("long").alias("qid_sum"),
                F.sum("n_id").cast("long").alias("nid_sum"),
                F.sum(F.round(F.col("adc_score") * 1e6).cast("long")).alias(
                    "adc_micro_sum"
                ),
            )
            .withColumn("recall_milli", F.lit(recall_milli))
            .orderBy("rank_k")
            .collect()  # bounded: k digest rows, so the store can be dropped
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "rank_k int, n_pairs bigint, qid_sum bigint, nid_sum bigint, "
        "adc_micro_sum bigint, recall_milli int",
    )


_T04_COS_K = 20


def _t04_cos_sql() -> str:
    """The semantic side of t04: brute-force cosine top-20 per query
    vector (embedding of vec_id = 50*query_id), self-excluded — d08's
    formulation with the q set mapped to the hybrid query ids."""
    return f"""
    WITH q AS (SELECT CAST(vec_id / 50 AS INT) AS query_id,
                      embedding AS q_vec, vec_id AS q_vid
               FROM embeddings WHERE vec_id IN (50, 100, 150, 200)),
    c AS (SELECT vec_id AS doc_id, embedding AS n_vec FROM embeddings),
    scored AS (
      SELECT query_id, doc_id, round({_cos_expr('q_vec', 'n_vec')}, 3) AS sim
      FROM q CROSS JOIN c WHERE q_vid != doc_id
    )
    SELECT query_id, doc_id, rank FROM (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, doc_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {_T04_COS_K}
"""


@register(
    "t04_hybrid_rrf",
    f"""
    WITH bm AS ({_bm25_sql(_T04_COS_K)}),
    cs AS ({_t04_cos_sql()}),
    fused AS (
      SELECT query_id, doc_id,
             round(sum(1.0 / (60 + rank)), 6) AS score
      FROM (SELECT query_id, rank, doc_id FROM bm
            UNION ALL
            SELECT query_id, rank, doc_id FROM cs)
      GROUP BY query_id, doc_id
    )
    SELECT query_id, rank, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
)
def t04(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 (lexical, over documents) fused
    with brute-force cosine top-20 (semantic, over embeddings — the
    same item-id space at every SF) by reciprocal-rank fusion
    (1/(60+rank), the standard combiner — rank-based, so the two
    systems' incomparable score scales never matter AND the whole
    composition stays exactly SQL-expressible: this oracle recomputes
    BOTH rankings and the fusion from scratch in DuckDB). The fusion
    input is O(queries x k) rows — the corpus is touched only by the
    two underlying retrievals."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import brute_force_topk

    docs, emb = load(spark, sf_dir, "documents", "embeddings")
    bm = bm25_topk(spark, docs, _RETRIEVAL_QS, k=_T04_COS_K)
    qv = emb.filter(F.col("vec_id").isin(50, 100, 150, 200))
    cs = brute_force_topk(qv, emb, k=_T04_COS_K).select(
        (F.col("q_id") / 50).cast("int").alias("query_id"),
        F.col("n_id").alias("doc_id"),
        F.col("rank_k").alias("rank"),
    )
    return rrf_fuse(bm, cs, k=10)


@register(
    "d15_source_quota",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('quota' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
)
def d15(spark, sf_dir):
    """Deterministic stratified quota sampling (the curation cap: no
    source dominates the mixture): at most 30 docs per source, chosen
    by salted-md5 order — engine-portable, so the oracle re-derives the
    exact sample. WindowGroupLimit pushes the rank cut below the
    shuffle (map tasks emit <= n rows per group before the exchange)."""
    from .operators.text import quota_sample

    (docs,) = load(spark, sf_dir, "documents")
    return quota_sample(docs, "source", 30).select("doc_id", "source")


@register(
    "e04_token_histogram",
    """
    SELECT source, CAST(floor(len(string_split(text, ' ')) / 8) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY source, bucket
    """,
)
def e04(spark, sf_dir):
    """Token-length histogram per source (dataset-shape report:
    truncation budgets, outliers). Codegen bucket expression + one
    partial-agg shuffle over a tiny (source, bucket) key space."""
    from .operators.text import token_histogram

    (docs,) = load(spark, sf_dir, "documents")
    return token_histogram(docs)
