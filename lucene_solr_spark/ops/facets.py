"""Solr JSON Facet API / StatsComponent analogs (SURVEY.md §2.E) as
Catalyst-native aggregations over the TPC-H-ish driver tables.

Reference semantics: terms facet = ``S/search/facet/FacetField`` (top-N
buckets by count), range facet = ``FacetRange`` (fixed start/gap buckets),
query facet = ``FacetQuery`` (conditional agg), nested subfacets =
``FacetModule`` bucket trees, metrics = ``SumAgg/AvgAgg/MinMaxAgg/
StddevAgg/PercentileAgg/UniqueAgg``, grouping/collapse =
``S/search/Grouping`` / ``CollapsingQParserPlugin`` (best doc per group).

Scale notes: every facet here is a single hash-aggregate (partial+final —
Catalyst's map-side combine replaces Solr's 2-phase distributed facet
refinement); top-N bucket selection is TakeOrdered on the aggregated
(small) side, never a full sort of the fact table. Grouping/collapse is a
window rank which AQE executes as one shuffle on the group key.

Float discipline for the DuckDB cross-check: money/quantity sums go through
DECIMAL casts (exact, associative — immune to summation order), derived
ratios are computed in double from those exact sums with identical op order
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..search.searcher import ranked_top
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- terms facet: top-N buckets by count (FacetFieldProcessor) --------------

def facet_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
        .orderBy(F.desc("cnt"), F.asc("bucket"))
        .limit(5)
    )


FACET_TERMS_SQL = """
SELECT o_orderpriority AS bucket,
       count(*)::BIGINT AS cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY 1 ORDER BY cnt DESC, bucket ASC LIMIT 5"""


# --- range facet: fixed start/gap numeric buckets (FacetRange) --------------

def facet_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.col("o_totalprice")).alias("min_price"),
            F.max(F.col("o_totalprice")).alias("max_price"),
        )
        .orderBy("bucket")
    )


FACET_RANGE_SQL = """
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       count(*)::BIGINT AS cnt,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders GROUP BY 1 ORDER BY bucket"""


# --- query facet: bucket = arbitrary predicate (FacetQuery) -----------------

def facet_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).cast("long").alias("n_returned"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).cast("long").alias("n_discounted"),
        F.sum(F.when(F.col("l_returnflag") == "R", dec)).cast("double").alias("returned_revenue"),
    )


FACET_QUERY_SQL = """
SELECT sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_returned,
       sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_discounted,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_revenue
FROM lineitem"""


# --- nested facet + metrics: TPC-H Q1 shape (FacetModule bucket tree) -------

def facet_metrics_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


FACET_METRICS_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       count(*)::BIGINT AS count_order,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""


# --- stats component: field stats over a result set -------------------------

def stats_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``S/handler/component/StatsComponent`` — min/max/sum/mean/stddev.
    stddev from exact decimal power sums, explicit sample formula (matches the
    oracle's op order bitwise)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    dec = F.col("l_quantity").cast("decimal(18,2)")
    sq = dec * dec
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(dec).cast("double").alias("sum_qty"),
        F.sum(sq).cast("double").alias("sumsq_qty"),
    )
    return agg.select(
        "n", "min_qty", "max_qty", "sum_qty",
        (F.col("sum_qty") / F.col("n")).alias("mean_qty"),
        F.sqrt(
            (F.col("sumsq_qty") - F.col("sum_qty") * F.col("sum_qty") / F.col("n"))
            / (F.col("n") - F.lit(1))
        ).alias("stddev_qty"),
    )


STATS_COMPONENT_SQL = """
WITH a AS (
    SELECT count(*)::BIGINT AS n,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sumsq_qty
    FROM lineitem WHERE l_returnflag = 'A'
)
SELECT n, min_qty, max_qty, sum_qty,
       sum_qty / n AS mean_qty,
       sqrt((sumsq_qty - sum_qty * sum_qty / n) / (n - 1)) AS stddev_qty
FROM a"""


# --- unique agg: exact count-distinct per bucket (UniqueAgg) ----------------

def facet_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("uniq_users"), F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


FACET_UNIQUE_SQL = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS uniq_users, count(*)::BIGINT AS cnt
FROM events GROUP BY 1 ORDER BY 1"""


# --- unique agg, sketch form: HLL approx count-distinct (HLLAgg) ------------
# Solr's `hll` agg (S/search/facet/HLLAgg) is the distributed-scale default
# for cardinality; Spark's analog is `approx_count_distinct` (HyperLogLog++,
# mergeable partial state — one pass, no shuffle of raw values). The sketch
# estimate is engine-specific, so the driver-checked contract is the useful
# invariant: the estimate must sit within the configured relative error of
# the exact count. We emit (bucket, uniq_exact, hll_ok) where hll_ok asserts
# |hll − exact| ≤ 5·rsd·exact; the oracle computes the exact count and
# hll_ok=TRUE. A failing sketch turns the row red.

HLL_RSD = 0.02


def facet_unique_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("uniq_exact"),
            F.approx_count_distinct("user_id", HLL_RSD).alias("hll"),
        )
        .select(
            "event_type",
            "uniq_exact",
            (
                F.abs(F.col("hll") - F.col("uniq_exact"))
                <= F.lit(5 * HLL_RSD) * F.col("uniq_exact")
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


FACET_UNIQUE_HLL_SQL = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS uniq_exact, TRUE AS hll_ok
FROM events GROUP BY 1 ORDER BY 1"""


# --- grouping / collapse: best row per group (CollapsingQParserPlugin) ------

def collapse_best_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


COLLAPSE_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
) WHERE rn = 1 ORDER BY o_custkey"""


# --- expand component (CollapsingQParserPlugin's expand side) ---------------
# Collapse hides all but the best doc per group; ExpandComponent fetches the
# top-N *hidden* members of each collapsed group so the client can show
# "more like this group". Same single window shuffle as collapse — the rank
# that picked the head also identifies the expanded members (rn 2..N+1);
# never a per-group re-query.

EXPAND_N = 2


def collapse_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = orders.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter((F.col("rn") >= 2) & (F.col("rn") <= 1 + EXPAND_N))
        .select(
            "o_custkey",
            F.col("rn").cast("int").alias("expand_rank"),
            "o_orderkey",
            "o_totalprice",
        )
        .orderBy("o_custkey", "expand_rank")
    )


COLLAPSE_EXPAND_SQL = f"""
SELECT o_custkey, rn::INTEGER AS expand_rank, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
) WHERE rn BETWEEN 2 AND {1 + EXPAND_N} ORDER BY o_custkey, expand_rank"""


def collapse_min_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingQParserPlugin with a ``min=field`` selector
    (``S/search/CollapsingQParserPlugin`` min/max field selectors — the
    non-score collapse mode): one surviving row per group, chosen by the
    MINIMUM of a numeric field (ties → lowest key), here the cheapest
    order per customer. Same single window shuffle as score collapse."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
        .limit(COLLAPSE_MIN_LIMIT)
    )


COLLAPSE_MIN_LIMIT = 200

COLLAPSE_MIN_SQL = f"""
SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
    FROM orders
) WHERE rn = 1 ORDER BY o_custkey LIMIT {COLLAPSE_MIN_LIMIT}"""


def facet_terms_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms-facet bucket paging (``facet.offset``/``facet.limit`` request
    params — FacetFieldProcessor offset handling): skip the first 2 buckets
    of the (count desc, bucket asc) order, return the next 3. The offset
    applies to the AGGREGATED bucket table (tiny), never to raw rows."""
    orders = _t(spark, sf_dir, "orders")
    buckets = orders.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("bucket"))
    return (
        buckets.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") >= 3) & (F.col("rn") <= 5))
        .select("bucket", "cnt", F.col("rn").cast("int").alias("rn"))
        .orderBy("rn")
    )


FACET_TERMS_OFFSET_SQL = """
SELECT bucket, cnt, rn::INTEGER AS rn FROM (
    SELECT bucket, cnt,
           row_number() OVER (ORDER BY cnt DESC, bucket ASC) AS rn
    FROM (SELECT o_orderpriority AS bucket, count(*)::BIGINT AS cnt
          FROM orders GROUP BY 1)
) WHERE rn BETWEEN 3 AND 5 ORDER BY rn"""


# --- grouping: top-k docs per group (lucene/grouping) -----------------------

def group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", F.col("rnk").cast("int").alias("rnk"), "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rnk")
    )


GROUP_TOPK_SQL = """
SELECT o_orderpriority, rnk::INTEGER AS rnk, o_orderkey, o_totalprice FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
    FROM orders
) WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""


def group_func_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping by a FUNCTION of the document rather than a stored field —
    Solr ``group.func`` (``S/search/Grouping.java`` grouped-by-ValueSource
    mode): the group key is a computed bucket (here floor(o_totalprice /
    50000), a price band), top-2 rows per band by (price desc, key asc).

    Scale shape: the bucket is a JVM column expression fused into the scan
    projection; the ONLY shuffle is the window's partition-by-bucket — same
    single-shuffle shape as field grouping."""
    orders = _t(spark, sf_dir, "orders")
    band = F.floor(
        F.col("o_totalprice").cast("decimal(18,2)") / F.lit(50000)
    ).cast("long")
    w = Window.partitionBy("band").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("band", band)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("band", F.col("rnk").cast("int").alias("rnk"),
                "o_orderkey", "o_totalprice")
        .orderBy("band", "rnk")
    )


GROUP_FUNC_SQL = """
SELECT band, rnk::INTEGER AS rnk, o_orderkey, o_totalprice FROM (
    SELECT floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000)::BIGINT AS band,
           o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000)
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS rnk
    FROM orders
) WHERE rnk <= 2 ORDER BY band, rnk"""


# --- heatmap facet: 2D grid counts (FacetHeatmap / facet.heatmap) -----------
# Reference computes a spatial grid over lat/lon; the operator is "bucket two
# dimensions on fixed grids, count each cell, return rows of per-cell counts".
# Fixture grid: x = event day-of-year bucket (7-day columns), y = value
# decile rows — one hash-aggregate. Emitted as EXPLODED scalar cells
# (row, gx, cnt) — the same information as counts_ints2D, one cell per
# output row, so the driver canonicalizer (pandas sort_values) can hash it;
# reassembling the 2D array shape is a trivial driver-side collect_list.

HEATMAP_X_GAP = 7.0      # days per column
HEATMAP_Y_GAP = 10.0     # value units per row


def facet_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.floor(F.dayofyear("ts") / F.lit(HEATMAP_X_GAP)).cast("int").alias("gx"),
            F.floor(F.col("value") / F.lit(HEATMAP_Y_GAP)).cast("int").alias("gy"),
        )
        .groupBy("gy", "gx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("gy").alias("row"), "gx", "cnt")
        .orderBy("row", "gx")
    )


FACET_HEATMAP_SQL = f"""
SELECT floor(value / {HEATMAP_Y_GAP})::INTEGER AS row,
       floor(dayofyear(ts) / {HEATMAP_X_GAP})::INTEGER AS gx,
       count(*)::BIGINT AS cnt
FROM events GROUP BY 1, 2 ORDER BY 1, 2"""


# --- percentile facet (PercentileAgg) ----------------------------------------
# Exact interpolated percentiles per bucket (Spark `percentile` ≡ DuckDB
# `quantile_cont`, both rank = p·(n−1) linear interpolation). Solr's
# PercentileAgg uses t-digest sketches for the distributed case — Spark's
# sketch analog is `percentile_approx`; at 10^12 rows use that (one pass,
# mergeable state); the exact form here is the verification baseline.

def facet_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("bucket"))
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("bucket")
    )


FACET_PERCENTILE_SQL = """
SELECT o_orderpriority AS bucket,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY 1 ORDER BY 1"""


# --- percentile facet, sketch form (PercentileAgg's t-digest path) -----------
# Solr's PercentileAgg runs on t-digest sketches in the distributed case;
# Spark's analog is `percentile_approx` (KLL-like quantile summary with a
# rank-accuracy parameter, mergeable partial state — one pass, no sort).
# Sketch values are engine-specific, so (same discipline as facet_unique_hll)
# the driver-checked contract is the accuracy invariant: the estimate must
# land within the exact quantile values at p ± eps, where eps = 1/accuracy
# is the documented rank-error bound. The oracle computes the exact bounds
# and ok=TRUE; a sketch outside its own error bound turns the row red.

PCT_APPROX_ACCURACY = 100   # rank error eps = 1/accuracy = 1%


def facet_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    eps = 1.0 / PCT_APPROX_ACCURACY
    aggs = []
    for p in (0.5, 0.95):
        tag = str(int(p * 100))
        aggs += [
            F.expr(
                f"percentile_approx(o_totalprice, {p}, {PCT_APPROX_ACCURACY})"
            ).alias(f"a{tag}"),
            # Bounds at p ± 2eps, not p ± eps: percentile_approx returns an
            # ACTUAL element with rank error ≤ eps·N, while percentile()
            # interpolates between elements — an element sitting exactly at
            # the ±eps boundary rank can fall strictly outside the
            # interpolated value. Doubling eps absorbs the discrete-vs-
            # interpolated gap whenever eps·N ≥ 1 (always true here).
            F.expr(f"percentile(o_totalprice, {max(p - 2 * eps, 0.0)})").alias(f"lo{tag}"),
            F.expr(f"percentile(o_totalprice, {min(p + 2 * eps, 1.0)})").alias(f"hi{tag}"),
        ]
    out = orders.groupBy(F.col("o_orderpriority").alias("bucket")).agg(*aggs)
    cols = [F.col("bucket")]
    for p in (0.5, 0.95):
        tag = str(int(p * 100))
        cols.append(
            (
                (F.col(f"a{tag}") >= F.col(f"lo{tag}"))
                & (F.col(f"a{tag}") <= F.col(f"hi{tag}"))
            ).alias(f"p{tag}_ok")
        )
    return out.select(*cols).orderBy("bucket")


def _pct_approx_sql() -> str:
    eps = 1.0 / PCT_APPROX_ACCURACY
    return f"""
SELECT o_orderpriority AS bucket, TRUE AS p50_ok, TRUE AS p95_ok
FROM orders GROUP BY 1 ORDER BY 1
-- invariant certified: approx within exact quantiles at p ± {2 * eps}
-- (2eps: discrete sketch element vs interpolated exact bound)"""


# --- nested subfacets (FacetModule bucket trees) ------------------------------
# JSON Facet API nesting: outer terms facet, and inside every bucket an inner
# terms subfacet with its own metrics + top-N. One hash-aggregate on the
# composite key + a per-bucket window rank — never a per-bucket re-query
# (Solr refines each bucket with follow-up shard requests; Spark gets the
# whole tree from one shuffle).

def facet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-priority bucket: top-2 order statuses by count with
    revenue — (bucket, sub_bucket, cnt, sum_price, sub_rank)."""
    orders = _t(spark, sf_dir, "orders")
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("bucket"),
            F.col("o_orderstatus").alias("sub_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("cnt"), F.asc("sub_bucket"))
    return (
        cells.withColumn("sub_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sub_rank") <= 2)
        .orderBy("bucket", "sub_rank")
    )


FACET_NESTED_SQL = """
WITH cells AS (
    SELECT o_orderpriority AS bucket, o_orderstatus AS sub_bucket,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1, 2
)
SELECT bucket, sub_bucket, cnt, sum_price, sub_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY cnt DESC, sub_bucket ASC)::INTEGER AS sub_rank
    FROM cells
) WHERE sub_rank <= 2 ORDER BY bucket, sub_rank"""


# --- interval facet: arbitrary open/closed intervals (IntervalFacets) -------

def facet_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval facet (``S/request/IntervalFacets.java``, ``facet.interval``):
    arbitrary ``[a,b)`` / ``[a,b]`` / ``(a,*]`` intervals with open/closed
    ends — and OVERLAP allowed (a doc counts in every interval containing
    it), which range facet's disjoint fixed-gap buckets can't express.

    Scale shape: ONE pass — every interval is a conditional sum inside a
    single partial+final aggregate; adding intervals adds columns, not
    scans."""
    orders = _t(spark, sf_dir, "orders")
    c = F.col("o_totalprice")
    ivals = {
        "i_lo": (c >= 0) & (c < 50000),            # [0,50000)
        "i_mid": (c >= 50000) & (c <= 150000),     # [50000,150000]
        "i_hi": c > 150000,                        # (150000,*]
        "i_overlap": (c >= 0) & (c <= 100000),     # [0,100000] — overlaps both
    }
    return orders.agg(*[
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        for name, cond in ivals.items()
    ])


FACET_INTERVAL_SQL = """
SELECT sum(CASE WHEN o_totalprice >= 0 AND o_totalprice < 50000 THEN 1 ELSE 0 END)::BIGINT AS i_lo,
       sum(CASE WHEN o_totalprice >= 50000 AND o_totalprice <= 150000 THEN 1 ELSE 0 END)::BIGINT AS i_mid,
       sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)::BIGINT AS i_hi,
       sum(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 100000 THEN 1 ELSE 0 END)::BIGINT AS i_overlap
FROM orders"""


register("facet_interval", facet_interval, FACET_INTERVAL_SQL)
register("facet_nested", facet_nested, FACET_NESTED_SQL)
register("facet_percentile", facet_percentile, FACET_PERCENTILE_SQL)
register("facet_percentile_approx", facet_percentile_approx, _pct_approx_sql())
register("facet_heatmap", facet_heatmap, FACET_HEATMAP_SQL)
register("facet_terms", facet_terms, FACET_TERMS_SQL)
register("facet_range", facet_range, FACET_RANGE_SQL)
register("facet_query", facet_query, FACET_QUERY_SQL)
register("facet_metrics_q1", facet_metrics_q1, FACET_METRICS_Q1_SQL)
register("stats_component", stats_component, STATS_COMPONENT_SQL)
register("facet_unique", facet_unique, FACET_UNIQUE_SQL)
register("facet_unique_hll", facet_unique_hll, FACET_UNIQUE_HLL_SQL)
register("collapse_best_order", collapse_best_order, COLLAPSE_SQL)
register("collapse_expand", collapse_expand, COLLAPSE_EXPAND_SQL)
register("group_topk", group_topk, GROUP_TOPK_SQL)
register("group_func_topk", group_func_topk, GROUP_FUNC_SQL)
register("collapse_min_field", collapse_min_field, COLLAPSE_MIN_SQL)
register("facet_terms_offset", facet_terms_offset, FACET_TERMS_OFFSET_SQL)


# --- terms facet request params: prefix / mincount / limit / missing --------

def facet_terms_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms facet with the full Solr request-param surface
    (``S/search/facet/FacetField``: ``facet.prefix``, ``facet.mincount``,
    ``facet.limit``, ``facet.missing``): buckets restricted to a value
    prefix, small buckets dropped, top-N by (count desc, value asc), plus
    the trailing missing-count bucket (docs with no field value — counted
    even when zero, as Solr emits it whenever requested).

    Scale shape: the prefix filter prunes BEFORE the one hash-agg shuffle
    (Catalyst pushes it into the scan as a range predicate on the
    dictionary-encoded column); the missing count is a second
    filter-aggregate over the same scan, unioned driver-free."""
    part = _t(spark, sf_dir, "part")
    buckets = (
        part.filter(F.col("p_brand").startswith("Brand#1"))
        .groupBy(F.col("p_brand").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 60)
        .orderBy(F.desc("cnt"), F.asc("bucket"))
        .limit(8)
    )
    missing = part.agg(
        F.sum(F.when(F.col("p_brand").isNull(), 1).otherwise(0))
        .cast("long").alias("cnt")
    ).select(F.lit("__missing__").alias("bucket"), "cnt")
    return buckets.unionByName(missing)


FACET_TERMS_PARAMS_SQL = """
SELECT bucket, cnt FROM (
    SELECT p_brand AS bucket, count(*)::BIGINT AS cnt
    FROM part WHERE p_brand LIKE 'Brand#1%'
    GROUP BY p_brand HAVING count(*) >= 60
    ORDER BY cnt DESC, bucket ASC LIMIT 8
)
UNION ALL
SELECT '__missing__' AS bucket,
       sum(CASE WHEN p_brand IS NULL THEN 1 ELSE 0 END)::BIGINT AS cnt
FROM part"""


register("facet_terms_params", facet_terms_params, FACET_TERMS_PARAMS_SQL)


# --- JSON facet allBuckets / numBuckets options -----------------------------

def facet_allbuckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON facet ``allBuckets:true`` + ``numBuckets:true``
    (``S/search/facet/FacetFieldProcessor`` allBuckets slot / numBuckets
    header): the top-N term buckets, plus the roll-up row aggregating ALL
    bucketed docs (independent of the limit), plus the count of distinct
    buckets before limiting.

    Scale shape: all three results come off ONE scan — the bucket
    hash-agg (map-side combined) serves the top-N and, re-aggregated,
    numBuckets and allBuckets; no second pass over the fact table."""
    part = _t(spark, sf_dir, "part")
    by_bucket = (
        part.filter(F.col("p_type").isNotNull())  # missing ∉ buckets
        .groupBy(F.col("p_type").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = by_bucket.orderBy(F.desc("cnt"), F.asc("bucket")).limit(5)
    allb = by_bucket.agg(F.sum("cnt").cast("long").alias("cnt")).select(
        F.lit("__all__").alias("bucket"), "cnt"
    )
    nb = by_bucket.agg(F.count(F.lit(1)).cast("long").alias("cnt")).select(
        F.lit("__numBuckets__").alias("bucket"), "cnt"
    )
    return top.unionByName(allb).unionByName(nb)


FACET_ALLBUCKETS_SQL = """
SELECT bucket, cnt FROM (
    SELECT p_type AS bucket, count(*)::BIGINT AS cnt
    FROM part WHERE p_type IS NOT NULL
    GROUP BY 1 ORDER BY cnt DESC, bucket ASC LIMIT 5
)
UNION ALL
SELECT '__all__', count(*)::BIGINT FROM part WHERE p_type IS NOT NULL
UNION ALL
SELECT '__numBuckets__', count(DISTINCT p_type)::BIGINT FROM part"""


register("facet_allbuckets", facet_allbuckets, FACET_ALLBUCKETS_SQL)


# --- date range facet with Solr date-math endpoints -------------------------

# fixed NOW anchor so both engines derive identical instants
DATEMATH_NOW = "2024-01-05T13:27:00"
DATEMATH_START = "NOW/DAY-3DAYS"
DATEMATH_END = "NOW/DAY+4DAYS"


def facet_range_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date range facet whose endpoints are Solr date-math expressions
    (``S/util/DateMathParser`` + ``S/search/facet/FacetRange`` date path):
    ``start=NOW/DAY-3DAYS``, ``end=NOW/DAY+4DAYS``, ``gap=+1DAY`` against a
    fixed NOW — daily buckets with count and value sum.

    Scale shape: the parsed endpoints become plain timestamp literals, so
    the ts filter pushes to the parquet scan (partition/row-group pruning
    on a time-partitioned table); one hash-agg on the truncated day."""
    from datetime import datetime

    from ..util.datemath import parse_date_math

    now = datetime.fromisoformat(DATEMATH_NOW)
    lo = parse_date_math(DATEMATH_START, now)
    hi = parse_date_math(DATEMATH_END, now)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("sum_value"),
        )
        .orderBy("bucket")
    )


# independent endpoint derivation: DuckDB date_trunc + INTERVAL arithmetic
FACET_RANGE_DATE_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE ts >= date_trunc('day', TIMESTAMP '2024-01-05 13:27:00') - INTERVAL 3 DAY
  AND ts <  date_trunc('day', TIMESTAMP '2024-01-05 13:27:00') + INTERVAL 4 DAY
GROUP BY 1 ORDER BY bucket"""


register("facet_range_date", facet_range_date, FACET_RANGE_DATE_SQL)


# --- pivot facet: multi-level bucket tree with stats (facet.pivot) ----------

def facet_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level pivot facet (``S/handler/component/PivotFacetProcessor``,
    ``facet.pivot=c_mktsegment,o_orderstatus,o_orderpriority`` with a stats
    tuple at the leaves): top-2 sub-buckets by (count desc, value asc) at
    levels 2 and 3, full fan at level 1 — Solr's distributed pivot tree
    flattened to leaf rows carrying their per-level ranks.

    Scale shape: ONE broadcast join (customer is the dim side) + ONE
    hash-aggregate over the (seg,status,priority) cube; the per-level
    top-N windows run on the aggregated cells (|cells| = product of the
    three small cardinalities), never the fact table. Solr's per-shard
    pivot refinement is replaced by Catalyst partial+final agg."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey, "inner")
        .groupBy(
            F.col("c_mktsegment").alias("l1"),
            F.col("o_orderstatus").alias("l2"),
            F.col("o_orderpriority").alias("l3"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_price"),
        )
    )
    l2_tot = cells.groupBy("l1", "l2").agg(F.sum("cnt").alias("l2_cnt"))
    w2 = Window.partitionBy("l1").orderBy(F.desc("l2_cnt"), F.asc("l2"))
    keep2 = (
        l2_tot.withColumn("l2_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("l2_rank") <= 2)
    )
    w3 = Window.partitionBy("l1", "l2").orderBy(F.desc("cnt"), F.asc("l3"))
    return (
        cells.join(keep2, ["l1", "l2"])
        .withColumn("l3_rank", F.row_number().over(w3).cast("int"))
        .filter(F.col("l3_rank") <= 2)
        .select("l1", "l2", "l3", "cnt", "sum_price", "l2_rank", "l3_rank")
        .orderBy("l1", "l2_rank", "l3_rank")
    )


FACET_PIVOT_SQL = """
WITH cells AS (
    SELECT c_mktsegment AS l1, o_orderstatus AS l2, o_orderpriority AS l3,
           count(*)::BIGINT AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2, 3
),
keep2 AS (
    SELECT l1, l2, l2_rank FROM (
        SELECT l1, l2, sum(cnt) AS l2_cnt,
               row_number() OVER (
                   PARTITION BY l1 ORDER BY sum(cnt) DESC, l2 ASC
               )::INTEGER AS l2_rank
        FROM cells GROUP BY l1, l2
    ) WHERE l2_rank <= 2
)
SELECT l1, l2, l3, cnt, sum_price, l2_rank, l3_rank FROM (
    SELECT c.*, k.l2_rank,
           row_number() OVER (
               PARTITION BY c.l1, c.l2 ORDER BY c.cnt DESC, c.l3 ASC
           )::INTEGER AS l3_rank
    FROM cells c JOIN keep2 k USING (l1, l2)
) WHERE l3_rank <= 2 ORDER BY l1, l2_rank, l3_rank"""


register("facet_pivot", facet_pivot, FACET_PIVOT_SQL)


# --- JSON facet bucket sort by aggregate (sort: "stat desc") ----------------

def facet_sort_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms facet whose buckets are ordered by a SUB-AGGREGATE rather than
    count (JSON Facet API ``sort: "avg_price desc"`` —
    ``S/search/facet/FacetFieldProcessor`` sorting by a ``AvgAgg`` slot):
    top-10 p_brand buckets by mean retail price.

    Scale shape: one hash-agg (exact DECIMAL sum + count — associative, so
    map-side combine is safe for the mean), TakeOrdered on the aggregated
    buckets. Solr's sort-by-stat refinement (second phase re-asking shards
    for candidate buckets) is unnecessary: the agg is already global."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy(F.col("p_brand").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .alias("_sum"),
        )
        .select(
            "bucket", "cnt",
            (F.col("_sum").cast("double") / F.col("cnt").cast("double"))
            .alias("avg_price"),
        )
        .orderBy(F.desc("avg_price"), F.asc("bucket"))
        .limit(10)
    )


FACET_SORT_STAT_SQL = """
SELECT bucket, cnt,
       CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS avg_price
FROM (
    SELECT p_brand AS bucket, count(*)::BIGINT AS cnt,
           sum(CAST(p_retailprice AS DECIMAL(18,2))) AS s
    FROM part GROUP BY p_brand
) ORDER BY avg_price DESC, bucket ASC LIMIT 10"""


register("facet_sort_stat", facet_sort_stat, FACET_SORT_STAT_SQL)


# --- multi-select faceting: tagged filter exclusion (excludeTags) -----------

def facet_exclude_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-select faceting (``{!tag=st}`` filter + ``facet.field={!ex=st}``
    — ``S/request/SimpleFacets`` excludeTags / JSON facet ``domain:
    {excludeTags:[...]}``): the user has selected ``o_orderstatus = 'F'``;
    the status facet EXCLUDES that tagged filter (so the UI can still show
    the other selectable statuses with their counts), while the priority
    facet applies it. Rows = (field, bucket, cnt) for both facet blocks.

    Scale shape: two hash-aggregates over the same scan with different
    pushed predicates — Spark reuses the cached/columnar scan; no
    driver-side domain rewriting."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_totalprice") > 150000.0)
    status = (
        base.groupBy(F.col("o_orderstatus").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("status_ex").alias("field"), "bucket", "cnt")
    )
    prio = (
        base.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_orderpriority").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("priority").alias("field"), "bucket", "cnt")
    )
    return status.unionByName(prio).orderBy("field", "bucket")


FACET_EXCLUDE_TAGS_SQL = """
SELECT * FROM (
    SELECT 'status_ex' AS field, o_orderstatus AS bucket,
           count(*)::BIGINT AS cnt
    FROM orders WHERE o_totalprice > 150000.0 GROUP BY 2
    UNION ALL
    SELECT 'priority' AS field, o_orderpriority AS bucket,
           count(*)::BIGINT AS cnt
    FROM orders WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY 2
) ORDER BY field, bucket"""


register("facet_exclude_tags", facet_exclude_tags, FACET_EXCLUDE_TAGS_SQL)


# --- grouping: ngroups / matches header (group.ngroups=true) ----------------

def group_ngroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping result header (``S/search/Grouping`` with
    ``group.ngroups=true``): total matching docs and the number of distinct
    groups for a grouped query — the two header counts Solr returns before
    the per-group doclists.

    Scale shape: one aggregate with a distinct-count (Spark expands to a
    two-stage partial agg); no row data moves."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 100000.0)
        .agg(
            F.count(F.lit(1)).alias("matches"),
            F.countDistinct("o_custkey").alias("ngroups"),
        )
    )


GROUP_NGROUPS_SQL = """
SELECT count(*)::BIGINT AS matches, count(DISTINCT o_custkey)::BIGINT AS ngroups
FROM orders WHERE o_totalprice > 100000.0"""


register("group_ngroups", group_ngroups, GROUP_NGROUPS_SQL)


# --- relatedness() — Semantic Knowledge Graph agg ---------------------------

def facet_relatedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON facet ``relatedness(fg, bg)`` (``S/search/facet/
    RelatednessAgg.java`` — the Semantic Knowledge Graph scoring from
    Grainger et al. 2016, "The Semantic Knowledge Graph"): for each bucket
    of the facet field, how related the bucket is to a FOREGROUND doc set
    relative to the BACKGROUND set. Per bucket:

        fg_prob = fg_count / fg_size,  bg_prob = bg_count / bg_size
        z = (fg_prob − bg_prob) / sqrt(bg_prob · (1 − bg_prob))   (1e-10 floor)
        relatedness = Σ 0.2 · sigmoid(z + o) / (s + |z + o|)
                      over (o, s) ∈ {(−80,50), (−30,30), (0,30), (30,30), (80,50)}
        rounded to 5 digits (floor(x·1e5 + 0.5)/1e5 — Math.round semantics)

    Here fg = docs from one source, buckets = lang. Scale shape: ONE
    hash-agg over the fact table produces every bucket's fg/bg counts
    (map-side combined); the two scalar totals broadcast back via a 1-row
    cross join; all the z/sigmoid math is JVM column expressions."""
    docs = _t(spark, sf_dir, "documents")
    is_fg = F.when(F.col("source") == "src3", 1).otherwise(0)
    b = docs.groupBy(F.col("lang").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("bg_count"),
        F.sum(is_fg).cast("long").alias("fg_count"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("double").alias("bg_size"),
        F.sum(is_fg).cast("double").alias("fg_size"),
    )
    j = b.crossJoin(F.broadcast(tot))
    fg_prob = F.col("fg_count") / F.col("fg_size")
    bg_prob = F.col("bg_count") / F.col("bg_size")
    num = fg_prob - bg_prob
    denom_raw = F.sqrt(bg_prob * (F.lit(1.0) - bg_prob))
    z = num / F.when(denom_raw == 0.0, F.lit(1e-10)).otherwise(denom_raw)

    def sig(o: float, s: float):
        return (z + F.lit(o)) / (F.lit(s) + F.abs(z + F.lit(o)))

    rel_raw = (
        F.lit(0.2) * sig(-80.0, 50.0)
        + F.lit(0.2) * sig(-30.0, 30.0)
        + F.lit(0.2) * sig(0.0, 30.0)
        + F.lit(0.2) * sig(30.0, 30.0)
        + F.lit(0.2) * sig(80.0, 50.0)
    )
    rel = F.floor(rel_raw * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)
    return (
        j.select(
            "bucket",
            "fg_count",
            "bg_count",
            rel.alias("relatedness"),
        )
        .orderBy(F.desc("relatedness"), F.asc("bucket"))
    )


_REL_SIG = (
    "0.2*((z + -80.0)/(50.0 + abs(z + -80.0))) "
    "+ 0.2*((z + -30.0)/(30.0 + abs(z + -30.0))) "
    "+ 0.2*((z + 0.0)/(30.0 + abs(z + 0.0))) "
    "+ 0.2*((z + 30.0)/(30.0 + abs(z + 30.0))) "
    "+ 0.2*((z + 80.0)/(50.0 + abs(z + 80.0)))"
)

FACET_RELATEDNESS_SQL = f"""
WITH b AS (
    SELECT lang AS bucket, count(*)::BIGINT AS bg_count,
           sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END)::BIGINT AS fg_count
    FROM documents GROUP BY lang
),
t AS (
    SELECT count(*)::DOUBLE AS bg_size,
           sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END)::DOUBLE AS fg_size
    FROM documents
),
c AS (
    SELECT bucket, fg_count, bg_count,
           (fg_count / fg_size - bg_count / bg_size)
           / (CASE WHEN sqrt((bg_count / bg_size) * (1.0 - bg_count / bg_size)) = 0
                   THEN 1e-10
                   ELSE sqrt((bg_count / bg_size) * (1.0 - bg_count / bg_size)) END)
               AS z
    FROM b, t
)
SELECT bucket, fg_count, bg_count,
       floor(({_REL_SIG}) * 1e5 + 0.5) / 1e5 AS relatedness
FROM c ORDER BY relatedness DESC, bucket"""


register("facet_relatedness", facet_relatedness, FACET_RELATEDNESS_SQL)


# --- range facet `other` buckets (before/after/between) ---------------------

def facet_range_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range facet ``facet.range.other=all`` (``S/handler/component/
    RangeFacetProcessor`` / SimpleFacets FacetRangeOther): alongside the
    in-range buckets, the BEFORE (< start), AFTER (>= end) and BETWEEN
    (whole [start, end) span) roll-up counts. Range here: o_totalprice in
    [50000, 250000) step 50000, hardend; bucket lower bounds label the rows
    and the three `other` rows use sentinel labels.

    Scale shape: ONE pass — every bucket and all three roll-ups are
    conditional aggregates of the same scan (no second read)."""
    orders = _t(spark, sf_dir, "orders")
    start, end, gap = 50000.0, 250000.0, 50000.0
    p = F.col("o_totalprice")
    in_range = orders.filter((p >= start) & (p < end))
    buckets = (
        in_range.groupBy(
            (F.lit(start) + F.floor((p - start) / gap) * gap)
            .cast("long").cast("string").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    other = orders.agg(
        F.sum(F.when(p < start, 1).otherwise(0)).cast("long").alias("before"),
        F.sum(F.when(p >= end, 1).otherwise(0)).cast("long").alias("after"),
        F.sum(F.when((p >= start) & (p < end), 1).otherwise(0)).cast("long").alias("between"),
    )
    rolls = other.selectExpr(
        "stack(3, '__before__', before, '__after__', after, '__between__', between) AS (bucket, cnt)"
    )
    return buckets.unionByName(rolls).orderBy("bucket")


FACET_RANGE_OTHER_SQL = """
WITH b AS (
    SELECT (50000 + (floor((o_totalprice - 50000.0) / 50000.0) * 50000))::BIGINT::VARCHAR AS bucket,
           count(*)::BIGINT AS cnt
    FROM orders WHERE o_totalprice >= 50000.0 AND o_totalprice < 250000.0
    GROUP BY 1
),
o AS (
    SELECT sum(CASE WHEN o_totalprice < 50000.0 THEN 1 ELSE 0 END)::BIGINT AS before,
           sum(CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END)::BIGINT AS after,
           sum(CASE WHEN o_totalprice >= 50000.0 AND o_totalprice < 250000.0 THEN 1 ELSE 0 END)::BIGINT AS between_
    FROM orders
)
SELECT bucket, cnt FROM b
UNION ALL SELECT '__before__', before FROM o
UNION ALL SELECT '__after__', after FROM o
UNION ALL SELECT '__between__', between_ FROM o
ORDER BY bucket"""


register("facet_range_other", facet_range_other, FACET_RANGE_OTHER_SQL)


# --- DrillSideways: per-dim counts excluding that dim's own drill-down ------

def facet_drill_sideways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DrillSideways faceting (``lucene/facet/src/java/.../facet/
    DrillSideways.java``): a drill-down query selects one value per
    dimension (here status='F' AND priority='1-URGENT' over a base query);
    hits are counted with ALL drill-downs applied, while each dimension's
    facet counts apply every OTHER dimension's drill-down but NOT its own —
    the "sideways" counts that let a UI show sibling values with the counts
    they'd have if the user switched this dimension's selection.

    Rows: ('__hits__', '__hits__', n) plus (dim, bucket, cnt) per sideways
    bucket. Scale shape: one conditional-aggregate pass per dimension over
    the same pushed base scan (Catalyst reuses the columnar read; each leg
    is a partial+final hash-agg) — no per-bucket requery, which is exactly
    the single-pass DrillSidewaysScorer contract."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_totalprice") > 100000.0)
    st = F.col("o_orderstatus") == "F"
    pr = F.col("o_orderpriority") == "1-URGENT"
    hits = base.filter(st & pr).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("__hits__").alias("dim"), F.lit("__hits__").alias("bucket"), "cnt"
    )
    side_status = (
        base.filter(pr)
        .groupBy(F.col("o_orderstatus").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("status").alias("dim"), "bucket", "cnt")
    )
    side_prio = (
        base.filter(st)
        .groupBy(F.col("o_orderpriority").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("priority").alias("dim"), "bucket", "cnt")
    )
    return hits.unionByName(side_status).unionByName(side_prio).orderBy("dim", "bucket")


FACET_DRILL_SIDEWAYS_SQL = """
SELECT * FROM (
    SELECT '__hits__' AS dim, '__hits__' AS bucket, count(*)::BIGINT AS cnt
    FROM orders WHERE o_totalprice > 100000.0
      AND o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'status', o_orderstatus, count(*)::BIGINT
    FROM orders WHERE o_totalprice > 100000.0 AND o_orderpriority = '1-URGENT'
    GROUP BY 2
    UNION ALL
    SELECT 'priority', o_orderpriority, count(*)::BIGINT
    FROM orders WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
    GROUP BY 2
) ORDER BY dim, bucket"""


register("facet_drill_sideways", facet_drill_sideways, FACET_DRILL_SIDEWAYS_SQL)


# --- group.sort: within-group order independent of the group order ----------

def group_sort_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped search with ``group.sort`` (``S/search/Grouping`` second
    pass / ``TopGroups``): groups (o_orderpriority) are ORDERED by the
    outer ``sort`` — each group's BEST doc per (o_totalprice desc) — while
    docs INSIDE a group are ordered by an independent ``group.sort``
    (o_orderdate asc, o_orderkey asc), group.limit=3. This is the
    two-criteria shape Solr's two-pass grouping exists for: the first pass
    picks group heads under ``sort``, the second collects each group's top
    docs under ``group.sort``.

    Scale shape: the within-group pass is a window rank over ONE shuffle
    on the group key; group ordering ranks only the per-group-max table
    (#groups rows — aggregated small side, single-partition sort like every
    top-k tail here) and broadcast-joins it back, so no unpartitioned
    window ever sees doc-level rows."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    by_group = Window.partitionBy("o_orderpriority")
    w_inner = by_group.orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    ranked = (
        orders.withColumn("doc_rank", F.row_number().over(w_inner))
        .filter(F.col("doc_rank") <= 3)
    )
    heads = ranked_top(
        orders.groupBy("o_orderpriority").agg(F.max("o_totalprice").alias("head")),
        None, F.desc("head"), F.asc("o_orderpriority"),
    ).select("o_orderpriority", F.col("rank").alias("grp_rank"))
    return (
        ranked.join(F.broadcast(heads), "o_orderpriority")
        .select(
            F.col("grp_rank").cast("int").alias("grp_rank"),
            F.col("o_orderpriority").alias("bucket"),
            F.col("doc_rank").cast("int").alias("doc_rank"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
        )
        .orderBy("grp_rank", "doc_rank")
    )


GROUP_SORT_WITHIN_SQL = """
WITH f AS (SELECT * FROM orders WHERE o_totalprice > 200000.0),
r AS (
    SELECT o_orderpriority,
           max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS head,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_orderdate ASC, o_orderkey ASC) AS doc_rank,
           o_orderkey, o_orderdate
    FROM f
)
SELECT dense_rank() OVER (ORDER BY head DESC, o_orderpriority ASC)::INTEGER AS grp_rank,
       o_orderpriority AS bucket,
       doc_rank::INTEGER AS doc_rank,
       o_orderkey::BIGINT AS o_orderkey,
       o_orderdate::VARCHAR AS o_orderdate
FROM r WHERE doc_rank <= 3
ORDER BY grp_rank, doc_rank"""


register("group_sort_within", group_sort_within, GROUP_SORT_WITHIN_SQL)


# --- sampled facets (RandomSamplingFacetsCollector) --------------------------

FACET_SAMPLE_PCT = 20  # keep docs whose md5 bucket < 20 of 100 (p = 0.2)


def facet_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled facet counts (``lucene/facet/.../RandomSamplingFacetsCollector``
    + ``#amortizeFacetCounts``): count facet buckets over a DOC SAMPLE and
    scale back up — the standard trick when exact facets over the full
    match set cost more than their precision is worth at scale. Upstream
    samples with XORShift64; here the sample is the engine's DETERMINISTIC
    md5-bucket (the sample_split discipline — stable across runs/engines,
    so the driver gate stays exact). Output per source bucket: the raw
    sampled count and the amortized estimate round(sampled / p), exactly
    amortizeFacetCounts' correction.

    Scale shape: the sample predicate evaluates per row BEFORE the
    hash-agg (a 5x row reduction at p=0.2 reaches the partial aggregate),
    and at 100 TB the same predicate pushes into a hash-bucketed layout's
    file pruning; one partial+final agg either way."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    sampled = docs.filter(bucket < FACET_SAMPLE_PCT)
    return (
        sampled.groupBy(F.col("source").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("sampled_cnt"))
        .select(
            "bucket", "sampled_cnt",
            F.round(F.col("sampled_cnt") * (100.0 / FACET_SAMPLE_PCT))
            .cast("long").alias("estimated_cnt"),
        )
        .orderBy(F.desc("sampled_cnt"), F.asc("bucket"))
        .limit(10)
    )


FACET_SAMPLED_SQL = f"""
SELECT bucket, sampled_cnt, CAST(round(sampled_cnt * (100.0 / {FACET_SAMPLE_PCT})) AS BIGINT) AS estimated_cnt
FROM (
    SELECT source AS bucket, count(*)::BIGINT AS sampled_cnt
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < {FACET_SAMPLE_PCT}
    GROUP BY source
) ORDER BY sampled_cnt DESC, bucket ASC LIMIT 10"""


register("facet_sampled", facet_sampled, FACET_SAMPLED_SQL)
