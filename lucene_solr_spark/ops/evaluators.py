"""Stream evaluator tranche 2 — the next slice of Solr's math-expression
evaluator surface (``SJ/io/eval/*``, ~100 classes; tranche 1 lives in
ops/streams.py: select-arith, corr, describe, hist, regress, movingAvg,
ttest, anova, mannWhitney, cov, chi2/gTest dataset, ks).

This tranche picks the evaluators Solr's math-expression docs lean on most
for array/series work: ``percentile`` (PercentileEvaluator, commons-math
LEGACY estimation), ``scale`` (ScaleEvaluator min-max), ``rank``
(RankEvaluator — NaturalRanking, ties averaged), ``diff``
(TimeDifferencingEvaluator), the element-by-element quartet ``ebeAdd /
ebeSubtract / ebeMultiply / ebeDivide``, ``dotProduct`` +
``cosineSimilarity``, ``harmonicMean`` + ``geometricMean``, and
``movingMedian`` + ``delay``.

Float discipline (the ops/streams.py pattern): sufficient statistics
aggregate EXACTLY — ``value`` casts to DECIMAL(18,2) (two-decimal data),
order-sensitive double terms (1/y, ln y) quantize to DECIMAL(38,18) BEFORE
summing so the reduction is order-free — then closed forms run in doubles,
bit-deterministic under any partitioning, matching the DuckDB oracle
per-op. Series evaluators operate on the HOURLY aggregate of the events
stream (the ``timeseries`` source shape these evaluators consume in Solr),
so per-group state is O(buckets), never O(rows) — the 100 TB-safe shape;
``percentile``/``rank`` group per event_type and sort within the
aggregation, one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _y(col: str = "value"):
    return F.col(col).cast("decimal(18,2)")


# --- percentile (SJ/io/eval/PercentileEvaluator) -----------------------------
# commons-math Percentile, default (LEGACY) estimation: pos = p(n+1)/100 on
# the 1-indexed sorted sample; pos < 1 -> min, pos >= n -> max, else linear
# interpolation between floor(pos) and floor(pos)+1.

PCTS = (50, 90)


def _legacy_percentile(arr, n, p: int):
    pos = F.lit(p / 100.0) * (n.cast("double") + F.lit(1.0))
    lo = F.floor(pos).cast("int")

    def elem(i):
        return F.element_at(arr, i).cast("double")

    frac = pos - lo.cast("double")
    return (
        F.when(pos < F.lit(1.0), elem(F.lit(1)))
        .when(lo >= n, elem(n))
        .otherwise(elem(lo) + frac * (elem(lo + F.lit(1)) - elem(lo)))
    )


def stream_percentile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = (
        ev.select("event_type", _y().alias("y"))
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("y")).alias("arr"),
             F.count(F.lit(1)).cast("int").alias("n"))
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        _legacy_percentile(F.col("arr"), F.col("n"), 50).alias("p50"),
        _legacy_percentile(F.col("arr"), F.col("n"), 90).alias("p90"),
    ).orderBy("event_type")


def _legacy_percentile_sql(p: int) -> str:
    pos = f"({p / 100.0!r} * (CAST(n AS DOUBLE) + 1.0))"
    lo = f"CAST(floor({pos}) AS INT)"
    return (
        f"CASE WHEN {pos} < 1.0 THEN CAST(arr[1] AS DOUBLE)"
        f" WHEN {lo} >= n THEN CAST(arr[n] AS DOUBLE)"
        f" ELSE CAST(arr[{lo}] AS DOUBLE)"
        f" + ({pos} - CAST({lo} AS DOUBLE))"
        f" * (CAST(arr[{lo} + 1] AS DOUBLE) - CAST(arr[{lo}] AS DOUBLE)) END"
    )


STREAM_PERCENTILE_SQL = f"""
WITH g AS (
    SELECT event_type,
           list_sort(array_agg(CAST(value AS DECIMAL(18,2)))) AS arr,
           count(*)::INT AS n
    FROM events GROUP BY 1
)
SELECT event_type, n::BIGINT AS n_obs,
       {_legacy_percentile_sql(50)} AS p50,
       {_legacy_percentile_sql(90)} AS p90
FROM g ORDER BY event_type"""


# --- scale (SJ/io/eval/ScaleEvaluator): min-max normalize to [0, 1] ---------

def stream_scale_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").cast("long").alias("event_id"),
        _y().alias("y"),
    )
    mm = ev.groupBy("event_type").agg(
        F.min("y").alias("mn"), F.max("y").alias("mx")
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .join(F.broadcast(mm), "event_type")
        .select(
            "event_type", "event_id",
            F.col("y").cast("double").alias("v"),
            ((F.col("y") - F.col("mn")).cast("double")
             / (F.col("mx") - F.col("mn")).cast("double")).alias("scaled"),
        )
        .orderBy("event_type", "event_id")
    )


STREAM_SCALE_SQL = """
WITH mm AS (
    SELECT event_type, min(CAST(value AS DECIMAL(18,2))) AS mn,
           max(CAST(value AS DECIMAL(18,2))) AS mx
    FROM events GROUP BY 1
), firsts AS (
    SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS y,
           row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
    FROM events
)
SELECT f.event_type, f.event_id, CAST(f.y AS DOUBLE) AS v,
       CAST(f.y - mm.mn AS DOUBLE) / CAST(mm.mx - mm.mn AS DOUBLE) AS scaled
FROM firsts f JOIN mm USING (event_type)
WHERE rn <= 4 ORDER BY event_type, event_id"""


# --- rank (SJ/io/eval/RankEvaluator — NaturalRanking, ties averaged) --------

def stream_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").cast("long").alias("event_id"),
        _y().alias("y"),
    )
    wv = Window.partitionBy("event_type").orderBy("y")
    wt = Window.partitionBy("event_type", "y")
    wid = Window.partitionBy("event_type").orderBy("event_id")
    ranked = ev.select(
        "event_type", "event_id",
        F.col("y").cast("double").alias("v"),
        # average rank of a tie group = first_rank + (ties - 1) / 2
        (F.rank().over(wv).cast("double")
         + (F.count(F.lit(1)).over(wt).cast("double") - F.lit(1.0)) / F.lit(2.0)
         ).alias("avg_rank"),
        F.row_number().over(wid).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") <= 4)
        .select("event_type", "event_id", "v", "avg_rank")
        .orderBy("event_type", "event_id")
    )


STREAM_RANK_SQL = """
WITH r AS (
    SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS y,
           rank() OVER (PARTITION BY event_type
                        ORDER BY CAST(value AS DECIMAL(18,2))) AS rk,
           count(*) OVER (PARTITION BY event_type,
                          CAST(value AS DECIMAL(18,2))) AS ties,
           row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
    FROM events
)
SELECT event_type, event_id, CAST(y AS DOUBLE) AS v,
       CAST(rk AS DOUBLE) + (CAST(ties AS DOUBLE) - 1.0) / 2.0 AS avg_rank
FROM r WHERE rn <= 4 ORDER BY event_type, event_id"""


# --- diff (SJ/io/eval/TimeDifferencingEvaluator, lag 1) over the hourly
# sum-of-value series per event_type ------------------------------------------

def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").cast("int").alias("h"), _y().alias("y"))
        .groupBy("event_type", "h")
        .agg(F.sum("y").alias("s"))
    )


def stream_diff_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("h")
    return hourly.select(
        "event_type", "h",
        F.col("s").cast("double").alias("v"),
        (F.col("s") - F.lag("s", 1).over(w)).cast("double").alias("diff1"),
    ).orderBy("event_type", "h")


_HOURLY_SQL = """
hourly AS (
    SELECT event_type, hour(ts)::INT AS h,
           sum(CAST(value AS DECIMAL(18,2))) AS s
    FROM events GROUP BY 1, 2
)"""

STREAM_DIFF_SQL = f"""
WITH {_HOURLY_SQL}
SELECT event_type, h, CAST(s AS DOUBLE) AS v,
       CAST(s - lag(s, 1) OVER (PARTITION BY event_type ORDER BY h)
            AS DOUBLE) AS diff1
FROM hourly ORDER BY event_type, h"""


# --- ebeAdd / ebeSubtract / ebeMultiply / ebeDivide (SJ/io/eval/
# EBEAddEvaluator ...) over two aligned hourly series (click vs view) ---------

def _two_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir)
    a = hourly.filter(F.col("event_type") == "click").select("h", F.col("s").alias("sa"))
    b = hourly.filter(F.col("event_type") == "view").select("h", F.col("s").alias("sb"))
    return a.join(b, "h")   # inner: aligned buckets only, ebe* length contract


def stream_ebe_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = _two_series(spark, sf_dir)
    sa, sb = F.col("sa"), F.col("sb")
    return ab.select(
        "h",
        (sa + sb).cast("double").alias("ebe_add"),
        (sa - sb).cast("double").alias("ebe_sub"),
        (sa.cast("double") * sb.cast("double")).alias("ebe_mul"),
        (sa.cast("double") / sb.cast("double")).alias("ebe_div"),
    ).orderBy("h")


_TWO_SERIES_SQL = f"""{_HOURLY_SQL},
ab AS (
    SELECT a.h, a.s AS sa, b.s AS sb
    FROM (SELECT h, s FROM hourly WHERE event_type = 'click') a
    JOIN (SELECT h, s FROM hourly WHERE event_type = 'view') b USING (h)
)"""

STREAM_EBE_SQL = f"""
WITH {_TWO_SERIES_SQL}
SELECT h, CAST(sa + sb AS DOUBLE) AS ebe_add,
       CAST(sa - sb AS DOUBLE) AS ebe_sub,
       CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS ebe_mul,
       CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE) AS ebe_div
FROM ab ORDER BY h"""


# --- dotProduct + cosineSimilarity (SJ/io/eval/DotProductEvaluator,
# CosineSimilarityEvaluator) of the same two aligned series -------------------

def stream_dot_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = _two_series(spark, sf_dir)
    # per-term products are exact decimal×decimal -> decimal; the sums are
    # exact, so the final doubles are order-free
    s = ab.select(
        (F.col("sa") * F.col("sb")).alias("axb"),
        (F.col("sa") * F.col("sa")).alias("axa"),
        (F.col("sb") * F.col("sb")).alias("bxb"),
    ).agg(
        F.sum("axb").alias("dot"),
        F.sum("axa").alias("na"),
        F.sum("bxb").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    return s.select(
        "n_buckets",
        F.col("dot").cast("double").alias("dot_product"),
        (F.col("dot").cast("double")
         / (F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double")))).alias("cosine"),
    )


STREAM_DOT_COSINE_SQL = f"""
WITH {_TWO_SERIES_SQL},
s AS (
    SELECT sum(sa * sb) AS dot, sum(sa * sa) AS na, sum(sb * sb) AS nb,
           count(*)::BIGINT AS n_buckets
    FROM ab
)
SELECT n_buckets, CAST(dot AS DOUBLE) AS dot_product,
       CAST(dot AS DOUBLE)
           / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM s"""


# --- harmonicMean + geometricMean (SJ/io/eval/HarmonicMeanEvaluator,
# GeometricMeanEvaluator) -----------------------------------------------------
# 1/y and ln(y) are doubles (order-sensitive if summed raw): quantize each
# term to DECIMAL(38,18) first — both engines compute the identical IEEE
# double then round half-up to the same 18-decimal fixed point, so the sum
# is exact and the reduction order-free.

def stream_harmonic_geometric(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", _y().alias("y"))
    terms = ev.select(
        "event_type",
        (F.lit(1.0) / F.col("y").cast("double")).cast("decimal(38,18)").alias("inv"),
        F.log(F.col("y").cast("double")).cast("decimal(38,18)").alias("lny"),
    )
    s = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("inv").alias("sinv"),
        F.sum("lny").alias("slny"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").alias("n_obs"),
        (nd / F.col("sinv").cast("double")).alias("harmonic_mean"),
        F.exp(F.col("slny").cast("double") / nd).alias("geometric_mean"),
    ).orderBy("event_type")


STREAM_HARMONIC_GEOMETRIC_SQL = """
WITH terms AS (
    SELECT event_type,
           CAST(1.0 / CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
                AS DECIMAL(38,18)) AS inv,
           CAST(ln(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE))
                AS DECIMAL(38,18)) AS lny
    FROM events
), s AS (
    SELECT event_type, count(*)::BIGINT AS n, sum(inv) AS sinv,
           sum(lny) AS slny
    FROM terms GROUP BY 1
)
SELECT event_type, n AS n_obs,
       CAST(n AS DOUBLE) / CAST(sinv AS DOUBLE) AS harmonic_mean,
       exp(CAST(slny AS DOUBLE) / CAST(n AS DOUBLE)) AS geometric_mean
FROM s ORDER BY event_type"""


# --- movingMedian + delay (SJ/io/eval/MovingMedianEvaluator,
# RecursiveEvaluator 'delay' lag) over the hourly click series ---------------

MED_WINDOW = 5


def stream_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    # windows partition on the series key (single-valued after the filter,
    # O(buckets) rows per series — the general multi-series shape)
    w = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-(MED_WINDOW - 1), 0)
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    arr = F.sort_array(F.collect_list("s").over(w))
    return hourly.select(
        "h",
        F.col("s").cast("double").alias("v"),
        # full windows only (the evaluator emits len - window + 1 points)
        F.when(
            F.size(arr) == MED_WINDOW,
            F.element_at(arr, MED_WINDOW // 2 + 1).cast("double"),
        ).alias("moving_median"),
        F.lag("s", 2).over(wo).cast("double").alias("delay2"),
    ).orderBy("h")


STREAM_MOVING_MEDIAN_SQL = f"""
WITH {_HOURLY_SQL},
c AS (SELECT h, s FROM hourly WHERE event_type = 'click')
SELECT h, CAST(s AS DOUBLE) AS v,
       CASE WHEN count(*) OVER w = {MED_WINDOW}
            THEN CAST(median(s) OVER w AS DOUBLE) END AS moving_median,
       CAST(lag(s, 2) OVER (ORDER BY h) AS DOUBLE) AS delay2
FROM c
WINDOW w AS (ORDER BY h ROWS BETWEEN {MED_WINDOW - 1} PRECEDING AND CURRENT ROW)
ORDER BY h"""


register("stream_percentile_eval", stream_percentile_eval, STREAM_PERCENTILE_SQL)
register("stream_scale_eval", stream_scale_eval, STREAM_SCALE_SQL)
register("stream_rank_eval", stream_rank_eval, STREAM_RANK_SQL)
register("stream_diff_eval", stream_diff_eval, STREAM_DIFF_SQL)
register("stream_ebe_ops", stream_ebe_ops, STREAM_EBE_SQL)
register("stream_dot_cosine", stream_dot_cosine, STREAM_DOT_COSINE_SQL)
register(
    "stream_harmonic_geometric", stream_harmonic_geometric,
    STREAM_HARMONIC_GEOMETRIC_SQL,
)
register("stream_moving_median", stream_moving_median, STREAM_MOVING_MEDIAN_SQL)


# =====================  tranche 3  ==========================================
# conv / finddelay / expMovingAvg / zscores / mode / polyfit — the series-
# analysis slice of SJ/io/eval. Same float discipline: exact decimal sums,
# data-independent double constants injected as IDENTICAL literals on both
# sides, closed forms evaluated with the same op order in Spark and DuckDB.


# --- mode (SJ/io/eval/ModeEvaluator): most frequent value; ties -> smallest --

def stream_mode_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", _y().alias("y"))
    counts = ev.groupBy("event_type", "y").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("y"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", F.col("y").cast("double").alias("mode_v"),
            F.col("c").cast("long").alias("mode_count"),
        )
        .orderBy("event_type")
    )


STREAM_MODE_SQL = """
WITH counts AS (
    SELECT event_type, CAST(value AS DECIMAL(18,2)) AS y, count(*)::BIGINT AS c
    FROM events GROUP BY 1, 2
), r AS (
    SELECT event_type, y, c,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c DESC, y ASC) AS rn
    FROM counts
)
SELECT event_type, CAST(y AS DOUBLE) AS mode_v, c AS mode_count
FROM r WHERE rn = 1 ORDER BY event_type"""


# --- zscores (SJ/io/eval/NormalizeEvaluator): (x - mean) / sample stddev ----

def stream_zscores_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").cast("long").alias("event_id"),
        _y().alias("y"),
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sm"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("sm").cast("double")
    stats = s.select(
        "event_type",
        (sd / nd).alias("mean_v"),
        F.sqrt((F.col("syy") - sd * sd / nd) / (nd - F.lit(1.0))).alias("sd_v"),
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_type", "event_id",
            F.col("y").cast("double").alias("v"),
            ((F.col("y").cast("double") - F.col("mean_v")) / F.col("sd_v"))
            .alias("zscore"),
        )
        .orderBy("event_type", "event_id")
    )


STREAM_ZSCORES_SQL = """
WITH s AS (
    SELECT event_type, count(*)::BIGINT AS n,
           sum(CAST(value AS DECIMAL(18,2))) AS sm,
           CAST(sum(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS syy
    FROM events GROUP BY 1
), stats AS (
    SELECT event_type,
           CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean_v,
           sqrt((syy - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                       / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0)) AS sd_v
    FROM s
), firsts AS (
    SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS y,
           row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
    FROM events
)
SELECT f.event_type, f.event_id, CAST(f.y AS DOUBLE) AS v,
       (CAST(f.y AS DOUBLE) - st.mean_v) / st.sd_v AS zscore
FROM firsts f JOIN stats st USING (event_type)
WHERE f.rn <= 4 ORDER BY event_type, event_id"""


# --- conv (SJ/io/eval/ConvolutionEvaluator): full convolution of the two
# aligned hourly series, c_k = sum_i a_i * b_(k-i), k = 0 .. 2n-2 ------------

def stream_conv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = _two_series(spark, sf_dir)
    a = ab.select(F.col("h").alias("i"), F.col("sa"))
    b = ab.select(F.col("h").alias("j"), F.col("sb"))
    # products are exact decimals; the per-k sum is exact -> order-free
    return (
        a.crossJoin(b)   # 24x24 bucket pairs — bounded, never row-scale
        .select((F.col("i") + F.col("j")).alias("k"),
                (F.col("sa") * F.col("sb")).alias("p"))
        .groupBy("k")
        .agg(F.sum("p").cast("double").alias("conv"))
        .orderBy("k")
    )


STREAM_CONV_SQL = f"""
WITH {_TWO_SERIES_SQL}
SELECT a.i + b.j AS k, CAST(sum(a.sa * b.sb) AS DOUBLE) AS conv
FROM (SELECT h AS i, sa FROM ab) a
CROSS JOIN (SELECT h AS j, sb FROM ab) b
GROUP BY 1 ORDER BY k"""


# --- finddelay (SJ/io/eval/FindDelayEvaluator): delay of b relative to a =
# argmax over lags of the raw cross-correlation sum_t a_t * b_(t-lag) --------

MAX_LAG = 6


def stream_finddelay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = _two_series(spark, sf_dir)
    a = ab.select(F.col("h").alias("t"), "sa")
    b = ab.select(F.col("h").alias("u"), "sb")
    lags = spark.range(-MAX_LAG, MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    xc = (
        a.crossJoin(lags)
        .join(b, F.col("u") == F.col("t") - F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("xcorr"))
    )
    return (
        xc.orderBy(F.desc("xcorr"), F.asc("lag")).limit(1)
        .select("lag", F.col("xcorr").cast("double").alias("xcorr"))
    )


STREAM_FINDDELAY_SQL = f"""
WITH {_TWO_SERIES_SQL},
lags AS (SELECT unnest(range(-{MAX_LAG}, {MAX_LAG + 1}))::INT AS lag),
xc AS (
    SELECT l.lag, sum(a.sa * b.sb) AS xcorr
    FROM (SELECT h AS t, sa FROM ab) a
    CROSS JOIN lags l
    JOIN (SELECT h AS u, sb FROM ab) b ON b.u = a.t - l.lag
    GROUP BY 1
)
SELECT lag, CAST(xcorr AS DOUBLE) AS xcorr
FROM xc ORDER BY xcorr DESC, lag ASC LIMIT 1"""


# --- expMovingAvg (SJ/io/eval/ExponentialMovingAverageEvaluator) ------------
# alpha = 2/(window+1); seed = simple average of the first `window` points
# (the moving-average-family convention; seed choice documented + pinned).
# Closed form per t >= w-1 (0-based hourly index):
#   ema_t = sum_{u=w..t} alpha*(1-alpha)^(t-u) * x_u + (1-alpha)^(t-w+1)*seed
# The (1-alpha)^k weights are DATA-INDEPENDENT: computed once in numpy and
# injected as identical float64 literals into both engines, so each term is
# the same IEEE product; terms quantize to DECIMAL(38,6) and sum exactly.
# Scale 6 (not 18): at term magnitude ~1e3, double->decimal conversion is
# exact-at-precision in BOTH engines at 6 fractional digits, while scale 18
# exceeds double's mantissa there and the engines' conversion paths round
# differently (~1e-13 divergence, observed); the 1e-6 term quantization IS
# this evaluator's pinned arithmetic, identical on both sides.

EMA_WINDOW = 5
_EMA_ALPHA = 2.0 / (EMA_WINDOW + 1)
_EMA_W = [(k, (1.0 - _EMA_ALPHA) ** k) for k in range(24)]


def _ema_weights_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(k, w) for k, w in _EMA_W], "k int, w double"
    )


def stream_exp_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    x = hourly.select(F.col("h"), F.col("s"))
    weights = F.broadcast(_ema_weights_df(spark))
    wseed = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seeded = x.select(
        "h", "s",
        (F.sum("s").over(wseed) / F.lit(float(EMA_WINDOW))).alias("sma_all"),
        F.row_number().over(Window.orderBy("h")).alias("rn"),
    )
    # seed = SMA of the first w points (rn == w); ema defined for rn >= w
    seed_row = seeded.filter(F.col("rn") == EMA_WINDOW).select(
        F.col("sma_all").alias("seed"), F.col("h").alias("h_seed")
    )
    # tail contribution: for t (rn>=w), sum over u in (w..t]:
    #   alpha * (1-alpha)^(t-u) * x_u   — u indexed by rn
    t_rows = seeded.filter(F.col("rn") >= EMA_WINDOW).select(
        F.col("h").alias("t_h"), F.col("rn").alias("t_rn")
    )
    u_rows = seeded.filter(F.col("rn") > EMA_WINDOW).select(
        F.col("rn").alias("u_rn"), F.col("s").alias("u_s")
    )
    tail = (
        t_rows.join(u_rows, F.col("u_rn") <= F.col("t_rn"))
        .join(weights, F.col("k") == F.col("t_rn") - F.col("u_rn"))
        .select(
            "t_h",
            (F.lit(_EMA_ALPHA) * F.col("w") * F.col("u_s").cast("double"))
            .cast("decimal(38,6)").alias("term"),
        )
        .groupBy("t_h")
        .agg(F.sum("term").alias("tail_sum"))
    )
    out = (
        t_rows.join(tail, "t_h", "left")
        .crossJoin(F.broadcast(seed_row))
        .join(weights, F.col("k") == F.col("t_rn") - F.lit(EMA_WINDOW))
        .select(
            F.col("t_h").alias("h"),
            (F.coalesce(F.col("tail_sum"), F.lit(0)).cast("double")
             + F.col("w") * F.col("seed").cast("double")).alias("ema"),
        )
    )
    return out.orderBy("h")


def _ema_weights_sql() -> str:
    # NOTE: DuckDB parses a bare 0.4444... literal as DECIMAL and re-rounds
    # 17-digit fractions (observed: 0.44444444444444453 -> 0.4444444444444446
    # even under CAST AS DOUBLE). EXPONENT-notation literals parse as DOUBLE
    # directly, so %.17e injects the bitwise-exact float64 the Spark side
    # multiplies with.
    rows = ", ".join(f"({k}, {w:.17e})" for k, w in _EMA_W)
    return f"(VALUES {rows}) AS wt(k, w)"


STREAM_EMA_SQL = f"""
WITH {_HOURLY_SQL},
c AS (
    SELECT h, s,
           sum(s) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) / {float(EMA_WINDOW)!r} AS sma_all,
           row_number() OVER (ORDER BY h) AS rn
    FROM hourly WHERE event_type = 'click'
),
seed AS (SELECT sma_all AS seed FROM c WHERE rn = {EMA_WINDOW}),
tail AS (
    SELECT t.h AS t_h,
           sum(CAST({_EMA_ALPHA:.17e} * CAST(wt.w AS DOUBLE) * CAST(u.s AS DOUBLE)
                    AS DECIMAL(38,6))) AS tail_sum
    FROM c t
    JOIN c u ON u.rn > {EMA_WINDOW} AND u.rn <= t.rn
    JOIN {_ema_weights_sql()} ON wt.k = t.rn - u.rn
    WHERE t.rn >= {EMA_WINDOW}
    GROUP BY 1
)
SELECT t.h,
       coalesce(CAST(tail.tail_sum AS DOUBLE), 0.0)
           + CAST(wt.w AS DOUBLE) * CAST(seed.seed AS DOUBLE) AS ema
FROM c t
LEFT JOIN tail ON tail.t_h = t.h
CROSS JOIN seed
JOIN {_ema_weights_sql()} ON wt.k = t.rn - {EMA_WINDOW}
WHERE t.rn >= {EMA_WINDOW}
ORDER BY t.h"""


# --- polyfit (SJ/io/eval/PolyFitEvaluator, degree 2): least-squares fit of
# the hourly sum series per event_type; normal equations solved by Cramer's
# rule with the IDENTICAL expression tree on both sides. x = hour (exact
# ints), y = exact decimal sums -> every input to the double arithmetic is
# exact, so the closed form is bit-deterministic. ----------------------------

def stream_polyfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir)
    x = F.col("h").cast("long")
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.sum(x * x * x).cast("double").alias("s3"),
        F.sum(x * x * x * x).cast("double").alias("s4"),
        F.sum(F.col("s")).cast("double").alias("sy"),
        F.sum(F.col("s") * x).cast("double").alias("sxy"),
        F.sum(F.col("s") * x * x).cast("double").alias("sxxy"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    sy, sxy, sxxy = F.col("sy"), F.col("sxy"), F.col("sxxy")
    det = (
        n * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    c0 = (
        sy * (s2 * s4 - s3 * s3)
        - s1 * (sxy * s4 - sxxy * s3)
        + s2 * (sxy * s3 - sxxy * s2)
    ) / det
    c1 = (
        n * (sxy * s4 - sxxy * s3)
        - sy * (s1 * s4 - s2 * s3)
        + s2 * (s1 * sxxy - s2 * sxy)
    ) / det
    c2 = (
        n * (s2 * sxxy - s3 * sxy)
        - s1 * (s1 * sxxy - s2 * sxy)
        + sy * (s1 * s3 - s2 * s2)
    ) / det
    return s.select(
        "event_type", c0.alias("c0"), c1.alias("c1"), c2.alias("c2"),
    ).orderBy("event_type")


STREAM_POLYFIT_SQL = f"""
WITH {_HOURLY_SQL},
agg AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(h::BIGINT) AS DOUBLE) AS s1,
           CAST(sum(h::BIGINT * h::BIGINT) AS DOUBLE) AS s2,
           CAST(sum(h::BIGINT * h::BIGINT * h::BIGINT) AS DOUBLE) AS s3,
           CAST(sum(h::BIGINT * h::BIGINT * h::BIGINT * h::BIGINT) AS DOUBLE) AS s4,
           CAST(sum(s) AS DOUBLE) AS sy,
           CAST(sum(s * h::BIGINT) AS DOUBLE) AS sxy,
           CAST(sum(s * h::BIGINT * h::BIGINT) AS DOUBLE) AS sxxy
    FROM hourly GROUP BY 1
)
SELECT event_type,
       (sy * (s2 * s4 - s3 * s3) - s1 * (sxy * s4 - sxxy * s3)
            + s2 * (sxy * s3 - sxxy * s2))
       / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * s3 - s2 * s2)) AS c0,
       (n * (sxy * s4 - sxxy * s3) - sy * (s1 * s4 - s2 * s3)
            + s2 * (s1 * sxxy - s2 * sxy))
       / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * s3 - s2 * s2)) AS c1,
       (n * (s2 * sxxy - s3 * sxy) - s1 * (s1 * sxxy - s2 * sxy)
            + sy * (s1 * s3 - s2 * s2))
       / (n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
            + s2 * (s1 * s3 - s2 * s2)) AS c2
FROM agg ORDER BY event_type"""


register("stream_mode_eval", stream_mode_eval, STREAM_MODE_SQL)
register("stream_zscores_eval", stream_zscores_eval, STREAM_ZSCORES_SQL)
register("stream_conv_eval", stream_conv_eval, STREAM_CONV_SQL)
register("stream_finddelay", stream_finddelay, STREAM_FINDDELAY_SQL)
register("stream_exp_moving_avg", stream_exp_moving_avg, STREAM_EMA_SQL)
register("stream_polyfit", stream_polyfit, STREAM_POLYFIT_SQL)


# =====================  tranche 4  ==========================================
# norm / l1norm / linfnorm / unitize + meanDifference / pairedTtest — the
# vector-norm and paired-sample slice of SJ/io/eval. Same discipline:
# exact decimal sufficient statistics, closed forms with the identical
# expression tree on both sides.


# --- norm (L2), l1norm, linfnorm (SJ/io/eval/NormEvaluator,
# L1NormEvaluator, LInfNormEvaluator) of the hourly click series -------------

def stream_norms_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    s = hourly.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.col("s") * F.col("s")).alias("ss"),     # exact decimal
        F.sum(F.abs(F.col("s"))).alias("sa"),
        F.max(F.abs(F.col("s"))).alias("mx"),
    )
    return s.select(
        "n_buckets",
        F.sqrt(F.col("ss").cast("double")).alias("l2_norm"),
        F.col("sa").cast("double").alias("l1_norm"),
        F.col("mx").cast("double").alias("linf_norm"),
    )


STREAM_NORMS_SQL = f"""
WITH {_HOURLY_SQL},
c AS (SELECT s FROM hourly WHERE event_type = 'click'),
a AS (
    SELECT count(*)::BIGINT AS n_buckets, sum(s * s) AS ss,
           sum(abs(s)) AS sa, max(abs(s)) AS mx
    FROM c
)
SELECT n_buckets, sqrt(CAST(ss AS DOUBLE)) AS l2_norm,
       CAST(sa AS DOUBLE) AS l1_norm, CAST(mx AS DOUBLE) AS linf_norm
FROM a"""


# --- unitize (SJ/io/eval/UnitEvaluator): series / L2 norm -------------------

def stream_unitize_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    nrm = hourly.agg(F.sum(F.col("s") * F.col("s")).alias("ss")).select(
        F.sqrt(F.col("ss").cast("double")).alias("l2")
    )
    return (
        hourly.crossJoin(F.broadcast(nrm))   # 1-row norm — broadcast scalar
        .select(
            "h",
            F.col("s").cast("double").alias("v"),
            (F.col("s").cast("double") / F.col("l2")).alias("unit"),
        )
        .orderBy("h")
    )


STREAM_UNITIZE_SQL = f"""
WITH {_HOURLY_SQL},
c AS (SELECT h, s FROM hourly WHERE event_type = 'click'),
nrm AS (SELECT sqrt(CAST(sum(s * s) AS DOUBLE)) AS l2 FROM c)
SELECT h, CAST(s AS DOUBLE) AS v, CAST(s AS DOUBLE) / nrm.l2 AS unit
FROM c CROSS JOIN nrm ORDER BY h"""


# --- meanDifference + pairedTtest (SJ/io/eval/MeanDifferenceEvaluator,
# PairedTTestEvaluator — commons-math TTest#pairedTTest): over the aligned
# click/view hourly pairs. d = sa - sb is EXACT decimal per bucket, so
# sum(d), sum(d^2) are exact; t = mean(d) / sqrt(var(d)/n) with the
# (n-1)-denominator sample variance, identical op order both sides. -------

def stream_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = _two_series(spark, sf_dir)
    d = F.col("sa") - F.col("sb")
    s = ab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d).alias("sd"),
        F.sum(d * d).alias("sdd"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("sd").cast("double")
    var = (F.col("sdd").cast("double") - sd * sd / nd) / (nd - F.lit(1.0))
    return s.select(
        "n",
        (sd / nd).alias("mean_difference"),
        ((sd / nd) / F.sqrt(var / nd)).alias("t_stat"),
    )


STREAM_PAIRED_TTEST_SQL = f"""
WITH {_TWO_SERIES_SQL},
s AS (
    SELECT count(*)::BIGINT AS n, sum(sa - sb) AS sd,
           sum((sa - sb) * (sa - sb)) AS sdd
    FROM ab
)
SELECT n,
       CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_difference,
       (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(((CAST(sdd AS DOUBLE)
                    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)) AS t_stat
FROM s"""


register("stream_norms_eval", stream_norms_eval, STREAM_NORMS_SQL)
register("stream_unitize_eval", stream_unitize_eval, STREAM_UNITIZE_SQL)
register("stream_paired_ttest", stream_paired_ttest, STREAM_PAIRED_TTEST_SQL)


# --- integrate (SJ/io/eval/IntegrateEvaluator — trapezoid rule over the
# series) + lerp (LerpEvaluator — linear interpolation at half-bucket
# points) over the hourly click series. Trapezoid terms (s_i + s_{i+1})/2
# and midpoint lerps are exact decimal arithmetic; sums stay exact. -------

def stream_integrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    w = Window.partitionBy("event_type").orderBy("h")
    seg = hourly.select(
        (F.lag("s", 1).over(w) + F.col("s")).alias("pair2"),  # exact decimal
    ).filter(F.col("pair2").isNotNull())
    s = seg.agg(F.count(F.lit(1)).cast("long").alias("n_segments"),
                F.sum("pair2").alias("sp"))
    return s.select(
        "n_segments",
        (F.col("sp").cast("double") / F.lit(2.0)).alias("integral"),
    )


STREAM_INTEGRATE_SQL = f"""
WITH {_HOURLY_SQL},
c AS (SELECT h, s FROM hourly WHERE event_type = 'click'),
seg AS (
    SELECT lag(s, 1) OVER (ORDER BY h) + s AS pair2 FROM c
)
SELECT count(*)::BIGINT AS n_segments,
       CAST(sum(pair2) AS DOUBLE) / 2.0 AS integral
FROM seg WHERE pair2 IS NOT NULL"""


def stream_lerp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir).filter(F.col("event_type") == "click")
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        hourly.select(
            "h",
            F.lag("s", 1).over(w).alias("prev"),
            F.col("s").alias("cur"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            (F.col("h").cast("double") - F.lit(0.5)).alias("x"),
            ((F.col("prev") + F.col("cur")).cast("double") / F.lit(2.0))
            .alias("lerp"),
        )
        .orderBy("x")
    )


STREAM_LERP_SQL = f"""
WITH {_HOURLY_SQL},
c AS (SELECT h, s FROM hourly WHERE event_type = 'click'),
p AS (
    SELECT h, lag(s, 1) OVER (ORDER BY h) AS prev, s AS cur FROM c
)
SELECT CAST(h AS DOUBLE) - 0.5 AS x,
       CAST(prev + cur AS DOUBLE) / 2.0 AS lerp
FROM p WHERE prev IS NOT NULL ORDER BY x"""


register("stream_integrate_eval", stream_integrate_eval, STREAM_INTEGRATE_SQL)
register("stream_lerp_eval", stream_lerp_eval, STREAM_LERP_SQL)
