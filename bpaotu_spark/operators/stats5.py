"""Round-8 time-series diagnostics II: multi-lag ACF, runs test,
seasonality strength.

* ``daily_acf_lags`` — autocorrelation of daily revenue at lags 1 /
  7 / 14 / 28 in one table (the correlogram row the single-lag
  ``daily_autocorrelation`` seeds): calendar self-join per lag,
  exact integer cross-products around the milli-floored mean, one
  float ratio per lag.
* ``orders_runs_test`` — Wald-Wolfowitz runs test of daily revenue
  above/below its exact lower median: randomness check the drift
  detectors assume; ties at the median dropped (the classical
  convention, engine-shared).
* ``seasonality_strength`` — Hyndman-style F_s = max(0, 1 −
  Var(residual)/Var(detrended)) from the weekly_decomposition
  components; both variances as exact integer n·Σx² − (Σx)² so the
  common scale cancels and only the final ratio is float.

Scale shape: everything runs on the calendar-bounded daily series
(≤ ~2.4k rows at any SF) after one map-combined fact aggregation;
the bounded windows carry the repo's row-bound comments.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

_DAILY_CTE = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
""".strip()

_ACF_LAGS = (1, 7, 14, 28)


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )


@register(
    "daily_acf_lags",
    oracle=f"""
WITH {_DAILY_CTE},
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS HUGEINT) * 1000 // count(*) AS mean_milli
  FROM daily
),
dev AS (
  SELECT d, cents * 1000 - mean_milli AS dev_milli FROM daily CROSS JOIN m
),
ss AS (
  SELECT CAST(sum(CAST(dev_milli AS HUGEINT) * dev_milli) AS HUGEINT)
    AS ss0
  FROM dev
),
lags AS (SELECT unnest([{", ".join(str(x) for x in _ACF_LAGS)}]) AS lag),
x AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CAST(a.dev_milli AS HUGEINT) * b.dev_milli) AS HUGEINT)
      AS cross_sum
  FROM lags, dev a
  JOIN dev b ON b.d = a.d + to_days(CAST(lag AS INTEGER))
  GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
  CAST(floor(CAST(cross_sum AS DOUBLE) / CAST(ss0 AS DOUBLE) * 1000)
    AS BIGINT) AS acf_milli
FROM x CROSS JOIN ss ORDER BY lag
""",
)
def daily_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue correlogram at lags 1/7/14/28 (milli)."""
    daily = _daily(spark, sf_dir)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(cents) AS DECIMAL(38,0)) * 1000 div count(*)"
        ).alias("mean_milli"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "d", F.expr("cents * 1000 - mean_milli").alias("dev_milli")
    )
    ss = dev.agg(
        F.sum(
            F.expr("CAST(dev_milli AS DECIMAL(38,0)) * dev_milli")
        ).alias("ss0")
    )
    lags = local_frame(spark, [(x,) for x in _ACF_LAGS], "lag bigint")
    a = dev.select("d", F.col("dev_milli").alias("da"))
    b = dev.select(
        F.col("d").alias("d_b"), F.col("dev_milli").alias("db")
    )
    x = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("d_target", F.expr("date_add(d, CAST(lag AS INT))"))
        .join(b, F.col("d_b") == F.col("d_target"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.expr("CAST(da AS DECIMAL(38,0)) * db")).alias(
                "cross_sum"
            ),
        )
    )
    return (
        x.crossJoin(F.broadcast(ss))
        .select(
            "lag",
            "n_pairs",
            F.expr(
                "CAST(floor(CAST(cross_sum AS DOUBLE)"
                " / CAST(ss0 AS DOUBLE) * 1000) AS BIGINT)"
            ).alias("acf_milli"),
        )
        .orderBy("lag")
    )


@register(
    "orders_runs_test",
    oracle=f"""
WITH {_DAILY_CTE},
r AS (
  SELECT d, cents,
    row_number() OVER (ORDER BY cents ASC, d ASC) AS rn,
    count(*) OVER () AS n
  FROM daily
),
med AS (SELECT cents AS med FROM r WHERE rn = (n + 1) // 2),
s AS (
  SELECT d, CASE WHEN cents > med THEN 1 ELSE 0 END AS above
  FROM daily CROSS JOIN med WHERE cents != med
),
runs AS (
  SELECT CAST(1 + sum(CASE WHEN above != prev THEN 1 ELSE 0 END)
    AS BIGINT) AS n_runs
  FROM (SELECT above, lag(above) OVER (ORDER BY d ASC) AS prev FROM s)
  WHERE prev IS NOT NULL
),
cnt AS (
  SELECT CAST(sum(above) AS BIGINT) AS n1,
    CAST(count(*) - sum(above) AS BIGINT) AS n2
  FROM s
)
SELECT n_runs, n1, n2,
  CAST(floor((CAST(n_runs AS DOUBLE)
      - (2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2) + 1.0))
    / sqrt(2.0 * n1 * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
      / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)
         * (CAST(n1 AS DOUBLE) + n2 - 1.0))) * 1000) AS BIGINT)
    AS z_milli
FROM runs CROSS JOIN cnt
""",
)
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of daily revenue about its median."""
    daily = _daily(spark, sf_dir)
    # unpartitioned window bound: calendar-bounded daily series
    wr = Window.orderBy(F.col("cents").asc(), F.col("d").asc())
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        daily.select(
            "cents",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("cents").alias("med"))
    )
    s = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("med"))
        .select(
            "d",
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias(
                "above"
            ),
        )
    )
    wd = Window.orderBy("d")
    runs = (
        s.select("above", F.lag("above").over(wd).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .agg(
            (
                1
                + F.sum(
                    F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_runs")
        )
    )
    cnt = s.agg(
        F.sum("above").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("above")).cast("bigint").alias("n2"),
    )
    return runs.crossJoin(F.broadcast(cnt)).select(
        "n_runs",
        "n1",
        "n2",
        F.expr(
            "CAST(floor((CAST(n_runs AS DOUBLE)"
            "    - (2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2) + 1.0))"
            "  / sqrt(2.0 * n1 * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2"
            "    - n1 - n2)"
            "    / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)"
            "       * (CAST(n1 AS DOUBLE) + n2 - 1.0))) * 1000) AS BIGINT)"
        ).alias("z_milli"),
    )


@register(
    "seasonality_strength",
    oracle=f"""
WITH {_DAILY_CTE},
trend AS (
  SELECT d, cents,
    CAST(sum(cents) OVER w AS BIGINT) AS win_sum,
    CAST(count(*) OVER w AS BIGINT) AS win_n
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
  SELECT d, cents - win_sum // win_n AS dt
  FROM trend WHERE win_n = 7
),
dow AS (
  SELECT CAST(isodow(d) AS BIGINT) AS wd,
    CAST(sum(dt) AS BIGINT) // CAST(count(*) AS BIGINT) AS seas
  FROM detr GROUP BY 1
),
x AS (
  SELECT dt, dt - seas AS resid
  FROM detr JOIN dow ON CAST(isodow(d) AS BIGINT) = wd
),
v AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(CAST(dt AS HUGEINT) * dt) AS HUGEINT) AS s2_d,
    CAST(sum(dt) AS HUGEINT) AS s1_d,
    CAST(sum(CAST(resid AS HUGEINT) * resid) AS HUGEINT) AS s2_r,
    CAST(sum(resid) AS HUGEINT) AS s1_r
  FROM x
)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(floor(greatest(0.0, 1.0
    - CAST(n * s2_r - s1_r * s1_r AS DOUBLE)
      / CAST(n * s2_d - s1_d * s1_d AS DOUBLE)) * 1000) AS BIGINT)
    AS f_seasonal_milli
FROM v
""",
)
def seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman F_s = max(0, 1 − Var(resid)/Var(detrended)) from the
    weekly decomposition (variances as exact n·Σx² − (Σx)²)."""
    daily = _daily(spark, sf_dir)
    # the trend window runs over the DAILY series — calendar-bounded
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("win_n"),
    )
    detr = trend.filter(F.col("win_n") == 7).select(
        "d", (F.col("cents") - F.expr("win_sum div win_n")).alias("dt")
    )
    wd_col = F.expr(
        "CAST(CASE WHEN dayofweek(d) = 1 THEN 7"
        " ELSE dayofweek(d) - 1 END AS BIGINT)"
    )
    dow = detr.groupBy(wd_col.alias("wd")).agg(
        F.expr("sum(dt) div count(*)").alias("seas")
    )
    x = detr.select(wd_col.alias("wd"), "dt").join(
        F.broadcast(dow), "wd"
    ).select("dt", F.expr("dt - seas").alias("resid"))
    v = x.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("CAST(dt AS DECIMAL(38,0)) * dt")).alias("s2_d"),
        F.sum("dt").cast("decimal(38,0)").alias("s1_d"),
        F.sum(F.expr("CAST(resid AS DECIMAL(38,0)) * resid")).alias(
            "s2_r"
        ),
        F.sum("resid").cast("decimal(38,0)").alias("s1_r"),
    )
    return v.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(floor(greatest(0.0, 1.0"
            " - CAST(n * s2_r - s1_r * s1_r AS DOUBLE)"
            "   / CAST(n * s2_d - s1_d * s1_d AS DOUBLE)) * 1000)"
            " AS BIGINT)"
        ).alias("f_seasonal_milli"),
    )


# ---------------------------------------------------------------------------
# Round-8 batch 3: exact multi-quantiles + forecast-baseline accuracy.
# ---------------------------------------------------------------------------

_Q_LEVELS = (10, 25, 50, 75, 90)


@register(
    "quantiles_exact_by_segment",
    oracle=f"""
WITH j AS (
  SELECT c_mktsegment AS seg,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
r AS (
  SELECT seg, cents,
    row_number() OVER (PARTITION BY seg ORDER BY cents ASC) AS rn,
    count(*) OVER (PARTITION BY seg) AS n
  FROM j
),
qs AS (SELECT unnest([{", ".join(str(q) for q in _Q_LEVELS)}]) AS q)
SELECT seg, CAST(q AS BIGINT) AS q, max(n) AS n_orders,
  CAST(max(cents) AS BIGINT) AS value_cents
FROM r JOIN qs ON rn = (n * q) // 100 + 1
GROUP BY seg, q
ORDER BY seg, q
""",
)
def quantiles_exact_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact lower empirical quantiles (P10/25/50/75/90) of order
    value per market segment via rank selection — no sketch, no
    interpolation convention to diverge on; the rank window sorts
    within each segment only (parallel across groups)."""
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    from bpaotu_spark.catalog import maybe_broadcast

    j = od.join(
        maybe_broadcast(cust), od.o_custkey == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    wr = Window.partitionBy("seg").orderBy("cents")
    wn = Window.partitionBy("seg")
    r = j.select(
        "seg",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = local_frame(spark, [(q,) for q in _Q_LEVELS], "q bigint")
    return (
        r.join(F.broadcast(qs), F.expr("rn = (n * q) div 100 + 1"))
        .groupBy("seg", "q")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.max("cents").cast("bigint").alias("value_cents"),
        )
        .orderBy("seg", "q")
    )


@register(
    "seasonal_naive_mase",
    oracle=f"""
WITH {_DAILY_CTE},
lagd AS (
  SELECT d, cents,
    lag(cents, 7) OVER (ORDER BY d ASC) AS l7,
    lag(cents, 1) OVER (ORDER BY d ASC) AS l1
  FROM daily
),
e AS (
  SELECT
    CAST(count(l7) AS BIGINT) AS n7,
    CAST(sum(abs(cents - l7)) AS HUGEINT) AS e7,
    CAST(count(l1) AS BIGINT) AS n1,
    CAST(sum(abs(cents - l1)) AS HUGEINT) AS e1
  FROM lagd
)
SELECT n7, n1,
  CAST(e7 AS BIGINT) AS sum_abs_err_seasonal,
  CAST(e1 AS BIGINT) AS sum_abs_err_naive,
  CAST(floor((CAST(e7 AS DOUBLE) / n7) / (CAST(e1 AS DOUBLE) / n1)
    * 1000) AS BIGINT) AS mase_milli
FROM e
""",
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive (lag-7) forecast against the naive
    (lag-1) scale on daily revenue — the baseline every forecast
    model must beat; < 1000 milli means weekly seasonality carries
    real signal."""
    daily = _daily(spark, sf_dir)
    # unpartitioned window bound: calendar-bounded daily series
    w = Window.orderBy("d")
    lagd = daily.select(
        "cents",
        F.lag("cents", 7).over(w).alias("l7"),
        F.lag("cents", 1).over(w).alias("l1"),
    )
    e = lagd.agg(
        F.count("l7").cast("bigint").alias("n7"),
        F.sum(F.abs(F.col("cents") - F.col("l7")))
        .cast("decimal(38,0)")
        .alias("e7"),
        F.count("l1").cast("bigint").alias("n1"),
        F.sum(F.abs(F.col("cents") - F.col("l1")))
        .cast("decimal(38,0)")
        .alias("e1"),
    )
    return e.select(
        "n7",
        "n1",
        F.col("e7").cast("bigint").alias("sum_abs_err_seasonal"),
        F.col("e1").cast("bigint").alias("sum_abs_err_naive"),
        F.expr(
            "CAST(floor((CAST(e7 AS DOUBLE) / n7)"
            " / (CAST(e1 AS DOUBLE) / n1) * 1000) AS BIGINT)"
        ).alias("mase_milli"),
    )
