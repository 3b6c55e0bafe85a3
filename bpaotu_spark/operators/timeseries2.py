"""Time-series decomposition, elasticity regression, Markov reachability.

* ``weekly_decomposition`` — STL-lite decomposition of the daily
  revenue series: trend = centered 7-day moving average (exact
  integer cents avg), seasonal = per-day-of-week mean of the
  detrended series, plus residual dispersion — the
  seasonality-vs-noise split behind every ops dashboard.
* ``log_log_elasticity`` — OLS slope of ln(quantity) on ln(unit
  price) per part type (the log-log demand-elasticity regression).
  Both logs floored to micro-nats per row; the five OLS moments are
  then exact BIGINT sums and the slope one floored milli quotient.
* ``markov_absorption_3step`` — probability of reaching the target
  event type within 3 transitions from each start state: the
  transition matrix (bounded |event_type|² cells) unrolled three
  steps as joins, fixed-point ppm at every step (ppm products
  renormalized by integer division — engine-exact).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.registry import register

# ---------------------------------------------------------------------------
# weekly_decomposition
# ---------------------------------------------------------------------------


@register(
    "weekly_decomposition",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
trend AS (
  SELECT d, cents,
    CAST(sum(cents) OVER w AS BIGINT) AS win_sum,
    CAST(count(*) OVER w AS BIGINT) AS win_n
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
  SELECT d, cents,
    cents - win_sum // win_n AS detrended
  FROM trend WHERE win_n = 7
),
dow AS (
  SELECT CAST(isodow(d) AS BIGINT) AS day_of_week,
    CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(detrended) AS BIGINT) // CAST(count(*) AS BIGINT)
      AS seasonal_cents,
    CAST(min(detrended) AS BIGINT) AS min_detrended,
    CAST(max(detrended) AS BIGINT) AS max_detrended
  FROM detr GROUP BY 1
)
SELECT day_of_week, n_days, seasonal_cents, min_detrended, max_detrended
FROM dow
""",
)
def weekly_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    # the trend window runs over the DAILY series — calendar-bounded
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("win_n"),
    )
    detr = trend.filter(F.col("win_n") == 7).select(
        "d",
        "cents",
        (F.col("cents") - F.expr("win_sum div win_n")).alias("detrended"),
    )
    return detr.groupBy(
        F.expr("CAST(CASE WHEN dayofweek(d) = 1 THEN 7"
               " ELSE dayofweek(d) - 1 END AS BIGINT)").alias("day_of_week")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("sum(detrended) div count(*)").alias("seasonal_cents"),
        F.min("detrended").cast("bigint").alias("min_detrended"),
        F.max("detrended").cast("bigint").alias("max_detrended"),
    )


# ---------------------------------------------------------------------------
# log_log_elasticity
# ---------------------------------------------------------------------------


@register(
    "log_log_elasticity",
    oracle="""
WITH x AS (
  SELECT p_type,
    CAST(floor(ln(l_quantity) * 1000000) AS BIGINT) AS ln_q,
    CAST(floor(ln(l_extendedprice / l_quantity) * 1000000) AS BIGINT)
      AS ln_p
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0
)
SELECT p_type,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(floor(
    (count(*) * CAST(sum(CAST(ln_p AS HUGEINT) * ln_q) AS DOUBLE)
      - CAST(sum(ln_p) AS DOUBLE) * CAST(sum(ln_q) AS DOUBLE)) * 1000
    / (count(*) * CAST(sum(CAST(ln_p AS HUGEINT) * ln_p) AS DOUBLE)
       - CAST(sum(ln_p) AS DOUBLE) * CAST(sum(ln_p) AS DOUBLE))
  ) AS BIGINT) AS elasticity_milli
FROM x GROUP BY p_type
""",
)
def log_log_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    x = li.join(maybe_broadcast(part), "l_partkey").select(
        "p_type",
        F.floor(F.log("l_quantity") * 1000000).cast("bigint").alias("ln_q"),
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity")) * 1000000
        )
        .cast("bigint")
        .alias("ln_p"),
    )
    return x.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(
            "CAST(floor("
            " (count(*) * CAST(sum(CAST(ln_p AS DECIMAL(38,0)) * ln_q) AS DOUBLE)"
            "   - CAST(sum(ln_p) AS DOUBLE) * CAST(sum(ln_q) AS DOUBLE)) * 1000"
            " / (count(*) * CAST(sum(CAST(ln_p AS DECIMAL(38,0)) * ln_p) AS DOUBLE)"
            "    - CAST(sum(ln_p) AS DOUBLE) * CAST(sum(ln_p) AS DOUBLE))"
            ") AS BIGINT)"
        ).alias("elasticity_milli"),
    )


# ---------------------------------------------------------------------------
# markov_absorption_3step
# ---------------------------------------------------------------------------

_ABSORB_TARGET = "purchase"


@register(
    "markov_absorption_3step",
    oracle=f"""
WITH s AS (
  SELECT event_type,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY 1),
p AS (
  SELECT c.prev_type, next_type, (n * 1000000) // n_out AS p_ppm
  FROM c JOIN rt ON c.prev_type = rt.prev_type
),
-- h1: reach target in exactly one step
h1 AS (
  SELECT prev_type AS state, p_ppm AS h_ppm FROM p
  WHERE next_type = '{_ABSORB_TARGET}'
),
-- h2: miss at step1 (go to a non-target state) then hit within 1
h2 AS (
  SELECT p.prev_type AS state,
    coalesce(h1a.h_ppm, 0)
    -- coalesce the filtered sum: a state whose transitions ALL go to
    -- the target has no non-target rows -> sum FILTER returns NULL,
    -- while the Spark CASE-sum returns 0 (latent hash mismatch)
    + CAST(coalesce(sum(CAST(p.p_ppm AS HUGEINT) * coalesce(h1b.h_ppm, 0))
        FILTER (WHERE p.next_type <> '{_ABSORB_TARGET}'), 0) // 1000000
        AS BIGINT) AS h_ppm
  FROM p
  LEFT JOIN h1 h1a ON h1a.state = p.prev_type
  LEFT JOIN h1 h1b ON h1b.state = p.next_type
  GROUP BY p.prev_type, h1a.h_ppm
),
h3 AS (
  SELECT p.prev_type AS state,
    coalesce(h1a.h_ppm, 0)
    + CAST(coalesce(sum(CAST(p.p_ppm AS HUGEINT) * coalesce(h2b.h_ppm, 0))
        FILTER (WHERE p.next_type <> '{_ABSORB_TARGET}'), 0) // 1000000
        AS BIGINT) AS h_ppm
  FROM p
  LEFT JOIN h1 h1a ON h1a.state = p.prev_type
  LEFT JOIN h2 h2b ON h2b.state = p.next_type
  GROUP BY p.prev_type, h1a.h_ppm
)
SELECT h3.state,
  coalesce(h1.h_ppm, 0) AS reach_1step_ppm,
  h2.h_ppm AS reach_2step_ppm,
  h3.h_ppm AS reach_3step_ppm
FROM h3
LEFT JOIN h2 ON h2.state = h3.state
LEFT JOIN h1 ON h1.state = h3.state
""",
)
def markov_absorption_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rt = c.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    p = (
        c.join(F.broadcast(rt), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.expr("(n * 1000000) div n_out").alias("p_ppm"),
        )
        # the transition matrix is |event_type|² cells — materialize
        # once for the three unrolled steps
        .localCheckpoint()
    )
    h1 = p.filter(F.col("next_type") == _ABSORB_TARGET).select(
        F.col("prev_type").alias("state"), F.col("p_ppm").alias("h_ppm")
    )

    def step(h_prev: DataFrame) -> DataFrame:
        hb = h_prev.select(
            F.col("state").alias("next_type"),
            F.col("h_ppm").alias("hb_ppm"),
        )
        return (
            p.join(F.broadcast(hb), "next_type", "left")
            .join(
                F.broadcast(
                    h1.select(
                        F.col("state").alias("prev_type"),
                        F.col("h_ppm").alias("h1_ppm"),
                    )
                ),
                "prev_type",
                "left",
            )
            .groupBy("prev_type", "h1_ppm")
            .agg(
                F.expr(
                    "CAST(sum(CASE WHEN next_type <> '"
                    + _ABSORB_TARGET
                    + "' THEN CAST(p_ppm AS DECIMAL(38,0))"
                    " * coalesce(hb_ppm, 0) ELSE 0 END)"
                    " DIV 1000000 AS BIGINT)"
                ).alias("tail_ppm")
            )
            .select(
                F.col("prev_type").alias("state"),
                (F.coalesce("h1_ppm", F.lit(0)) + F.col("tail_ppm")).alias(
                    "h_ppm"
                ),
            )
        )

    h2 = step(h1)
    h3 = step(h2)
    return (
        h3.select("state", F.col("h_ppm").alias("reach_3step_ppm"))
        .join(
            h2.select(
                "state", F.col("h_ppm").alias("reach_2step_ppm")
            ),
            "state",
            "left",
        )
        .join(
            h1.select(
                "state", F.col("h_ppm").alias("reach_1step_ppm_raw")
            ),
            "state",
            "left",
        )
        .select(
            "state",
            F.coalesce("reach_1step_ppm_raw", F.lit(0)).alias(
                "reach_1step_ppm"
            ),
            "reach_2step_ppm",
            "reach_3step_ppm",
        )
    )


# ---------------------------------------------------------------------------
# markov_next_event_accuracy — model-eval companion to
# markov_entropy_rate / markov_absorption_3step: TRAIN a next-event
# predictor (per previous type, the argmax transition target) on the
# even-user half of the event log, TEST it on the odd-user half, and
# report per-state accuracy. The user-level split keeps every test
# sequence intact (an event-level split would sever the very
# transitions being predicted) and is the deterministic analogue of a
# temporal holdout. This is the "is the chain actually predictive"
# gate before anyone ships markov-based prefetching/session models.
#
# Scale shape: two lag-window passes over the user-partitioned event
# order (same exchange as sessionize_events), a |states|² training
# aggregate, argmax via max-of-struct (no sort), and a broadcast
# |states|-row model joined into the test transitions.
# ---------------------------------------------------------------------------


@register(
    "markov_next_event_accuracy",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
), pairs AS (
  SELECT user_id, event_type AS prev_type, next_type
  FROM seq WHERE next_type IS NOT NULL
), train AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE user_id % 2 = 0 GROUP BY prev_type, next_type
), model AS (
  SELECT prev_type, next_type AS predicted
  FROM train
  QUALIFY row_number() OVER (PARTITION BY prev_type
    ORDER BY c DESC, next_type ASC) = 1
), test AS (
  SELECT prev_type, next_type FROM pairs WHERE user_id % 2 = 1
)
SELECT t.prev_type, m.predicted,
  CAST(count(*) AS BIGINT) AS n_test,
  CAST(count(CASE WHEN t.next_type = m.predicted THEN 1 END) AS BIGINT)
    AS n_correct,
  CAST(count(CASE WHEN t.next_type = m.predicted THEN 1 END) AS BIGINT)
    * 1000000 // CAST(count(*) AS BIGINT) AS accuracy_ppm
FROM test t JOIN model m ON t.prev_type = m.prev_type
GROUP BY t.prev_type, m.predicted
""",
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    pairs = pairs.localCheckpoint()  # feeds train AND test halves
    train = (
        pairs.filter(F.col("user_id") % 2 == 0)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wm = Window.partitionBy("prev_type").orderBy(
        F.col("c").desc(), F.col("next_type").asc()
    )
    model = (
        train.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = pairs.filter(F.col("user_id") % 2 == 1).select(
        "prev_type", "next_type"
    )
    correct = F.count(
        F.when(F.col("next_type") == F.col("predicted"), F.lit(1))
    )
    return (
        test.join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            correct.cast("bigint").alias("n_correct"),
            F.expr(
                "CAST(count(CASE WHEN next_type = predicted THEN 1 END)"
                " AS BIGINT) * 1000000 div count(*)"
            ).alias("accuracy_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# markov_calibration_reliability — the calibration companion to
# markov_next_event_accuracy (same even/odd user split): bucket test
# transitions by the model's CONFIDENCE (the argmax transition share
# in ppm, learned on train) and compare confidence against observed
# accuracy per bucket — the reliability-diagram / expected-calibration
# -error view. A predictor can be accurate yet miscalibrated; this op
# reports the gap the accuracy number hides.
#
# Scale shape: identical exchanges to the accuracy op (user-keyed lag
# window, |states|² train aggregate, broadcast model); the reliability
# rollup groups ≤10 confidence deciles.
# ---------------------------------------------------------------------------


@register(
    "markov_calibration_reliability",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
), pairs AS (
  SELECT user_id, event_type AS prev_type, next_type
  FROM seq WHERE next_type IS NOT NULL
), train AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE user_id % 2 = 0 GROUP BY prev_type, next_type
), totals AS (
  SELECT prev_type, CAST(sum(c) AS BIGINT) AS c_tot
  FROM train GROUP BY prev_type
), model AS (
  SELECT t.prev_type, t.next_type AS predicted,
    t.c * 1000000 // tt.c_tot AS conf_ppm
  FROM train t JOIN totals tt ON t.prev_type = tt.prev_type
  QUALIFY row_number() OVER (PARTITION BY t.prev_type
    ORDER BY t.c DESC, t.next_type ASC) = 1
), test AS (
  SELECT prev_type, next_type FROM pairs WHERE user_id % 2 = 1
), scored AS (
  SELECT m.conf_ppm // 100000 AS conf_decile, m.conf_ppm,
    CASE WHEN t.next_type = m.predicted THEN 1 ELSE 0 END AS hit
  FROM test t JOIN model m ON t.prev_type = m.prev_type
)
SELECT conf_decile,
  CAST(count(*) AS BIGINT) AS n_test,
  CAST(sum(conf_ppm) AS BIGINT) // count(*) AS mean_conf_ppm,
  CAST(sum(hit) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
    AS observed_acc_ppm,
  CAST(sum(conf_ppm) AS BIGINT) // count(*)
    - CAST(sum(hit) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
    AS calibration_gap_ppm
FROM scored GROUP BY conf_decile
""",
)
def markov_calibration_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .localCheckpoint()
    )
    train = (
        pairs.filter(F.col("user_id") % 2 == 0)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = train.groupBy("prev_type").agg(F.sum("c").alias("c_tot"))
    wm = Window.partitionBy("prev_type").orderBy(
        F.col("c").desc(), F.col("next_type").asc()
    )
    model = (
        train.join(F.broadcast(totals), "prev_type")
        .withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select(
            "prev_type",
            F.col("next_type").alias("predicted"),
            F.expr("c * 1000000 div c_tot").alias("conf_ppm"),
        )
    )
    test = pairs.filter(F.col("user_id") % 2 == 1).select(
        "prev_type", "next_type"
    )
    scored = test.join(F.broadcast(model), "prev_type").select(
        F.expr("conf_ppm div 100000").alias("conf_decile"),
        "conf_ppm",
        F.when(F.col("next_type") == F.col("predicted"), 1)
        .otherwise(0)
        .alias("hit"),
    )
    return scored.groupBy("conf_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.expr("sum(conf_ppm) div count(*)").alias("mean_conf_ppm"),
        F.expr(
            "CAST(sum(hit) AS BIGINT) * 1000000 div count(*)"
        ).alias("observed_acc_ppm"),
        F.expr(
            "sum(conf_ppm) div count(*)"
            " - CAST(sum(hit) AS BIGINT) * 1000000 div count(*)"
        ).alias("calibration_gap_ppm"),
    )


# ---------------------------------------------------------------------------
# theil_sen_revenue_trend — robust trend over the daily revenue
# series: the Theil-Sen estimator (median of all pairwise slopes — up
# to 29 % outlier breakdown where OLS has 0 %) plus the Mann-Kendall
# monotone-trend test (S = #concordant − #discordant pairs, exact
# integer; tie-corrected normal z). The pair former is the DAY-GRAIN
# self-pair (calendar-bounded: |days|² pairs regardless of fact size —
# ~2.9M at a 6.6-year span), an allowlisted bounded non-equi join; the
# median is a fixed-rank (lower-median) pick over the deterministic
# (slope, day_i, day_j) total order, engine-identical because every
# slope is one float division of exact integers.
# ---------------------------------------------------------------------------


def _lower_median_slope(prc: DataFrame, k: int) -> float:
    """The k-th smallest ``slope`` of the checkpointed pair frame
    ``prc`` (k >= 1), by the sketch-bracket selection described in
    ``theil_sen_revenue_trend``."""
    lo, hi = prc.agg(
        F.percentile_approx(
            "slope", F.array(F.lit(0.498), F.lit(0.502)), F.lit(20000)
        )
    ).collect()[0][0]
    n_lt_lo, n_le_hi = prc.agg(
        F.sum(
            F.when(F.col("slope") < F.lit(lo), 1).otherwise(0)
        ).cast("bigint"),
        F.sum(
            F.when(F.col("slope") <= F.lit(hi), 1).otherwise(0)
        ).cast("bigint"),
    ).collect()[0]
    n_lt_lo, n_le_hi = int(n_lt_lo), int(n_le_hi)
    if n_lt_lo < k <= n_le_hi:
        band = [
            r[0]
            for r in prc.filter(
                (F.col("slope") >= lo) & (F.col("slope") <= hi)
            )
            .select("slope")
            .collect()
        ]
        band.sort()
        return band[k - n_lt_lo - 1]
    # sketch bracket missed (not observed; exact-count guarded)
    allv = [r[0] for r in prc.select("slope").collect()]
    allv.sort()
    return allv[k - 1]


@register(
    "theil_sen_revenue_trend",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
pr AS (
  SELECT a.d AS d_i, b.d AS d_j,
    CAST(b.c - a.c AS DOUBLE) / date_diff('day', a.d, b.d) AS slope,
    CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT slope,
    row_number() OVER (ORDER BY slope ASC, d_i ASC, d_j ASC) AS rn,
    count(*) OVER () AS p
  FROM pr
),
ties AS (
  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0)
    AS HUGEINT) AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY c)
  WHERE t > 1
),
st AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
    (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pairs,
    (SELECT CAST(sum(sgn) AS BIGINT) FROM pr) AS mk_s,
    (SELECT CAST(round(slope, 4) AS DOUBLE) FROM ranked
      WHERE rn = (p + 1) // 2) AS sen_slope,
    (SELECT tie_term FROM ties) AS tie_term
)
SELECT n_days, n_pairs, sen_slope, mk_s,
  CAST(floor(
    CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE)
         WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE)
         ELSE 0.0 END
    / sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
            - CAST(tie_term AS DOUBLE)) / 18.0) * 1000) AS BIGINT)
    AS mk_z_milli
FROM st
""",
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope (cents/day, 4dp) + Mann-Kendall S and z."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    # 32-way repartition of the stream side keeps the |days|² nested
    # loop fanned out (AQE would otherwise coalesce the tiny day-grain
    # aggregate to one partition and serialize ~3M predicate evals)
    a = daily.repartition(32, "d").select(
        F.col("d").alias("d_i"), F.col("c").alias("c_i")
    )
    b = daily.select(F.col("d").alias("d_j"), F.col("c").alias("c_j"))
    # bounded day-grain self-pair: |days|² regardless of fact size
    pr = a.join(F.broadcast(b), F.col("d_i") < F.col("d_j")).select(
        "d_i",
        "d_j",
        (
            (F.col("c_j") - F.col("c_i")).cast("double")
            / F.datediff("d_j", "d_i")
        ).alias("slope"),
        F.when(F.col("c_j") > F.col("c_i"), 1)
        .when(F.col("c_j") < F.col("c_i"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    # Exact lower-median by 3-pass rank selection (r16 — replaces the
    # r7 range-partitioned global sort, whose RangePartitioner sample
    # job + 90 MB range exchange of the |days|² pair frame was 1.8 s
    # of the query's 3.2 s at sf0.1). The output needs only the
    # median slope VALUE: rank k in (slope, d_i, d_j) order has the
    # same slope as rank k in slope-only order (stable within equal
    # slopes), so selection over slopes alone is value-identical.
    #   pass 0: checkpoint the pair frame once (hash layout, no
    #           sampling job, no range exchange);
    #   pass 1: a sketch bracket [lo, hi] around the median
    #           (percentile_approx rank error ≤ p/accuracy);
    #   pass 2: exact count below lo + exact band verification;
    #   band:   the ≤ ~p·0.002 bracketed slopes come to the driver
    #           and the exact k-th smallest is picked by ORDER alone
    #           (no float arithmetic); rounding stays in Spark.
    # The guard falls back to a full driver-side selection over all
    # slopes if the sketch bracket ever misses (cannot silently
    # diverge — counts are exact).
    prc = pr.select("slope", "sgn").localCheckpoint()
    tot_row = prc.agg(
        F.count(F.lit(1)).cast("bigint").alias("p"),
        F.sum("sgn").cast("bigint").alias("mk_s"),
    ).collect()[0]
    p = int(tot_row[0])
    # Fewer than two order days: the pair frame is empty, so S and the
    # median slope are NULL (the oracle's sum and rank pick over no
    # pairs) and the sketch pass has nothing to bracket.
    mk_s_val = int(tot_row[1]) if p else None
    sen_val = _lower_median_slope(prc, (p + 1) // 2) if p else None
    sen = spark.range(1).select(
        F.round(F.lit(sen_val).cast("double"), 4).alias("sen_slope")
    )
    ties = (
        daily.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tie_term")
        )
    )
    st = spark.range(1).select(
        F.lit(p).cast("bigint").alias("n_pairs"),
        F.lit(mk_s_val).cast("bigint").alias("mk_s"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(sen))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "n_pairs",
            "sen_slope",
            "mk_s",
            # try_divide: a zero variance (fewer than two days) gives
            # NULL, as the oracle's `/` does, not a DIVIDE_BY_ZERO
            F.expr(
                "CAST(floor(try_divide("
                " CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE)"
                "      WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE)"
                "      ELSE 0.0 END,"
                " sqrt((CAST(n_days AS DOUBLE) * (n_days - 1)"
                "         * (2 * n_days + 5)"
                "         - CAST(tie_term AS DOUBLE)) / 18.0))"
                " * 1000) AS BIGINT)"
            ).alias("mk_z_milli"),
        )
    )
