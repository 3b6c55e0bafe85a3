"""Statistics, part 7: McNemar's paired test and the Ljung–Box
portmanteau test.

Reference parity: the reference (public muccg/bpaotu) comparison pages
report significance for paired assays; these add the two classical
tests the existing rater/ACF operators stop short of — the paired
2×2 disagreement test (McNemar 1947) over the SAME two deterministic
document raters as quality_rater_kappa, and the whiteness test
(Ljung & Box 1978) over the SAME daily-revenue correlogram as
daily_acf_lags.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.operators.stats6 import _KAPPA_LEN, _KAPPA_PCT
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

# ---------------------------------------------------------------------------
# mcnemar_quality_raters — McNemar's test on the paired 2×2 of the two
# deterministic quality raters (length ≥ L vs lexical diversity ≥ P%):
# κ (quality_rater_kappa) measures agreement; McNemar asks the sharper
# question — is the DISAGREEMENT symmetric, or does one rater
# systematically pass documents the other fails? χ² = (b−c)²/(b+c)
# over the discordant cells, plus the Edwards continuity-corrected
# variant ((|b−c|−1)²/(b+c)); both in exact integer ppm.
#
# Scale shape: one map-only scan to the two 0/1 rater verdicts, ONE
# map-side-combined global aggregate (4 counting cells), scalar math
# on the 1-row result. Nothing here grows with corpus size.
# ---------------------------------------------------------------------------


@register(
    "mcnemar_quality_raters",
    oracle=f"""
WITH toks AS (
  SELECT n_chars,
    CAST(len(t) AS BIGINT) AS n_tok,
    CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
  FROM (
    SELECT n_chars,
      string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        'g')), ' ') AS t
    FROM documents
  )
),
r AS (
  SELECT
    CASE WHEN n_chars >= {_KAPPA_LEN} THEN 1 ELSE 0 END AS ra,
    CASE WHEN 100 * n_dis >= {_KAPPA_PCT} * n_tok THEN 1 ELSE 0 END AS rb
  FROM toks
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS b_only_a,
    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS c_only_b,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM r
)
SELECT n_docs, b_only_a, c_only_b,
  CASE WHEN b_only_a + c_only_b = 0 THEN CAST(0 AS BIGINT) ELSE
    CAST(CAST(b_only_a - c_only_b AS HUGEINT) * (b_only_a - c_only_b)
      * 1000000 // (b_only_a + c_only_b) AS BIGINT)
  END AS chi2_ppm,
  CASE WHEN b_only_a + c_only_b = 0 THEN CAST(0 AS BIGINT) ELSE
    CAST(greatest(CAST(abs(b_only_a - c_only_b) AS HUGEINT) - 1, 0)
      * greatest(CAST(abs(b_only_a - c_only_b) AS HUGEINT) - 1, 0)
      * 1000000 // (b_only_a + c_only_b) AS BIGINT)
  END AS chi2_cc_ppm
FROM cells
""",
)
def mcnemar_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar χ² (plain + continuity-corrected, exact ppm) on the
    discordant cells of the length-vs-diversity rater pair."""
    from bpaotu_spark.functions.textops import tokenize

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("n_chars", tokenize(F.col("text")).alias("t")).select(
        "n_chars",
        F.size("t").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_dis"),
    )
    r = t.select(
        F.expr(f"CASE WHEN n_chars >= {_KAPPA_LEN} THEN 1 ELSE 0 END").alias(
            "ra"
        ),
        F.expr(
            f"CASE WHEN 100 * n_dis >= {_KAPPA_PCT} * n_tok THEN 1 ELSE 0 END"
        ).alias("rb"),
    )
    cells = r.agg(
        F.sum(F.expr("CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b_only_a"),
        F.sum(F.expr("CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c_only_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return cells.select(
        "n_docs",
        "b_only_a",
        "c_only_b",
        F.expr(
            "CASE WHEN b_only_a + c_only_b = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(CAST(b_only_a - c_only_b AS DECIMAL(38,0))"
            " * (b_only_a - c_only_b) * 1000000"
            " DIV (b_only_a + c_only_b) AS BIGINT) END"
        ).alias("chi2_ppm"),
        F.expr(
            "CASE WHEN b_only_a + c_only_b = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(greatest(CAST(abs(b_only_a - c_only_b) AS DECIMAL(38,0))"
            " - 1, 0) * greatest(CAST(abs(b_only_a - c_only_b)"
            " AS DECIMAL(38,0)) - 1, 0) * 1000000"
            " DIV (b_only_a + c_only_b) AS BIGINT) END"
        ).alias("chi2_cc_ppm"),
    )


# ---------------------------------------------------------------------------
# ljung_box_daily — Ljung–Box portmanteau whiteness test over the
# daily-revenue series: Q = n(n+2) Σ_{k=1..m} r_k²/(n−k), lags 1..7.
# daily_acf_lags reports the individual r_k; Q composes them into the
# single is-this-series-white decision (χ²_m under H0) a forecasting
# pipeline gates on before trusting residuals.
#
# Fixed-point contract: r_k in floored milli exactly as daily_acf_lags
# computes it (HUGEINT/DECIMAL(38,0) cross-sums, one DOUBLE division,
# floor), then term_k = r_milli² // (n−k) in micro units and
# q_micro = n(n+2) Σ term_k — integer end-to-end after the shared
# floor, so both engines agree exactly.
#
# Scale shape: daily rollup (map-side combine), 1-row mean/SS scalars
# broadcast, one 7-lag broadcast-cross + calendar self-join on the
# DAILY frame (≤ n·m rows — days, not orders), one scalar finish.
# ---------------------------------------------------------------------------

_LB_MAX_LAG = 7


@register(
    "ljung_box_daily",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
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
lags AS (SELECT unnest(range(1, {_LB_MAX_LAG + 1})) AS lag),
x AS (
  SELECT lag,
    CAST(sum(CAST(a.dev_milli AS HUGEINT) * b.dev_milli) AS HUGEINT)
      AS cross_sum
  FROM lags, dev a
  JOIN dev b ON b.d = a.d + to_days(CAST(lag AS INTEGER))
  GROUP BY lag
),
terms AS (
  SELECT x.lag,
    CAST(floor(CAST(cross_sum AS DOUBLE) / CAST(ss0 AS DOUBLE) * 1000)
      AS BIGINT) AS r_milli
  FROM x CROSS JOIN ss
)
SELECT m.n AS n_days, CAST({_LB_MAX_LAG} AS BIGINT) AS m_lags,
  CAST(m.n * (m.n + 2)
    * sum(CAST(r_milli AS HUGEINT) * r_milli // (m.n - terms.lag))
    AS BIGINT) AS q_micro
FROM terms CROSS JOIN m
GROUP BY m.n
""",
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q over daily revenue, lags 1..7, exact micro units:
    (n_days, m_lags, q_micro)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
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
        F.sum(F.expr("CAST(dev_milli AS DECIMAL(38,0)) * dev_milli")).alias(
            "ss0"
        )
    )
    lags = local_frame(
        spark, [(x,) for x in range(1, _LB_MAX_LAG + 1)], "lag bigint"
    )
    a = dev.select("d", F.col("dev_milli").alias("da"))
    b = dev.select(F.col("d").alias("d_b"), F.col("dev_milli").alias("db"))
    x = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("d_target", F.expr("date_add(d, CAST(lag AS INT))"))
        .join(b, F.col("d_b") == F.col("d_target"))
        .groupBy("lag")
        .agg(
            F.sum(F.expr("CAST(da AS DECIMAL(38,0)) * db")).alias(
                "cross_sum"
            )
        )
    )
    terms = x.crossJoin(F.broadcast(ss)).select(
        "lag",
        F.expr(
            "CAST(floor(CAST(cross_sum AS DOUBLE)"
            " / CAST(ss0 AS DOUBLE) * 1000) AS BIGINT)"
        ).alias("r_milli"),
    )
    return (
        terms.crossJoin(F.broadcast(m.select("n")))
        .groupBy("n")
        .agg(
            F.expr(
                "CAST(n * (n + 2) * sum(CAST(r_milli AS DECIMAL(38,0))"
                " * r_milli DIV (n - lag)) AS BIGINT)"
            ).alias("q_micro")
        )
        .select(
            F.col("n").alias("n_days"),
            F.lit(_LB_MAX_LAG).cast("bigint").alias("m_lags"),
            "q_micro",
        )
    )


# ---------------------------------------------------------------------------
# ses_forecast_mase — simple exponential smoothing (α = 0.3) one-step-
# ahead forecast over daily revenue, scored by MASE against the lag-1
# naive baseline (Hyndman & Koehler 2006). seasonal_naive_mase asks
# "does lag-7 beat lag-1"; this asks whether an actual smoother earns
# its keep — the go/no-go before any fancier forecaster.
#
# Exactness: the SES recursion s_t = (3·x_t·1000 + 7·s_{t-1}) // 10
# runs in integer MILLI-cents with a floor at every step, so the fold
# is bit-identical in both engines — Spark folds the calendar-bounded
# daily array with aggregate(); DuckDB runs the same recursion as a
# linear recursive CTE. MASE = Σ|x_t·1000 − s_{t-1}| · 1000 // Σ|x_t −
# x_{t-1}|·1000 (same t-range, counts cancel) — integer end-to-end.
#
# Scale shape: daily rollup (map-side combine) → ONE bounded-row fold
# (array length = calendar days, not data size — the ordination
# one-batch precedent) → scalar finish. Nothing grows with corpus.
# ---------------------------------------------------------------------------

_SES_NUM = 3  # α = _SES_NUM / _SES_DEN
_SES_DEN = 10


@register(
    "ses_forecast_mase",
    # Oracle is a list_reduce FOLD (DuckDB >= 1.0), not a ~2,400-step
    # linear recursive CTE: the mapped first element IS the t=1 init
    # state (s = x1*1000), and each step applies the identical integer
    # recurrence — same values, ~10s -> ~1s harness time (r11 VERDICT
    # item 6). FIELD ORDER IS LOAD-BEARING: DuckDB 1.0's list_reduce
    # struct accumulator is NOT snapshot-consistent — a field reading
    # a state reassigned EARLIER in the struct literal can observe the
    # new value (measured: s-before-err gave err 518515 vs the true
    # 676450 on a 5-element probe). Every derived sum (err, e1) is
    # therefore listed BEFORE the state it reads (s, prev), an
    # ordering that is correct under both the quirky and the standard
    # semantics. holt_linear_mase CANNOT be reordered this way (l and
    # b read each other — a dependency cycle), so it keeps the
    # recursive-CTE oracle.
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
arr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
    list(CAST(cents AS HUGEINT) ORDER BY d) AS xs
  FROM daily
),
fin AS (
  SELECT n_days,
    list_reduce(
      list_transform(xs, x -> {{'err': CAST(0 AS HUGEINT),
                                'e1': CAST(0 AS HUGEINT),
                                's': x * 1000, 'prev': x, 'x': x}}),
      (acc, e) -> {{
        'err': acc.err + abs(e.x * 1000 - acc.s),
        'e1': acc.e1 + abs(e.x - acc.prev),
        's': ({_SES_NUM} * e.x * 1000 + {_SES_DEN - _SES_NUM} * acc.s)
             // {_SES_DEN},
        'prev': e.x,
        'x': e.x}}
    ) AS f
  FROM arr
)
SELECT n_days,
  CAST(f.err AS BIGINT) AS sum_abs_err_ses_milli,
  CAST(f.e1 * 1000 AS BIGINT) AS sum_abs_err_naive_milli,
  CAST(f.err * 1000 // (f.e1 * 1000) AS BIGINT) AS mase_milli,
  CAST(f.s AS BIGINT) AS s_final_milli
FROM fin
""",
)
def ses_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SES (α=0.3) one-step-ahead daily-revenue forecast vs the lag-1
    naive baseline: (n_days, sum_abs_err_ses_milli,
    sum_abs_err_naive_milli, mase_milli, s_final_milli)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    folded = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            f"""
aggregate(
  array_sort(collect_list(named_struct('d', d, 'cents', cents))),
  named_struct('s', CAST(-1 AS DECIMAL(38,0)),
               'err', CAST(0 AS DECIMAL(38,0)),
               'prev', CAST(-1 AS BIGINT),
               'e1', CAST(0 AS DECIMAL(38,0))),
  (acc, x) -> CASE WHEN acc.s < 0 THEN
      named_struct('s', CAST(x.cents AS DECIMAL(38,0)) * 1000,
                   'err', acc.err, 'prev', x.cents, 'e1', acc.e1)
    ELSE
      named_struct(
        's', ({_SES_NUM} * CAST(x.cents AS DECIMAL(38,0)) * 1000
              + {_SES_DEN - _SES_NUM} * acc.s) DIV {_SES_DEN},
        'err', acc.err + abs(CAST(x.cents AS DECIMAL(38,0)) * 1000
                             - acc.s),
        'prev', x.cents,
        'e1', acc.e1 + abs(CAST(x.cents AS DECIMAL(38,0)) - acc.prev)
      ) END
)
"""
        ).alias("f"),
    )
    return folded.select(
        "n_days",
        F.expr("CAST(f.err AS BIGINT)").alias("sum_abs_err_ses_milli"),
        F.expr("CAST(f.e1 * 1000 AS BIGINT)").alias(
            "sum_abs_err_naive_milli"
        ),
        F.expr(
            "CAST(f.err * 1000 DIV (f.e1 * 1000) AS BIGINT)"
        ).alias("mase_milli"),
        F.expr("CAST(f.s AS BIGINT)").alias("s_final_milli"),
    )


# ---------------------------------------------------------------------------
# holt_linear_mase — Holt's linear-trend smoothing (α=0.3, γ=0.1) over
# the same daily series, one-step-ahead, MASE vs the lag-1 naive.
# ses_forecast_mase answers "does a level smoother help"; Holt adds
# the trend state — if MASE(Holt) < MASE(SES) the series carries a
# persistent drift worth modelling. Same exactness contract: both
# recursion states (level, trend) live in integer MILLI-cents with a
# floor at every step — Spark folds the calendar-bounded array,
# DuckDB runs the identical linear recursive CTE.
#   forecast f_t = l + b
#   l' = (3·x_t·1000 + 7·(l + b)) // 10
#   b' = (1·(l' − l) + 9·b) // 10   (l' − l and b can be negative;
#        both engines TRUNCATE toward zero — DuckDB integer // and
#        Spark DIV agree, verified (-1)//2 = 0 in both)
# ---------------------------------------------------------------------------


@register(
    "holt_linear_mase",
    # Stays a recursive-CTE oracle ON PURPOSE: the list_reduce fold
    # rewrite (see ses_forecast_mase) requires every derived field to
    # be listed before the state it reads, because DuckDB 1.0's fold
    # accumulator is not snapshot-consistent — and Holt's l' and b'
    # each read BOTH old l and old b (a dependency cycle no field
    # ordering can satisfy). Measured before reverting: the fold gave
    # a wrong err under every ordering that updates l before b or
    # vice versa. ~10s of oracle time is the price of a correct,
    # version-stable recursion.
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
seq AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
  FROM daily
),
holt(t, l, b, err_sum) AS (
  SELECT t, cents * 1000, CAST(0 AS BIGINT), CAST(0 AS HUGEINT)
  FROM seq WHERE t = 1
  UNION ALL
  SELECT q.t,
    ({_SES_NUM} * q.cents * 1000
     + {_SES_DEN - _SES_NUM} * (holt.l + holt.b)) // {_SES_DEN},
    (1 * (({_SES_NUM} * q.cents * 1000
           + {_SES_DEN - _SES_NUM} * (holt.l + holt.b)) // {_SES_DEN}
          - holt.l) + 9 * holt.b) // 10,
    holt.err_sum + abs(q.cents * 1000 - (holt.l + holt.b))
  FROM holt JOIN seq q ON q.t = holt.t + 1
),
fin AS (SELECT l, b, err_sum FROM holt ORDER BY t DESC LIMIT 1),
naive AS (
  SELECT CAST(sum(abs(cents - l1)) AS HUGEINT) * 1000 AS e1_milli
  FROM (SELECT cents, lag(cents, 1) OVER (ORDER BY t) AS l1 FROM seq)
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM seq) AS n_days,
  CAST(fin.err_sum AS BIGINT) AS sum_abs_err_holt_milli,
  CAST(naive.e1_milli AS BIGINT) AS sum_abs_err_naive_milli,
  CAST(fin.err_sum * 1000 // naive.e1_milli AS BIGINT) AS mase_milli,
  CAST(fin.l AS BIGINT) AS level_final_milli,
  CAST(fin.b AS BIGINT) AS trend_final_milli
FROM fin CROSS JOIN naive
""",
)
def holt_linear_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend one-step-ahead forecast vs lag-1 naive:
    (n_days, sum_abs_err_holt_milli, sum_abs_err_naive_milli,
    mase_milli, level_final_milli, trend_final_milli)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # both engines TRUNCATE toward zero here: DuckDB integer `//`
    # truncates (verified (-1)//2 = 0, see map_tiles_pyramid) and
    # Spark DIV truncates — so plain truncating division matches.
    # The fold's first-row detection is an explicit 'started' boolean,
    # NOT a sign sentinel on l: a strongly negative trend can drive
    # the Holt level below zero mid-series, and a sign sentinel would
    # silently re-initialize there while the oracle's recursive CTE
    # keeps recursing (r11 ADVICE item 2).
    def fdiv(s: str, n: int) -> str:
        return f"(({s})) DIV {n}"

    lvl = fdiv(
        f"{_SES_NUM} * CAST(x.cents AS DECIMAL(38,0)) * 1000"
        f" + {_SES_DEN - _SES_NUM} * (acc.l + acc.b)",
        _SES_DEN,
    )
    folded = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(
            f"""
aggregate(
  array_sort(collect_list(named_struct('d', d, 'cents', cents))),
  named_struct('started', false,
               'l', CAST(0 AS DECIMAL(38,0)),
               'b', CAST(0 AS DECIMAL(38,0)),
               'err', CAST(0 AS DECIMAL(38,0)),
               'prev', CAST(0 AS BIGINT),
               'e1', CAST(0 AS DECIMAL(38,0))),
  (acc, x) -> CASE WHEN NOT acc.started THEN
      named_struct('started', true,
                   'l', CAST(x.cents AS DECIMAL(38,0)) * 1000,
                   'b', CAST(0 AS DECIMAL(38,0)),
                   'err', acc.err, 'prev', x.cents, 'e1', acc.e1)
    ELSE
      named_struct(
        'started', true,
        'l', {lvl},
        'b', {fdiv(f"1 * (({lvl}) - acc.l) + 9 * acc.b", 10)},
        'err', acc.err + abs(CAST(x.cents AS DECIMAL(38,0)) * 1000
                             - (acc.l + acc.b)),
        'prev', x.cents,
        'e1', acc.e1 + abs(CAST(x.cents AS DECIMAL(38,0)) - acc.prev)
      ) END
)
"""
        ).alias("f"),
    )
    return folded.select(
        "n_days",
        F.expr("CAST(f.err AS BIGINT)").alias("sum_abs_err_holt_milli"),
        F.expr("CAST(f.e1 * 1000 AS BIGINT)").alias(
            "sum_abs_err_naive_milli"
        ),
        F.expr("CAST(f.err * 1000 DIV (f.e1 * 1000) AS BIGINT)").alias(
            "mase_milli"
        ),
        F.expr("CAST(f.l AS BIGINT)").alias("level_final_milli"),
        F.expr("CAST(f.b AS BIGINT)").alias("trend_final_milli"),
    )


# ---------------------------------------------------------------------------
# ljung_box_remainder — the Ljung–Box test applied where the textbook
# points it: at the decomposition REMAINDER. ljung_box_daily on the
# raw series mostly measures the weekly cycle itself; after removing
# the 7-day moving-average trend and the day-of-week means
# (weekly_decomposition's exact construction, truncating-div
# semantics shared by both engines), a small Q says the model
# captured the structure and a large Q says autocorrelation survives
# — the residual-diagnostics gate of a forecasting pipeline.
#
# Scale shape: identical to ljung_box_daily plus one calendar-bounded
# trend window and one 7-row broadcast day-of-week join.
# ---------------------------------------------------------------------------


@register(
    "ljung_box_remainder",
    oracle=f"""
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
  SELECT d, CAST(isodow(d) AS BIGINT) AS dow,
    cents - win_sum // win_n AS detrended
  FROM trend WHERE win_n = 7
),
dowm AS (
  SELECT dow, CAST(sum(detrended) AS BIGINT) // CAST(count(*) AS BIGINT)
    AS seasonal
  FROM detr GROUP BY dow
),
rem AS (
  SELECT detr.d, detrended - seasonal AS r
  FROM detr JOIN dowm ON dowm.dow = detr.dow
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(r) AS HUGEINT) * 1000 // count(*) AS mean_milli
  FROM rem
),
dev AS (
  SELECT d, r * 1000 - mean_milli AS dev_milli FROM rem CROSS JOIN m
),
ss AS (
  SELECT CAST(sum(CAST(dev_milli AS HUGEINT) * dev_milli) AS HUGEINT)
    AS ss0
  FROM dev
),
lags AS (SELECT unnest(range(1, {_LB_MAX_LAG + 1})) AS lag),
x AS (
  SELECT lag,
    CAST(sum(CAST(a.dev_milli AS HUGEINT) * b.dev_milli) AS HUGEINT)
      AS cross_sum
  FROM lags, dev a
  JOIN dev b ON b.d = a.d + to_days(CAST(lag AS INTEGER))
  GROUP BY lag
),
terms AS (
  SELECT x.lag,
    CAST(floor(CAST(cross_sum AS DOUBLE) / CAST(ss0 AS DOUBLE) * 1000)
      AS BIGINT) AS r_milli
  FROM x CROSS JOIN ss
)
SELECT m.n AS n_days, CAST({_LB_MAX_LAG} AS BIGINT) AS m_lags,
  CAST(m.n * (m.n + 2)
    * sum(CAST(r_milli AS HUGEINT) * r_milli // (m.n - terms.lag))
    AS BIGINT) AS q_micro
FROM terms CROSS JOIN m
GROUP BY m.n
""",
)
def ljung_box_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q over the trend+seasonal-removed daily-revenue
    remainder, lags 1..7: (n_days, m_lags, q_micro)."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w7).cast("bigint").alias("win_sum"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("win_n"),
    )
    detr = trend.filter(F.col("win_n") == 7).select(
        "d",
        F.expr(
            "CAST(CASE WHEN dayofweek(d) = 1 THEN 7"
            " ELSE dayofweek(d) - 1 END AS BIGINT)"
        ).alias("dow"),
        (F.col("cents") - F.expr("win_sum div win_n")).alias("detrended"),
    )
    dowm = detr.groupBy("dow").agg(
        F.expr("sum(detrended) div count(*)").alias("seasonal")
    )
    rem = detr.join(F.broadcast(dowm), "dow").select(
        "d", (F.col("detrended") - F.col("seasonal")).alias("r")
    )
    m = rem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(r) AS DECIMAL(38,0)) * 1000 div count(*)").alias(
            "mean_milli"
        ),
    )
    dev = rem.crossJoin(F.broadcast(m)).select(
        "d", F.expr("r * 1000 - mean_milli").alias("dev_milli")
    )
    ss = dev.agg(
        F.sum(F.expr("CAST(dev_milli AS DECIMAL(38,0)) * dev_milli")).alias(
            "ss0"
        )
    )
    lags = local_frame(
        spark, [(x,) for x in range(1, _LB_MAX_LAG + 1)], "lag bigint"
    )
    a = dev.select("d", F.col("dev_milli").alias("da"))
    b = dev.select(F.col("d").alias("d_b"), F.col("dev_milli").alias("db"))
    x = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("d_target", F.expr("date_add(d, CAST(lag AS INT))"))
        .join(b, F.col("d_b") == F.col("d_target"))
        .groupBy("lag")
        .agg(
            F.sum(F.expr("CAST(da AS DECIMAL(38,0)) * db")).alias(
                "cross_sum"
            )
        )
    )
    terms = x.crossJoin(F.broadcast(ss)).select(
        "lag",
        F.expr(
            "CAST(floor(CAST(cross_sum AS DOUBLE)"
            " / CAST(ss0 AS DOUBLE) * 1000) AS BIGINT)"
        ).alias("r_milli"),
    )
    return (
        terms.crossJoin(F.broadcast(m.select("n")))
        .groupBy("n")
        .agg(
            F.expr(
                "CAST(n * (n + 2) * sum(CAST(r_milli AS DECIMAL(38,0))"
                " * r_milli DIV (n - lag)) AS BIGINT)"
            ).alias("q_micro")
        )
        .select(
            F.col("n").alias("n_days"),
            F.lit(_LB_MAX_LAG).cast("bigint").alias("m_lags"),
            "q_micro",
        )
    )


# ---------------------------------------------------------------------------
# daily_revenue_periodogram — single-frequency DFT power at the
# candidate calendar periods {7, 14, 30, 91, 365} over mean-centered
# daily revenue: P(p) = (Σ x_t cos(2πt/p))² + (Σ x_t sin(2πt/p))²,
# normalized by the series energy to a 0..1e6 ppm share. The
# frequency-domain companion to daily_acf_lags (lag domain) and
# seasonality_strength: which calendar cycle carries the variance.
#
# Determinism: cos(2πt/p) depends only on t mod p, so the ENTIRE trig
# surface is a fixed Σp = 507-row (period, residue) table computed
# ONCE in Python at import and shipped to both engines as integer
# micro-unit literals — neither engine evaluates cos/sin at all. This
# closes the r11 ADVICE exposure: DuckDB's libm and the JVM's
# Math.cos (specified only to 1 ulp) need not agree, because neither
# is consulted. Every downstream step is exact integer math
# (dev_milli × cosq products summed as DECIMAL(38,0)/HUGEINT, shared
# truncating DIV), order-free by construction.
#
# Overflow bound (r11 ADVICE item 3): projections are downscaled to
# whole cents (DIV 1e9) BEFORE squaring (squares ride in
# DECIMAL(38,0)/HUGEINT) and the energy is divided down (DIV 1e15)
# before its BIGINT hop, so the binding constraints are
# Σ|dev_cents| < 9.2e18 and Σdev_milli² < 9.2e33 — both satisfied
# through ~sf100 (daily revenue ≤ ~$6e10); past that BOTH engines
# fail loudly (Spark ANSI long overflow / DuckDB cast error) instead
# of diverging silently.
#
# Scale shape: one daily rollup, a 5-period broadcast fan-out over
# the DAILY frame (days × 5 rows) equi-joined to the broadcast
# 507-row trig table, map-side-combined sums, 5-row output.
# Calendar-bounded everywhere.
# ---------------------------------------------------------------------------

_PGRAM_PERIODS = (7, 14, 30, 91, 365)


def _pgram_trig_rows() -> list[tuple[int, int, int, int]]:
    """(period, residue, round(cos·1e6), round(sin·1e6)) for every
    residue class of every candidate period — Python's libm is the
    single trig authority for BOTH engines."""
    import math

    rows = []
    for p in _PGRAM_PERIODS:
        for r in range(p):
            ang = 2.0 * math.pi * r / p
            rows.append(
                (
                    p,
                    r,
                    round(math.cos(ang) * 1_000_000),
                    round(math.sin(ang) * 1_000_000),
                )
            )
    return rows


_PGRAM_TRIG = _pgram_trig_rows()

_PGRAM_TRIG_VALUES = ", ".join(
    f"({p}, {r}, {c}, {s})" for p, r, c, s in _PGRAM_TRIG
)


@register(
    "daily_revenue_periodogram",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
seq AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS HUGEINT) * 1000 // count(*) AS mean_milli
  FROM seq
),
dev AS (
  SELECT t, cents * 1000 - mean_milli AS dev_milli FROM seq CROSS JOIN m
),
ss AS (
  SELECT CAST(sum(CAST(dev_milli AS HUGEINT) * dev_milli) AS HUGEINT)
    AS energy
  FROM dev
),
periods AS (SELECT unnest([{", ".join(str(p) for p in _PGRAM_PERIODS)}]) AS p),
trig AS (
  SELECT * FROM (VALUES {_PGRAM_TRIG_VALUES}) AS t(p, r, cosq, sinq)
),
proj AS (
  SELECT fan.p,
    CAST(sum(CAST(dev_milli AS HUGEINT) * cosq) AS HUGEINT) AS c_nano,
    CAST(sum(CAST(dev_milli AS HUGEINT) * sinq) AS HUGEINT) AS s_nano
  FROM (SELECT p, t % p AS r, dev_milli FROM periods, dev) fan
  JOIN trig g ON g.p = fan.p AND g.r = fan.r
  GROUP BY fan.p
),
cu AS (
  SELECT p, c_nano // 1000000000 AS c_u, s_nano // 1000000000 AS s_u
  FROM proj
),
shares AS (
  SELECT CAST(p AS BIGINT) AS period_days,
    CAST(((c_u * c_u + s_u * s_u) * 2)
      // ((CAST((SELECT energy FROM ss) AS HUGEINT) // 1000000000000000)
          * (SELECT n FROM m) * 1000 + 1) AS BIGINT)
      AS power_share_ppm
  FROM cu
)
SELECT period_days, power_share_ppm,
  CAST(row_number() OVER (ORDER BY power_share_ppm DESC, period_days ASC)
    AS BIGINT) AS power_rank
FROM shares ORDER BY period_days
""",
)
def daily_revenue_periodogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-frequency DFT power at calendar periods {7,14,30,91,365}
    over mean-centered daily revenue: (period_days,
    power_share_ppm, power_rank) — scale-free outputs only."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wseq = Window.orderBy("d")  # calendar-bounded daily frame
    seq = daily.select(
        F.row_number().over(wseq).cast("bigint").alias("t"), "cents"
    )
    m = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(cents) AS DECIMAL(38,0)) * 1000 div count(*)").alias(
            "mean_milli"
        ),
    )
    dev = seq.crossJoin(F.broadcast(m)).select(
        "t", F.expr("cents * 1000 - mean_milli").alias("dev_milli"), "n"
    )
    ss = dev.agg(
        F.sum(F.expr("CAST(dev_milli AS DECIMAL(38,0)) * dev_milli")).alias(
            "energy"
        )
    )
    periods = local_frame(
        spark, [(p,) for p in _PGRAM_PERIODS], "p bigint"
    )
    trig = local_frame(
        spark, _PGRAM_TRIG, "p bigint, r bigint, cosq bigint, sinq bigint"
    )
    proj = (
        dev.crossJoin(F.broadcast(periods))
        .withColumn("r", F.expr("t % p"))
        .join(F.broadcast(trig), ["p", "r"])
        .groupBy("p")
        .agg(
            F.sum(
                F.expr("CAST(dev_milli AS DECIMAL(38,0)) * cosq")
            ).alias("c_nano"),
            F.sum(
                F.expr("CAST(dev_milli AS DECIMAL(38,0)) * sinq")
            ).alias("s_nano"),
            F.max("n").alias("n"),
        )
        .select(
            "p",
            "n",
            F.expr("c_nano DIV 1000000000").alias("c_u"),
            F.expr("s_nano DIV 1000000000").alias("s_u"),
        )
    )
    # Spark's DIV yields BIGINT, so every DIV result must fit a long:
    # c_u (≤ Σ|dev_cents|) and energy DIV 1e15 both do through ~sf100;
    # the squares ride in DECIMAL(38,0). DuckDB mirrors the exact same
    # staged truncations on HUGEINT.
    shares = proj.crossJoin(F.broadcast(ss)).select(
        F.col("p").alias("period_days"),
        F.expr(
            "CAST(((CAST(c_u AS DECIMAL(38,0)) * c_u"
            " + CAST(s_u AS DECIMAL(38,0)) * s_u) * 2)"
            " DIV (CAST(CAST(energy AS DECIMAL(38,0))"
            " DIV 1000000000000000 AS DECIMAL(38,0))"
            " * n * 1000 + 1) AS BIGINT)"
        ).alias("power_share_ppm"),
    )
    wr = Window.orderBy(  # 5-row frame: the fixed period list
        F.col("power_share_ppm").desc(), F.col("period_days").asc()
    )
    return (
        shares.withColumn(
            "power_rank", F.row_number().over(wr).cast("bigint")
        )
        .orderBy("period_days")
    )
