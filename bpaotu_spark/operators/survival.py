"""Survival analysis, price indexing, and ecological null-model stats.

* ``kaplan_meier_order_gaps`` — Kaplan-Meier estimator of the
  customer reorder-interval distribution with right-censoring (the
  gap after a customer's last order is censored at the observation
  end — dropping it would bias reorder rates optimistic, the classic
  survival-analysis correction). Emits log-survival at fixed horizon
  checkpoints in exact integer micro-nats: each hazard term
  ln(1 − d/n) is floored per DISTINCT duration, the cumulative sum
  runs over the distinct-duration table (value-bounded window), and
  the checkpoint lookup is a range join against ≤5 rows.
* ``laspeyres_price_index`` — fixed-base-year Laspeyres price index
  per year: Σ p_t·q_base / Σ p_base·q_base over parts traded in both
  years. Per-part terms are floored integer cents (p_t·q_base =
  rev_t·q_base / q_t, one exact rational per part), so the index is
  engine-exact ppm.
* ``cscore_checkerboard`` — Stone & Roberts' checkerboard score over
  the bounded p_type presence table: mean (r_a−s)(r_b−s) across type
  pairs — the community-assembly null-model statistic downstream of
  taxa_cooccurrence.

The eight reorder-gap operators (Kaplan-Meier, Nelson-Aalen, RMST,
log-rank, hazard ratio, competing risks, Weibull and log-logistic
fits) share five parts, each built once here, with the matching
oracle CTE text next to it:

* ``_censored_gaps`` — the right-censored reorder-gap frame: a
  per-customer ``lead`` window gives each order the days to the next
  one; the last order's gap is censored at ``obs_end`` (``cens_dur``),
  and a zero-day censored gap is dropped.
* ``_at_risk`` — the distinct-duration table: gaps and events per
  duration (``dc``), their total (``tot``) and the count still at risk.
* ``_ln_term_micro`` — one Kaplan-Meier log-survival step
  ln(1 − d/n), floored to integer micro-nats.
* ``_segment_risk`` — the two-segment risk grid of the log-rank and
  hazard-ratio tests: events and at-risk counts per duration, in both
  segments and in group 1.
* ``_rank_fit`` — the Benard median-rank regression moments over the
  observed gaps and the shape/scale fit they give.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance
from bpaotu_spark.registry import register

_KM_CHECKPOINTS = (30, 60, 90, 180, 365)

# ---------------------------------------------------------------------------
# shared reorder-gap builders
# ---------------------------------------------------------------------------


def _order_days(orders: DataFrame, *extra: Column | str) -> DataFrame:
    """(o_custkey, d, o_orderkey, *extra): each order on its DATE."""
    return orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
        *extra,
    )


def _censored_gaps(
    o: DataFrame, *carry: str, next_of: tuple[str, str] | None = None
) -> DataFrame:
    """(*carry, dur, observed[, alias]) — one right-censored gap per order.

    ``dur`` (BIGINT days) runs to the customer's next order, or to the
    observation end (the last order date) after the customer's last
    order; a zero-day censored gap is dropped. ``carry`` names columns
    of ``o`` kept on every gap. ``next_of=(col, alias)`` carries the
    next order's ``col`` as ``alias`` and marks a gap observed where
    that value is not NULL; by default a gap is observed where a next
    order exists.
    """
    mx = o.agg(F.max("d").alias("obs_end"))
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    if next_of is None:
        mark = F.lead("d").over(w).isNotNull().alias("observed")
        observed, keep = F.col("observed"), ["observed"]
    else:
        col, alias = next_of
        mark = F.lead(col).over(w).alias(alias)
        observed = F.col(alias).isNotNull()
        keep = [observed.alias("observed"), alias]
    g = o.select(
        "o_custkey",
        *carry,
        F.datediff(F.lead("d").over(w), F.col("d")).alias("dur"),
        mark,
        "d",
    )
    return (
        g.crossJoin(F.broadcast(mx))
        .withColumn("cens_dur", F.datediff("obs_end", "d"))
        .filter(observed | (F.col("cens_dur") > 0))
        .select(
            *carry,
            F.when(observed, F.col("dur"))
            .otherwise(F.col("cens_dur"))
            .cast("bigint")
            .alias("dur"),
            *keep,
        )
    )


# the at-risk table's oracle CTEs (orders → gaps → dc/tot → haz)
_AT_RISK_CTES = """o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
  FROM orders
),
mx AS (SELECT max(d) AS obs_end FROM o),
g AS (
  SELECT o_custkey,
    date_diff('day', d,
      lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey))
      AS dur,
    lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
      IS NOT NULL AS observed,
    d
  FROM o
),
gaps AS (
  SELECT CASE WHEN observed THEN dur
              ELSE date_diff('day', d, obs_end) END AS dur,
         observed
  FROM g, mx
  WHERE observed OR date_diff('day', d, obs_end) > 0
),
dc AS (
  SELECT CAST(dur AS BIGINT) AS dur,
    CAST(count(*) AS BIGINT) AS n_all,
    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_obs
  FROM gaps GROUP BY dur
),
tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS n_total FROM dc),
haz AS (
  SELECT dur, n_obs,
    n_total - CAST(coalesce(sum(n_all) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS at_risk
  FROM dc, tot
)"""


def _at_risk(gaps: DataFrame, **counts: Column) -> DataFrame:
    """(dur, n_obs, *counts, at_risk) per DISTINCT gap duration.

    ``n_obs`` counts the observed gaps, ``at_risk`` the gaps not yet
    ended before ``dur``; ``counts`` are extra per-duration aggregates.
    """
    dc = gaps.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("n_obs"),
        *[agg.alias(name) for name, agg in counts.items()],
    )
    tot = dc.agg(F.sum("n_all").alias("n_total"))
    # unpartitioned window bound: runs over the DISTINCT-duration
    # table (day-count codomain, <= ~2,600 rows), never the fact
    wv = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    return dc.crossJoin(F.broadcast(tot)).select(
        "dur",
        "n_obs",
        *counts,
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_all").over(wv), F.lit(0))
        )
        .cast("bigint")
        .alias("at_risk"),
    )


def _ln_term_micro() -> Column:
    """floor(ln(1 − n_obs/at_risk)·10⁶): one Kaplan-Meier log-survival
    step in integer micro-nats (1e-9 keeps the last step finite)."""
    return F.floor(
        F.log(
            F.greatest(
                1.0 - F.col("n_obs") * 1.0 / F.col("at_risk"),
                F.lit(1e-9),
            )
        )
        * 1000000
    ).cast("bigint")


def _checkpoints(spark: SparkSession) -> DataFrame:
    """(horizon_days) — the ``_KM_CHECKPOINTS`` rows."""
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _KM_CHECKPOINTS])).alias(
            "horizon_days"
        )
    )


def _segment_ctes(seg_a: str, seg_b: str) -> str:
    """The two-segment grid's oracle CTEs (orders → gaps → dcg → grid)."""
    return f"""o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
    CASE WHEN c_mktsegment = '{seg_a}' THEN 1 ELSE 0 END AS grp
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{seg_a}', '{seg_b}')
),
mx AS (SELECT max(d) AS obs_end FROM o),
g AS (
  SELECT o_custkey, grp,
    date_diff('day', d,
      lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey))
      AS dur,
    lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
      IS NOT NULL AS observed,
    d
  FROM o
),
gaps AS (
  SELECT grp,
    CAST(CASE WHEN observed THEN dur
         ELSE date_diff('day', d, obs_end) END AS BIGINT) AS dur,
    observed
  FROM g, mx
  WHERE observed OR date_diff('day', d, obs_end) > 0
),
dcg AS (
  SELECT dur, grp,
    CAST(count(*) AS BIGINT) AS n_all,
    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_obs
  FROM gaps GROUP BY dur, grp
),
grid AS (
  SELECT d.dur, k.grp,
    coalesce(dcg.n_all, 0) AS n_all, coalesce(dcg.n_obs, 0) AS n_obs
  FROM (SELECT DISTINCT dur FROM dcg) d
  CROSS JOIN (SELECT unnest([0, 1]) AS grp) k
  LEFT JOIN dcg ON dcg.dur = d.dur AND dcg.grp = k.grp
)"""


# the two-segment grid's oracle CTEs after ``totg`` (risk → pert)
_RISK_PERT_CTES = """risk AS (
  SELECT grid.dur, grid.grp, grid.n_obs,
    tot - CAST(coalesce(sum(grid.n_all) OVER (PARTITION BY grid.grp
      ORDER BY grid.dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS at_risk
  FROM grid JOIN totg ON grid.grp = totg.grp
),
pert AS (
  SELECT dur,
    CAST(sum(n_obs) AS BIGINT) AS d_t,
    CAST(sum(CASE WHEN grp = 1 THEN n_obs ELSE 0 END) AS BIGINT) AS d1,
    CAST(sum(at_risk) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN grp = 1 THEN at_risk ELSE 0 END) AS BIGINT) AS n1
  FROM risk GROUP BY dur
)"""


def _segment_risk(
    spark: SparkSession, sf_dir: str, seg_a: str, seg_b: str
) -> DataFrame:
    """(dur, d_t, d1, n_t, n1) per distinct gap duration over the
    customers of market segments ``seg_a`` (group 1) and ``seg_b``
    (group 0): events ``d`` and at-risk counts ``n``, over both groups
    (``_t``) and in group 1."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(seg_a, seg_b)
    )
    o = _order_days(
        load_table(spark, sf_dir, "orders").join(
            maybe_broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        ),
        F.when(F.col("c_mktsegment") == seg_a, 1).otherwise(0).alias("grp"),
    )
    dcg = (
        _censored_gaps(o, "grp")
        .groupBy("dur", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_all"),
            F.sum(F.when(F.col("observed"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_obs"),
        )
    )
    grid = (
        dcg.select("dur")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(2).select(F.col("id").cast("int").alias("grp"))
            )
        )
        .join(dcg, ["dur", "grp"], "left")
        .select(
            "dur",
            "grp",
            F.coalesce("n_all", F.lit(0)).alias("n_all"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        )
    )
    totg = grid.groupBy("grp").agg(F.sum("n_all").cast("bigint").alias("tot"))
    # group-partitioned cumulative over the distinct-duration grid
    # (day-count codomain — bounded at any SF)
    wg = (
        Window.partitionBy("grp")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.join(F.broadcast(totg), "grp").select(
        "dur",
        "grp",
        "n_obs",
        (F.col("tot") - F.coalesce(F.sum("n_all").over(wg), F.lit(0)))
        .cast("bigint")
        .alias("at_risk"),
    )
    return risk.groupBy("dur").agg(
        F.sum("n_obs").cast("bigint").alias("d_t"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_obs")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("at_risk").cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("grp") == 1, F.col("at_risk")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )


# the rank regressions' oracle CTEs (orders → observed gaps → ranks)
_RANK_CTES = """o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
  FROM orders
),
g AS (
  SELECT date_diff('day', d,
      lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey))
      AS dur
  FROM o
),
dc AS (
  SELECT CAST(dur AS BIGINT) AS dur, CAST(count(*) AS BIGINT) AS cnt
  FROM g WHERE dur IS NOT NULL AND dur > 0 GROUP BY dur
),
nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dc),
rk AS (
  SELECT dur, cnt,
    2 * CAST(coalesce(sum(cnt) OVER (ORDER BY dur ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      + cnt + 1 AS i_x2
  FROM dc
)"""

# the weighted-OLS slope over the rank moments; a single distinct
# duration (w·sxx = sx²) has no slope: NULL, as in the oracle, where
# Spark's ANSI ``/`` would raise DIVIDE_BY_ZERO
_RANK_SLOPE = (
    "try_divide(CAST(w * sxy - sx * sy AS DOUBLE),"
    " CAST(w * sxx - sx * sx AS DOUBLE))"
)


def _rank_fit(
    spark: SparkSession, sf_dir: str, y: Column, *extra: Column
) -> DataFrame:
    """(n_gaps, shape_milli, scale_days_milli, *extra): weighted OLS of
    the linearized median rank ``y`` on x = floor(ln t·10⁶) over the
    OBSERVED gaps; ``y`` and ``extra`` read ``i_x2``/``n`` and the
    moments ``w, sx, sy, sxy, sxx, syy`` respectively."""
    o = _order_days(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.select(F.datediff(F.lead("d").over(w), F.col("d")).alias("dur"))
    dc = (
        g.filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .groupBy(F.col("dur").cast("bigint").alias("dur"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    nn = dc.agg(F.sum("cnt").cast("bigint").alias("n"))
    # unpartitioned window bound: DISTINCT-duration table (day-grain)
    wv = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    rk = dc.select(
        "dur",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        )
        .cast("bigint")
        .alias("i_x2"),
    )
    xy = rk.crossJoin(F.broadcast(nn)).select(
        "cnt",
        F.floor(F.log(F.col("dur").cast("double")) * 1000000)
        .cast("bigint")
        .alias("x"),
        y.alias("y"),
    )
    mo = xy.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("w"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * x")).alias("sx"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * y")).alias("sy"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * x * y")).alias("sxy"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * x * x")).alias("sxx"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * y * y")).alias("syy"),
    )
    return mo.select(
        F.col("w").cast("bigint").alias("n_gaps"),
        F.expr(f"CAST(floor({_RANK_SLOPE} * 1000) AS BIGINT)").alias(
            "shape_milli"
        ),
        F.expr(
            "CAST(floor(exp((CAST(sx AS DOUBLE) / CAST(w AS DOUBLE)"
            " - (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))"
            f"   / ({_RANK_SLOPE})) / 1000000)"
            " * 1000) AS BIGINT)"
        ).alias("scale_days_milli"),
        *extra,
    )


# ---------------------------------------------------------------------------
# kaplan_meier_order_gaps
# ---------------------------------------------------------------------------


@register(
    "kaplan_meier_order_gaps",
    oracle=f"""
WITH {_AT_RISK_CTES},
terms AS (
  SELECT dur,
    CAST(floor(ln(greatest(1.0 - n_obs * 1.0 / at_risk, 1e-9)) * 1000000)
      AS BIGINT) AS term_micro
  FROM haz WHERE n_obs > 0
),
cum AS (
  SELECT dur,
    CAST(sum(term_micro) OVER (ORDER BY dur) AS BIGINT) AS ln_s_micro
  FROM terms
),
cp AS (SELECT unnest([{", ".join(str(c) for c in _KM_CHECKPOINTS)}]) AS horizon_days)
SELECT CAST(horizon_days AS BIGINT) AS horizon_days,
  -- ln_s_micro is a strictly DECREASING cumulative sum of negative
  -- hazard terms, so survival at the horizon = the value at the
  -- LARGEST dur <= horizon = min(), not max() (max picks the first gap)
  CAST(coalesce(min(ln_s_micro) FILTER (WHERE dur <= horizon_days), 0)
    AS BIGINT) * -1 AS neg_ln_survival_micro
FROM cp LEFT JOIN cum ON cum.dur <= cp.horizon_days
GROUP BY horizon_days
""",
)
def kaplan_meier_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    haz = _at_risk(
        _censored_gaps(_order_days(load_table(spark, sf_dir, "orders")))
    )
    terms = haz.filter(F.col("n_obs") > 0).select(
        "dur", _ln_term_micro().alias("term_micro")
    )
    # unpartitioned window bound: DISTINCT-duration table (day-grain)
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.select(
        "dur", F.sum("term_micro").over(wc).cast("bigint").alias("ln_s_micro")
    )
    cp = _checkpoints(spark)
    return (
        cp.join(F.broadcast(cum), cum.dur <= cp.horizon_days, "left")
        .groupBy("horizon_days")
        .agg(
            (
                # min(): survival AT the horizon (largest dur <= horizon
                # on the strictly-decreasing cumulative log curve)
                F.coalesce(F.min("ln_s_micro"), F.lit(0)).cast("bigint") * -1
            ).alias("neg_ln_survival_micro")
        )
        .select(
            F.col("horizon_days").cast("bigint").alias("horizon_days"),
            "neg_ln_survival_micro",
        )
    )


# ---------------------------------------------------------------------------
# laspeyres_price_index
# ---------------------------------------------------------------------------


@register(
    "laspeyres_price_index",
    oracle="""
WITH py AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_partkey,
    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS rev_cents,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
base AS (
  SELECT l_partkey, rev_cents AS rev_b, qty AS qty_b
  FROM py WHERE yr = (SELECT min(yr) FROM py)
),
matched AS (
  SELECT yr,
    (py.rev_cents * qty_b) // py.qty AS num_term,
    rev_b AS den_term
  FROM py JOIN base ON py.l_partkey = base.l_partkey
)
SELECT yr,
  CAST(count(*) AS BIGINT) AS n_parts_matched,
  CAST(sum(num_term) AS BIGINT) AS num_cents,
  CAST(sum(den_term) AS BIGINT) AS den_cents,
  CAST(CAST(sum(num_term) AS HUGEINT) * 1000000
    // sum(den_term) AS BIGINT) AS laspeyres_ppm
FROM matched GROUP BY yr
""",
)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("yr"), "l_partkey"
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "rev_cents"
        ),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
    )
    base_yr = py.agg(F.min("yr").alias("b"))
    base = (
        py.crossJoin(F.broadcast(base_yr))
        .filter(F.col("yr") == F.col("b"))
        .select(
            "l_partkey",
            F.col("rev_cents").alias("rev_b"),
            F.col("qty").alias("qty_b"),
        )
    )
    matched = py.join(base, "l_partkey").select(
        "yr",
        F.expr("(rev_cents * qty_b) div qty").alias("num_term"),
        F.col("rev_b").alias("den_term"),
    )
    return matched.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts_matched"),
        F.sum("num_term").alias("num_cents"),
        F.sum("den_term").alias("den_cents"),
        F.expr(
            "CAST(CAST(sum(num_term) AS DECIMAL(38,0)) * 1000000"
            " DIV sum(den_term) AS BIGINT)"
        ).alias("laspeyres_ppm"),
    )


# ---------------------------------------------------------------------------
# cscore_checkerboard
# ---------------------------------------------------------------------------


@register(
    "cscore_checkerboard",
    oracle=f"""
WITH {ABUNDANCE_CTE},
st AS (
  SELECT DISTINCT sample_id, p_type
  FROM abundance JOIN part ON otu_id = p_partkey
),
marg AS (
  SELECT p_type, CAST(count(*) AS BIGINT) AS r FROM st GROUP BY p_type
),
both_c AS (
  SELECT a.p_type AS type_a, b.p_type AS type_b,
    CAST(count(*) AS BIGINT) AS s
  FROM st a JOIN st b
    ON a.sample_id = b.sample_id AND a.p_type < b.p_type
  GROUP BY a.p_type, b.p_type
),
pairs AS (
  SELECT ma.p_type AS type_a, mb.p_type AS type_b,
    (ma.r - coalesce(s, 0)) * (mb.r - coalesce(s, 0)) AS cscore
  FROM marg ma
  JOIN marg mb ON ma.p_type < mb.p_type
  LEFT JOIN both_c
    ON both_c.type_a = ma.p_type AND both_c.type_b = mb.p_type
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(cscore) AS BIGINT) AS sum_cscore,
  (CAST(sum(cscore) AS BIGINT) * 1000) // count(*) AS mean_cscore_milli,
  CAST(max(cscore) AS BIGINT) AS max_cscore
FROM pairs
""",
)
def cscore_checkerboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("otu_id"), "p_type"
    )
    st = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(part), "otu_id")
        .select("sample_id", "p_type")
        .distinct()
    )
    marg = st.groupBy("p_type").agg(F.count(F.lit(1)).alias("r"))
    a, b = st.alias("a"), st.alias("b")
    both_c = (
        a.join(
            b,
            (F.col("a.sample_id") == F.col("b.sample_id"))
            & (F.col("a.p_type") < F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("type_a"),
            F.col("b.p_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
    )
    ma = marg.select(F.col("p_type").alias("type_a"), F.col("r").alias("ra"))
    mb = marg.select(F.col("p_type").alias("type_b"), F.col("r").alias("rb"))
    # the type-pair frame is C(|types|,2) — a bounded broadcastable set
    pairs = (
        ma.crossJoin(F.broadcast(mb))
        .filter(F.col("type_a") < F.col("type_b"))
        .join(both_c, ["type_a", "type_b"], "left")
        .select(
            (
                (F.col("ra") - F.coalesce("s", F.lit(0)))
                * (F.col("rb") - F.coalesce("s", F.lit(0)))
            ).alias("cscore")
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("cscore").alias("sum_cscore"),
        F.expr("(sum(cscore) * 1000) div count(*)").alias(
            "mean_cscore_milli"
        ),
        F.max("cscore").alias("max_cscore"),
    )


# ---------------------------------------------------------------------------
# nelson_aalen_hazard — Nelson-Aalen cumulative-hazard estimator
# H(t) = sum_{t_i <= t} d_i / n_i over the same right-censored reorder
# gaps as kaplan_meier_order_gaps (reference: the reorder-interval
# analytics the KM page feeds; public muccg/bpaotu query.py abundance
# endpoints define the fact). Unlike KM's log-product, every hazard
# increment here is an EXACT integer rational d*1e6 // n — no float
# enters the pipeline at all, so the cumulative sum is hash-exact by
# construction.
#
# Scale shape: identical to KM — the only unpartitioned window runs
# over the DISTINCT-duration table (value-bounded: ~2.5k rows at any
# data size, gaps are day counts), never over the fact. Checkpoint
# lookup is a broadcast range join against 5 rows.
# ---------------------------------------------------------------------------


@register(
    "nelson_aalen_hazard",
    oracle=f"""
WITH {_AT_RISK_CTES},
terms AS (
  SELECT dur, (n_obs * 1000000) // at_risk AS term_ppm
  FROM haz WHERE n_obs > 0
),
cum AS (
  SELECT dur,
    CAST(sum(term_ppm) OVER (ORDER BY dur) AS BIGINT) AS cumhaz_ppm
  FROM terms
),
cp AS (SELECT unnest([{", ".join(str(c) for c in _KM_CHECKPOINTS)}]) AS horizon_days)
SELECT CAST(horizon_days AS BIGINT) AS horizon_days,
  -- cumhaz_ppm is strictly INCREASING, so hazard at the horizon =
  -- value at the largest dur <= horizon = max()
  CAST(coalesce(max(cumhaz_ppm), 0) AS BIGINT) AS cumhaz_ppm,
  CAST(count(cum.dur) AS BIGINT) AS n_event_durations
FROM cp LEFT JOIN cum ON cum.dur <= cp.horizon_days
GROUP BY horizon_days
""",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    haz = _at_risk(
        _censored_gaps(_order_days(load_table(spark, sf_dir, "orders")))
    )
    terms = haz.filter(F.col("n_obs") > 0).select(
        "dur",
        F.expr("(n_obs * 1000000) div at_risk").alias("term_ppm"),
    )
    # unpartitioned window bound: DISTINCT-duration table (day-grain)
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.select(
        "dur", F.sum("term_ppm").over(wc).cast("bigint").alias("cumhaz_ppm")
    )
    cp = _checkpoints(spark)
    return (
        cp.join(F.broadcast(cum), cum.dur <= cp.horizon_days, "left")
        .groupBy("horizon_days")
        .agg(
            F.coalesce(F.max("cumhaz_ppm"), F.lit(0))
            .cast("bigint")
            .alias("cumhaz_ppm"),
            F.count(cum.dur).cast("bigint").alias("n_event_durations"),
        )
        .select(
            F.col("horizon_days").cast("bigint").alias("horizon_days"),
            "cumhaz_ppm",
            "n_event_durations",
        )
    )


# ---------------------------------------------------------------------------
# logrank_reorder_test — two-group log-rank test (Mantel 1966 / Peto)
# on the customer reorder-gap survival data: does the BUILDING segment
# reorder on a different hazard schedule than MACHINERY? Same gap
# construction (right-censored at observation end) as
# kaplan_meier_order_gaps, grouped by segment. Per event time t:
# E₁ += d·n₁/n and V += d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1), each term a
# single float expression over exact integers FLOORED to micro before
# the sum (the engine-exact discipline); the χ² = (O₁−E₁)²/V statistic
# derives from the floored sums in one final float expression, milli.
# V is 0 when every event time has all its at-risk gaps ending there
# (one fixed reorder cadence): χ² is then NULL, as in the oracle.
#
# Scale shape: fact scan → per-(dur, group) counts; the at-risk
# cumulative runs over the DISTINCT-duration grid × 2 groups
# (day-count codomain), group-partitioned; one output row.
# ---------------------------------------------------------------------------

_LR_SEG_A, _LR_SEG_B = "BUILDING", "MACHINERY"


@register(
    "logrank_reorder_test",
    oracle=f"""
WITH {_segment_ctes(_LR_SEG_A, _LR_SEG_B)},
totg AS (SELECT grp, CAST(sum(n_all) AS BIGINT) AS tot FROM grid GROUP BY grp),
{_RISK_PERT_CTES},
terms AS (
  SELECT d1,
    CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * 1000000) AS BIGINT)
      AS e1_micro,
    CASE WHEN n_t > 1 THEN
      CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * (n_t - n1) / n_t
        * (n_t - d_t) / (n_t - 1) * 1000000) AS BIGINT)
    ELSE 0 END AS v_micro
  FROM pert WHERE d_t > 0
)
SELECT
  CAST(sum(d1) AS BIGINT) AS o1,
  CAST(sum(e1_micro) AS BIGINT) AS e1_micro,
  CAST(sum(v_micro) AS BIGINT) AS v_micro,
  CAST(floor(
    (CAST(sum(d1) AS DOUBLE) - CAST(sum(e1_micro) AS DOUBLE) / 1000000)
    * (CAST(sum(d1) AS DOUBLE) - CAST(sum(e1_micro) AS DOUBLE) / 1000000)
    / (CAST(sum(v_micro) AS DOUBLE) / 1000000) * 1000) AS BIGINT)
    AS chi2_milli
FROM terms
""",
)
def logrank_reorder_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank χ² over reorder-gap survival (one row)."""
    pert = _segment_risk(spark, sf_dir, _LR_SEG_A, _LR_SEG_B)
    terms = pert.filter(F.col("d_t") > 0).select(
        "d1",
        F.expr(
            "CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * 1000000) AS BIGINT)"
        ).alias("e1_micro"),
        F.expr(
            "CASE WHEN n_t > 1 THEN"
            " CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * (n_t - n1) / n_t"
            "   * (n_t - d_t) / (n_t - 1) * 1000000) AS BIGINT)"
            " ELSE 0 END"
        ).alias("v_micro"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_micro").cast("bigint").alias("e1_micro"),
        F.sum("v_micro").cast("bigint").alias("v_micro"),
    ).select(
        "o1",
        "e1_micro",
        "v_micro",
        F.expr(
            "CAST(floor(try_divide("
            " (CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE) / 1000000)"
            " * (CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE) / 1000000),"
            " CAST(v_micro AS DOUBLE) / 1000000) * 1000) AS BIGINT)"
        ).alias("chi2_milli"),
    )


# ---------------------------------------------------------------------------
# weibull_rank_regression — parametric survival fit over the OBSERVED
# reorder gaps: median-rank regression (Benard's approximation
# F_i = (i − 0.3)/(n + 0.4)) linearizes Weibull as
# ln(−ln(1−F)) = k·ln(t) − k·ln(λ); weighted OLS over the distinct-
# duration table gives shape k and scale λ in closed form — the
# parametric companion to the nonparametric KM/Nelson-Aalen rows
# (k < 1 ⇒ reorder hazard decreases with gap length). Average ranks
# for tied durations in HALVES (exact), so F is the exact rational
# (5·i_x2 − 3)/(10n + 4); x and y are single float expressions over
# exact integers FLOORED to micro before the weighted sums (128-bit:
# micro² products overflow int64 at corpus scale); k and λ derive
# from the floored sums in one final expression each.
#
# Scale shape: one duration-count aggregation + one value-bounded
# cumulative window + a 1-row weighted-moment rollup.
# ---------------------------------------------------------------------------


@register(
    "weibull_rank_regression",
    oracle=f"""
WITH {_RANK_CTES},
xy AS (
  SELECT cnt,
    CAST(floor(ln(CAST(dur AS DOUBLE)) * 1000000) AS BIGINT) AS x,
    CAST(floor(ln(-ln(1.0 - CAST(5 * i_x2 - 3 AS DOUBLE) / (10 * n + 4)))
      * 1000000) AS BIGINT) AS y
  FROM rk, nn
),
mo AS (
  SELECT CAST(sum(cnt) AS HUGEINT) AS w,
    CAST(sum(CAST(cnt AS HUGEINT) * x) AS HUGEINT) AS sx,
    CAST(sum(CAST(cnt AS HUGEINT) * y) AS HUGEINT) AS sy,
    CAST(sum(CAST(cnt AS HUGEINT) * x * y) AS HUGEINT) AS sxy,
    CAST(sum(CAST(cnt AS HUGEINT) * x * x) AS HUGEINT) AS sxx
  FROM xy
)
SELECT CAST(w AS BIGINT) AS n_gaps,
  CAST(floor(CAST(w * sxy - sx * sy AS DOUBLE)
    / CAST(w * sxx - sx * sx AS DOUBLE) * 1000) AS BIGINT) AS shape_milli,
  CAST(floor(exp((CAST(sx AS DOUBLE) / CAST(w AS DOUBLE)
    - (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))
      / (CAST(w * sxy - sx * sy AS DOUBLE)
         / CAST(w * sxx - sx * sx AS DOUBLE))) / 1000000)
    * 1000) AS BIGINT) AS scale_days_milli
FROM mo
""",
)
def weibull_rank_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale (milli) via Benard median-rank regression."""
    return _rank_fit(
        spark,
        sf_dir,
        F.expr(
            "CAST(floor(ln(-ln(1.0 - CAST(5 * i_x2 - 3 AS DOUBLE)"
            " / (10 * n + 4))) * 1000000) AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# competing_risks_cif — Aalen-Johansen cumulative incidence on the
# reorder-gap grid with two competing causes: the NEXT order is
# urgent (priority 1-2) vs routine (3-5). Unlike 1 − KM-per-cause
# (which over-counts when risks compete), CIF_k(t) =
# Σ_{s≤t} S(s−)·d_k(s)/n(s) uses the ALL-CAUSE survival S(s−).
#
# Determinism: S(s−) comes from the exact integer cumulative of
# micro-floored all-cause ln terms (the kaplan_meier idiom); each
# cause's increment is ONE float expression over (ln_before exact
# int, d_k, n exact ints), floored to micro BEFORE the cumulative
# sum, so both engines aggregate integers.
#
# Scale shape: identical to kaplan_meier_order_gaps — per-customer
# lead() window on the fact, then everything runs on the
# DISTINCT-duration grid (day-count codomain, ≤ ~2,600 rows;
# unpartitioned windows bounded by that grid).
# ---------------------------------------------------------------------------

_CIF_URGENT = ("1-URGENT", "2-HIGH")


@register(
    "competing_risks_cif",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
    o_orderpriority
  FROM orders
),
mx AS (SELECT max(d) AS obs_end FROM o),
g AS (
  SELECT o_custkey,
    date_diff('day', d,
      lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey))
      AS dur,
    lead(o_orderpriority) OVER (PARTITION BY o_custkey
      ORDER BY d, o_orderkey) AS next_prio,
    d
  FROM o
),
gaps AS (
  SELECT CASE WHEN next_prio IS NOT NULL THEN dur
              ELSE date_diff('day', d, obs_end) END AS dur,
    next_prio IS NOT NULL AS observed,
    CASE WHEN next_prio IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
      AS is_urgent
  FROM g, mx
  WHERE next_prio IS NOT NULL OR date_diff('day', d, obs_end) > 0
),
dc AS (
  SELECT CAST(dur AS BIGINT) AS dur,
    CAST(count(*) AS BIGINT) AS n_all,
    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
    CAST(sum(CASE WHEN observed AND is_urgent = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS d_u
  FROM gaps GROUP BY dur
),
tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS n_total FROM dc),
haz AS (
  SELECT dur, n_obs, d_u,
    n_total - CAST(coalesce(sum(n_all) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS at_risk
  FROM dc, tot
),
ev AS (
  SELECT dur, n_obs, d_u, at_risk,
    CAST(floor(ln(greatest(1.0 - n_obs * 1.0 / at_risk, 1e-9)) * 1000000)
      AS BIGINT) AS term_micro
  FROM haz WHERE n_obs > 0
),
lnb AS (
  SELECT dur, n_obs, d_u, at_risk,
    CAST(coalesce(sum(term_micro) OVER (ORDER BY dur
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS ln_before_micro
  FROM ev
),
inc AS (
  SELECT dur, cause, d_k, at_risk, ln_before_micro,
    CAST(floor(exp(CAST(ln_before_micro AS DOUBLE) / 1000000.0)
      * CAST(d_k AS DOUBLE) / CAST(at_risk AS DOUBLE) * 1000000)
      AS BIGINT) AS inc_micro
  FROM (
    SELECT dur, 'urgent' AS cause, d_u AS d_k, at_risk, ln_before_micro
    FROM lnb WHERE d_u > 0
    UNION ALL
    SELECT dur, 'routine' AS cause, n_obs - d_u AS d_k, at_risk,
      ln_before_micro
    FROM lnb WHERE n_obs - d_u > 0
  )
),
cp AS (SELECT unnest([{", ".join(str(c) for c in _KM_CHECKPOINTS)}])
  AS horizon_days)
SELECT c.cause AS cause, CAST(horizon_days AS BIGINT) AS horizon_days,
  CAST(coalesce(sum(inc_micro) FILTER (WHERE dur <= horizon_days), 0)
    AS BIGINT) AS cif_micro
FROM cp CROSS JOIN (SELECT DISTINCT cause FROM inc) c
LEFT JOIN inc ON inc.cause = c.cause AND inc.dur <= cp.horizon_days
GROUP BY c.cause, horizon_days
ORDER BY cause, horizon_days
""",
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen CIF (micro) for urgent-vs-routine next orders."""
    o = _order_days(load_table(spark, sf_dir, "orders"), "o_orderpriority")
    gaps = _censored_gaps(
        o, next_of=("o_orderpriority", "next_prio")
    ).select(
        "dur",
        "observed",
        F.when(F.col("next_prio").isin(*_CIF_URGENT), 1)
        .otherwise(0)
        .alias("is_urgent"),
    )
    haz = _at_risk(
        gaps,
        d_u=F.sum(
            F.when(F.col("observed") & (F.col("is_urgent") == 1), 1)
            .otherwise(0)
        ),
    )
    ev = haz.filter(F.col("n_obs") > 0).withColumn(
        "term_micro", _ln_term_micro()
    )
    # unpartitioned window bound: DISTINCT-duration grid (day-count
    # codomain, <= ~2,600 rows), never the fact
    wv = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    lnb = ev.select(
        "dur",
        "n_obs",
        "d_u",
        "at_risk",
        F.coalesce(F.sum("term_micro").over(wv), F.lit(0))
        .cast("bigint")
        .alias("ln_before_micro"),
    )
    inc_u = lnb.filter(F.col("d_u") > 0).select(
        "dur",
        F.lit("urgent").alias("cause"),
        F.col("d_u").alias("d_k"),
        "at_risk",
        "ln_before_micro",
    )
    inc_r = lnb.filter(F.col("n_obs") - F.col("d_u") > 0).select(
        "dur",
        F.lit("routine").alias("cause"),
        (F.col("n_obs") - F.col("d_u")).alias("d_k"),
        "at_risk",
        "ln_before_micro",
    )
    inc = inc_u.unionByName(inc_r).withColumn(
        "inc_micro",
        F.expr(
            "CAST(floor(exp(CAST(ln_before_micro AS DOUBLE) / 1000000.0)"
            " * CAST(d_k AS DOUBLE) / CAST(at_risk AS DOUBLE) * 1000000)"
            " AS BIGINT)"
        ),
    )
    causes = inc.select("cause").distinct()
    grid = _checkpoints(spark).crossJoin(F.broadcast(causes))
    return (
        grid.join(
            F.broadcast(inc.select(F.col("cause").alias("cause_i"), "dur", "inc_micro")),
            (F.col("cause_i") == F.col("cause"))
            & (F.col("dur") <= F.col("horizon_days")),
            "left",
        )
        .groupBy("cause", "horizon_days")
        .agg(
            F.coalesce(F.sum("inc_micro"), F.lit(0))
            .cast("bigint")
            .alias("cif_micro")
        )
        .select(
            "cause",
            F.col("horizon_days").cast("bigint").alias("horizon_days"),
            "cif_micro",
        )
        .orderBy("cause", "horizon_days")
    )


# ---------------------------------------------------------------------------
# restricted_mean_survival — area under the Kaplan-Meier reorder
# survival curve up to horizons 30/90/365 days, in micro-day units:
# the "expected days until reorder, capped at τ" number a retention
# team actually budgets with (the full mean is undefined under
# censoring; RMST is the standard restricted substitute).
#
# Construction: identical event/censor convention and floored-micro
# hazard terms as kaplan_meier_order_gaps; the step function
# S(t) = exp(ln_s_micro/10⁶) is integrated exactly over its own
# breakpoints: each segment contributes
# floor(exp(ls/10⁶)·10⁶) · clamp(segment ∩ [0, τ)) micro-days, summed
# as exact integers. A synthetic (dur=0, term=0) breakpoint anchors
# S=1 before the first event; GROUP BY dur absorbs a real dur=0 (two
# same-day orders) into that anchor. exp() is the same 1-ulp risk
# class as the repo's floored-ln convention (accepted 8 rounds).
#
# Scale shape: everything after the per-customer lead window runs on
# the DISTINCT-duration table (day-count codomain, ≤ ~2.6k rows at any
# SF); the horizons cross join is 3 × that.
# ---------------------------------------------------------------------------

_RMST_HORIZONS = (30, 90, 365)


@register(
    "restricted_mean_survival",
    oracle=f"""
WITH {_AT_RISK_CTES},
terms AS (
  SELECT dur,
    CAST(floor(ln(greatest(1.0 - n_obs * 1.0 / at_risk, 1e-9)) * 1000000)
      AS BIGINT) AS term_micro
  FROM haz WHERE n_obs > 0
),
pts AS (
  SELECT CAST(0 AS BIGINT) AS dur, CAST(0 AS BIGINT) AS term
  UNION ALL
  SELECT dur, term_micro FROM terms
),
agg AS (
  SELECT dur, CAST(sum(term) AS BIGINT) AS term FROM pts GROUP BY dur
),
c AS (
  SELECT dur,
    CAST(sum(term) OVER (ORDER BY dur) AS BIGINT) AS ls,
    lead(dur) OVER (ORDER BY dur) AS nxt
  FROM agg
),
hz AS (SELECT CAST(unnest([{", ".join(str(h) for h in _RMST_HORIZONS)}])
  AS BIGINT) AS horizon_days),
seg AS (
  SELECT horizon_days,
    CAST(floor(exp(CAST(ls AS DOUBLE) / 1000000) * 1000000) AS BIGINT)
      * greatest(least(coalesce(nxt, horizon_days), horizon_days) - dur,
                 0) AS contrib
  FROM c CROSS JOIN hz
)
SELECT horizon_days,
  CAST(sum(contrib) AS BIGINT) AS rmst_micro_days
FROM seg GROUP BY horizon_days ORDER BY horizon_days
""",
)
def restricted_mean_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RMST of the reorder-gap KM curve at 30/90/365-day horizons
    (micro-days; exact stepwise integral of the floored-micro
    survival curve)."""
    haz = _at_risk(
        _censored_gaps(_order_days(load_table(spark, sf_dir, "orders")))
    )
    terms = haz.filter(F.col("n_obs") > 0).select(
        "dur", _ln_term_micro().alias("term")
    )
    pts = spark.range(1).select(
        F.lit(0).cast("bigint").alias("dur"),
        F.lit(0).cast("bigint").alias("term"),
    ).unionByName(terms)
    agg = pts.groupBy("dur").agg(F.sum("term").cast("bigint").alias("term"))
    # unpartitioned window bound: distinct-duration table (see above)
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("dur")
    c = agg.select(
        "dur",
        F.sum("term").over(wc).cast("bigint").alias("ls"),
        F.lead("dur").over(wl).alias("nxt"),
    )
    hz = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(h).cast("bigint") for h in _RMST_HORIZONS])
        ).alias("horizon_days")
    )
    seg = c.crossJoin(F.broadcast(hz)).select(
        "horizon_days",
        (
            F.expr(
                "CAST(floor(exp(CAST(ls AS DOUBLE) / 1000000) * 1000000)"
                " AS BIGINT)"
            )
            * F.expr(
                "greatest(least(coalesce(nxt, horizon_days),"
                " horizon_days) - dur, 0)"
            )
        ).alias("contrib"),
    )
    return (
        seg.groupBy("horizon_days")
        .agg(F.sum("contrib").cast("bigint").alias("rmst_micro_days"))
        .orderBy("horizon_days")
    )


# ---------------------------------------------------------------------------
# hazard_ratio_segments — Mantel-Haenszel-style hazard ratio between
# the HOUSEHOLD and FURNITURE reorder-gap survival curves: the EFFECT
# SIZE companion to logrank_reorder_test's χ² (same gap/censor
# construction, different segment pair). HR = (O₁/E₁)/(O₂/E₂) with the
# per-time expected counts floored to micro before summing (the
# logrank discipline), so HR_milli = O₁·E₂·1000 div (O₂·E₁) is exact
# integer arithmetic over the floored sums.
# Scale shape: identical to logrank — per-(dur, group) counts, a
# group-partitioned cumulative over the distinct-duration grid, one
# output row.
# ---------------------------------------------------------------------------

_HR_SEG_A = "HOUSEHOLD"
_HR_SEG_B = "FURNITURE"


@register(
    "hazard_ratio_segments",
    oracle=f"""
WITH {_segment_ctes(_HR_SEG_A, _HR_SEG_B)},
totg AS (SELECT grp, CAST(sum(n_all) AS BIGINT) AS tot FROM grid
         GROUP BY grp),
{_RISK_PERT_CTES},
terms AS (
  SELECT d1, d_t - d1 AS d2,
    CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * 1000000) AS BIGINT)
      AS e1_micro,
    CAST(floor(CAST(d_t AS DOUBLE) * (n_t - n1) / n_t * 1000000)
      AS BIGINT) AS e2_micro
  FROM pert WHERE d_t > 0
)
SELECT
  CAST(sum(d1) AS BIGINT) AS o1,
  CAST(sum(d2) AS BIGINT) AS o2,
  CAST(sum(e1_micro) AS BIGINT) AS e1_micro,
  CAST(sum(e2_micro) AS BIGINT) AS e2_micro,
  CAST(CASE WHEN CAST(sum(d2) AS HUGEINT) * sum(e1_micro) = 0 THEN NULL
       ELSE CAST(sum(d1) AS HUGEINT) * sum(e2_micro) * 1000
            // (CAST(sum(d2) AS HUGEINT) * sum(e1_micro)) END AS BIGINT)
    AS hr_milli
FROM terms
""",
)
def hazard_ratio_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hazard ratio (milli) between HOUSEHOLD and FURNITURE reorder
    hazards: HR = (O₁/E₁)/(O₂/E₂) over floored-micro expected
    counts."""
    pert = _segment_risk(spark, sf_dir, _HR_SEG_A, _HR_SEG_B)
    terms = pert.filter("d_t > 0").select(
        "d1",
        F.expr("d_t - d1").alias("d2"),
        F.expr(
            "CAST(floor(CAST(d_t AS DOUBLE) * n1 / n_t * 1000000)"
            " AS BIGINT)"
        ).alias("e1_micro"),
        F.expr(
            "CAST(floor(CAST(d_t AS DOUBLE) * (n_t - n1) / n_t"
            " * 1000000) AS BIGINT)"
        ).alias("e2_micro"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("d2").cast("bigint").alias("o2"),
        F.sum("e1_micro").cast("bigint").alias("e1_micro"),
        F.sum("e2_micro").cast("bigint").alias("e2_micro"),
        # a cohort where group 2 has no deaths (or e1 floors to 0)
        # must yield a defined NULL, not a divide-by-zero / ANSI error
        F.expr(
            "CAST(CASE WHEN CAST(sum(d2) AS DECIMAL(38,0))"
            " * sum(e1_micro) = 0 THEN NULL"
            " ELSE CAST(sum(d1) AS DECIMAL(38,0)) * sum(e2_micro) * 1000"
            " div (CAST(sum(d2) AS DECIMAL(38,0)) * sum(e1_micro))"
            " END AS BIGINT)"
        ).alias("hr_milli"),
    )


# ---------------------------------------------------------------------------
# loglogistic_rank_regression — the log-logistic AFT companion to
# weibull_rank_regression over the same reorder-gap durations: the
# logit linearization ln(F/(1−F)) = β·ln(t) − β·ln(α) (vs Weibull's
# cloglog), same Benard median ranks F_i = (i−0.3)/(n+0.4) with exact
# halved tie-averaging, same weighted OLS in floored micro units.
# Adds weighted r² (ppm) so the two AFT families can be SELECTED
# between: the better linearization for this data wins — the model-
# choice step a parametric survival analysis actually performs.
#
# Scale shape: identical to the Weibull twin — one duration-count
# aggregation, one value-bounded cumulative window, one 1-row
# weighted-moment rollup (now carrying syy for r²).
# ---------------------------------------------------------------------------


@register(
    "loglogistic_rank_regression",
    oracle=f"""
WITH {_RANK_CTES},
xy AS (
  SELECT cnt,
    CAST(floor(ln(CAST(dur AS DOUBLE)) * 1000000) AS BIGINT) AS x,
    CAST(floor(ln((CAST(5 * i_x2 - 3 AS DOUBLE) / (10 * n + 4))
      / (1.0 - CAST(5 * i_x2 - 3 AS DOUBLE) / (10 * n + 4)))
      * 1000000) AS BIGINT) AS y
  FROM rk, nn
),
mo AS (
  SELECT CAST(sum(cnt) AS HUGEINT) AS w,
    CAST(sum(CAST(cnt AS HUGEINT) * x) AS HUGEINT) AS sx,
    CAST(sum(CAST(cnt AS HUGEINT) * y) AS HUGEINT) AS sy,
    CAST(sum(CAST(cnt AS HUGEINT) * x * y) AS HUGEINT) AS sxy,
    CAST(sum(CAST(cnt AS HUGEINT) * x * x) AS HUGEINT) AS sxx,
    CAST(sum(CAST(cnt AS HUGEINT) * y * y) AS HUGEINT) AS syy
  FROM xy
)
SELECT CAST(w AS BIGINT) AS n_gaps,
  CAST(floor(CAST(w * sxy - sx * sy AS DOUBLE)
    / CAST(w * sxx - sx * sx AS DOUBLE) * 1000) AS BIGINT) AS shape_milli,
  CAST(floor(exp((CAST(sx AS DOUBLE) / CAST(w AS DOUBLE)
    - (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))
      / (CAST(w * sxy - sx * sy AS DOUBLE)
         / CAST(w * sxx - sx * sx AS DOUBLE))) / 1000000)
    * 1000) AS BIGINT) AS scale_days_milli,
  CAST(floor(CAST(w * sxy - sx * sy AS DOUBLE)
    * CAST(w * sxy - sx * sy AS DOUBLE)
    / (CAST(w * sxx - sx * sx AS DOUBLE)
       * CAST(w * syy - sy * sy AS DOUBLE)) * 1000000) AS BIGINT)
    AS r2_ppm
FROM mo
""",
)
def loglogistic_rank_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-logistic AFT shape/scale (milli) + weighted r² (ppm) via
    logit median-rank regression over reorder gaps."""
    return _rank_fit(
        spark,
        sf_dir,
        F.expr(
            "CAST(floor(ln((CAST(5 * i_x2 - 3 AS DOUBLE) / (10 * n + 4))"
            " / (1.0 - CAST(5 * i_x2 - 3 AS DOUBLE) / (10 * n + 4)))"
            " * 1000000) AS BIGINT)"
        ),
        F.expr(
            "CAST(floor(try_divide(CAST(w * sxy - sx * sy AS DOUBLE)"
            " * CAST(w * sxy - sx * sy AS DOUBLE),"
            " CAST(w * sxx - sx * sx AS DOUBLE)"
            "    * CAST(w * syy - sy * sy AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("r2_ppm"),
    )
