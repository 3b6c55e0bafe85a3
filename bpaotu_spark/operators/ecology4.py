"""Round-8 ecology additions: Kulczynski beta, incidence-based
richness, rank-abundance turnover.

* ``beta_diversity_kulczynski`` — the abundance-weighted Kulczynski
  dissimilarity (1 − ½(W/A + W/B)), the comparison-page metric that
  averages the two directional overlap shares instead of pooling them
  (Bray-Curtis pools) — sensitive to size-asymmetric sample pairs.
* ``chao2_incidence`` — incidence-based richness: presence/absence
  across SITES (nations) instead of abundance within samples — the
  survey-design twin of chao1 (Chao 1987), bias-corrected form so
  Q2 = 0 stays defined.
* ``otu_rank_shift`` — rank-abundance turnover between two fixed
  years: Spearman footrule distance over the union of each year's
  top-K OTUs (absent rank = K+1) — the "did the community reorder"
  summary behind rank-abundance curve overlays.

Determinism: all-integer counts and ranks (row_number with id
tie-breaks); single float expression only in chao2's correction term.

Scale shape: kulczynski is the nation-blocked bounded pair former
(sorensen/braycurtis idiom, never all-pairs); chao2 is two keyed
censuses; rank_shift's per-year top-K runs through WindowGroupLimit
(rank ≤ K pushes the cut into partial per-partition top-K — no
global sort of the OTU axis).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance, abundance_selected
from bpaotu_spark.registry import register

_KUL_SEL = "c_mktsegment = 'HOUSEHOLD'"


@register(
    "beta_diversity_kulczynski",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_KUL_SEL}
),
a AS (
  SELECT ab.sample_id, block, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
tot AS (
  SELECT sample_id, block, CAST(sum(c) AS BIGINT) AS tot
  FROM a GROUP BY sample_id, block
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS w
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT ta.sample_id AS sample_a, tb.sample_id AS sample_b,
  coalesce(s.w, 0) AS sum_min,
  1000000 - ((coalesce(s.w, 0) * 1000000 // ta.tot)
           + (coalesce(s.w, 0) * 1000000 // tb.tot)) // 2
    AS kulczynski_ppm
FROM tot ta
JOIN tot tb ON ta.block = tb.block AND ta.sample_id < tb.sample_id
LEFT JOIN shared s
  ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
""",
)
def beta_diversity_kulczynski(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Kulczynski dissimilarity ppm, nation-blocked. W ≤
    min(A, B) so both directional shares are ≤ 1e6 exactly; truncating
    div on nonnegative integers agrees across engines."""
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_KUL_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .groupBy("sample_id", "block", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    tot = a.groupBy("sample_id", "block").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    ax = a.select(
        "block", "otu_id", F.col("sample_id").alias("sample_a"),
        F.col("c").alias("ca"),
    )
    ay = a.select(
        F.col("block").alias("block_y"),
        F.col("otu_id").alias("otu_y"),
        F.col("sample_id").alias("sample_b"),
        F.col("c").alias("cb"),
    )
    shared = (
        ax.join(
            ay,
            (ax.otu_id == ay.otu_y)
            & (ax.block == ay.block_y)
            & (ax.sample_a < ay.sample_b),
        )
        .groupBy("sample_a", "sample_b")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("w"))
    )
    ta = tot.select(
        F.col("sample_id").alias("sample_a"),
        F.col("block"),
        F.col("tot").alias("tot_a"),
    )
    tb = tot.select(
        F.col("sample_id").alias("sample_b"),
        F.col("block").alias("block_b"),
        F.col("tot").alias("tot_b"),
    )
    return (
        ta.join(
            tb,
            (ta.block == tb.block_b) & (ta.sample_a < tb.sample_b),
        )
        .join(shared, ["sample_a", "sample_b"], "left")
        .select(
            "sample_a",
            "sample_b",
            F.coalesce(F.col("w"), F.lit(0)).cast("bigint").alias("sum_min"),
            F.expr(
                "1000000 - ((coalesce(w, CAST(0 AS BIGINT)) * 1000000"
                " div tot_a)"
                " + (coalesce(w, CAST(0 AS BIGINT)) * 1000000 div tot_b))"
                " div 2"
            ).alias("kulczynski_ppm"),
        )
    )


@register(
    "chao2_incidence",
    oracle=f"""
WITH {ABUNDANCE_CTE},
site AS (
  SELECT c_custkey AS sample_id, c_nationkey AS site_id FROM customer
),
inc AS (
  SELECT DISTINCT otu_id, site_id
  FROM abundance ab JOIN site ON ab.sample_id = site.sample_id
),
q AS (
  SELECT otu_id, CAST(count(*) AS BIGINT) AS n_sites
  FROM inc GROUP BY otu_id
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS s_obs,
    CAST(count(*) FILTER (WHERE n_sites = 1) AS BIGINT) AS q1,
    CAST(count(*) FILTER (WHERE n_sites = 2) AS BIGINT) AS q2
  FROM q
),
m AS (SELECT CAST(count(DISTINCT site_id) AS BIGINT) AS m_sites FROM inc)
SELECT s_obs, q1, q2, m_sites,
  CAST(floor((CAST(s_obs AS DOUBLE)
    + (CAST(m_sites - 1 AS DOUBLE) / m_sites)
      * (CAST(q1 AS DOUBLE) * (q1 - 1)) / (2.0 * (q2 + 1))) * 1000)
    AS BIGINT) AS chao2_milli
FROM st CROSS JOIN m
""",
)
def chao2_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Chao2 incidence richness across nation sites."""
    site = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("site_id"),
    )
    inc = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(site), "sample_id")
        .select("otu_id", "site_id")
        .distinct()
    )
    q = inc.groupBy("otu_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sites")
    )
    st = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("n_sites") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("n_sites") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("q2"),
    )
    m = inc.agg(
        F.countDistinct("site_id").cast("bigint").alias("m_sites")
    )
    return st.crossJoin(F.broadcast(m)).select(
        "s_obs",
        "q1",
        "q2",
        "m_sites",
        F.expr(
            "CAST(floor((CAST(s_obs AS DOUBLE)"
            " + (CAST(m_sites - 1 AS DOUBLE) / m_sites)"
            "   * (CAST(q1 AS DOUBLE) * (q1 - 1)) / (2.0 * (q2 + 1)))"
            " * 1000) AS BIGINT)"
        ).alias("chao2_milli"),
    )


_RS_YEAR_A, _RS_YEAR_B, _RS_K = 1995, 1996, 200


@register(
    "otu_rank_shift",
    oracle=f"""
WITH yab AS (
  SELECT extract(year FROM o_orderdate) AS yr, l_partkey AS otu_id,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE extract(year FROM o_orderdate) IN ({_RS_YEAR_A}, {_RS_YEAR_B})
  GROUP BY 1, 2
),
rk AS (
  SELECT yr, otu_id,
    CAST(row_number() OVER (PARTITION BY yr
      ORDER BY tot DESC, otu_id ASC) AS BIGINT) AS rnk
  FROM yab
  QUALIFY rnk <= {_RS_K}
),
u AS (
  SELECT coalesce(a.otu_id, b.otu_id) AS otu_id,
    coalesce(a.rnk, {_RS_K} + 1) AS rank_a,
    coalesce(b.rnk, {_RS_K} + 1) AS rank_b
  FROM (SELECT otu_id, rnk FROM rk WHERE yr = {_RS_YEAR_A}) a
  FULL OUTER JOIN (SELECT otu_id, rnk FROM rk WHERE yr = {_RS_YEAR_B}) b
    ON a.otu_id = b.otu_id
)
SELECT CAST(count(*) AS BIGINT) AS n_union,
  CAST(count(*) FILTER (WHERE rank_a <= {_RS_K} AND rank_b <= {_RS_K})
    AS BIGINT) AS n_common,
  CAST(sum(abs(rank_a - rank_b)) AS BIGINT) AS footrule,
  CAST(sum(abs(rank_a - rank_b)) * 1000000
    // (count(*) * ({_RS_K} + 1)) AS BIGINT) AS shift_ppm
FROM u
""",
)
def otu_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman-footrule rank turnover between the two years' top-K
    OTUs (absent rank = K+1); the rank window is a per-year top-K cut
    (WindowGroupLimit pushes it to partial per-partition heaps)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("otu_id"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.col("o_orderdate")).alias("yr")
    ).filter(F.col("yr").isin(_RS_YEAR_A, _RS_YEAR_B))
    yab = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("yr", "otu_id")
        .agg(F.sum("qty").cast("bigint").alias("tot"))
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("tot").desc(), F.col("otu_id").asc()
    )
    rk = (
        yab.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _RS_K)
    )
    a = rk.filter(F.col("yr") == _RS_YEAR_A).select(
        "otu_id", F.col("rnk").alias("rank_a")
    )
    b = rk.filter(F.col("yr") == _RS_YEAR_B).select(
        F.col("otu_id").alias("otu_b"), F.col("rnk").alias("rank_b")
    )
    u = a.join(b, a.otu_id == b.otu_b, "full_outer").select(
        F.coalesce(F.col("rank_a"), F.lit(_RS_K + 1)).alias("rank_a"),
        F.coalesce(F.col("rank_b"), F.lit(_RS_K + 1)).alias("rank_b"),
    )
    return u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
        F.sum(
            F.when(
                (F.col("rank_a") <= _RS_K) & (F.col("rank_b") <= _RS_K), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_common"),
        F.sum(F.abs(F.col("rank_a") - F.col("rank_b")))
        .cast("bigint")
        .alias("footrule"),
        F.expr(
            f"CAST(sum(abs(rank_a - rank_b)) * 1000000"
            f" div (count(*) * ({_RS_K} + 1)) AS BIGINT)"
        ).alias("shift_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-8 batch 2: Ochiai beta + Good's coverage.
# ---------------------------------------------------------------------------

_OCH_SEL = "c_mktsegment = 'AUTOMOBILE'"


@register(
    "beta_diversity_ochiai",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_OCH_SEL}
),
a AS (
  SELECT DISTINCT ab.sample_id, block, otu_id
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
),
rich AS (
  SELECT sample_id, block, CAST(count(*) AS BIGINT) AS r
  FROM a GROUP BY sample_id, block
),
inter AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT ra.sample_id AS sample_a, rb.sample_id AS sample_b,
  coalesce(i.n_inter, 0) AS n_intersect,
  CAST(1000000 - floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE) * 1000000
    / sqrt(CAST(ra.r AS DOUBLE) * rb.r)) AS BIGINT) AS ochiai_ppm
FROM rich ra
JOIN rich rb ON ra.block = rb.block AND ra.sample_id < rb.sample_id
LEFT JOIN inter i ON i.sample_a = ra.sample_id AND i.sample_b = rb.sample_id
""",
)
def beta_diversity_ochiai(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Ochiai dissimilarity ppm (1 − |A∩B|/√(|A||B|)),
    nation-blocked; one float sqrt expression, identical operand
    integers in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_OCH_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .select("sample_id", "block", "otu_id")
        .distinct()
    )
    rich = a.groupBy("sample_id", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    ax = a.select("block", "otu_id", F.col("sample_id").alias("sample_a"))
    ay = a.select(
        F.col("block").alias("block_y"),
        F.col("otu_id").alias("otu_y"),
        F.col("sample_id").alias("sample_b"),
    )
    inter = (
        ax.join(
            ay,
            (ax.otu_id == ay.otu_y)
            & (ax.block == ay.block_y)
            & (ax.sample_a < ay.sample_b),
        )
        .groupBy("sample_a", "sample_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    ra = rich.select(
        F.col("sample_id").alias("sample_a"),
        "block",
        F.col("r").alias("r_a"),
    )
    rb = rich.select(
        F.col("sample_id").alias("sample_b"),
        F.col("block").alias("block_b"),
        F.col("r").alias("r_b"),
    )
    return (
        ra.join(rb, (ra.block == rb.block_b) & (ra.sample_a < rb.sample_b))
        .join(inter, ["sample_a", "sample_b"], "left")
        .select(
            "sample_a",
            "sample_b",
            F.coalesce(F.col("n_inter"), F.lit(0))
            .cast("bigint")
            .alias("n_intersect"),
            F.expr(
                "CAST(1000000 - floor(CAST(coalesce(n_inter,"
                " CAST(0 AS BIGINT)) AS DOUBLE) * 1000000"
                " / sqrt(CAST(r_a AS DOUBLE) * r_b)) AS BIGINT)"
            ).alias("ochiai_ppm"),
        )
    )


@register(
    "sample_coverage_goods",
    oracle=f"""
WITH {ABUNDANCE_CTE},
a AS (
  SELECT sample_id, otu_id, CAST(sum(CAST(cnt AS BIGINT)) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
),
s AS (
  SELECT sample_id,
    CAST(sum(c) AS BIGINT) AS n_units,
    CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1
  FROM a GROUP BY sample_id
),
cov AS (
  SELECT sample_id, n_units, f1,
    1000000 - f1 * 1000000 // n_units AS c_ppm
  FROM s
)
SELECT least(c_ppm // 100000, 9) AS coverage_band,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(sum(f1) AS BIGINT) AS n_singletons,
  CAST(sum(n_units) AS BIGINT) AS n_units,
  CAST(sum(c_ppm) // count(*) AS BIGINT) AS mean_c_ppm
FROM cov GROUP BY coverage_band ORDER BY coverage_band
""",
)
def sample_coverage_goods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good's sample-coverage estimate C = 1 − F1/N per sample
    (singleton share), censused by coverage band — the 'have we
    sequenced deep enough' gate next to the rarefaction rows."""
    a = (
        abundance(spark, sf_dir)
        .groupBy("sample_id", "otu_id")
        .agg(F.sum(F.col("cnt").cast("bigint")).cast("bigint").alias("c"))
    )
    s = a.groupBy("sample_id").agg(
        F.sum("c").cast("bigint").alias("n_units"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
    )
    cov = s.select(
        "n_units",
        "f1",
        F.expr(
            "1000000 - f1 * CAST(1000000 AS BIGINT) div n_units"
        ).alias("c_ppm"),
    )
    return (
        cov.groupBy(
            F.expr("least(c_ppm div 100000, CAST(9 AS BIGINT))").alias(
                "coverage_band"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("f1").cast("bigint").alias("n_singletons"),
            F.sum("n_units").cast("bigint").alias("n_units"),
            F.expr("CAST(sum(c_ppm) div count(*) AS BIGINT)").alias(
                "mean_c_ppm"
            ),
        )
        .orderBy("coverage_band")
    )
