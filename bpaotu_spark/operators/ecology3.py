"""Diversity-menu parity operators, round 7 (bpaotu's domain).

The reference's comparison page offers a MENU of dissimilarity and
diversity statistics over the same abundance fact (reference:
bpaotu/otu/views.py ComparisonView + the scipy.spatial.distance /
skbio.diversity menus its frontend exposes). This module fills four
menu rows the earlier families left open:

* ``beta_diversity_sorensen`` — presence/absence Dice-Sørensen
  dissimilarity, the Jaccard sibling that double-weights agreement.
* ``gamma_diversity_partition`` — MacArthur/Jost additive Shannon
  partition per nation block: gamma (pooled), size-weighted mean
  alpha, and beta = gamma − alpha-bar.
* ``otu_endemism`` — per-nation endemic OTU census (the "found
  nowhere else" biogeography panel).
* ``berger_parker_dominance`` — Berger-Parker d = c_max/N plus the
  McNaughton top-2 dominance, the simplest dominance indices.

Determinism discipline (shared with operators/ecology.py): every ln()
is floored to integer micro-nats BEFORE any sum or division; every
ratio is integer ppm via truncating div on nonnegative operands —
both engines aggregate integers only, so the driver's value hash
cannot depend on summation order.

Scale shape: all four are keyed aggregations over the (sample, otu)
partial-sum table (map-side combinable); sorensen's pair former runs
only inside a (segment, nation) block like every pairwise op in the
family; dominance's window partitions by sample (bounded by the part
vocabulary per partition). No unpartitioned window, no driver collect.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance, abundance_selected
from bpaotu_spark.registry import register

# floored micro-nat ln(c) — the exact idiom of pielou_evenness
_LN_MICRO_SQL = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000) AS BIGINT)"


def _ln_micro(col: F.Column) -> F.Column:
    return F.floor(F.log(col.cast("double")) * 1000000).cast("bigint")


# ---------------------------------------------------------------------------
# beta_diversity_sorensen — Dice-Sørensen dissimilarity on presence
# sets: 1 − 2|A∩B| / (|A|+|B|), in exact ppm. Same blocked-pair
# discipline as beta_diversity_jaccard (pairs only inside a
# (mktsegment, nation) block; the intersection joins on the OTU
# inverted-index key), different segment so the two menu rows exercise
# different selections.
# ---------------------------------------------------------------------------

_SOR_SEL = "c_mktsegment = 'FURNITURE'"


@register(
    "beta_diversity_sorensen",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_SOR_SEL}
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
SELECT
  ra.sample_id AS sample_a,
  rb.sample_id AS sample_b,
  coalesce(i.n_inter, 0) AS n_intersect,
  ra.r + rb.r AS r_sum,
  1000000 - (2000000 * coalesce(i.n_inter, 0)) // (ra.r + rb.r)
    AS sorensen_ppm
FROM rich ra
JOIN rich rb ON ra.block = rb.block AND ra.sample_id < rb.sample_id
LEFT JOIN inter i ON i.sample_a = ra.sample_id AND i.sample_b = rb.sample_id
""",
)
def beta_diversity_sorensen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Sørensen dissimilarity ppm, nation-blocked.

    Reference: the comparison-page dissimilarity menu
    (bpaotu/otu/views.py); Dice 1945 / Sørensen 1948. 2·|A∩B| ≤
    |A|+|B| so the quotient is ≤ 1e6 exactly; all-integer, truncating
    div on nonnegative operands agrees across engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_SOR_SEL)).select(
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
        "block", F.col("sample_id").alias("sample_a"), F.col("r").alias("r_a")
    )
    rb = rich.select(
        F.col("block").alias("block_b"),
        F.col("sample_id").alias("sample_b"),
        F.col("r").alias("r_b"),
    )
    pairs = ra.join(
        rb,
        (ra.block == rb.block_b) & (ra.sample_a < rb.sample_b),
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0)).cast("bigint")
    return pairs.join(inter, ["sample_a", "sample_b"], "left").select(
        "sample_a",
        "sample_b",
        n_inter.alias("n_intersect"),
        (F.col("r_a") + F.col("r_b")).alias("r_sum"),
        F.expr(
            "1000000 - (2000000 * coalesce(n_inter, 0)) div (r_a + r_b)"
        ).alias("sorensen_ppm"),
    )


# ---------------------------------------------------------------------------
# gamma_diversity_partition — additive Shannon diversity partition per
# nation block (MacArthur 1965 / Lande 1996 / Jost 2007, q=1 additive
# form): gamma = H(pooled counts), alpha-bar = Σ n_i·H_i / Σ n_i (the
# size-WEIGHTED mean, which guarantees beta = gamma − alpha-bar ≥ 0 up
# to the ±1 micro-nat flooring slack), beta = between-sample turnover.
# Both levels use the pielou_evenness fixed-point form
# H = ln(T) − Σ c·ln(c)/T with per-term micro-nat flooring.
# ---------------------------------------------------------------------------

_GD_SEL = "c_mktsegment = 'BUILDING'"


@register(
    "gamma_diversity_partition",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_GD_SEL}
),
per_otu AS (
  SELECT ab.sample_id, block, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
hs AS (
  SELECT sample_id, block,
    CAST(sum(c) AS BIGINT) AS n_tot,
    CAST(sum(c * {_LN_MICRO_SQL.format(x='c')}) AS BIGINT) AS sum_clnc
  FROM per_otu GROUP BY sample_id, block
),
alpha AS (
  SELECT block,
    CAST(count(*) AS BIGINT) AS n_samples,
    CAST(sum(n_tot) AS BIGINT) AS n_block,
    CAST(sum(n_tot * ({_LN_MICRO_SQL.format(x='n_tot')}
        - sum_clnc // n_tot)) AS BIGINT) AS sum_nh
  FROM hs GROUP BY block
),
pooled AS (
  SELECT block, otu_id, CAST(sum(c) AS BIGINT) AS c
  FROM per_otu GROUP BY block, otu_id
),
gam AS (
  SELECT block,
    CAST(sum(c) AS BIGINT) AS n_tot,
    CAST(sum(c * {_LN_MICRO_SQL.format(x='c')}) AS BIGINT) AS sum_clnc
  FROM pooled GROUP BY block
)
SELECT a.block, a.n_samples,
  a.sum_nh // a.n_block AS alpha_bar_micronats,
  {_LN_MICRO_SQL.format(x='g.n_tot')} - g.sum_clnc // g.n_tot
    AS gamma_micronats,
  ({_LN_MICRO_SQL.format(x='g.n_tot')} - g.sum_clnc // g.n_tot)
    - a.sum_nh // a.n_block AS beta_micronats
FROM alpha a JOIN gam g ON a.block = g.block
""",
)
def gamma_diversity_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation additive Shannon partition (gamma / alpha-bar / beta).

    Scale: two keyed aggregations over (sample, otu) partials plus one
    over (block, otu) — all map-side combinable; output is one row per
    nation. At 100 TB nothing here exceeds the dimension sizes.
    """
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_GD_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    per_otu = (
        abundance_selected(spark, sf_dir, sel)
        .groupBy("sample_id", "block", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    hs = per_otu.groupBy("sample_id", "block").agg(
        F.sum("c").cast("bigint").alias("n_tot"),
        F.sum(F.col("c") * _ln_micro(F.col("c")))
        .cast("bigint")
        .alias("sum_clnc"),
    )
    alpha = hs.groupBy("block").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("n_tot").cast("bigint").alias("n_block"),
        F.sum(
            F.col("n_tot")
            * (_ln_micro(F.col("n_tot")) - F.expr("sum_clnc div n_tot"))
        )
        .cast("bigint")
        .alias("sum_nh"),
    )
    pooled = per_otu.groupBy("block", "otu_id").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    gam = pooled.groupBy("block").agg(
        F.sum("c").cast("bigint").alias("g_tot"),
        F.sum(F.col("c") * _ln_micro(F.col("c")))
        .cast("bigint")
        .alias("g_clnc"),
    )
    return (
        alpha.join(gam, "block")
        .select(
            "block",
            "n_samples",
            F.expr("sum_nh div n_block").alias("alpha_bar_micronats"),
            (
                _ln_micro(F.col("g_tot")) - F.expr("g_clnc div g_tot")
            ).alias("gamma_micronats"),
        )
        .withColumn(
            "beta_micronats",
            F.col("gamma_micronats") - F.col("alpha_bar_micronats"),
        )
    )


# ---------------------------------------------------------------------------
# otu_endemism — biogeography census: an OTU is endemic to a nation if
# (within the segment selection) it is observed in that nation and no
# other. Per nation: observed OTU count, endemic count, endemic ppm.
# The endemicity test is one aggregation over the (otu, nation)
# presence table — bounded by |parts| × |nations|, never fact-sized.
# ---------------------------------------------------------------------------

_EN_SEL = "c_mktsegment = 'AUTOMOBILE'"


@register(
    "otu_endemism",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_EN_SEL}
),
pres AS (
  SELECT DISTINCT otu_id, block
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
),
spread AS (
  SELECT otu_id, CAST(count(*) AS BIGINT) AS n_nations
  FROM pres GROUP BY otu_id
)
SELECT block,
  CAST(count(*) AS BIGINT) AS n_otus,
  CAST(sum(CASE WHEN n_nations = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_endemic,
  CAST(sum(CASE WHEN n_nations = 1 THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000 // count(*) AS endemic_ppm
FROM pres JOIN spread USING (otu_id)
GROUP BY block
""",
)
def otu_endemism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation endemic OTU census over the segment selection."""
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_EN_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    pres = (
        abundance_selected(spark, sf_dir, sel)
        .select("otu_id", "block")
        .distinct()
    )
    spread = pres.groupBy("otu_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations")
    )
    return (
        pres.join(spread, "otu_id")
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_otus"),
            F.sum(F.when(F.col("n_nations") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_endemic"),
        )
        .withColumn(
            "endemic_ppm", F.expr("n_endemic * 1000000 div n_otus")
        )
    )


# ---------------------------------------------------------------------------
# berger_parker_dominance — the simplest dominance pair per sample:
# Berger-Parker d = c_max / N and the McNaughton top-2 dominance
# (c₁+c₂)/N, both exact ppm. The top-2 cut is a window PARTITIONED BY
# sample (≤ |part vocabulary| rows per partition); samples with one
# OTU report top2 = berger_parker.
# ---------------------------------------------------------------------------


@register(
    "berger_parker_dominance",
    oracle=f"""
WITH {ABUNDANCE_CTE},
per_otu AS (
  SELECT sample_id, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
),
ranked AS (
  SELECT sample_id, c,
    row_number() OVER (PARTITION BY sample_id ORDER BY c DESC, otu_id ASC)
      AS rk
  FROM per_otu
),
st AS (
  SELECT sample_id,
    CAST(sum(c) AS BIGINT) AS n_total,
    CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS c_top1,
    CAST(sum(CASE WHEN rk <= 2 THEN c ELSE 0 END) AS BIGINT) AS c_top2
  FROM ranked GROUP BY sample_id
)
SELECT sample_id, n_total, c_top1,
  c_top1 * 1000000 // n_total AS berger_parker_ppm,
  c_top2 * 1000000 // n_total AS top2_dominance_ppm
FROM st
""",
)
def berger_parker_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Berger-Parker + McNaughton dominance ppm per sample."""
    per_otu = (
        abundance(spark, sf_dir)
        .groupBy("sample_id", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    w = Window.partitionBy("sample_id").orderBy(
        F.col("c").desc(), F.col("otu_id").asc()
    )
    ranked = per_otu.withColumn("rk", F.row_number().over(w))
    st = ranked.groupBy("sample_id").agg(
        F.sum("c").cast("bigint").alias("n_total"),
        F.max(F.when(F.col("rk") == 1, F.col("c")))
        .cast("bigint")
        .alias("c_top1"),
        F.sum(F.when(F.col("rk") <= 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("c_top2"),
    )
    return st.select(
        "sample_id",
        "n_total",
        "c_top1",
        F.expr("c_top1 * 1000000 div n_total").alias("berger_parker_ppm"),
        F.expr("c_top2 * 1000000 div n_total").alias("top2_dominance_ppm"),
    )


# ---------------------------------------------------------------------------
# whittaker_beta_nation — Whittaker's classic multiplicative beta
# β_W = S_gamma / ᾱ per nation block (Whittaker '60): pooled nation
# richness over the mean per-sample richness, exact milli via
# S_gamma·n_samples·1000 div Σ S_i. The multiplicative companion to
# gamma_diversity_partition's additive Shannon split.
#
# Scale shape: two keyed aggregations over the (sample, otu) presence
# table (map-side combinable) + a broadcast nation lookup; one row per
# nation.
# ---------------------------------------------------------------------------


@register(
    "whittaker_beta_nation",
    oracle=f"""
WITH {ABUNDANCE_CTE},
pres AS (
  SELECT DISTINCT ab.sample_id, c_nationkey AS nation, otu_id
  FROM abundance ab JOIN customer ON ab.sample_id = c_custkey
),
alpha AS (
  SELECT nation, sample_id, CAST(count(*) AS BIGINT) AS s_i
  FROM pres GROUP BY nation, sample_id
),
gam AS (
  SELECT nation, CAST(count(DISTINCT otu_id) AS BIGINT) AS s_gamma
  FROM pres GROUP BY nation
),
al AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n_samples,
    CAST(sum(s_i) AS BIGINT) AS sum_richness
  FROM alpha GROUP BY nation
)
SELECT nation, n_samples, s_gamma, sum_richness,
  s_gamma * n_samples * 1000 // sum_richness AS beta_w_milli
FROM gam JOIN al USING (nation)
ORDER BY nation
""",
)
def whittaker_beta_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whittaker beta (milli) = pooled richness / mean alpha richness."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("nation"),
    )
    pres = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(cust), "sample_id")
        .select("sample_id", "nation", "otu_id")
        .distinct()
    )
    alpha = pres.groupBy("nation", "sample_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_i")
    )
    gam = pres.groupBy("nation").agg(
        F.countDistinct("otu_id").cast("bigint").alias("s_gamma")
    )
    al = alpha.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("s_i").cast("bigint").alias("sum_richness"),
    )
    return (
        gam.join(al, "nation")
        .select(
            "nation",
            "n_samples",
            "s_gamma",
            "sum_richness",
            F.expr("s_gamma * n_samples * 1000 div sum_richness").alias(
                "beta_w_milli"
            ),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# taylor_power_law — Taylor '61: var ≈ a·mean^b across taxa. Per-OTU
# mean/variance over ALL N samples (zeros included algebraically):
# v = N·Σc² − (Σc)² is N²·var as an exact 128-bit integer, sc = Σc is
# N·mean. OLS of y = ln_micro(v) on x = ln_micro(sc) over OTUs with
# v > 0 — the ln(N)-dependent axis shifts move the intercept, not the
# slope (documented; both engines shift identically). Slope b ≈ 2·the
# mean-scale exponent; b is THE Taylor exponent since
# ln v = 2 ln N + ln var and ln sc = ln N + ln mean are affine shifts.
# 128-bit moment sums; one float slope/intercept expression, milli.
#
# Scale shape: one (otu) aggregation over the per-(sample,otu) table
# (vocabulary-bounded output), one global 128-bit moment fold; one row.
# ---------------------------------------------------------------------------


@register(
    "taylor_power_law",
    oracle=f"""
WITH {ABUNDANCE_CTE},
per_otu AS (
  SELECT sample_id, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
),
nsamp AS (
  SELECT CAST(count(DISTINCT sample_id) AS BIGINT) AS n FROM per_otu
),
st AS (
  SELECT otu_id, CAST(sum(c) AS BIGINT) AS sc,
    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
  FROM per_otu GROUP BY otu_id
),
xy AS (
  SELECT
    {_LN_MICRO_SQL.format(x="sc")} AS x,
    {_LN_MICRO_SQL.format(x="n * sc2 - CAST(sc AS HUGEINT) * sc")} AS y
  FROM st CROSS JOIN nsamp
  WHERE n * sc2 - CAST(sc AS HUGEINT) * sc > 0
),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS n_otus,
    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM xy
)
SELECT n_otus,
  CAST(floor(
    (CAST(n_otus AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / (CAST(n_otus AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    * 1000) AS BIGINT) AS slope_milli,
  CAST(floor(
    (CAST(sy AS DOUBLE)
      - (CAST(n_otus AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n_otus AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * CAST(sx AS DOUBLE))
    / CAST(n_otus AS DOUBLE) / 1000) AS BIGINT) AS intercept_milli
FROM mo
""",
)
def taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor power-law slope (milli) of ln(N²var) on ln(N·mean)."""
    per_otu = (
        abundance(spark, sf_dir)
        .groupBy("sample_id", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    nsamp = per_otu.agg(
        F.countDistinct("sample_id").cast("bigint").alias("n")
    )
    st = per_otu.groupBy("otu_id").agg(
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sc2"),
    )
    xy = (
        st.crossJoin(F.broadcast(nsamp))
        .withColumn("v", F.expr("n * sc2 - CAST(sc AS DECIMAL(38,0)) * sc"))
        .filter(F.col("v") > 0)
        .select(
            _ln_micro(F.col("sc")).alias("x"),
            _ln_micro(F.col("v")).alias("y"),
        )
    )
    mo = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_otus"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    slope = (
        "(CAST(n_otus AS DOUBLE) * CAST(sxy AS DOUBLE)"
        "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n_otus AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return mo.select(
        "n_otus",
        F.expr(f"CAST(floor(({slope}) * 1000) AS BIGINT)").alias(
            "slope_milli"
        ),
        F.expr(
            f"CAST(floor((CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
            " / CAST(n_otus AS DOUBLE) / 1000) AS BIGINT)"
        ).alias("intercept_milli"),
    )


# ---------------------------------------------------------------------------
# occupancy_abundance_deciles — the positive interspecific
# occupancy-abundance relationship (Gaston '00) summarized on a fixed
# 10-bin occupancy grid: bin = (k−1)·10 div N (k = samples occupied of
# N). Per bin: OTU count, mean per-occupied-sample count (milli), mean
# occupancy (ppm). All exact integer ratios; ≤10 output rows.
# ---------------------------------------------------------------------------


@register(
    "occupancy_abundance_deciles",
    oracle=f"""
WITH {ABUNDANCE_CTE},
per_otu AS (
  SELECT sample_id, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
),
nsamp AS (
  SELECT CAST(count(DISTINCT sample_id) AS BIGINT) AS n FROM per_otu
),
st AS (
  SELECT otu_id, CAST(count(*) AS BIGINT) AS k,
    CAST(sum(c) AS BIGINT) AS sc
  FROM per_otu GROUP BY otu_id
),
b AS (
  SELECT (k - 1) * 10 // n AS occ_decile, k, sc, n FROM st CROSS JOIN nsamp
)
SELECT occ_decile,
  CAST(count(*) AS BIGINT) AS n_otus,
  CAST(sum(sc) * 1000 // sum(k) AS BIGINT) AS mean_count_milli,
  CAST(sum(k) * 1000000 // (count(*) * any_value(n)) AS BIGINT)
    AS mean_occupancy_ppm
FROM b GROUP BY occ_decile ORDER BY occ_decile
""",
)
def occupancy_abundance_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Occupancy-decile census of the occupancy-abundance relation."""
    per_otu = (
        abundance(spark, sf_dir)
        .groupBy("sample_id", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    nsamp = per_otu.agg(
        F.countDistinct("sample_id").cast("bigint").alias("n")
    )
    st = per_otu.groupBy("otu_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("c").cast("bigint").alias("sc"),
    )
    b = st.crossJoin(F.broadcast(nsamp)).select(
        F.expr("(k - 1) * 10 div n").alias("occ_decile"), "k", "sc", "n"
    )
    return (
        b.groupBy("occ_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_otus"),
            F.expr("CAST(sum(sc) * 1000 div sum(k) AS BIGINT)").alias(
                "mean_count_milli"
            ),
            F.expr(
                "CAST(sum(k) * 1000000 div (count(*) * any_value(n))"
                " AS BIGINT)"
            ).alias("mean_occupancy_ppm"),
        )
        .orderBy("occ_decile")
    )
