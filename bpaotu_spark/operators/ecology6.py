"""Round-12 ecology additions.

* ``beta_diversity_canberra`` — the Canberra dissimilarity
  Σ_i |x_i − y_i| / (x_i + y_i) over the OTU union of each sample
  pair (Lance & Williams 1967), the heavy-rare-taxa member of the
  comparison-page distance family (each OTU contributes equally
  regardless of abundance, so rare-taxon turnover dominates — the
  complement to Bray-Curtis's abundance pooling). A one-sided OTU
  contributes exactly 1, so the pair sum decomposes into the
  shared-OTU term sum plus 1e6 × (union − shared) in ppm — only the
  SHARED frame is joined, the one-sided mass rides on per-sample
  nonzero censuses.

Reference parity: the comparison page's distance-matrix choices
(public ``bpaotu/otu/views.py`` comparison endpoints expose multiple
beta metrics over the same abundance matrix).

Determinism: per-OTU term = |x−y|·1e6 // (x+y) on nonnegative
integer counts — truncating div agrees across engines; the sum is an
exact BIGINT.

Scale shape: the kulczynski idiom — nation-blocked bounded pair
former over per-sample aggregates, never all-pairs; one keyed shared
join + per-sample censuses.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance_selected
from bpaotu_spark.registry import register

_CAN_SEL = "c_mktsegment = 'AUTOMOBILE'"


@register(
    "beta_diversity_canberra",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_CAN_SEL}
),
a AS (
  SELECT ab.sample_id, block, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
nnz AS (
  SELECT sample_id, block, CAST(count(*) AS BIGINT) AS nz
  FROM a GROUP BY sample_id, block
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
    CAST(count(*) AS BIGINT) AS n_shared,
    CAST(sum(abs(x.c - y.c) * 1000000 // (x.c + y.c)) AS BIGINT)
      AS shared_term_ppm
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT na.sample_id AS sample_a, nb.sample_id AS sample_b,
  na.nz + nb.nz - coalesce(s.n_shared, 0) AS n_union,
  coalesce(s.shared_term_ppm, 0)
    + 1000000 * (na.nz + nb.nz - 2 * coalesce(s.n_shared, 0))
    AS canberra_sum_ppm,
  (coalesce(s.shared_term_ppm, 0)
    + 1000000 * (na.nz + nb.nz - 2 * coalesce(s.n_shared, 0)))
    // (na.nz + nb.nz - coalesce(s.n_shared, 0)) AS canberra_norm_ppm
FROM nnz na
JOIN nnz nb ON na.block = nb.block AND na.sample_id < nb.sample_id
LEFT JOIN shared s
  ON s.sample_a = na.sample_id AND s.sample_b = nb.sample_id
""",
)
def beta_diversity_canberra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Canberra dissimilarity, nation-blocked:
    (sample_a, sample_b, n_union, canberra_sum_ppm,
    canberra_norm_ppm) — norm is the sum divided by the union size,
    0..1e6."""
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_CAN_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .groupBy("sample_id", "block", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    nnz = a.groupBy("sample_id", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("nz")
    )
    ax = a.select(
        "block",
        "otu_id",
        F.col("sample_id").alias("sample_a"),
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
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(F.expr("abs(ca - cb) * 1000000 div (ca + cb)"))
            .cast("bigint")
            .alias("shared_term_ppm"),
        )
    )
    na = nnz.select(
        F.col("sample_id").alias("sample_a"),
        F.col("block"),
        F.col("nz").alias("nz_a"),
    )
    nb = nnz.select(
        F.col("sample_id").alias("sample_b"),
        F.col("block").alias("block_b"),
        F.col("nz").alias("nz_b"),
    )
    return (
        na.join(
            nb,
            (na.block == nb.block_b) & (na.sample_a < nb.sample_b),
        )
        .join(shared, ["sample_a", "sample_b"], "left")
        .select(
            "sample_a",
            "sample_b",
            F.expr(
                "nz_a + nz_b - coalesce(n_shared, CAST(0 AS BIGINT))"
            ).alias("n_union"),
            F.expr(
                "coalesce(shared_term_ppm, CAST(0 AS BIGINT))"
                " + 1000000 * (nz_a + nz_b"
                " - 2 * coalesce(n_shared, CAST(0 AS BIGINT)))"
            ).alias("canberra_sum_ppm"),
            F.expr(
                "(coalesce(shared_term_ppm, CAST(0 AS BIGINT))"
                " + 1000000 * (nz_a + nz_b"
                " - 2 * coalesce(n_shared, CAST(0 AS BIGINT))))"
                " div (nz_a + nz_b - coalesce(n_shared, CAST(0 AS BIGINT)))"
            ).alias("canberra_norm_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# simper_contributions — SIMPER (Clarke 1993, "similarity
# percentages"): WHICH OTUs drive the between-group Bray-Curtis
# dissimilarity that anosim_groups/permanova test — the companion the
# comparison page shows next to the significance verdict. Over the
# same bounded two-segment study cohort, the BC numerator decomposes
# per OTU: |x_ik − x_jk| = (x_ik + x_jk) − 2·min, so each OTU's mean
# contribution across between-pairs splits into a one-sided term
# (factorable through per-sample harmonic weights H_i =
# Σ_j floor(1e12/(T_i+T_j)) — no per-pair-per-OTU fan for the
# abundance mass) and a shared-OTU min term (the anosim pair-join
# shape, keyed on otu). Contributions are exact pico-unit integers in
# both engines (identical per-term floors); the tiny floor asymmetry
# on zero-difference OTUs is clamped at 0. Output: top-25 OTUs by
# contribution share with cumulative share — "the 10 OTUs explaining
# 70% of the difference".
#
# Scale shape: the cohort is the bounded ANOSIM selection; H is a
# per-sample aggregate over the |A|x|B| pair frame; the min term is
# one keyed (otu, pair) join; the top-25 cut is a top-k window over
# the per-OTU aggregate.
# ---------------------------------------------------------------------------

# simper reads the distance store's cohort artifacts; that is only
# sound while its selection IS the ANOSIM study selection — one source
# of truth, not a duplicated string guarded by a strippable assert
from bpaotu_spark.operators.ecology import _ANOSIM_SEL as _SIMPER_SEL  # noqa: E402
_SIMPER_TOPK = 25
_SIMPER_W = 1_000_000_000_000  # pico weighting of 1/(T_i + T_j)


@register(
    "simper_contributions",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_mktsegment AS grp
  FROM customer WHERE {_SIMPER_SEL}
),
a AS (
  SELECT ab.sample_id, grp, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, grp, otu_id
),
tot AS (
  SELECT sample_id, grp, CAST(sum(c) AS BIGINT) AS t
  FROM a GROUP BY sample_id, grp
),
p AS (
  SELECT ta.sample_id AS sa, ta.t AS t_a, tb.sample_id AS sb, tb.t AS t_b
  FROM tot ta JOIN tot tb
    ON ta.grp = 'BUILDING' AND tb.grp = 'MACHINERY'
),
ha AS (
  SELECT sa AS sample_id, CAST(sum({_SIMPER_W} // (t_a + t_b)) AS HUGEINT) AS h
  FROM p GROUP BY sa
),
hb AS (
  SELECT sb AS sample_id, CAST(sum({_SIMPER_W} // (t_a + t_b)) AS HUGEINT) AS h
  FROM p GROUP BY sb
),
term1 AS (
  SELECT otu_id, CAST(sum(a.c * hh.h) AS HUGEINT) AS v
  FROM a JOIN (SELECT * FROM ha UNION ALL SELECT * FROM hb) hh
    ON hh.sample_id = a.sample_id
  GROUP BY otu_id
),
minterm AS (
  SELECT x.otu_id,
    CAST(sum((2 * {_SIMPER_W} * least(x.c, y.c)) // (p.t_a + p.t_b))
      AS HUGEINT) AS v
  FROM a x
  JOIN a y ON x.otu_id = y.otu_id
  JOIN p ON p.sa = x.sample_id AND p.sb = y.sample_id
  GROUP BY x.otu_id
),
contrib AS (
  SELECT term1.otu_id,
    greatest(term1.v - coalesce(minterm.v, 0), 0) AS v
  FROM term1 LEFT JOIN minterm ON minterm.otu_id = term1.otu_id
),
totc AS (SELECT CAST(sum(v) AS HUGEINT) AS tv FROM contrib),
ranked AS (
  SELECT otu_id, v,
    row_number() OVER (ORDER BY v DESC, otu_id ASC) AS rnk
  FROM contrib
),
top AS (
  SELECT rnk, otu_id, v,
    CAST(sum(v) OVER (ORDER BY rnk) AS HUGEINT) AS cum_v
  FROM ranked WHERE rnk <= {_SIMPER_TOPK}
)
SELECT CAST(rnk AS BIGINT) AS rnk, otu_id,
  CAST(v * 1000000 // greatest(totc.tv, 1) AS BIGINT) AS share_ppm,
  CAST(cum_v * 1000000 // greatest(totc.tv, 1) AS BIGINT)
    AS cum_share_ppm
FROM top CROSS JOIN totc
ORDER BY rnk
""",
)
def simper_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPER over the ANOSIM study cohort: the top-25 OTUs by mean
    contribution to between-group Bray-Curtis, with cumulative share:
    (rnk, otu_id, share_ppm, cum_share_ppm)."""
    from pyspark.sql import Window

    # _SIMPER_SEL aliases the ANOSIM study selection, so the
    # per-sample OTU counts come from the distance store (r12 VERDICT
    # item 1) — already checkpointed, three consumers below read it
    from bpaotu_spark.operators.diststore import (
        anosim_abundance_cached,
        anosim_tot_cached,
    )

    a = anosim_abundance_cached(spark, sf_dir)
    tot = anosim_tot_cached(spark, sf_dir).select(
        "sample_id", "grp", F.col("tot").alias("t")
    )
    ta = tot.filter(F.col("grp") == "BUILDING").select(
        F.col("sample_id").alias("sa"), F.col("t").alias("t_a")
    )
    tb = tot.filter(F.col("grp") == "MACHINERY").select(
        F.col("sample_id").alias("sb"), F.col("t").alias("t_b")
    )
    # bounded study cohort: the |A|x|B| pair frame broadcasts
    p = ta.crossJoin(F.broadcast(tb)).localCheckpoint()
    ha = p.groupBy(F.col("sa").alias("sample_id")).agg(
        F.sum(F.expr(f"{_SIMPER_W} DIV (t_a + t_b)"))
        .cast("decimal(38,0)")
        .alias("h")
    )
    hb = p.groupBy(F.col("sb").alias("sample_id")).agg(
        F.sum(F.expr(f"{_SIMPER_W} DIV (t_a + t_b)"))
        .cast("decimal(38,0)")
        .alias("h")
    )
    term1 = (
        a.join(F.broadcast(ha.unionByName(hb)), "sample_id")
        .groupBy("otu_id")
        .agg(F.sum(F.expr("c * h")).alias("v1"))
    )
    x = a.select(
        F.col("sample_id").alias("sa"), "otu_id", F.col("c").alias("cx")
    )
    y = a.select(
        F.col("sample_id").alias("sb"),
        F.col("otu_id").alias("otu_y"),
        F.col("c").alias("cy"),
    )
    minterm = (
        x.join(y, F.col("otu_id") == F.col("otu_y"))
        .join(F.broadcast(p), ["sa", "sb"])
        .groupBy("otu_id")
        .agg(
            F.sum(
                F.expr(
                    f"(2 * {_SIMPER_W} * least(cx, cy)) DIV (t_a + t_b)"
                )
            )
            .cast("decimal(38,0)")
            .alias("v2")
        )
    )
    contrib = (
        term1.join(minterm, "otu_id", "left")
        .select(
            "otu_id",
            F.greatest(
                F.col("v1")
                - F.coalesce(
                    F.col("v2"), F.lit(0).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("v"),
        )
        .localCheckpoint()  # two consumers: the total and the top-k cut
    )
    totc = contrib.agg(F.sum("v").cast("decimal(38,0)").alias("tv"))
    wr = Window.orderBy(F.col("v").desc(), F.col("otu_id").asc())
    ranked = contrib.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= _SIMPER_TOPK
    )
    wc = Window.orderBy("rnk")
    top = ranked.withColumn(
        "cum_v", F.sum("v").over(wc).cast("decimal(38,0)")
    )
    return (
        top.crossJoin(F.broadcast(totc))
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "otu_id",
            F.expr(
                "CAST(v * 1000000"
                " DIV greatest(tv, CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                "CAST(cum_v * 1000000"
                " DIV greatest(tv, CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("rnk")
    )
