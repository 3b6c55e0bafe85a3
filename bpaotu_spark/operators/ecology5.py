"""Round-9 ecology additions: Baselga beta-diversity partition and
rarity-weighted richness.

Reference parity: the reference's comparison page (public path
``bpaotu/otu/views.py`` comparison endpoints) ships pairwise
dissimilarities and per-sample summaries; these add the two standard
follow-ups its users compute downstream.

* ``beta_baselga_partition`` — Baselga (2010) decomposition of
  pairwise Sørensen dissimilarity into TURNOVER (β_sim, Simpson
  dissimilarity: species replacement) and NESTEDNESS (β_sne = β_sor −
  β_sim: richness-difference subsets). The partition answers the
  question Sørensen alone can't: do two samples differ because
  species are REPLACED or because one is a SUBSET of the other?
  All-integer ppm: b = r_a − |A∩B|, c = r_b − |A∩B|,
  β_sim = min(b,c)·10⁶ div (i + min(b,c)),
  β_sor = (b+c)·10⁶ div (2i + b + c), β_sne on the same ppm grid.
* ``rarity_weighted_richness`` — per-sample Σ 1/occupancy(otu) in
  exact micro-units (each OTU contributes 10⁶ div occ): the
  conservation-prioritization score that upweights samples holding
  range-restricted taxa (plain richness treats a ubiquitous and an
  endemic OTU identically).

Scale shape: Baselga reuses the sorensen blocking (nation blocks —
pairs grow with block co-membership, never |samples|²); RWR is two
map-combined aggregations (occupancy, then the weighted per-sample
sum) joined on otu_id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance, abundance_selected
from bpaotu_spark.registry import register

_BAS_SEL = "c_mktsegment = 'AUTOMOBILE'"


@register(
    "beta_baselga_partition",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_BAS_SEL}
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
         CAST(count(*) AS BIGINT) AS i
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
),
p AS (
  SELECT ra.sample_id AS sample_a, rb.sample_id AS sample_b,
    coalesce(i.i, 0) AS i,
    ra.r - coalesce(i.i, 0) AS b,
    rb.r - coalesce(i.i, 0) AS c
  FROM rich ra
  JOIN rich rb ON ra.block = rb.block AND ra.sample_id < rb.sample_id
  LEFT JOIN inter i
    ON i.sample_a = ra.sample_id AND i.sample_b = rb.sample_id
)
SELECT sample_a, sample_b, i AS n_intersect,
  CAST(least(b, c) * 1000000 // (i + least(b, c)) AS BIGINT)
    AS beta_sim_ppm,
  CAST((b + c) * 1000000 // (2 * i + b + c) AS BIGINT)
    AS beta_sor_ppm,
  CAST((b + c) * 1000000 // (2 * i + b + c)
    - least(b, c) * 1000000 // (i + least(b, c)) AS BIGINT)
    AS beta_sne_ppm
FROM p
""",
)
def beta_baselga_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Baselga turnover/nestedness partition of pairwise Sørensen,
    nation-blocked, exact ppm. Denominators are ≥ 1: every sample has
    r ≥ 1, so i = 0 forces min(b,c) ≥ 1 and 2i+b+c ≥ 2."""
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_BAS_SEL)).select(
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
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
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
    p = (
        ra.join(
            rb,
            (F.col("block") == F.col("block_b"))
            & (F.col("sample_a") < F.col("sample_b")),
        )
        .join(inter, ["sample_a", "sample_b"], "left")
        .select(
            "sample_a",
            "sample_b",
            F.coalesce(F.col("i"), F.lit(0)).cast("bigint").alias("i"),
            (F.col("r_a") - F.coalesce(F.col("i"), F.lit(0)))
            .cast("bigint")
            .alias("b"),
            (F.col("r_b") - F.coalesce(F.col("i"), F.lit(0)))
            .cast("bigint")
            .alias("c"),
        )
    )
    return p.select(
        "sample_a",
        "sample_b",
        F.col("i").alias("n_intersect"),
        F.expr(
            "CAST(least(b, c) * 1000000 div (i + least(b, c)) AS BIGINT)"
        ).alias("beta_sim_ppm"),
        F.expr(
            "CAST((b + c) * 1000000 div (2 * i + b + c) AS BIGINT)"
        ).alias("beta_sor_ppm"),
        F.expr(
            "CAST((b + c) * 1000000 div (2 * i + b + c)"
            " - least(b, c) * 1000000 div (i + least(b, c)) AS BIGINT)"
        ).alias("beta_sne_ppm"),
    )


@register(
    "rarity_weighted_richness",
    oracle=f"""
WITH {ABUNDANCE_CTE},
pres AS (
  SELECT DISTINCT sample_id, otu_id FROM abundance
),
occ AS (
  SELECT otu_id, CAST(count(*) AS BIGINT) AS occ FROM pres
  GROUP BY otu_id
)
SELECT sample_id,
  CAST(count(*) AS BIGINT) AS richness,
  CAST(sum(1000000 // occ) AS BIGINT) AS rwr_micro
FROM pres JOIN occ USING (otu_id)
GROUP BY sample_id ORDER BY sample_id
""",
)
def rarity_weighted_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-sample rarity-weighted richness: Σ 10⁶ div occupancy(otu)
    over the sample's OTUs (exact micro-units) + plain richness."""
    pres = (
        abundance(spark, sf_dir).select("sample_id", "otu_id").distinct()
    )
    occ = pres.groupBy("otu_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("occ")
    )
    return (
        pres.join(occ, "otu_id")
        .groupBy("sample_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("richness"),
            F.sum(F.expr("1000000 div occ")).cast("bigint").alias(
                "rwr_micro"
            ),
        )
        .orderBy("sample_id")
    )


# ---------------------------------------------------------------------------
# taxonomy_level_diversity — mean per-sample Shannon entropy at three
# taxonomy rollup levels (brand / type-class / full type): the
# rank-level diversity profile the reference's drill-down implies
# (diversity at kingdom vs species answers different questions).
# Floored-micro p·ln(1/p) terms per (sample, level, taxon) — the
# repo's ln convention — pooled to per-level means.
# Scale shape: one abundance ⋈ broadcast(part) scan, three
# map-combined rollups (one per level), per-sample then per-level aggs.
# ---------------------------------------------------------------------------

_TLD_LEVELS = (
    ("brand", "p_brand"),
    ("type_class", "string_split(p_type, ' ')[1]"),
    ("type_full", "p_type"),
)


def _tld_level_sql(name: str, expr: str) -> str:
    return f"""
  SELECT '{name}' AS level, sample_id, {expr} AS taxon,
    CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance JOIN part ON otu_id = p_partkey
  GROUP BY sample_id, taxon
""".strip()


@register(
    "taxonomy_level_diversity",
    oracle=f"""
WITH {ABUNDANCE_CTE},
lv AS (
{" UNION ALL ".join(_tld_level_sql(n, e) for n, e in _TLD_LEVELS)}
),
st AS (
  SELECT level, sample_id, CAST(sum(c) AS BIGINT) AS tot
  FROM lv GROUP BY level, sample_id
),
h AS (
  SELECT lv.level, lv.sample_id,
    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / tot)
      * ln(CAST(tot AS DOUBLE) / c) * 1000000) AS BIGINT)) AS BIGINT)
      AS h_micro
  FROM lv JOIN st ON lv.level = st.level
    AND lv.sample_id = st.sample_id
  GROUP BY lv.level, lv.sample_id
)
SELECT level,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(sum(h_micro) // count(*) AS BIGINT) AS mean_h_micro,
  CAST(max(h_micro) AS BIGINT) AS max_h_micro
FROM h GROUP BY level ORDER BY level
""",
)
def taxonomy_level_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean/max per-sample Shannon entropy (floored micro-nats) at
    brand / type-class / full-type rollup levels."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("brand"),
        F.split(F.col("p_type"), " ")[0].alias("type_class"),
        F.col("p_type").alias("type_full"),
    )
    ab = abundance(spark, sf_dir).join(
        maybe_broadcast(part), F.col("otu_id") == F.col("p_partkey")
    )
    lv = None
    for name, _ in _TLD_LEVELS:
        leg = ab.groupBy(
            "sample_id", F.col(name).alias("taxon")
        ).agg(F.sum("cnt").cast("bigint").alias("c")).select(
            F.lit(name).alias("level"), "sample_id", "taxon", "c"
        )
        lv = leg if lv is None else lv.unionByName(leg)
    st = lv.groupBy("level", "sample_id").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    h = (
        lv.join(st, ["level", "sample_id"])
        .groupBy("level", "sample_id")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor((CAST(c AS DOUBLE) / tot)"
                    " * ln(CAST(tot AS DOUBLE) / c) * 1000000)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h_micro")
        )
    )
    return (
        h.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.expr("CAST(sum(h_micro) div count(*) AS BIGINT)").alias(
                "mean_h_micro"
            ),
            F.max("h_micro").cast("bigint").alias("max_h_micro"),
        )
        .orderBy("level")
    )
