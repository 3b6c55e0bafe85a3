"""Ecology statistics, continued: Mantel gradient test, Markov entropy.

* ``mantel_test_gradient`` — Mantel correlation between the
  community-dissimilarity matrix (Bray-Curtis, ppm-exact) and an
  environmental-gradient distance (|acctbal difference|, the driver
  schema's stand-in for the contextual gradient): is community
  turnover structured by the environment?  Runs over the same
  nation-blocked pair set as beta_diversity_braycurtis, so the pair
  former is bounded, never a global cross product. Pearson moments
  accumulate in 128-bit (HUGEINT / DECIMAL(38,0) — Σx² of ppm values
  overflows int64 beyond ~9M pairs), only the final r is floored to
  milli.
* ``markov_entropy_rate`` — entropy rate of the event-type Markov
  chain: per-state conditional entropies H(next|prev) in micro-nats
  plus the stationary-weighted TOTAL row (prev_type = '__RATE__') —
  the predictability ceiling of the event stream (session-model
  perplexity bound). ln() floored per transition cell before any sum.
* ``part_supply_resilience`` — single-sourcing audit per brand:
  distinct suppliers and supplier-nations per part from the lineitem
  history, share of parts with one supplier / one nation in ppm (the
  supply-chain-risk rollup).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table, maybe_broadcast
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance, abundance_selected
from bpaotu_spark.operators.ecology import _ANOSIM_SEL
from bpaotu_spark.registry import register

# ---------------------------------------------------------------------------
# mantel_test_gradient — pairs blocked by customer nation (the
# beta_diversity_braycurtis blocking), x = BC ppm, y = |acctbal diff|
# cents. r = (nΣxy − ΣxΣy) / sqrt(nΣx²−(Σx)²) / sqrt(nΣy²−(Σy)²).
# ---------------------------------------------------------------------------

_MANTEL_SEL = "c_mktsegment = 'BUILDING'"


@register(
    "mantel_test_gradient",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block,
    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE {_MANTEL_SEL}
),
a AS (
  SELECT ab.sample_id, block, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
tot AS (
  SELECT a.sample_id, a.block, CAST(sum(c) AS BIGINT) AS tot, bal_cents
  FROM a JOIN sel ON a.sample_id = sel.sample_id
  GROUP BY a.sample_id, a.block, bal_cents
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS sum_min
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
),
pairs AS (
  SELECT
    1000000 - (2000000 * coalesce(s.sum_min, 0)) // (ta.tot + tb.tot) AS x,
    abs(ta.bal_cents - tb.bal_cents) AS y
  FROM tot ta
  JOIN tot tb ON ta.block = tb.block AND ta.sample_id < tb.sample_id
  LEFT JOIN shared s
    ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(floor(
    (count(*) * CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE)
      - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) * 1000
    / (sqrt(count(*) * CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)
            - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
       * sqrt(count(*) * CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)
              - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE)))
  ) AS BIGINT) AS mantel_r_milli
FROM pairs
""",
)
def mantel_test_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_MANTEL_SEL))
        .select(
            F.col("c_custkey").alias("sample_id"),
            F.col("c_nationkey").alias("block"),
            F.floor(F.col("c_acctbal") * 100)
            .cast("bigint")
            .alias("bal_cents"),
        )
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .groupBy("sample_id", "block", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    tot = (
        a.join(maybe_broadcast(sel.select("sample_id", "bal_cents")), "sample_id")
        .groupBy("sample_id", "block", "bal_cents")
        .agg(F.sum("c").alias("tot"))
    )
    x_, y_ = a.alias("x"), a.alias("y")
    shared = (
        x_.join(
            y_,
            (F.col("x.otu_id") == F.col("y.otu_id"))
            & (F.col("x.block") == F.col("y.block"))
            & (F.col("x.sample_id") < F.col("y.sample_id")),
        )
        .groupBy(
            F.col("x.sample_id").alias("sample_a"),
            F.col("y.sample_id").alias("sample_b"),
        )
        .agg(F.sum(F.least("x.c", "y.c")).cast("bigint").alias("sum_min"))
    )
    ta, tb = tot.alias("ta"), tot.alias("tb")
    pairs = (
        ta.join(
            tb,
            (F.col("ta.block") == F.col("tb.block"))
            & (F.col("ta.sample_id") < F.col("tb.sample_id")),
        )
        .join(
            shared,
            (F.col("ta.sample_id") == shared.sample_a)
            & (F.col("tb.sample_id") == shared.sample_b),
            "left",
        )
        .select(
            F.expr(
                "1000000 - (2000000 * coalesce(sum_min, 0))"
                " div (ta.tot + tb.tot)"
            ).alias("x"),
            F.abs(F.col("ta.bal_cents") - F.col("tb.bal_cents")).alias("y"),
        )
    )
    # 128-bit second moments (DECIMAL(38,0) = DuckDB HUGEINT), doubles
    # only inside the final sqrt/quotient on the exact sums
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr(
            "CAST(floor("
            " (count(*) * CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE)"
            "   - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE)) * 1000"
            " / (sqrt(count(*) * CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE)"
            "         - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))"
            "    * sqrt(count(*) * CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE)"
            "           - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE)))"
            ") AS BIGINT)"
        ).alias("mantel_r_milli"),
    )


# ---------------------------------------------------------------------------
# markov_entropy_rate
# ---------------------------------------------------------------------------


@register(
    "markov_entropy_rate",
    oracle="""
WITH s AS (
  SELECT event_type,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
p AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rowtot AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out FROM p GROUP BY prev_type
),
cost AS (
  SELECT p.prev_type, n,
    CAST(floor(-ln(n * 1.0 / n_out) * 1000000) AS BIGINT) AS cost_micro,
    n_out
  FROM p JOIN rowtot ON p.prev_type = rowtot.prev_type
),
per_state AS (
  SELECT prev_type, CAST(max(n_out) AS BIGINT) AS n_out,
    CAST(sum(n * cost_micro) AS BIGINT) // CAST(max(n_out) AS BIGINT)
      AS h_micro
  FROM cost GROUP BY prev_type
),
rate AS (
  SELECT CAST(sum(n_out) AS BIGINT) AS n_total,
    CAST(sum(CAST(n_out AS HUGEINT) * h_micro) // sum(n_out) AS BIGINT)
      AS h_rate
  FROM per_state
)
SELECT prev_type, n_out, h_micro AS entropy_micronats FROM per_state
UNION ALL
SELECT '__RATE__', n_total, h_rate FROM rate
""",
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    p = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rowtot = p.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    cost = p.join(F.broadcast(rowtot), "prev_type").select(
        "prev_type",
        "n",
        "n_out",
        F.floor(-F.log(F.col("n") * 1.0 / F.col("n_out")) * 1000000)
        .cast("bigint")
        .alias("cost_micro"),
    )
    per_state = cost.groupBy("prev_type").agg(
        F.max("n_out").alias("n_out"),
        F.expr("sum(n * cost_micro) div max(n_out)").alias("h_micro"),
    )
    rate = per_state.agg(
        F.sum("n_out").alias("n_total"),
        F.expr(
            "CAST(sum(CAST(n_out AS DECIMAL(38,0)) * h_micro)"
            " DIV sum(n_out) AS BIGINT)"
        ).alias("h_rate"),
    )
    return per_state.select(
        "prev_type", "n_out", F.col("h_micro").alias("entropy_micronats")
    ).unionAll(
        rate.select(
            F.lit("__RATE__").alias("prev_type"),
            F.col("n_total").alias("n_out"),
            F.col("h_rate").alias("entropy_micronats"),
        )
    )


# ---------------------------------------------------------------------------
# part_supply_resilience
# ---------------------------------------------------------------------------


@register(
    "part_supply_resilience",
    oracle="""
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
pn AS (
  SELECT l_partkey,
    CAST(count(*) AS BIGINT) AS n_suppliers,
    CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations
  FROM ps JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT p_brand,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS single_supplier_parts,
  CAST(sum(CASE WHEN n_nations = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS single_nation_parts,
  (CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000) // count(*) AS single_supplier_ppm,
  (CAST(sum(CASE WHEN n_nations = 1 THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000) // count(*) AS single_nation_ppm
FROM pn JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def part_supply_resilience(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    su = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    pn = (
        li.join(F.broadcast(su), "l_suppkey")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.countDistinct("s_nationkey").alias("n_nations"),
        )
    )
    pa = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        pn.join(F.broadcast(pa), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0)).alias(
                "single_supplier_parts"
            ),
            F.sum(F.when(F.col("n_nations") == 1, 1).otherwise(0)).alias(
                "single_nation_parts"
            ),
            F.expr(
                "(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)"
                " * 1000000) div count(*)"
            ).alias("single_supplier_ppm"),
            F.expr(
                "(sum(CASE WHEN n_nations = 1 THEN 1 ELSE 0 END)"
                " * 1000000) div count(*)"
            ).alias("single_nation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# otu_nestedness_nodf — NODF (Almeida-Neto et al. 2008) over the
# bounded p_type presence matrix: for ordered type pairs with
# r_a > r_b (strict marginal decrease), paired overlap = s / r_b;
# NODF is the mean over such pairs, in exact ppm. The "are poor
# communities subsets of rich ones" structure metric that pairs with
# cscore_checkerboard's segregation signal.
# ---------------------------------------------------------------------------


@register(
    "otu_nestedness_nodf",
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
    ON a.sample_id = b.sample_id AND a.p_type <> b.p_type
  GROUP BY a.p_type, b.p_type
),
pairs AS (
  SELECT ma.p_type AS type_hi, mb.p_type AS type_lo,
    (coalesce(s, 0) * 1000000) // mb.r AS overlap_ppm
  FROM marg ma
  JOIN marg mb ON ma.r > mb.r
  LEFT JOIN both_c
    ON both_c.type_a = ma.p_type AND both_c.type_b = mb.p_type
)
SELECT CAST(count(*) AS BIGINT) AS n_ordered_pairs,
  CAST(sum(overlap_ppm) AS BIGINT) // count(*) AS nodf_ppm,
  CAST(min(overlap_ppm) AS BIGINT) AS min_overlap_ppm,
  CAST(max(overlap_ppm) AS BIGINT) AS max_overlap_ppm
FROM pairs
""",
)
def otu_nestedness_nodf(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            & (F.col("a.p_type") != F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("type_a"),
            F.col("b.p_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
    )
    ma = marg.select(F.col("p_type").alias("type_a"), F.col("r").alias("ra"))
    mb = marg.select(F.col("p_type").alias("type_b"), F.col("r").alias("rb"))
    pairs = (
        ma.crossJoin(F.broadcast(mb))
        .filter(F.col("ra") > F.col("rb"))
        .join(both_c, ["type_a", "type_b"], "left")
        .select(
            F.expr("(coalesce(s, 0) * 1000000) div rb").alias("overlap_ppm")
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_ordered_pairs"),
        F.expr("sum(overlap_ppm) div count(*)").alias("nodf_ppm"),
        F.min("overlap_ppm").cast("bigint").alias("min_overlap_ppm"),
        F.max("overlap_ppm").cast("bigint").alias("max_overlap_ppm"),
    )


# ---------------------------------------------------------------------------
# faith_pd_taxonomy — Faith's phylogenetic diversity with the part
# taxonomy (p_type → p_brand → p_partkey, the same rank chain the
# drilldown pages use; reference: bpaotu/otu/query.py taxonomy ranks)
# standing in for the phylogeny, unit branch lengths: PD(sample) =
# number of distinct tree edges spanned by the sample's OTUs = Σ over
# levels of distinct prefixes. Richer samples that concentrate in one
# clade score LOWER than equally-rich samples spread across clades —
# exactly the signal plain richness misses.
#
# Scale shape: one broadcast-dim join, three distinct-prefix counts in
# a single sample-keyed aggregation (map-side combine).
# ---------------------------------------------------------------------------


@register(
    "faith_pd_taxonomy",
    oracle=f"""
WITH {ABUNDANCE_CTE},
pres AS (
  SELECT DISTINCT sample_id, p_type, p_brand, otu_id
  FROM abundance JOIN part ON otu_id = p_partkey
)
SELECT sample_id,
  CAST(count(DISTINCT p_type) AS BIGINT) AS n_type_edges,
  CAST(count(DISTINCT p_type || '|' || p_brand) AS BIGINT) AS n_brand_edges,
  CAST(count(DISTINCT otu_id) AS BIGINT) AS n_leaf_edges,
  CAST(count(DISTINCT p_type) AS BIGINT)
    + CAST(count(DISTINCT p_type || '|' || p_brand) AS BIGINT)
    + CAST(count(DISTINCT otu_id) AS BIGINT) AS faith_pd
FROM pres GROUP BY sample_id
""",
)
def faith_pd_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: the fact-scale distinct runs on (sample_id, otu_id) INTS
    # only (p_type/p_brand are functions of otu_id through the unique
    # part key, so distinct-then-join equals join-then-distinct), and
    # the triple countDistinct — which planned an Expand tripling the
    # shuffled rows (plan: 2 Expand → 0) — becomes plain counts over
    # hierarchical re-distincts of the already-deduped frame. Values
    # identical; measured min-of-5 interleaved 2.48 s → 1.79 s sf0.1.
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("otu_id"), "p_type", "p_brand"
    )
    ab = abundance(spark, sf_dir).select("sample_id", "otu_id").distinct()
    j = ab.join(maybe_broadcast(part), "otu_id")
    leaf = ab.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_leaf_edges")
    )
    tb = j.select(
        "sample_id", F.concat_ws("|", "p_type", "p_brand").alias("tb")
    ).distinct()
    brand = tb.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_brand_edges")
    )
    tt = j.select("sample_id", "p_type").distinct()
    typ = tt.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_type_edges")
    )
    return (
        typ.join(brand, "sample_id")
        .join(leaf, "sample_id")
        .select(
            "sample_id",
            "n_type_edges",
            "n_brand_edges",
            "n_leaf_edges",
            (
                F.col("n_type_edges")
                + F.col("n_brand_edges")
                + F.col("n_leaf_edges")
            ).alias("faith_pd"),
        )
    )


# ---------------------------------------------------------------------------
# beta_dispersion_groups — PERMDISP-lite: per mktsegment group, the
# mean within-group Bray-Curtis distance (ppm) over the ANOSIM-bounded
# study selection, vs the between-group mean. ANOSIM asks "are groups
# separated"; this asks "are groups equally VARIABLE" — the assumption
# check run before trusting an ANOSIM R.
# ---------------------------------------------------------------------------


@register(
    "beta_dispersion_groups",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_mktsegment AS grp
  FROM customer WHERE {_ANOSIM_SEL}
),
a AS (
  SELECT ab.sample_id, grp, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, grp, otu_id
),
tot AS (
  SELECT sample_id, grp, CAST(sum(c) AS BIGINT) AS tot
  FROM a GROUP BY sample_id, grp
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS sum_min
  FROM a x JOIN a y ON x.otu_id = y.otu_id AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
),
pairs AS (
  SELECT CASE WHEN ta.grp = tb.grp THEN ta.grp ELSE '__BETWEEN__' END
           AS grp,
    1000000 - (2000000 * coalesce(s.sum_min, 0)) // (ta.tot + tb.tot)
      AS d_ppm
  FROM tot ta JOIN tot tb ON ta.sample_id < tb.sample_id
  LEFT JOIN shared s
    ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
)
SELECT grp,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(d_ppm) AS BIGINT) // count(*) AS mean_d_ppm,
  CAST(min(d_ppm) AS BIGINT) AS min_d_ppm,
  CAST(max(d_ppm) AS BIGINT) AS max_d_ppm
FROM pairs GROUP BY grp
""",
)
def beta_dispersion_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # store-served pair matrix (r12 VERDICT item 1): the dispersion
    # table only re-labels and re-aggregates the stored pairs
    from bpaotu_spark.operators.diststore import anosim_pairs_cached

    pairs = anosim_pairs_cached(spark, sf_dir).select(
        F.when(F.col("grp_a") == F.col("grp_b"), F.col("grp_a"))
        .otherwise("__BETWEEN__")
        .alias("grp"),
        "d_ppm",
    )
    return pairs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(d_ppm) div count(*)").alias("mean_d_ppm"),
        F.min("d_ppm").cast("bigint").alias("min_d_ppm"),
        F.max("d_ppm").cast("bigint").alias("max_d_ppm"),
    )


# ---------------------------------------------------------------------------
# unifrac_unweighted — pairwise unweighted UniFrac between samples of
# the ANOSIM-bounded study selection, with the part taxonomy
# (p_type → p_brand → p_partkey) standing in for the phylogeny at unit
# branch lengths — the same tree faith_pd_taxonomy walks (reference:
# the comparison/dissimilarity endpoints behind bpaotu/otu/query.py,
# which ship Bray-Curtis/Jaccard; UniFrac is the phylogeny-aware
# member of that family and the standard microbiome pair metric).
# UniFrac(a,b) = unique branch length / total branch length
#             = (|Eₐ| + |E_b| − 2·|Eₐ∩E_b|) / (|Eₐ| + |E_b| − |Eₐ∩E_b|)
# over each sample's spanned edge set E. Presence/absence only (the
# unweighted form), integer ppm — engine-exact.
#
# Scale shape: ONE fact scan builds the edge sets (a 3-edge explode
# per present (sample, part) row, then distinct); shared-edge pairs
# form by joining pres to itself ON THE EDGE KEY — the inverted-index
# blocking every pair-former in this repo uses, never a cross product.
# Edge df is bounded by the selection size; the selection (a customer
# study subset, as in anosim_groups) is the documented scale bound, as
# in any real pairwise-comparison page.
# ---------------------------------------------------------------------------


def _uf_pres_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, edge) — the study cohort's spanned-edge sets (the
    unweighted-UniFrac lineage substrate). Selection-bounded; built
    once per data fingerprint via the distance store (r13 VERDICT
    item 2) and read by every pair statistic thereafter."""
    sel = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_ANOSIM_SEL))
        .select(F.col("c_custkey").alias("sample_id"))
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("otu_id"), "p_type", "p_brand"
    )
    base = (
        abundance_selected(spark, sf_dir, sel)
        .join(maybe_broadcast(part), "otu_id")
        .select("sample_id", "p_type", "p_brand", "otu_id")
        .distinct()
    )
    # one pass over base: each present leaf contributes its 3 spanned
    # edges; distinct collapses shared interior edges per sample
    return (
        base.select(
            "sample_id",
            F.explode(
                F.array(
                    F.concat(F.lit("t|"), F.col("p_type")),
                    F.concat(
                        F.lit("b|"),
                        F.col("p_type"),
                        F.lit("|"),
                        F.col("p_brand"),
                    ),
                    F.concat(F.lit("l|"), F.col("otu_id")),
                )
            ).alias("edge"),
        )
        .distinct()
    )


def _uf_uw_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full unweighted-UniFrac pair matrix over the study cohort,
    built FROM the store-served edge sets.

    Shared-edge counting is split by edge class (r15 measured shape at
    sf0.1: the 156 interior ``t|``/``b|`` edges carried 9.8 M of the
    9.87 M pair-join fanout rows while the 18 k ``l|`` leaf edges
    carried only 56 k):

    * interior edges — a DIMENSION-bounded vocabulary (|p_type tokens|
      + |type×brand| combos, scale-invariant) — pack into per-sample
      62-bit words; a pair's shared-interior count is a popcount of
      ANDed masks inside the bounded broadcast pair frame the builder
      already pays (6× measured win over the edge-keyed join, exact
      set equality proven old-vs-new at sf0.1).
    * leaf edges stay on the edge-keyed inverted join (selective keys,
      never a cross product — the long-tail-correct shape at 100 TB).
    """
    from pyspark.sql import Window

    from bpaotu_spark.operators.diststore import unifrac_pres_cached

    # pres is selection-bounded (|sel| samples × spanned edges); the
    # store's checkpoint means the fact scan ran once
    pres = unifrac_pres_cached(spark, sf_dir)
    interior = pres.filter(~F.col("edge").startswith("l|"))
    leaf = pres.filter(F.col("edge").startswith("l|"))
    # deterministic bit index over the bounded interior vocabulary
    # (≤ a few hundred rows: the 1-partition window is metadata-sized)
    vocab = (
        interior.select("edge")
        .distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("edge")) - 1)
    )
    n_words = (vocab.count() + 61) // 62
    masked = (
        interior.join(F.broadcast(vocab), "edge")
        .groupBy("sample_id")
        .agg(
            *[
                F.expr(
                    f"bit_or(CASE WHEN idx >= {62 * k} AND idx < {62 * (k + 1)}"
                    f" THEN shiftleft(CAST(1 AS BIGINT), idx - {62 * k})"
                    " ELSE 0 END)"
                ).alias(f"m{k}")
                for k in range(n_words)
            ]
        )
    )
    sz = pres.groupBy("sample_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("ne")
    )
    # inner join is lossless: every present leaf spans its t|/b| edges,
    # so every sample with any pres row has interior rows
    samp = sz.join(masked, "sample_id")
    x = leaf.select(F.col("sample_id").alias("sa"), "edge")
    y = leaf.select(F.col("sample_id").alias("sb"), "edge")
    leaf_shared = (
        x.join(y, "edge")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaf"))
    )
    a = samp.select(
        F.col("sample_id").alias("sample_a"),
        F.col("ne").alias("n_edges_a"),
        *[F.col(f"m{k}").alias(f"ma{k}") for k in range(n_words)],
    )
    b = samp.select(
        F.col("sample_id").alias("sample_b"),
        F.col("ne").alias("n_edges_b"),
        *[F.col(f"m{k}").alias(f"mb{k}") for k in range(n_words)],
    )
    int_shared = " + ".join(
        f"bit_count(ma{k} & mb{k})" for k in range(n_words)
    )
    return (
        a.join(F.broadcast(b), F.col("sample_a") < F.col("sample_b"))
        .join(
            leaf_shared,
            (F.col("sa") == F.col("sample_a"))
            & (F.col("sb") == F.col("sample_b")),
            "left",
        )
        .withColumn(
            "n_shared_edges",
            F.expr(f"CAST({int_shared} + coalesce(n_leaf, 0) AS BIGINT)"),
        )
        .select(
            "sample_a",
            "sample_b",
            "n_edges_a",
            "n_edges_b",
            "n_shared_edges",
            F.expr(
                "((n_edges_a + n_edges_b - 2 * n_shared_edges) * 1000000)"
                " div (n_edges_a + n_edges_b - n_shared_edges)"
            ).alias("unifrac_ppm"),
        )
    )


@register(
    "unifrac_unweighted",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id FROM customer WHERE {_ANOSIM_SEL}
),
base AS (
  SELECT DISTINCT ab.sample_id, p_type, p_brand, otu_id
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  JOIN part ON otu_id = p_partkey
),
pres AS (
  SELECT DISTINCT sample_id, 't|' || p_type AS edge FROM base
  UNION
  SELECT DISTINCT sample_id, 'b|' || p_type || '|' || p_brand FROM base
  UNION
  SELECT DISTINCT sample_id, 'l|' || otu_id FROM base
),
sz AS (
  SELECT sample_id, CAST(count(*) AS BIGINT) AS ne FROM pres GROUP BY 1
),
shared AS (
  SELECT x.sample_id AS sa, y.sample_id AS sb,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM pres x JOIN pres y
    ON x.edge = y.edge AND x.sample_id < y.sample_id
  GROUP BY 1, 2
)
SELECT a.sample_id AS sample_a, b.sample_id AS sample_b,
  a.ne AS n_edges_a, b.ne AS n_edges_b,
  coalesce(n_shared, 0) AS n_shared_edges,
  ((a.ne + b.ne - 2 * coalesce(n_shared, 0)) * 1000000)
    // (a.ne + b.ne - coalesce(n_shared, 0)) AS unifrac_ppm
FROM sz a JOIN sz b ON a.sample_id < b.sample_id
LEFT JOIN shared ON shared.sa = a.sample_id AND shared.sb = b.sample_id
""",
)
def unifrac_unweighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-SERVED since r14 (r13 VERDICT item 2): the lineage edge
    sets and the pair matrix are fingerprint-keyed distance-store
    artifacts (the comparison-page lifecycle — compute once per
    submitted selection, public ``bpaotu/otu/views.py``); the oracle
    recomputes from scratch, so the driver verifies the store-served
    values every round."""
    from bpaotu_spark.operators.diststore import unifrac_uw_pairs_cached

    return unifrac_uw_pairs_cached(spark, sf_dir)


# ---------------------------------------------------------------------------
# unifrac_weighted — the abundance-weighted UniFrac companion (unit
# branch lengths on the same p_type → p_brand → leaf tree):
#     W(a,b) = Σ_e |c_a(e)/T_a − c_b(e)/T_b|   (then normalized)
# where c(e) is the abundance under edge e and T the sample total.
# Per-edge terms are floored to ppm BEFORE summation (the repo-wide
# integer discipline), and the per-pair sum decomposes so the pair
# join touches ONLY shared edges:
#     Σ_e = s_a + s_b + Σ_shared [|cross|ppm − own_a_ppm − own_b_ppm]
# with s_x = Σ_e floor(c_x·1e6/T_x) a per-sample constant — edges
# unique to one sample never enter a join. With unit branches the
# normalizer Σ_e (c_a/T_a + c_b/T_b) is exactly 2·(tree depth) = 6,
# so wu_ppm = num div 6 lands in [0, 1e6].
#
# Scale shape: one fact scan → 3-edge explode → (sample, edge) sum
# (checkpointed, selection-bounded); shared pairs edge-blocked; the
# only non-equi join is the broadcast bounded pair frame of per-sample
# constants. |c·T| products stay ≤ ~1e17 — int64-safe because both
# factors are PER-SAMPLE totals (bounded by one customer's history,
# not corpus size), noted here for the 100 TB audit.
# ---------------------------------------------------------------------------


def _uf_e2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, edge, c, t, own_ppm) — the weighted-UniFrac
    per-edge mass substrate of the study cohort. Selection-bounded;
    built once per data fingerprint via the distance store (r13
    VERDICT item 2)."""
    sel = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_ANOSIM_SEL))
        .select(F.col("c_custkey").alias("sample_id"))
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("otu_id"), "p_type", "p_brand"
    )
    leaf = (
        abundance_selected(spark, sf_dir, sel)
        .join(maybe_broadcast(part), "otu_id")
        .groupBy("sample_id", "p_type", "p_brand", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    eab = (
        leaf.select(
            "sample_id",
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("t|"), F.col("p_type")).alias("edge"),
                        F.col("c"),
                    ),
                    F.struct(
                        F.concat(
                            F.lit("b|"),
                            F.col("p_type"),
                            F.lit("|"),
                            F.col("p_brand"),
                        ).alias("edge"),
                        F.col("c"),
                    ),
                    F.struct(
                        F.concat(F.lit("l|"), F.col("otu_id")).alias("edge"),
                        F.col("c"),
                    ),
                )
            ).alias("ec"),
        )
        .select("sample_id", "ec.edge", "ec.c")
        .groupBy("sample_id", "edge")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    tot = eab.groupBy("sample_id").agg(
        F.expr("sum(c) div 3").alias("t")
    )
    return eab.join(F.broadcast(tot), "sample_id").select(
        "sample_id",
        "edge",
        "c",
        "t",
        F.expr("(c * 1000000) div t").alias("own_ppm"),
    )


def _uf_w_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full weighted-UniFrac pair matrix over the study cohort,
    built FROM the store-served per-edge mass table (shared-edge
    blocked; the only non-equi join is the bounded broadcast pair
    frame of per-sample constants)."""
    from bpaotu_spark.operators.diststore import unifrac_e2_cached

    # selection-bounded; feeds the per-sample constants AND the
    # shared-edge pair join — store-served so the fact scan ran once
    e2 = unifrac_e2_cached(spark, sf_dir)
    s = e2.groupBy("sample_id", "t").agg(
        F.sum("own_ppm").cast("bigint").alias("s_own")
    )
    x = e2.select(
        F.col("sample_id").alias("sa"),
        "edge",
        F.col("c").alias("ca"),
        F.col("t").alias("ta"),
        F.col("own_ppm").alias("oa"),
    )
    y = e2.select(
        F.col("sample_id").alias("sb"),
        "edge",
        F.col("c").alias("cb"),
        F.col("t").alias("tb"),
        F.col("own_ppm").alias("ob"),
    )
    adj = (
        x.join(y, "edge")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.expr(
                    "(abs(ca * tb - cb * ta) * 1000000) div (ta * tb)"
                    " - oa - ob"
                )
            )
            .cast("bigint")
            .alias("adj")
        )
    )
    a = s.select(
        F.col("sample_id").alias("sample_a"),
        F.col("t").alias("total_a"),
        F.col("s_own").alias("sown_a"),
    )
    b = s.select(
        F.col("sample_id").alias("sample_b"),
        F.col("t").alias("total_b"),
        F.col("s_own").alias("sown_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("sample_a") < F.col("sample_b"))
        .join(
            adj,
            (F.col("sa") == F.col("sample_a"))
            & (F.col("sb") == F.col("sample_b")),
            "left",
        )
        .select(
            "sample_a",
            "sample_b",
            "total_a",
            "total_b",
            F.expr(
                "(sown_a + sown_b + coalesce(adj, 0)) div 6"
            ).alias("wu_ppm"),
        )
    )


@register(
    "unifrac_weighted",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id FROM customer WHERE {_ANOSIM_SEL}
),
leaf AS (
  SELECT ab.sample_id, p_type, p_brand, otu_id,
         CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  JOIN part ON otu_id = p_partkey
  GROUP BY 1, 2, 3, 4
),
eab AS (
  SELECT sample_id, edge, CAST(sum(c) AS BIGINT) AS c FROM (
    SELECT sample_id, 't|' || p_type AS edge, c FROM leaf
    UNION ALL
    SELECT sample_id, 'b|' || p_type || '|' || p_brand, c FROM leaf
    UNION ALL
    SELECT sample_id, 'l|' || otu_id, c FROM leaf
  ) GROUP BY 1, 2
),
tot AS (
  SELECT sample_id, CAST(sum(c) AS BIGINT) // 3 AS t
  FROM eab GROUP BY 1
),
e2 AS (
  SELECT eab.sample_id, edge, c, t,
         (c * 1000000) // t AS own_ppm
  FROM eab JOIN tot ON eab.sample_id = tot.sample_id
),
s AS (
  SELECT sample_id, t, CAST(sum(own_ppm) AS BIGINT) AS s_own
  FROM e2 GROUP BY 1, 2
),
adj AS (
  SELECT x.sample_id AS sa, y.sample_id AS sb,
    CAST(sum(
      (abs(x.c * y.t - y.c * x.t) * 1000000) // (x.t * y.t)
      - x.own_ppm - y.own_ppm
    ) AS BIGINT) AS adj
  FROM e2 x JOIN e2 y
    ON x.edge = y.edge AND x.sample_id < y.sample_id
  GROUP BY 1, 2
)
SELECT a.sample_id AS sample_a, b.sample_id AS sample_b,
  a.t AS total_a, b.t AS total_b,
  (a.s_own + b.s_own + coalesce(adj, 0)) // 6 AS wu_ppm
FROM s a JOIN s b ON a.sample_id < b.sample_id
LEFT JOIN adj ON adj.sa = a.sample_id AND adj.sb = b.sample_id
""",
)
def unifrac_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-SERVED since r14 (r13 VERDICT item 2): the per-edge mass
    table and the pair matrix are fingerprint-keyed distance-store
    artifacts; the oracle recomputes from scratch, so the driver
    verifies the store-served values every round."""
    from bpaotu_spark.operators.diststore import unifrac_w_pairs_cached

    return unifrac_w_pairs_cached(spark, sf_dir)


# ---------------------------------------------------------------------------
# beta_diversity_morisita_horn — the abundance-weighted member of the
# comparison-page dissimilarity family that is (near-)independent of
# sample size, the property ecologists reach for when sampling depth is
# uneven (Horn 1966 overlap index, dissimilarity form):
#
#   MH(a,b) = 1 - 2·Σ x_i·y_i / ((da+db)·Na·Nb),
#   da = Σx²/Na², db = Σy²/Nb²
#
# Multiplying through by Na·Nb gives the ALL-INTEGER form
#   mh_ppm = 1e6 - ⌊ 2e6·Σxy·Na·Nb / (Σx²·Nb² + Σy²·Na²) ⌋
# (AM-GM bounds the quotient by 1e6, so mh_ppm ∈ [0, 1e6] exactly).
# 128-bit intermediates: Σx²·Nb² passes int64 once per-sample totals
# reach ~10⁵, so both sides multiply in HUGEINT / DECIMAL(38,0) and
# only the floored ppm leaves as BIGINT. MH is invariant under x→λx
# per sample, so a 100 TB deployment can pre-scale huge counts down
# without changing the output — the overflow headroom is a knob, not
# a cliff.
#
# Pair discipline: same bounded shape as beta_diversity_braycurtis —
# pairs form only inside (block = c_nationkey) over a filtered segment
# selection; Σxy joins on (block, otu_id), the inverted-index key.
# Reference analogue: bpaotu's comparison page dissimilarity menu
# (bpaotu/otu/views.py ComparisonView; braycurtis/jaccard there —
# morisita-horn is the standard scipy.spatial.distance companion).
# ---------------------------------------------------------------------------

_MH_SEL = "c_mktsegment = 'MACHINERY'"


@register(
    "beta_diversity_morisita_horn",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_MH_SEL}
),
a AS (
  SELECT ab.sample_id, block, otu_id, CAST(sum(CAST(cnt AS BIGINT)) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
stats AS (
  SELECT sample_id, block,
    CAST(sum(c) AS BIGINT) AS n_tot,
    CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM a GROUP BY sample_id, block
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
    CAST(sum(x.c * y.c) AS BIGINT) AS sum_xy
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT
  sa.sample_id AS sample_a,
  sb.sample_id AS sample_b,
  CAST(1000000 - (CAST(2000000 AS HUGEINT)
        * coalesce(s.sum_xy, 0) * sa.n_tot * sb.n_tot)
    // (CAST(sa.sum_sq AS HUGEINT) * sb.n_tot * sb.n_tot
        + CAST(sb.sum_sq AS HUGEINT) * sa.n_tot * sa.n_tot)
    AS BIGINT) AS mh_ppm
FROM stats sa
JOIN stats sb ON sa.block = sb.block AND sa.sample_id < sb.sample_id
LEFT JOIN shared s
  ON s.sample_a = sa.sample_id AND s.sample_b = sb.sample_id
""",
)
def beta_diversity_morisita_horn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Morisita-Horn dissimilarity (ppm-exact), nation-blocked.

    Scale: per-sample stats and the Σxy pair former are both map-side
    combinable aggregations; pairs never form outside a (segment,
    nation) block (the braycurtis discipline — sub-blocking applies
    identically if a block skews). All multiplication in
    DECIMAL(38,0)/HUGEINT; output is floored BIGINT ppm.
    """
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(F.expr(_MH_SEL)).select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_nationkey").alias("block"),
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .groupBy("sample_id", "block", "otu_id")
        .agg(F.sum(F.col("cnt").cast("bigint")).alias("c"))
    )
    stats = a.groupBy("sample_id", "block").agg(
        F.sum("c").alias("n_tot"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    x_, y_ = a.alias("x"), a.alias("y")
    shared = (
        x_.join(
            y_,
            (F.col("x.otu_id") == F.col("y.otu_id"))
            & (F.col("x.block") == F.col("y.block"))
            & (F.col("x.sample_id") < F.col("y.sample_id")),
        )
        .groupBy(
            F.col("x.sample_id").alias("sample_a"),
            F.col("y.sample_id").alias("sample_b"),
        )
        .agg(F.sum(F.col("x.c") * F.col("y.c")).alias("sum_xy"))
    )
    sa, sb = stats.alias("sa"), stats.alias("sb")
    return (
        sa.join(
            sb,
            (F.col("sa.block") == F.col("sb.block"))
            & (F.col("sa.sample_id") < F.col("sb.sample_id")),
        )
        .join(
            shared,
            (F.col("sa.sample_id") == shared.sample_a)
            & (F.col("sb.sample_id") == shared.sample_b),
            "left",
        )
        .select(
            F.col("sa.sample_id").alias("sample_a"),
            F.col("sb.sample_id").alias("sample_b"),
            # Overflow guard (r6 ADVICE): Spark DECIMAL(38,0)
            # multiplication silently loses precision past 38 digits
            # while DuckDB HUGEINT errors loudly — a divergent failure
            # mode. assert_true makes the Spark side fail loudly too
            # once the 4-factor products approach the 38-digit ceiling
            # (double-precision headroom check at 9e37, i.e. ~10% under
            # 10^38 to absorb the float compare's ulp slop). Remedy at
            # that scale: pre-scale counts per sample (MH is invariant
            # under per-sample x -> λx). Folded into the output CASE so
            # column pruning cannot drop the assertion.
            F.expr(
                "CASE WHEN assert_true("
                "  2.0e6 * CAST(coalesce(sum_xy, 0) AS DOUBLE)"
                "    * CAST(sa.n_tot AS DOUBLE) * CAST(sb.n_tot AS DOUBLE)"
                "    <= 9.0e37"
                "  AND CAST(sa.sum_sq AS DOUBLE) * CAST(sb.n_tot AS DOUBLE)"
                "    * CAST(sb.n_tot AS DOUBLE) <= 4.5e37"
                "  AND CAST(sb.sum_sq AS DOUBLE) * CAST(sa.n_tot AS DOUBLE)"
                "    * CAST(sa.n_tot AS DOUBLE) <= 4.5e37,"
                "  'morisita_horn: DECIMAL(38,0) overflow headroom"
                " exhausted — pre-scale per-sample counts') IS NULL THEN"
                " CAST(1000000 - (CAST(2000000 AS DECIMAL(38,0))"
                " * coalesce(sum_xy, 0) * sa.n_tot * sb.n_tot)"
                " div (CAST(sa.sum_sq AS DECIMAL(38,0)) * sb.n_tot * sb.n_tot"
                "      + CAST(sb.sum_sq AS DECIMAL(38,0)) * sa.n_tot * sa.n_tot)"
                " AS BIGINT) END"
            ).alias("mh_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# permanova_pseudo_f — PERMANOVA (Anderson 2001) pseudo-F on the
# Bray-Curtis distance matrix over the bounded ANOSIM study selection
# (two mktsegments × 5 nations; reference comparison-page contract —
# the statistic exists for a user-filtered selection, never the whole
# lake). Distance-based sums of squares need no centering:
#   SS_total  = (1/N)   Σ_{i<j} d²_ij          (all pairs)
#   SS_within = Σ_g (1/n_g) Σ_{i<j ∈ g} d²_ij  (within-group pairs)
#   F = (SS_between/(k−1)) / (SS_within/(N−k)),  SS_between = SS_t − SS_w
# d is integer ppm so d² is exact; pair sums accumulate in 128-bit
# (Σd² of ppm² values passes int64 around ~9M pairs) and every output
# is floored back to BIGINT ppm² / milli units. The classical
# permutation p-value is intentionally absent: a permutation loop is a
# resampling harness, not a query — the pseudo-F against its d.o.f. is
# the deterministic, oracle-verifiable part.
#
# Scale shape: identical to anosim_groups — one abundance scan, shared
# sum_min via the otu-keyed inverted join, the all-pairs former is a
# bounded broadcast over the study selection (documented BNLJ).
# ---------------------------------------------------------------------------


@register(
    "permanova_pseudo_f",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_mktsegment AS grp
  FROM customer WHERE {_ANOSIM_SEL}
),
a AS (
  SELECT ab.sample_id, grp, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, grp, otu_id
),
tot AS (
  SELECT sample_id, grp, CAST(sum(c) AS BIGINT) AS tot
  FROM a GROUP BY sample_id, grp
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS sum_min
  FROM a x JOIN a y ON x.otu_id = y.otu_id AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
),
pairs AS (
  SELECT ta.grp AS ga, tb.grp AS gb,
    1000000 - (2000000 * coalesce(s.sum_min, 0)) // (ta.tot + tb.tot)
      AS d_ppm
  FROM tot ta JOIN tot tb ON ta.sample_id < tb.sample_id
  LEFT JOIN shared s
    ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
),
gn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g FROM tot GROUP BY grp),
nk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_samples,
         CAST(count(DISTINCT grp) AS BIGINT) AS k_groups
  FROM tot
),
sst AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(CAST(sum(CAST(d_ppm AS HUGEINT) * d_ppm) AS HUGEINT)
         // (SELECT n_samples FROM nk) AS BIGINT) AS ss_total_ppm2
  FROM pairs
),
wg AS (
  SELECT ga AS grp, CAST(sum(CAST(d_ppm AS HUGEINT) * d_ppm) AS HUGEINT)
    AS s2
  FROM pairs WHERE ga = gb GROUP BY ga
),
ssw AS (
  SELECT CAST(sum(CAST(s2 // n_g AS BIGINT)) AS BIGINT) AS ss_within_ppm2
  FROM wg JOIN gn USING (grp)
)
SELECT nk.n_samples, nk.k_groups, sst.n_pairs,
  sst.ss_total_ppm2, ssw.ss_within_ppm2,
  sst.ss_total_ppm2 - ssw.ss_within_ppm2 AS ss_between_ppm2,
  CASE WHEN ssw.ss_within_ppm2 = 0 OR nk.k_groups < 2
       THEN CAST(NULL AS BIGINT)
       ELSE CAST(
         CAST(sst.ss_total_ppm2 - ssw.ss_within_ppm2 AS HUGEINT)
           * (nk.n_samples - nk.k_groups) * 1000
         // (CAST(ssw.ss_within_ppm2 AS HUGEINT) * (nk.k_groups - 1))
         AS BIGINT) END AS pseudo_f_milli
FROM nk CROSS JOIN sst CROSS JOIN ssw
""",
)
def permanova_pseudo_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-based pseudo-F for group separation (one row).

    The pair matrix and the per-sample totals are READ from the
    distance store (r12 VERDICT item 1) — the comparison page builds
    them once per submitted selection; this statistic is two tiny
    aggregates over the stored pairs cross-joined as 1-row frames.
    128-bit sums carried as DECIMAL(38,0), floored to BIGINT at every
    output.
    """
    from bpaotu_spark.operators.diststore import (
        anosim_pairs_cached,
        anosim_tot_cached,
    )

    tot = anosim_tot_cached(spark, sf_dir)
    pairs = anosim_pairs_cached(spark, sf_dir).select(
        F.col("grp_a").alias("ga"),
        F.col("grp_b").alias("gb"),
        "d_ppm",
    )
    d2 = (F.col("d_ppm").cast("decimal(38,0)") * F.col("d_ppm")).alias("d2")
    nk = tot.agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.countDistinct("grp").alias("k_groups"),
    )
    sst = pairs.select(d2).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("d2").alias("s2_all"),
    )
    gn = tot.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g"))
    wg = (
        pairs.filter(F.col("ga") == F.col("gb"))
        .select(F.col("ga").alias("grp"), d2)
        .groupBy("grp")
        .agg(F.sum("d2").alias("s2"))
    )
    ssw = (
        wg.join(F.broadcast(gn), "grp")
        .select(F.expr("CAST(s2 div n_g AS BIGINT)").alias("ss_g"))
        .agg(F.sum("ss_g").alias("ss_within_ppm2"))
    )
    return (
        nk.crossJoin(sst)
        .crossJoin(ssw)
        .select(
            "n_samples",
            "k_groups",
            "n_pairs",
            F.expr("CAST(s2_all div n_samples AS BIGINT)").alias(
                "ss_total_ppm2"
            ),
            "ss_within_ppm2",
            F.expr(
                "CAST(s2_all div n_samples AS BIGINT) - ss_within_ppm2"
            ).alias("ss_between_ppm2"),
            F.expr(
                "CASE WHEN ss_within_ppm2 = 0 OR k_groups < 2"
                " THEN CAST(NULL AS BIGINT)"
                " ELSE CAST((CAST(CAST(s2_all div n_samples AS BIGINT)"
                "   - ss_within_ppm2 AS DECIMAL(38,0))"
                "   * (n_samples - k_groups) * 1000)"
                " div (CAST(ss_within_ppm2 AS DECIMAL(38,0))"
                "   * (k_groups - 1)) AS BIGINT) END"
            ).alias("pseudo_f_milli"),
        )
    )


# ---------------------------------------------------------------------------
# otu_region_overlap — shared-OTU Venn census between regions (the
# portal's "compare selections" upset/Venn view; reference comparison
# page operates on taxonomy sets per contextual selection). For every
# region pair: |A|, |B|, |A∩B|, the exclusive counts and Jaccard ppm
# over DISTINCT OTUs observed in each region's samples.
#
# Scale shape: one abundance scan → distinct (region, otu) pairs
# (map-side combined); the intersection self-join keys on otu_id with
# per-key multiplicity ≤ |regions| (5), so the join output is ≤ 25×
# the distinct-otu table regardless of fact size; the pair frame is a
# broadcast cross of the 5-row per-region count table (LEFT-joined so
# zero-overlap pairs still appear).
# ---------------------------------------------------------------------------


@register(
    "otu_region_overlap",
    oracle=f"""
WITH {ABUNDANCE_CTE},
reg AS (
  SELECT c_custkey, r_name
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
ro AS (
  SELECT DISTINCT r_name, otu_id
  FROM abundance ab JOIN reg ON ab.sample_id = reg.c_custkey
),
cnt AS (
  SELECT r_name, CAST(count(*) AS BIGINT) AS n FROM ro GROUP BY r_name
),
inter AS (
  SELECT a.r_name AS region_a, b.r_name AS region_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM ro a JOIN ro b ON a.otu_id = b.otu_id AND a.r_name < b.r_name
  GROUP BY a.r_name, b.r_name
)
SELECT ca.r_name AS region_a, cb.r_name AS region_b,
  ca.n AS n_a, cb.n AS n_b,
  coalesce(i.n_shared, 0) AS n_shared,
  ca.n - coalesce(i.n_shared, 0) AS only_a,
  cb.n - coalesce(i.n_shared, 0) AS only_b,
  coalesce(i.n_shared, 0) * 1000000
    // (ca.n + cb.n - coalesce(i.n_shared, 0)) AS jaccard_ppm
FROM cnt ca JOIN cnt cb ON ca.r_name < cb.r_name
LEFT JOIN inter i ON i.region_a = ca.r_name AND i.region_b = cb.r_name
""",
)
def otu_region_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("c_custkey").alias("sample_id"), "r_name")
    )
    ro = (
        abundance(spark, sf_dir)
        .join(reg, "sample_id")
        .select("r_name", "otu_id")
        .distinct()
    )
    # two consumers (cnt + self-join) of a distinct over the fact scan:
    # materialize once, same contract as the simhash signature table
    ro = ro.localCheckpoint()
    cnt = ro.groupBy("r_name").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = ro.alias("a"), ro.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.otu_id") == F.col("b.otu_id"))
            & (F.col("a.r_name") < F.col("b.r_name")),
        )
        .groupBy(
            F.col("a.r_name").alias("region_a"),
            F.col("b.r_name").alias("region_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ca = cnt.select(F.col("r_name").alias("region_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("r_name").alias("region_b"), F.col("n").alias("n_b"))
    shared = F.coalesce(F.col("n_shared"), F.lit(0).cast("bigint"))
    return (
        ca.join(F.broadcast(cb), F.col("region_a") < F.col("region_b"))
        .join(F.broadcast(inter), ["region_a", "region_b"], "left")
        .select(
            "region_a",
            "region_b",
            "n_a",
            "n_b",
            shared.alias("n_shared"),
            (F.col("n_a") - shared).alias("only_a"),
            (F.col("n_b") - shared).alias("only_b"),
            F.expr(
                "coalesce(n_shared, CAST(0 AS BIGINT)) * 1000000"
                " div (n_a + n_b - coalesce(n_shared, CAST(0 AS BIGINT)))"
            ).alias("jaccard_ppm"),
        )
    )
