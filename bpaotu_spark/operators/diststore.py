"""Build-once / query-many persistence for the comparison-page
distance matrices (r12 VERDICT item 1).

Reference parity: the reference's comparison page computes the
selected-study distance matrix ONCE per submitted selection and every
downstream view (ordination plot, group test, dispersion table) reads
it (public ``bpaotu/otu/views.py`` comparison workflow). Until round
12 our permutation/ordination family rebuilt the same Bray-Curtis
pair frame inside every query — ``anosim_permutation_p`` and
``permanova_permutation_p`` were bench ranks #1/#2 (12.4 s + 10.5 s
at sf0.1) almost entirely on repeated pair-former work.

This module gives the two selected-study substrates the exact
lifecycle the ANN graph got in r11 (:mod:`bpaotu_spark.ann.
index_store`): fingerprint-keyed artifacts, built on first touch,
atomically published, read thereafter — in-process for the same
session, from the store for a fresh JVM.

Artifacts (all exact-integer frames, deterministic functions of the
data — the DuckDB oracles of every consumer keep computing from
scratch, so the driver verifies the store-served values each round):

* ``sample_otu``       — (sample_id, otu_id, cnt, order_id): the
  SampleOTU fact every study selection scans
  (:func:`bpaotu_spark.operators.bpaotu.sample_otu`, keyed on lineitem
  and orders).
* ``anosim_sel``       — (sample_id, grp): the study selection, one
  row per selected sample (keyed on ``customer`` alone); the
  permutation tests read it into the driver.
* ``bray_a_anosim``    — (sample_id, grp, otu_id, c): the per-sample
  OTU counts of the ANOSIM study cohort (the one fact scan).
* ``bray_tot_anosim``  — (sample_id, grp, tot): per-sample totals.
* ``bray_pairs_anosim`` — (sample_a, sample_b, grp_a, grp_b, d_ppm):
  the full upper-triangle Bray-Curtis pair matrix with group labels.
* ``bray_pairs_pcoa``  — (i, j, dp): the symmetric-with-diagonal pair
  matrix of the PCoA plot cohort.

The fingerprint covers lineitem + orders + customer (the join inputs)
so any regenerated table invalidates every artifact; the selection
depends on customer only.

At 100 TB this is the real deployment shape: the comparison-page
submit triggers ONE distance-matrix build job over the bounded study
selection (the selection bound — a few hundred samples — is what
makes the |sel|² matrix storable at any corpus size); every statistic
the page renders is then a read-only aggregate of the stored matrix.

Consumers repointed in r13: ``anosim_groups``,
``anosim_permutation_p``, ``permanova_permutation_p``,
``permanova_pseudo_f``, ``beta_dispersion_groups``,
``simper_contributions`` (reads ``bray_a_anosim``),
``ordination_pcoa_2d`` (reads ``bray_pairs_pcoa``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.operators.bpaotu import (
    ABUNDANCE_CTE,
    abundance,
    abundance_selected,
    sample_otu,
)
from bpaotu_spark.operators.ecology import _ANOSIM_SEL
from bpaotu_spark.registry import register

# fingerprint inputs of every abundance-derived artifact
_DIST_TABLES = ("lineitem", "orders", "customer")


def anosim_sel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, grp) — the bounded ANOSIM study selection (a
    customer-dimension scan)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_ANOSIM_SEL))
        .select(
            F.col("c_custkey").alias("sample_id"),
            F.col("c_mktsegment").alias("grp"),
        )
    )


def anosim_sel_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`anosim_sel`, store-served: the permutation tests read
    its published files into the driver instead of collecting the
    customer scan on every call."""
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "anosim_sel",
        lambda: anosim_sel(spark, sf_dir),
        table="customer",
    )


def anosim_abundance_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, grp, otu_id, c) — the study cohort's per-sample OTU
    counts, store-served (the one fact scan every distance consumer
    used to repeat)."""
    from bpaotu_spark.ann.index_store import cached_frame

    def build() -> DataFrame:
        sel = anosim_sel(spark, sf_dir)
        return (
            abundance_selected(spark, sf_dir, sel)
            .groupBy("sample_id", "grp", "otu_id")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
        )

    return cached_frame(
        spark, sf_dir, "bray_a_anosim", build, table=_DIST_TABLES
    )


def anosim_tot_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, grp, tot) — per-sample abundance totals over the
    study cohort (only samples WITH abundance rows, the anosim/
    permanova sample universe)."""
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "bray_tot_anosim",
        lambda: anosim_abundance_cached(spark, sf_dir)
        .groupBy("sample_id", "grp")
        .agg(F.sum("c").cast("bigint").alias("tot")),
        table=_DIST_TABLES,
    )


def anosim_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_a, sample_b, grp_a, grp_b, d_ppm) — the upper-triangle
    Bray-Curtis distance matrix of the study cohort, store-served.
    d_ppm = 1e6 − (2e6·Σmin) div (tot_a + tot_b), exact integers."""
    from bpaotu_spark.ann.index_store import cached_frame

    def build() -> DataFrame:
        a = anosim_abundance_cached(spark, sf_dir)
        tot = anosim_tot_cached(spark, sf_dir)
        x, y = a.alias("x"), a.alias("y")
        # shared mass via the otu-keyed inverted join (never all-pairs)
        shared = (
            x.join(
                y,
                (F.col("x.otu_id") == F.col("y.otu_id"))
                & (F.col("x.sample_id") < F.col("y.sample_id")),
            )
            .groupBy(
                F.col("x.sample_id").alias("sa"),
                F.col("y.sample_id").alias("sb"),
            )
            .agg(
                F.sum(F.least("x.c", "y.c")).cast("bigint").alias("sum_min")
            )
        )
        ta, tb = tot.alias("ta"), tot.alias("tb")
        # bounded broadcast pair former over the study selection (the
        # documented BNLJ every comparison-page statistic requires)
        return (
            ta.join(
                F.broadcast(tb),
                F.col("ta.sample_id") < F.col("tb.sample_id"),
            )
            .join(
                shared,
                (F.col("ta.sample_id") == shared.sa)
                & (F.col("tb.sample_id") == shared.sb),
                "left",
            )
            .select(
                F.col("ta.sample_id").alias("sample_a"),
                F.col("tb.sample_id").alias("sample_b"),
                F.col("ta.grp").alias("grp_a"),
                F.col("tb.grp").alias("grp_b"),
                F.expr(
                    "1000000 - (2000000 * coalesce(sum_min, 0))"
                    " div (ta.tot + tb.tot)"
                ).alias("d_ppm"),
            )
        )

    return cached_frame(
        spark, sf_dir, "bray_pairs_anosim", build, table=_DIST_TABLES
    )


def pcoa_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, dp) — the symmetric-with-diagonal Bray-Curtis matrix of
    the PCoA plot cohort, store-served (feeds the Gower operator)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.operators.ordination import _bc_pairs_build

    return cached_frame(
        spark,
        sf_dir,
        "bray_pairs_pcoa",
        lambda: _bc_pairs_build(spark, sf_dir),
        table=_DIST_TABLES,
    )


# the UniFrac artifacts additionally depend on the part lineage
_UF_TABLES = ("lineitem", "orders", "customer", "part")


def unifrac_pres_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, edge) — the study cohort's spanned lineage-edge
    sets (the unweighted-UniFrac substrate), store-served (r13 VERDICT
    item 2: the comparison-page lifecycle, applied to the
    phylogeny-aware pair family)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.operators.ecology2 import _uf_pres_build

    return cached_frame(
        spark,
        sf_dir,
        "unifrac_pres",
        lambda: _uf_pres_build(spark, sf_dir),
        table=_UF_TABLES,
    )


def unifrac_uw_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_a, sample_b, n_edges_a, n_edges_b, n_shared_edges,
    unifrac_ppm) — the full unweighted-UniFrac pair matrix,
    store-served (built FROM the persisted edge sets)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.operators.ecology2 import _uf_uw_pairs_build

    return cached_frame(
        spark,
        sf_dir,
        "unifrac_uw_pairs",
        lambda: _uf_uw_pairs_build(spark, sf_dir),
        table=_UF_TABLES,
    )


def unifrac_e2_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_id, edge, c, t, own_ppm) — the weighted-UniFrac
    per-edge mass table of the study cohort, store-served."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.operators.ecology2 import _uf_e2_build

    return cached_frame(
        spark,
        sf_dir,
        "unifrac_eab",
        lambda: _uf_e2_build(spark, sf_dir),
        table=_UF_TABLES,
    )


def unifrac_w_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sample_a, sample_b, total_a, total_b, wu_ppm) — the full
    weighted-UniFrac pair matrix, store-served (built FROM the
    persisted per-edge mass table)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.operators.ecology2 import _uf_w_pairs_build

    return cached_frame(
        spark,
        sf_dir,
        "unifrac_w_pairs",
        lambda: _uf_w_pairs_build(spark, sf_dir),
        table=_UF_TABLES,
    )


def build_dist_store(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The BUILD JOB: construct and persist every distance-matrix
    artifact for ``sf_dir`` in one call (the comparison-page submit
    step). Returns ``{artifact: n_rows}``; idempotent — a second call
    reads every artifact from the store."""
    fact = sample_otu(spark, sf_dir)
    return {
        "sample_otu": (
            abundance(spark, sf_dir) if fact is None else fact
        ).count(),
        "anosim_sel": anosim_sel_cached(spark, sf_dir).count(),
        "bray_a_anosim": anosim_abundance_cached(spark, sf_dir).count(),
        "bray_tot_anosim": anosim_tot_cached(spark, sf_dir).count(),
        "bray_pairs_anosim": anosim_pairs_cached(spark, sf_dir).count(),
        "bray_pairs_pcoa": pcoa_pairs_cached(spark, sf_dir).count(),
        # r14 (r13 VERDICT item 2): the UniFrac lineage pair frames
        "unifrac_pres": unifrac_pres_cached(spark, sf_dir).count(),
        "unifrac_uw_pairs": unifrac_uw_pairs_cached(spark, sf_dir).count(),
        "unifrac_eab": unifrac_e2_cached(spark, sf_dir).count(),
        "unifrac_w_pairs": unifrac_w_pairs_cached(spark, sf_dir).count(),
    }


# ---------------------------------------------------------------------------
# dist_matrix_store_stats — the store-served distance matrix itself,
# driver-verified: every aggregate below reads the PERSISTED pair
# matrix on the Spark side while the oracle recomputes the matrix
# from scratch — so a stale, truncated, or corrupted store artifact
# fails the hash compare the same round it appears.
# ---------------------------------------------------------------------------


@register(
    "dist_matrix_store_stats",
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
dpairs AS (
  SELECT ta.grp AS grp_a, tb.grp AS grp_b,
    1000000 - (2000000 * coalesce(s.sum_min, 0)) // (ta.tot + tb.tot)
      AS d_ppm
  FROM tot ta JOIN tot tb ON ta.sample_id < tb.sample_id
  LEFT JOIN shared s
    ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tot) AS n_samples,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(CASE WHEN grp_a = grp_b THEN 1 ELSE 0 END) AS BIGINT)
    AS n_within,
  CAST(sum(d_ppm) AS BIGINT) AS sum_d_ppm,
  CAST(min(d_ppm) AS BIGINT) AS min_d_ppm,
  CAST(max(d_ppm) AS BIGINT) AS max_d_ppm
FROM dpairs
""",
)
def dist_matrix_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row over the STORE-SERVED study distance matrix:
    (n_samples, n_pairs, n_within, sum_d_ppm, min_d_ppm, max_d_ppm).
    The oracle recomputes the matrix from scratch, so this row IS the
    per-round integrity check of the persisted artifact."""
    tot = anosim_tot_cached(spark, sf_dir)
    pairs = anosim_pairs_cached(spark, sf_dir)
    ns = tot.agg(F.count(F.lit(1)).cast("bigint").alias("n_samples"))
    st = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("grp_a") == F.col("grp_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within"),
        F.sum("d_ppm").cast("bigint").alias("sum_d_ppm"),
        F.min("d_ppm").cast("bigint").alias("min_d_ppm"),
        F.max("d_ppm").cast("bigint").alias("max_d_ppm"),
    )
    return ns.crossJoin(st).select(
        "n_samples",
        "n_pairs",
        "n_within",
        "sum_d_ppm",
        "min_d_ppm",
        "max_d_ppm",
    )
