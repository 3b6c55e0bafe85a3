"""Persisted exact ground-truth top-k tables for the recall-eval
family (r14 VERDICT item 3).

Every recall/quality evaluation in the ANN subsystem compares an
approximate search against EXACT brute-force truth — and until r15
each evaluation recomputed that truth leg per run:
``ann_beam_topk_quality`` and ``ann_tombstone_search_recall`` each
paid a fresh |queries| × |corpus| exact scan (the #4/#6 headline
costs, 5.73 / 5.16 s at sf0.1), and the recall sweeps recomputed
``ann_bruteforce_topk`` wholesale. The truth table is a deterministic
function of (corpus, query set) — exactly the build-once/read-many
contract of :mod:`bpaotu_spark.ann.index_store` — and at scale you
NEVER recompute exact ground truth per evaluation: the standard
recall-eval shape (ann-benchmarks, FreshDiskANN §5 evaluation) builds
the ground-truth file once per dataset and scores every index run
against it.

Reference parity: the reference's BLAST search scores hits against a
pre-built database, not a per-request rescan (public
``bpaotu/otu/blast.py``).

Artifacts (all fingerprinted on the embeddings table; every
consumer's DuckDB oracle keeps computing truth from scratch, so the
driver verifies the store-served values each round):

* ``truth_topk_cos``     — (query_id, cand_id, rnk, cos_sim): the
  exact 6-dp-rounded cosine top-``TOP_K`` per demo query — the
  ``ann_bruteforce_topk`` result itself, now store-served; the
  recall sweeps/reports compose it warm.
* ``truth_grid_top10``   — (query_id, cand_id, trank, cand_d2): the
  exact milli-grid L2² top-10 per query over the FULL corpus (the
  ``ann_beam_topk_quality`` truth leg).
* ``truth_grid_nn_surv`` — (query_id, true_id, true_d2): the exact
  survivor-only nearest neighbour per surviving query (the
  post-takedown truth ``ann_tombstone_search_recall`` scores
  against; tombstone convention vec_id ≡ 7 mod 50).

Scale shape: each build is one broadcast of the bounded query set
against the corpus scan followed by a per-query window top-k —
O(|Q|·|corpus|), embarrassingly parallel, shuffle-free until the
final bounded top-k; reads thereafter are checkpoint scans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

_TRUTH_K = 10  # == extras3._QUAL_K, the deepest k any consumer cuts


def _grid_d2(qcol: str, ccol: str) -> F.Column:
    # exact integer milli-grid L2² — the extras3 walk/truth arithmetic
    # (unrolled over the static embedding width; long adds are
    # associative so the value is identical to the fold)
    from bpaotu_spark.dedup.core import grid_d2

    return grid_d2(F.col(qcol), F.col(ccol))


def bruteforce_topk_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine top-k table (query_id, cand_id, rnk, cos_sim),
    built once per data fingerprint and persisted — the ground truth
    every cosine-metric recall report scores against."""
    from bpaotu_spark.ann.core import _bruteforce_topk_build
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "truth_topk_cos",
        lambda: _bruteforce_topk_build(spark, sf_dir),
    )


def grid_top10_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, trank, cand_d2) — exact milli-grid L2²
    top-10 per demo query over the full corpus (self excluded),
    persisted. ``trank`` breaks ties on (d2, cand_id), the subsystem's
    deterministic total order."""
    from bpaotu_spark.ann.core import N_QUERIES, quantized_embeddings
    from bpaotu_spark.ann.index_store import cached_frame

    def build() -> DataFrame:
        eq = quantized_embeddings(spark, sf_dir)
        qs = eq.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
        )
        cand = eq.join(
            F.broadcast(qs), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            _grid_d2("qv", "q").cast("long").alias("cand_d2"),
        )
        wt = Window.partitionBy("query_id").orderBy("cand_d2", "cand_id")
        return (
            cand.withColumn("trank", F.row_number().over(wt))
            .filter(F.col("trank") <= _TRUTH_K)
            .select("query_id", "cand_id", "trank", "cand_d2")
        )

    return cached_frame(spark, sf_dir, "truth_grid_top10", build)


def grid_nn_surv_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, true_id, true_d2) — the exact nearest SURVIVING
    neighbour per surviving demo query (tombstones vec_id ≡ 7 mod 50
    excluded on both sides), persisted. The post-takedown ground truth
    the patched-graph search is scored against."""
    from bpaotu_spark.ann.core import N_QUERIES, quantized_embeddings
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES

    def build() -> DataFrame:
        eq = quantized_embeddings(spark, sf_dir)
        is_surv = (F.col("vec_id") % _VTOMB_MOD) != _VTOMB_RES
        qs = eq.filter((F.col("vec_id") < N_QUERIES) & is_surv).select(
            F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
        )
        cand = (
            eq.filter(is_surv)
            .join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("cand_id"),
                _grid_d2("qv", "q").cast("long").alias("cand_d2"),
            )
        )
        wt = Window.partitionBy("query_id").orderBy("cand_d2", "cand_id")
        return (
            cand.withColumn("rn", F.row_number().over(wt))
            .filter("rn = 1")
            .select(
                "query_id",
                F.col("cand_id").alias("true_id"),
                F.col("cand_d2").alias("true_d2"),
            )
        )

    return cached_frame(spark, sf_dir, "truth_grid_nn_surv", build)


def build_truth_store(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The BUILD JOB: construct and persist every ground-truth
    artifact for ``sf_dir`` in one call (runs inside
    ``ann.index_store.build_ann_index``). Idempotent."""
    return {
        "truth_topk_cos": bruteforce_topk_cached(spark, sf_dir).count(),
        "truth_grid_top10": grid_top10_cached(spark, sf_dir).count(),
        "truth_grid_nn_surv": grid_nn_surv_cached(spark, sf_dir).count(),
    }
