"""Build-once / query-many persistence for the dedup signature
substrate (r13 VERDICT item 1).

Reference parity: the reference ingests data ONCE through a validating
importer and every query reads the standing tables (public
``bpaotu/otu/importer.py``); the dedup analogue is a signature/pair
index built at ingest and read by every downstream report. Until
round 13 our heavy dedup-family queries each rebuilt the MinHash
signatures from raw shingles — the block at bench ranks #8–#25
(``dedup_family_agreement`` 5.55 s, ``corpus_near_dedup_keep_first``
5.22, ``dedup_survival_by_source`` 5.05, ``dedup_family_histogram``
4.65, ``dedup_cluster_cc`` 4.51, ``dedup_simhash`` 3.70,
``dedup_lsh_recall_report`` 3.45 at sf0.1) paid repeated
signature-former work, the exact shape the r13 distance store
eliminated for the permutation family.

This module gives the dedup substrates the same lifecycle
(:mod:`bpaotu_spark.ann.index_store`): fingerprint-keyed artifacts,
built on first touch, atomically published, read thereafter.

Artifacts (all deterministic functions of the data — every consumer's
DuckDB oracle keeps computing from scratch, so the driver verifies the
store-served values each round):

* ``dedup_hash_all``      — (doc_id, h): full-corpus md5 rows.
* ``dedup_bands_all``     — (doc_id, band, key): full-corpus MinHash
  LSH band table (the incremental/tombstone base since r12/r13; the
  batch consumers now read it too).
* ``simhash_sig_all``     — (doc_id, simhash): full-corpus SimHash.
* ``emb_lsh_all``         — (vec_id, bucket): full-corpus sign-LSH
  bucket membership.
* ``dedup_lsh_pairs``     — (doc_a, doc_b, n_shared_bands): the
  bucket-capped MinHash candidate pair table.
* ``dedup_simhash_pairs`` — (doc_a, doc_b, hamming): the banded
  Hamming≤max SimHash pair table.
* ``dedup_jaccard_pairs`` — (doc_a, doc_b, jaccard): the exact
  df-capped n-gram Jaccard ≥ threshold pair table (the recall-report
  ground truth).
* ``dedup_cc_labels``     — (node, component): star-CC labels of the
  MinHash pair graph (the keep-first verdict substrate).
* ``emb_lsh_pairs``       — (vec_a, vec_b, bucket, cos_sim): the
  sign-LSH cosine near-dup pair table over the embedding corpus
  (r15: the salted bucket self-join runs once per fingerprint).
* ``semantic_cc_labels``  — (node, component): star-CC labels of the
  sign-LSH pair graph (the semantic keep-first verdict substrate).

At 100 TB this is the real deployment shape: the nightly ingest job
builds signatures/pairs/clusters ONCE (the candidate-pair and CC work
is bounded by banding + bucket caps, never |corpus|²); every census,
verdict, and calibration report the curation team reads is then a
read-only aggregate of the stored frames.

Consumers repointed in r14: ``dedup_minhash_lsh``, ``dedup_simhash``,
``dedup_ngram_jaccard``, ``dedup_cluster_cc``,
``corpus_near_dedup_keep_first``, ``lsh_bucket_profile`` — which warms
every operator composing them (family agreement/histogram, survival,
cross-source matrix, band sweep, recall report, final verdict,
entropy-dedup calibration, shard writer).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

import bpaotu_spark.dedup.core  # noqa: F401  (populates ORACLES used below)
from bpaotu_spark.catalog import load_table
from bpaotu_spark.registry import ORACLES, register

# fingerprint input of every document-derived artifact
_DOCS = "documents"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, _DOCS).select("doc_id", "text")


def full_hash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing exact index: (doc_id, h) over the FULL corpus,
    persisted through the index store (the per-doc hash rows a
    production exact-dedup service keeps, not just the canon map —
    deletion needs the membership rows to re-elect keepers)."""
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "dedup_hash_all",
        lambda: _docs(spark, sf_dir).select(
            "doc_id", F.md5("text").alias("h")
        ),
        table=_DOCS,
    )


def full_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing MinHash index over the FULL corpus: (doc_id,
    band, key), persisted through the index store."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import minhash_bands

    return cached_frame(
        spark,
        sf_dir,
        "dedup_bands_all",
        lambda: minhash_bands(_docs(spark, sf_dir)),
        table=_DOCS,
    )


def full_simhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) over the FULL corpus, persisted."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import simhash_signatures

    return cached_frame(
        spark,
        sf_dir,
        "simhash_sig_all",
        lambda: simhash_signatures(_docs(spark, sf_dir)),
        table=_DOCS,
    )


def full_emb_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket) over the FULL corpus — the standing sign-LSH
    membership rows, persisted (read by the vector takedown pass and
    the debt census)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import _emb_bucket

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        return emb.select(
            "vec_id", _emb_bucket(F.col("v")).alias("bucket")
        )

    return cached_frame(
        spark, sf_dir, "emb_lsh_all", build, table="embeddings"
    )


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) — the bucket-capped MinHash-LSH
    candidate pair table, store-served. Built FROM the persisted band
    table (one read, no signature recompute); the pair former is the
    bucket-collect + double-explode of the batch operator (the LSH
    block is the bucket; never a corpus self-join)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import LSH_BUCKET_CAP

    def build() -> DataFrame:
        bands = full_band_index(spark, sf_dir)
        bsz = bands.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("m")
        )
        kept = bands.join(
            bsz.filter(F.col("m").between(2, LSH_BUCKET_CAP)),
            ["band", "key"],
        ).select("doc_id", "band", "key")
        buckets = kept.groupBy("band", "key").agg(
            F.collect_list("doc_id").alias("ds")
        )
        pairs = (
            buckets.select(F.explode("ds").alias("doc_a"), F.col("ds"))
            .select("doc_a", F.explode("ds").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
        return pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("n_shared_bands")
        )

    return cached_frame(
        spark, sf_dir, "dedup_lsh_pairs", build, table=_DOCS
    )


def simhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) — the banded Hamming≤max SimHash pair
    table, store-served. Built FROM the persisted signature table.
    Pair generation keeps the banded self-join (not bucket-collect):
    this corpus's simhashes cluster, so buckets hold a large fraction
    of all docs — the shuffle join spreads bucket×bucket work across
    partitions and AQE skew-join splits the hot buckets (measured 70 s
    vs 9 s in the batch operator's original tuning)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import HAMMING_MAX, simhash_banded

    def build() -> DataFrame:
        banded = simhash_banded(full_simhash_index(spark, sf_dir))
        x = banded.select(
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("sh_a"),
            "b",
            "band_val",
        )
        y = banded.select(
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("sh_b"),
            F.col("b").alias("b_y"),
            F.col("band_val").alias("bv_y"),
        )
        hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return (
            x.join(
                y,
                (x.b == y.b_y)
                & (x.band_val == y.bv_y)
                & (x.doc_a < y.doc_b),
            )
            .filter(hamming <= HAMMING_MAX)
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .distinct()
        )

    return cached_frame(
        spark, sf_dir, "dedup_simhash_pairs", build, table=_DOCS
    )


def jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — the exact df-capped word-3-gram
    Jaccard ≥ threshold pair table (the LSH recall report's ground
    truth), store-served. The inverted-index pair former is the batch
    operator's (shingle-blocked, df-capped, never all-pairs)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import (
        JACCARD_THRESHOLD,
        NGRAM_DF_CAP,
        doc_ngrams,
    )

    def build() -> DataFrame:
        ng = doc_ngrams(spark, sf_dir)
        sz = ng.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        gdf = ng.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        ngk = ng.join(
            gdf.filter(F.col("df").between(2, NGRAM_DF_CAP)), "g"
        ).select("doc_id", "g")
        buckets = ngk.groupBy("g").agg(F.collect_list("doc_id").alias("ds"))
        pairs = (
            buckets.select(F.explode("ds").alias("doc_a"), F.col("ds"))
            .select("doc_a", F.explode("ds").alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        sa = sz.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
        )
        sb = sz.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
        )
        jac = (
            F.col("shared")
            * 1.0
            / (F.col("n_a") + F.col("n_b") - F.col("shared"))
        )
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(jac >= JACCARD_THRESHOLD)
            .select(
                "doc_a",
                "doc_b",
                F.round(jac, 4).cast("double").alias("jaccard"),
            )
        )

    return cached_frame(
        spark, sf_dir, "dedup_jaccard_pairs", build, table=_DOCS
    )


def cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) — star-CC labels of the MinHash candidate
    pair graph, store-served. The keep-first verdict, the cluster
    census, and every survival/mixture report read THIS instead of
    re-running the O(log n) CC loop per query."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import star_connected_components

    def build() -> DataFrame:
        pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        return star_connected_components(pairs, "doc_a", "doc_b")

    return cached_frame(
        spark, sf_dir, "dedup_cc_labels", build, table=_DOCS
    )


def emb_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, bucket, cos_sim) — the sign-LSH cosine near-dup
    pair table over the embedding corpus, store-served. The salted
    bucket self-join (the pair former) runs once per data fingerprint;
    every consumer — the pair report and the semantic keep-first
    verdict's CC build — reads this."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import emb_lsh_pairs_build

    return cached_frame(
        spark,
        sf_dir,
        "emb_lsh_pairs",
        lambda: emb_lsh_pairs_build(spark, sf_dir),
        table="embeddings",
    )


def semantic_cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) — star-CC labels of the sign-LSH cosine pair
    graph, store-served (the embedding-space analogue of
    ``dedup_cc_labels``). The semantic keep-first verdict reads THIS
    instead of re-running the pair former + O(log n) CC loop per
    query."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import star_connected_components

    def build() -> DataFrame:
        pairs = emb_pairs_cached(spark, sf_dir).select("vec_a", "vec_b")
        return star_connected_components(pairs, "vec_a", "vec_b")

    return cached_frame(
        spark, sf_dir, "semantic_cc_labels", build, table="embeddings"
    )


def build_dedup_store(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The BUILD JOB: construct and persist every dedup signature
    artifact for ``sf_dir`` in one call (the nightly ingest step).
    Returns ``{artifact: n_rows}``; idempotent — a second call reads
    every artifact from the store."""
    return {
        "dedup_hash_all": full_hash_index(spark, sf_dir).count(),
        "dedup_bands_all": full_band_index(spark, sf_dir).count(),
        "simhash_sig_all": full_simhash_index(spark, sf_dir).count(),
        "dedup_lsh_pairs": lsh_pairs_cached(spark, sf_dir).count(),
        "dedup_simhash_pairs": simhash_pairs_cached(spark, sf_dir).count(),
        "dedup_jaccard_pairs": jaccard_pairs_cached(spark, sf_dir).count(),
        "dedup_cc_labels": cc_labels_cached(spark, sf_dir).count(),
        "emb_lsh_pairs": emb_pairs_cached(spark, sf_dir).count(),
        "semantic_cc_labels": semantic_cc_labels_cached(
            spark, sf_dir
        ).count(),
    }


# ---------------------------------------------------------------------------
# dedup_sig_store_stats — the per-round integrity row of the persisted
# signature substrate: every aggregate below reads the PERSISTED
# artifacts on the Spark side while the oracle recomputes signatures,
# pairs, and clusters from scratch — so a stale, truncated, or
# corrupted store artifact fails the hash compare the round it
# appears (the dist_matrix_store_stats discipline, applied to the
# dedup store).
# ---------------------------------------------------------------------------


def _sig_store_oracle() -> str:
    from bpaotu_spark.dedup.core import _minhash_pair_ctes

    return f"""
WITH RECURSIVE {_minhash_pair_ctes()},
lp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sh AS ({ORACLES["dedup_simhash"]}),
jc AS ({ORACLES["dedup_ngram_jaccard"]}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_a, doc_a FROM pairs
  UNION SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
bstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_band_rows,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_banded
  FROM bands
),
pstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lsh_pairs,
    CAST(coalesce(sum(n_shared_bands), 0) AS BIGINT) AS sum_shared_bands
  FROM lp
),
sstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_simhash_pairs,
    CAST(coalesce(sum(hamming), 0) AS BIGINT) AS sum_hamming
  FROM sh
),
jstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_jaccard_pairs FROM jc
),
cstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_clustered_docs,
    CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
  FROM comp
)
SELECT n_docs_banded, n_band_rows, n_lsh_pairs, sum_shared_bands,
  n_simhash_pairs, sum_hamming, n_jaccard_pairs,
  n_clustered_docs, n_clusters
FROM bstat, pstat, sstat, jstat, cstat
"""


@register("dedup_sig_store_stats", oracle=_sig_store_oracle())
def dedup_sig_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row over the STORE-SERVED signature substrate:
    (n_docs_banded, n_band_rows, n_lsh_pairs, sum_shared_bands,
    n_simhash_pairs, sum_hamming, n_jaccard_pairs, n_clustered_docs,
    n_clusters). The oracle recomputes everything from scratch, so
    this row IS the per-round integrity check of the persisted
    artifacts."""
    bands = full_band_index(spark, sf_dir)
    pairs = lsh_pairs_cached(spark, sf_dir)
    sh = simhash_pairs_cached(spark, sf_dir)
    jc = jaccard_pairs_cached(spark, sf_dir)
    cc = cc_labels_cached(spark, sf_dir)
    bstat = bands.agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs_banded"),
        F.count(F.lit(1)).cast("bigint").alias("n_band_rows"),
    )
    pstat = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lsh_pairs"),
        F.coalesce(F.sum("n_shared_bands"), F.lit(0))
        .cast("bigint")
        .alias("sum_shared_bands"),
    )
    sstat = sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_simhash_pairs"),
        F.coalesce(F.sum("hamming"), F.lit(0))
        .cast("bigint")
        .alias("sum_hamming"),
    )
    jstat = jc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jaccard_pairs")
    )
    cstat = cc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clustered_docs"),
        F.count_distinct("component").cast("bigint").alias("n_clusters"),
    )
    # five single-row aggregates — bounded broadcast crossJoins
    return (
        bstat.crossJoin(pstat)
        .crossJoin(sstat)
        .crossJoin(jstat)
        .crossJoin(cstat)
        .select(
            "n_docs_banded",
            "n_band_rows",
            "n_lsh_pairs",
            "sum_shared_bands",
            "n_simhash_pairs",
            "sum_hamming",
            "n_jaccard_pairs",
            "n_clustered_docs",
            "n_clusters",
        )
    )
