"""Approximate-nearest-neighbor search over an embedding column.

The reference's BLAST sequence-similarity search (public path
``bpaotu/otu/views.py`` blast endpoints) re-expressed as vector search:

- **brute-force** — exact cosine top-k per query vector: broadcast the
  (small) query set against the corpus, one pass, window top-k. The
  correctness baseline; O(|Q|·|corpus|) but embarrassingly parallel
  and shuffle-free until the final per-query top-k.
- **sign-LSH** — axis-sign bucket blocking (the first SIGN_DIMS
  dimensions' signs form the bucket key): candidates only join within
  a bucket, trading recall for a |corpus|/2^SIGN_DIMS-sized candidate
  set per query. The scale path for 100 TB corpora; deterministic (no
  random hyperplanes) so the DuckDB oracle reproduces it exactly.

Ranking determinism: cosine is rounded to 6 dp before ordering and
ties break on vec_id, so the top-k cut is engine-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import (
    COSINE_SQL,
    _emb_bucket,
    _emb_bucket_sql,
    _salted_self_join_sides,
    dot,
    norm,
)
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

TOP_K = 5
N_QUERIES = 10  # demo query set: vec_id < 10
SIGN_DIMS = 4   # 2^4 = 16 buckets
_RQ_Q = 1000  # milli quantization for the integer L2 grid

_COS = (
    "list_dot_product(qv, cv)"
    " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


def _queries_and_corpus(spark: SparkSession, sf_dir: str):
    # Norms are precomputed per vector so the pair stage runs ONE fold
    # (the dot) per candidate; cos = dot/(nq*nc) matches the oracle's
    # arithmetic exactly.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("nc"),
    )
    return queries, corpus


def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q): each embedding on the integer milli grid,
    floor(x·_RQ_Q) per dimension (the exact-L2² ANN convention)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _RQ_Q),
        ).alias("q"),
    )


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            "rnk",
            F.round("cos_r", 4).cast("double").alias("cos_sim"),
        )
    )


_ORACLE_COMMON = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cand_id, v AS cv FROM e
)
""".strip()


@register(
    "ann_bruteforce_topk",
    oracle=f"""
{_ORACLE_COMMON},
scored AS (
  SELECT query_id, cand_id, round({_COS}, 6) AS cos_r
  FROM q JOIN c ON query_id != cand_id
)
SELECT query_id, cand_id,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, cand_id ASC) AS INTEGER) AS rnk,
  CAST(round(cos_r, 4) AS DOUBLE) AS cos_sim
FROM scored
QUALIFY rnk <= {TOP_K}
""",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact ground-truth table, served from the persisted
    ``truth_topk_cos`` artifact (built once per data fingerprint —
    ann/truthstore.py; the oracle computes from scratch, so the
    driver verifies the stored truth each round)."""
    from bpaotu_spark.ann.truthstore import bruteforce_topk_cached

    return bruteforce_topk_cached(spark, sf_dir)


def _bruteforce_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The truth BUILDER: one broadcast of the query set against the
    corpus scan, 6-dp-rounded cosine, per-query window top-k."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos_r",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6),
        )
    )
    return _topk(scored)


def _bucket_sql(col: str) -> str:
    bits = " || ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(SIGN_DIMS)
    )
    return f"({bits})"


def _bucket_spark(col: F.Column) -> F.Column:
    return F.concat(
        *[
            F.when(col[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(SIGN_DIMS)
        ]
    )


N_CELLS = 8  # IVF coarse cells; seeded by the first N_CELLS vectors


@register(
    "ann_ivf_topk",
    oracle=f"""
{_ORACLE_COMMON},
cents AS (
  SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < {N_CELLS}
),
assign AS (
  SELECT vec_id, cid,
    row_number() OVER (
      PARTITION BY vec_id
      ORDER BY round(list_dot_product(v, cvec)
        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cvec, cvec))), 6) DESC,
        cid ASC
    ) AS rn
  FROM e CROSS JOIN cents
),
cell AS (SELECT vec_id, cid AS cell FROM assign WHERE rn = 1),
qc AS (
  SELECT query_id, qv, cell FROM q JOIN cell ON query_id = vec_id
),
cc AS (
  SELECT cand_id, cv, cell FROM c JOIN cell ON cand_id = vec_id
),
scored AS (
  SELECT query_id, cand_id, round({_COS}, 6) AS cos_r
  FROM qc JOIN cc ON qc.cell = cc.cell AND query_id != cand_id
)
SELECT query_id, cand_id,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, cand_id ASC) AS INTEGER) AS rnk,
  CAST(round(cos_r, 4) AS DOUBLE) AS cos_sim
FROM scored
QUALIFY rnk <= {TOP_K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with nprobe=1: a coarse quantizer assigns
    every vector to its nearest of N_CELLS centroids (deterministically
    seeded as the first N_CELLS vectors — a k-means iteration would
    refine them but is not oracle-reproducible), and queries search only
    their own cell. At 100 TB the centroid set stays tiny (it is
    broadcast both times), the assignment is one broadcast-join pass
    over the corpus, and per-cell candidate sets shrink ~N_CELLS-fold;
    recall is tuned by raising N_CELLS/nprobe. Reference parity: the
    BLAST endpoint's coarse pre-filter (``bpaotu/otu/views.py``)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", norm(F.col("v")))
    )
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cvec"),
        F.col("nrm").alias("ncent"),
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cid").asc()
    )
    cell = (
        emb.join(F.broadcast(cents))
        .withColumn(
            "ccos",
            F.round(dot(F.col("v"), F.col("cvec")) / (F.col("nrm") * F.col("ncent")), 6),
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    qc = queries.join(cell, queries.query_id == cell.vec_id).select(
        "query_id", "qv", "nq", "cell"
    )
    cc = corpus.join(cell, corpus.cand_id == cell.vec_id).select(
        "cand_id", "cv", "nc", F.col("cell").alias("cell_c")
    )
    scored = cc.join(
        F.broadcast(qc),
        (F.col("cell") == F.col("cell_c")) & (F.col("query_id") != F.col("cand_id")),
    ).withColumn(
        "cos_r",
        F.round(dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6),
    )
    return _topk(scored)


# ---------------------------------------------------------------------------
# vector_quantize_int8 — per-dimension min/max scalar quantization to
# int8, emitted long-form (vec_id, dim, q). floor() keeps the arithmetic
# engine-exact (round() could land on a .5 tie; floor of an identical
# IEEE-double expression cannot diverge).
# ---------------------------------------------------------------------------


@register(
    "vector_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
x AS (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM e
),
s AS (
  SELECT dim, min(val) AS mn, max(val) AS mx FROM x GROUP BY dim
)
SELECT vec_id, x.dim,
  CAST(least(floor(((val - mn) * 254) / (mx - mn)), 254) - 127 AS INTEGER) AS q
FROM x JOIN s ON x.dim = s.dim
""",
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization, the standard ANN-index compression step
    (4x smaller than float32). Two passes over the corpus: dim stats
    (64 groups — the agg result is a broadcast-sized dict) then a
    map-side broadcast join to quantize; no large shuffle at any scale."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select(
        "vec_id", F.posexplode("v").alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    s = x.groupBy("dim").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    q = (
        F.least(
            F.floor(((F.col("val") - F.col("mn")) * 254) / (F.col("mx") - F.col("mn"))),
            F.lit(254),
        )
        - 127
    )
    return x.join(F.broadcast(s), "dim").select(
        # bigint dim: DuckDB generate_subscripts() is BIGINT; match it
        "vec_id", F.col("dim").cast("bigint").alias("dim"), q.cast("int").alias("q")
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
{_ORACLE_COMMON},
qb AS (SELECT query_id, qv, {_bucket_sql('qv')} AS bucket FROM q),
cb AS (SELECT cand_id, cv, {_bucket_sql('cv')} AS bucket FROM c),
scored AS (
  SELECT query_id, cand_id, round({_COS}, 6) AS cos_r
  FROM qb JOIN cb ON qb.bucket = cb.bucket AND query_id != cand_id
)
SELECT query_id, cand_id,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, cand_id ASC) AS INTEGER) AS rnk,
  CAST(round(cos_r, 4) AS DOUBLE) AS cos_sim
FROM scored
QUALIFY rnk <= {TOP_K}
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    qb = queries.withColumn("bucket", _bucket_spark(F.col("qv")))
    cb = corpus.withColumn("bucket_c", _bucket_spark(F.col("cv")))
    scored = (
        cb.join(
            F.broadcast(qb),
            (F.col("bucket") == F.col("bucket_c"))
            & (F.col("query_id") != F.col("cand_id")),
        )
        .withColumn(
            "cos_r",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6),
        )
    )
    return _topk(scored)


# ---------------------------------------------------------------------------
# knn_graph_lsh — the k-nearest-neighbor GRAPH over the whole corpus
# (every vector gets its top-k in-bucket neighbors), the building
# block of semantic clustering / SemDeDup-style curation. Unlike
# ann_*_topk there is no bounded query set: both sides are the corpus,
# so candidates are blocked by the same deterministic sign-LSH bucket
# as dedup_embedding_lsh (pairs form only inside a bucket; widen
# SIGN bits as the corpus grows to keep buckets bounded).
#
# Ranking determinism: cosine is rounded to 4 dp BEFORE ranking and
# ties break on neighbor_id, so the per-vector top-k cut is
# engine-independent.
# ---------------------------------------------------------------------------

_KNN_K = 5


@register(
    "knn_graph_lsh",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    CAST(round({COSINE_SQL}, 4) AS DOUBLE) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON {_emb_bucket_sql('a')} = {_emb_bucket_sql('b')} AND a.vec_id <> b.vec_id
)
SELECT src AS vec_id, dst AS neighbor_id, cos_sim,
  CAST(row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst ASC) AS INTEGER) AS rnk
FROM pairs
QUALIFY rnk <= {_KNN_K}
""",
)
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-SERVED since r15: the LSH kNN edge table is a
    deterministic function of the embeddings table and feeds TEN
    census consumers (triangle count, components, reciprocity,
    assortativity, two-hop reach, hubness, shared-neighbor, vote
    accuracy, TwoNN, PageRank), every one of which re-derived the
    bucketed self-join + per-src window per query. One build per data
    fingerprint through the index store; this registered query reads
    the artifact while its oracle recomputes the graph from scratch —
    the conn_edges / dist_matrix_store_stats trust model, so a stale
    or corrupt artifact fails the driver's hash compare the round it
    appears."""
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark, sf_dir, "knn_lsh_edges", lambda: _knn_graph_lsh_build(spark, sf_dir)
    )


def _knn_graph_lsh_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .withColumn("bucket", _emb_bucket(F.col("v")))
    )
    return knn_graph_from(emb)


def knn_graph_from(emb: DataFrame) -> DataFrame:
    """The kNN-graph former over a prepared (vec_id, v, nrm, bucket)
    frame — shared by the full-corpus operator and the survivor-only
    consolidate rebuild (ann/graphconn), whose corpus is a filter of
    the same frame."""
    # salted self-join (see dedup.core._salted_self_join_sides): 16
    # sign buckets alone cap the reduce side at 16 tasks and AQE
    # coalesces the byte-small exchange to 1 — salting restores the
    # parallelism the cosine arithmetic needs
    a, b = _salted_self_join_sides(emb, "src", "dst")
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(
            b,
            (a.bucket == b.bucket_b)
            & (a.salt == b.salt_b)
            & (a.src != b.dst),
        )
        .select(
            "src", "dst", F.round(cos, 4).cast("double").alias("cos_sim")
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("neighbor_id"),
            "cos_sim",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension corpus statistics (mean, std,
# min, max): the whitening/normalization profile a vector pipeline
# computes before quantization or indexing, and the drift monitor run
# against every new embedding batch.
#
# Determinism: sums run over DECIMAL(28,12) (associative — partition
# order cannot move the result), divided and rounded per the
# centroids idiom; std derives from the already-rounded 4dp doubles,
# so both engines see identical inputs; min/max are exact.
#
# Scale shape: posexplode → one groupBy(dim) with map-side combine —
# the shuffle carries |dims| rows per task, nothing corpus-sized.
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    oracle="""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS (
  SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM e
), agg AS (
  SELECT dim, count(*) AS n_vectors,
    CAST(round(sum(CAST(val AS DECIMAL(28,12))) / count(*), 4) AS DOUBLE) AS mean_val,
    CAST(round(sum(CAST(val * val AS DECIMAL(28,12))) / count(*), 4) AS DOUBLE) AS meansq,
    min(val) AS min_val, max(val) AS max_val
  FROM x GROUP BY dim
)
SELECT dim, n_vectors, mean_val,
  CAST(round(sqrt(meansq - mean_val * mean_val), 4) AS DOUBLE) AS std_val,
  min_val, max_val
FROM agg
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select(F.posexplode("v").alias("pos", "val")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"), "val"
    )
    agg = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("val").cast("decimal(28,12)")) / F.count(F.lit(1)), 4
        ).cast("double").alias("mean_val"),
        F.round(
            F.sum((F.col("val") * F.col("val")).cast("decimal(28,12)"))
            / F.count(F.lit(1)),
            4,
        ).cast("double").alias("meansq"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    return agg.select(
        "dim",
        "n_vectors",
        "mean_val",
        F.round(F.sqrt(F.col("meansq") - F.col("mean_val") * F.col("mean_val")), 4)
        .cast("double")
        .alias("std_val"),
        "min_val",
        "max_val",
    )


# ---------------------------------------------------------------------------
# pagerank_knn — fixed-iteration PageRank over the corpus k-NN graph:
# the centrality pass a curation pipeline runs on the semantic graph
# to find hub documents (dense-cluster representatives) vs peripheral
# ones. Damping 0.85, _PR_ITERS power-iteration rounds, top-20 cut.
#
# All arithmetic is FIXED-POINT BIGINT (rank in 1e-12 units, integer
# DIV at every division) so three rounds of iteration produce
# bit-identical values in Spark and DuckDB — no float summation-order
# skew, no HUGEINT (every oracle sum is CAST back to BIGINT; values
# are bounded by the 1e12 total mass so the cast is lossless).
# Dangling mass (out-degree-0 nodes in singleton LSH buckets) decays
# rather than redistributing — simplification applied identically in
# both engines.
#
# Scale shape: the edge table is the LSH-blocked kNN graph (≤ k
# out-edges per node, no all-pairs product); each round is one
# shuffle join (edges ⋈ ranks on src, pre-combined sum keyed dst)
# plus a broadcast of the 1-row node count — the classic distributed
# PageRank plan, O(iters) rounds independent of graph size. Rounds
# are a fixed small constant, so lineage stays shallow without
# checkpointing.
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_UNIT = 1_000_000_000_000
_PR_TOPN = 20


def _pr_oracle() -> str:
    unit = _PR_UNIT
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
c{i} AS (
  SELECT e.dst, CAST(sum({prev}.r // o.d) AS BIGINT) AS s
  FROM edges e
  JOIN outdeg o ON o.src = e.src
  JOIN {prev} ON {prev}.vec_id = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT nodes.vec_id,
    CAST((15 * {unit}) // (100 * n.n)
         + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes CROSS JOIN n LEFT JOIN c{i} ON c{i}.dst = nodes.vec_id
)""")
        prev = f"r{i}"
    chain = "," + ",".join(iters)
    return f"""
WITH nodes AS (
  SELECT vec_id FROM embeddings
), n AS (
  SELECT count(*) AS n FROM nodes
), edges AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
      CAST(round({{cos}}, 4) AS DOUBLE) AS cos_sim,
      row_number() OVER (
        PARTITION BY a.vec_id
        ORDER BY CAST(round({{cos}}, 4) AS DOUBLE) DESC, b.vec_id ASC
      ) AS rnk
    FROM embeddings a JOIN embeddings b
      ON {{ba}} = {{bb}} AND a.vec_id <> b.vec_id
  ) WHERE rnk <= {_KNN_K}
), outdeg AS (
  SELECT src, count(*) AS d FROM edges GROUP BY src
), r0 AS (
  SELECT vec_id, CAST({unit} // n.n AS BIGINT) AS r FROM nodes, n
){chain}
SELECT vec_id, r AS rank_e12,
  CAST(row_number() OVER (ORDER BY r DESC, vec_id ASC) AS BIGINT) AS rnk
FROM (SELECT * FROM {prev} ORDER BY r DESC, vec_id ASC LIMIT {_PR_TOPN})
""".format(cos=COSINE_SQL, ba=_emb_bucket_sql("a"), bb=_emb_bucket_sql("b"))


@register("pagerank_knn", oracle=_pr_oracle())
def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    edges = knn_graph_lsh(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # per-edge share denominator rides WITH the edge list: one join here,
    # then each iteration is a single edges ⋈ ranks shuffle. No
    # checkpoint: exchange reuse already dedupes the kNN derivation
    # across iterations (measured — an eager localCheckpoint was not
    # faster at sf0.1), and 3 fixed rounds keep lineage shallow.
    edges = edges.join(outdeg, "src")
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "vec_id", F.expr(f"CAST({_PR_UNIT} DIV n AS BIGINT)").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("vec_id").alias("src"), "r"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("r DIV d")).alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n))
            .join(contrib, nodes.vec_id == contrib.dst, "left")
            .select(
                "vec_id",
                F.expr(
                    f"CAST((15 * {_PR_UNIT}) DIV (100 * n)"
                    " + (85 * coalesce(s, 0)) DIV 100 AS BIGINT)"
                ).alias("r"),
            )
        )
    top = ranks.orderBy(F.col("r").desc(), F.col("vec_id").asc()).limit(
        _PR_TOPN
    )
    # unpartitioned window bound: runs over the LIMIT-_PR_TOPN cut
    w = Window.orderBy(F.col("rank_e12").desc(), F.col("vec_id").asc())
    return (
        top.select("vec_id", F.col("r").alias("rank_e12"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# ann_recall_report — measure, don't guess (the ANN twin of
# dedup_lsh_recall_report): recall@TOP_K of each approximate index
# (sign-LSH, IVF nprobe=1) against the brute-force ground truth. The
# go/no-go number every ANN deployment needs before trusting an index
# shape at 100 TB; both sides compose the REGISTERED operators (the
# oracle embeds their oracle SQL via CTEs), so the report can never
# drift from what the pipeline actually serves.
#
# Scale shape: three already-blocked top-k tables, pair-keyed left
# joins, then a per-method 1-row aggregate. Nothing rescans the corpus.
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    from bpaotu_spark.registry import ORACLES

    legs = []
    for method in ("ivf", "lsh"):
        legs.append(f"""
SELECT '{method}' AS method,
  count(*) AS n_truth,
  count(a.cand_id) AS n_hit,
  count(a.cand_id) * 1000000 // count(*) AS recall_ppm
FROM truth t LEFT JOIN {method} a
  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
""".strip())
    return (
        f"""
WITH truth AS ({ORACLES["ann_bruteforce_topk"]}),
lsh AS ({ORACLES["ann_lsh_topk"]}),
ivf AS ({ORACLES["ann_ivf_topk"]})
"""
        + " UNION ALL ".join(legs)
    )


@register("ann_recall_report", oracle=_ann_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = ann_bruteforce_topk(spark, sf_dir).select("query_id", "cand_id")
    out = None
    for method, fn in (("ivf", ann_ivf_topk), ("lsh", ann_lsh_topk)):
        approx = fn(spark, sf_dir).select(
            "query_id", "cand_id", F.lit(1).alias("hit")
        )
        leg = (
            truth.join(approx, ["query_id", "cand_id"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_truth"),
                F.count("hit").alias("n_hit"),
            )
            .select(
                F.lit(method).alias("method"),
                "n_truth",
                "n_hit",
                F.expr("CAST(n_hit * 1000000 DIV n_truth AS BIGINT)").alias(
                    "recall_ppm"
                ),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# embedding_norm_profile — per-label L2-norm² profile of the embedding
# corpus in EXACT integer units: components are floor-quantized to 1e-4
# (floor of an identical IEEE-double expression cannot diverge between
# engines — the vector_quantize_int8 discipline), so norm² is a plain
# BIGINT and min / median / max / floor-mean are all order-statistic or
# integer arithmetic. The embedding-health dashboard: a label whose
# norm distribution collapses or explodes flags a bad encoder batch
# before any ANN index is built on it.
#
# Scale shape: norm² is computed IN-ROW (array fold — no explode, no
# shuffle); the median is rank-selection inside a label-partitioned
# window (parallel across labels); stats are one map-combined agg.
# ---------------------------------------------------------------------------

_NP_Q = 10_000


@register(
    "embedding_norm_profile",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
n2 AS (
  SELECT vec_id, label,
    CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
      AS BIGINT) AS norm2
  FROM e
),
r AS (
  SELECT label, norm2,
    row_number() OVER (PARTITION BY label ORDER BY norm2, vec_id) AS rn,
    count(*) OVER (PARTITION BY label) AS n
  FROM n2
),
med AS (
  SELECT label,
    CAST(CASE WHEN count(*) = 1 THEN 2 * sum(norm2) ELSE sum(norm2) END
      AS BIGINT) AS med2_norm2
  FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2) GROUP BY label
),
st AS (
  SELECT label, count(*) AS n_vecs,
    CAST(min(norm2) AS BIGINT) AS min_norm2,
    CAST(max(norm2) AS BIGINT) AS max_norm2,
    CAST(CAST(sum(norm2) AS HUGEINT) // count(*) AS BIGINT)
      AS mean_norm2_floor
  FROM n2 GROUP BY label
)
SELECT st.label, n_vecs, min_norm2, med2_norm2, max_norm2, mean_norm2_floor
FROM st JOIN med ON st.label = med.label
""",
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """med2 = 2·median (sum of the middle one-or-two order statistics,
    doubled when n is odd) keeps the value integral — the
    robust_anomaly_mad convention. The dot-product fold stays exact:
    |q| ≤ 5e3, so q·q ≤ 64·2.5e7 < 2^53 in DuckDB's double and within
    BIGINT in Spark's fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _NP_Q),
    )
    from bpaotu_spark.dedup.core import int_norm2

    # materialize the quantized array once; the unrolled norm then
    # references a plain attribute, not 128 copies of the transform
    n2 = emb.select("vec_id", "label", q.alias("q")).select(
        "vec_id",
        "label",
        int_norm2(F.col("q"), dim=None).alias("norm2"),
    )
    wr = Window.partitionBy("label").orderBy("norm2", "vec_id")
    wn = Window.partitionBy("label")
    r = n2.select(
        "label",
        "norm2",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        r.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("label")
        .agg(
            F.expr(
                "CAST(CASE WHEN count(1) = 1 THEN 2 * sum(norm2)"
                " ELSE sum(norm2) END AS BIGINT)"
            ).alias("med2_norm2")
        )
    )
    st = n2.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("norm2").cast("bigint").alias("min_norm2"),
        F.max("norm2").cast("bigint").alias("max_norm2"),
        F.expr(
            "CAST(CAST(sum(norm2) AS DECIMAL(38,0)) DIV count(1) AS BIGINT)"
        ).alias("mean_norm2_floor"),
    )
    return st.join(med, "label").select(
        "label", "n_vecs", "min_norm2", "med2_norm2", "max_norm2",
        "mean_norm2_floor",
    )


# ---------------------------------------------------------------------------
# kmeans_embeddings — deterministic Lloyd's k-means over the embedding
# corpus, the canonical iterative-ML pattern on Spark: broadcast the K
# centroids, one shuffle-free assignment pass (crossJoin with a K-row
# broadcast + per-vector argmin), one keyed aggregate for the update.
# _KM_ITERS fixed update rounds, then a final assignment report.
#
# Every quantity is FIXED-POINT: components floor-quantized to 1e-4,
# distances are exact BIGINT (|q·c| ≤ 64·2.5e7 — double-exact on the
# DuckDB side, long arithmetic in Spark), centroid updates use an
# explicit floor-division identity (s - pmod(s, n)) / n that both
# engines evaluate identically for NEGATIVE sums too (Spark's DIV
# truncates toward zero, DuckDB's // floors — the identity makes the
# dividend exactly divisible so they agree). Initial centroids are the
# K lowest vec_ids — deterministic, and fetched via TakeOrderedAndProject
# (per-partition heaps), never a global sort.
#
# Scale shape: per round, cost = one broadcast-join pass over the
# corpus plus a (K × dims)-row aggregate — the textbook distributed
# k-means; rounds are a fixed constant so lineage stays shallow. The
# oracle unrolls the same two rounds as CTEs, proving the distributed
# decomposition bit-identical to the naive single-node form.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2  # centroid updates; assignments = _KM_ITERS + 1

_KM_DOT = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)


def _km_oracle() -> str:
    parts = [
        f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid,
    q AS c
  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT {_KM_K})
)"""
    ]
    dot = _KM_DOT
    for i in range(1, _KM_ITERS + 2):
        parts.append(f""",
a{i} AS (
  SELECT vec_id, q, cid, d2 FROM (
    SELECT e.vec_id, e.q, c.cid,
      CAST({dot.format(a='e.q', b='e.q')}
         - 2 * {dot.format(a='e.q', b='c.c')}
         + {dot.format(a='c.c', b='c.c')} AS BIGINT) AS d2
    FROM e CROSS JOIN c{i - 1} c) t
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)""")
        if i <= _KM_ITERS:
            parts.append(f""",
x{i} AS (
  SELECT cid, generate_subscripts(q, 1) AS dim, unnest(q) AS qv FROM a{i}
),
m{i} AS (
  SELECT cid, dim, CAST(sum(qv) AS BIGINT) AS s,
    CAST(count(*) AS BIGINT) AS n
  FROM x{i} GROUP BY 1, 2
),
c{i} AS (
  SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY dim) AS c
  FROM m{i} GROUP BY cid
)""")
    parts.append(f"""
SELECT cid AS cluster_id,
  CAST(count(*) AS BIGINT) AS n_members,
  CAST(CAST(sum(d2) AS HUGEINT) // 1000000 AS BIGINT) AS inertia_mega,
  CAST(CAST(sum(d2) AS HUGEINT) // count(*) AS BIGINT) AS mean_d2_floor
FROM a{_KM_ITERS + 1} GROUP BY cid
""")
    return "".join(parts)


def _km_dot_spark(a, b, dim: int | None = None):
    """Exact integer dot over quantized arrays — interpreted fold by
    default. The unrolled form (dedup.core.int_dot with a static dim)
    was measured here and kept ONLY for >=100k-row single-plan stages:
    every k-means/PQ scoring stage touches 2-16k rows across several
    distinct plans, where the unrolled chain's per-plan codegen
    compile (~0.5-1 s) outweighs its runtime win (kmeans_embeddings
    3.2->6.6 s, cluster_balanced_sample_plan 4.0->11.3 s when unrolled
    everywhere)."""
    from bpaotu_spark.dedup.core import int_dot

    return int_dot(a, b, dim)


def _km_assign(e: DataFrame, c: DataFrame) -> DataFrame:
    j = e.crossJoin(F.broadcast(c))
    d2 = (
        _km_dot_spark(F.col("q"), F.col("q"))
        - 2 * _km_dot_spark(F.col("q"), F.col("c"))
        + _km_dot_spark(F.col("c"), F.col("c"))
    ).cast("bigint")
    wv = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        j.select("vec_id", "q", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _km_update(a: DataFrame) -> DataFrame:
    x = a.select("cid", F.posexplode("q").alias("pos", "qv")).select(
        "cid", (F.col("pos") + 1).alias("dim"), "qv"
    )
    m = x.groupBy("cid", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    fv = F.expr("(s - ((s % n + n) % n)) DIV n")
    return (
        m.select("cid", "dim", fv.alias("fv"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "fv"))),
                lambda t: t["fv"],
            ).alias("c")
        )
    )


def _km_final_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, d2) — the final K=8 / 2-Lloyd-round assignment,
    persisted under the ANN index lifecycle (the same build-once /
    read-many shape as the PQ/OPQ code tables built next to it in
    :func:`bpaotu_spark.ann.index_store.build_ann_index`).
    ``kmeans_embeddings`` and the curation quota draw both consume
    THIS instead of re-running the Lloyd rounds per query; their
    oracles keep recomputing the chain from scratch, so the driver
    verifies the store-served assignment every round."""
    from bpaotu_spark.ann.index_store import cached_frame

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        e = emb.select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _NP_Q),
            ).alias("q"),
        )
        w8 = Window.orderBy("vec_id")  # over the K-row LIMIT result only
        c = (
            e.orderBy("vec_id")
            .limit(_KM_K)
            .select(
                (F.row_number().over(w8) - 1).cast("bigint").alias("cid"),
                F.col("q").alias("c"),
            )
        )
        for _ in range(_KM_ITERS):
            c = _km_update(_km_assign(e, c))
        return _km_assign(e, c).select("vec_id", "cid", "d2")

    return cached_frame(spark, sf_dir, "km_assign", build)


@register("kmeans_embeddings", oracle=_km_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _km_final_cached(spark, sf_dir)
    # Output boundary: NO decimal128 columns. The summed inertia can
    # exceed int64 (K * n * d2_max ~ 1.6e21 worst case) so it is floored
    # into exact mega-units that fit BIGINT on both sides; d2 >= 0 so
    # DuckDB HUGEINT floor-// and Spark DIV truncation agree.
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)"
        ).alias("inertia_mega"),
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV count(1) AS BIGINT)"
        ).alias("mean_d2_floor"),
    )


# ---------------------------------------------------------------------------
# embedding_pq_codebook — Product Quantization (Jégou et al., PAMI'11):
# split each 64-d vector into M=4 contiguous 16-d subvectors and run an
# independent deterministic k-means (K=8, 1 Lloyd update) in every
# subspace; a vector then compresses to M small codes (here 4×3 bits vs
# 64×64-bit components — the memory step that makes billion-vector ANN
# feasible). Output: the per-(subspace, code) census with exact integer
# distortion — the codebook-quality report a PQ deployment reviews
# before committing the compression.
#
# Spark-first twist: the subspace id is DATA, not code — one exploded
# frame carries all M subproblems through a single assignment join and
# a single keyed update (no per-subspace unrolling), so adding
# subspaces changes a constant, not the plan. All arithmetic follows
# kmeans_embeddings' fixed-point discipline (floor-quantized
# components, BIGINT distances, the sign-safe floor-division identity).
#
# Scale shape: per round, one broadcast join of the corpus against the
# (M*K)-row codebook plus a (M*K*sub_dim)-row aggregate; the final
# report is M*K rows. Identical cost profile to distributed k-means.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (M * SUB = 64)
_PQ_K = 8  # codes per subspace


def _pq_core_ctes(src: str) -> str:
    """PQ CTE chain (subvectors -> 1-update codebooks -> final
    assignments a2) over ANY (vec_id, q) source CTE — raw quantized
    vectors for the flat PQ family, coarse residuals for IVFADC."""
    dot = _KM_DOT
    return f"""s AS (
  SELECT vec_id, m,
    list_slice(q, m * {_PQ_SUB} + 1, (m + 1) * {_PQ_SUB}) AS sq
  FROM {src} CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m)
),
c0 AS (
  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id)
                 AS BIGINT) - 1 AS cid, sq AS c
  FROM s QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id)
           <= {_PQ_K}
),
a1 AS (
  SELECT vec_id, m, sq, cid, d2 FROM (
    SELECT s.vec_id, s.m, s.sq, c.cid,
      CAST({dot.format(a='s.sq', b='s.sq')}
         - 2 * {dot.format(a='s.sq', b='c.c')}
         + {dot.format(a='c.c', b='c.c')} AS BIGINT) AS d2
    FROM s JOIN c0 c ON s.m = c.m) t
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
),
x1 AS (
  SELECT m, cid, generate_subscripts(sq, 1) AS dim, unnest(sq) AS qv
  FROM a1
),
m1 AS (
  SELECT m, cid, dim, CAST(sum(qv) AS BIGINT) AS s,
    CAST(count(*) AS BIGINT) AS n
  FROM x1 GROUP BY 1, 2, 3
),
c1 AS (
  SELECT m, cid, list((s - ((s % n + n) % n)) // n ORDER BY dim) AS c
  FROM m1 GROUP BY m, cid
),
a2 AS (
  SELECT vec_id, m, cid, d2 FROM (
    SELECT s.vec_id, s.m, c.cid,
      CAST({dot.format(a='s.sq', b='s.sq')}
         - 2 * {dot.format(a='s.sq', b='c.c')}
         + {dot.format(a='c.c', b='c.c')} AS BIGINT) AS d2
    FROM s JOIN c1 c ON s.m = c.m) t
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
)"""


def _pq_ctes() -> str:
    """Shared CTE block (quantize -> subvectors -> 1-update codebooks ->
    final assignments a2) used by the codebook census AND the ADC
    search oracle, so the two can never drift."""
    return f"""e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
{_pq_core_ctes("e")}"""


def _pq_oracle() -> str:
    return f"""
WITH {_pq_ctes()}
SELECT CAST(m AS BIGINT) AS subspace, cid AS code,
  CAST(count(*) AS BIGINT) AS n_members,
  CAST(CAST(sum(d2) AS HUGEINT) // 1000000 AS BIGINT) AS distortion_mega,
  CAST(CAST(sum(d2) AS HUGEINT) // count(*) AS BIGINT) AS mean_d2_floor
FROM a2 GROUP BY 1, 2
"""


def _pq_assign(s: DataFrame, c: DataFrame) -> DataFrame:
    j = s.join(F.broadcast(c), "m")
    d2 = (
        _km_dot_spark(F.col("sq"), F.col("sq"), None)
        - 2 * _km_dot_spark(F.col("sq"), F.col("c"), None)
        + _km_dot_spark(F.col("c"), F.col("c"), None)
    ).cast("bigint")
    wv = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
    return (
        j.select("vec_id", "m", "sq", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _pq_train(spark: SparkSession, sf_dir: str, e: DataFrame | None = None):
    """(e, s, c1, a2): quantized vectors, subvectors, trained codebooks,
    final code assignments — shared by the codebook census and ADC
    search. Pass ``e`` to train on any (vec_id, q) frame instead of the
    raw quantized corpus (IVFADC trains on coarse residuals). In the
    default-corpus case the trained codebooks/codes are persisted via
    the ANN index store (build-once, search-many)."""
    default_corpus = e is None
    if e is None:
        emb = load_table(spark, sf_dir, "embeddings")
        e = emb.select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _NP_Q),
            ).alias("q"),
        )
    subs = F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)]))
    s = e.withColumn("m", subs).select(
        "vec_id",
        "m",
        F.expr(f"slice(q, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sq"),
    )
    # init: the K lowest vec_ids' subvectors. The K lowest vec_ids are
    # the same in every subspace, so ONE TakeOrderedAndProject over the
    # corpus (per-partition heaps, never a sort) feeds all M codebooks —
    # the oracle keeps the naive per-subspace window form, proving the
    # rewrite equivalent.
    w8 = Window.orderBy("vec_id")  # over the K-row LIMIT result only
    c = (
        e.orderBy("vec_id")
        .limit(_PQ_K)
        .select(
            (F.row_number().over(w8) - 1).cast("bigint").alias("cid"), "q"
        )
        .withColumn("m", subs)
        .select(
            "m",
            "cid",
            F.expr(f"slice(q, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("c"),
        )
    )
    a1 = _pq_assign(s, c)
    x = a1.select("m", "cid", F.posexplode("sq").alias("pos", "qv")).select(
        "m", "cid", (F.col("pos") + 1).alias("dim"), "qv"
    )
    mstats = x.groupBy("m", "cid", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    fv = F.expr("(s - ((s % n + n) % n)) DIV n")
    c1 = (
        mstats.select("m", "cid", "dim", fv.alias("fv"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "fv"))),
                lambda t: t["fv"],
            ).alias("c")
        )
    )
    a2 = _pq_assign(s, c1)
    if default_corpus:
        # build-once index lifecycle (ann/index_store): the trained
        # codebooks and code assignments persist; every PQ/ADC query
        # READS them instead of re-running the training iteration
        from bpaotu_spark.ann.index_store import cached_frame

        c1_built, a2_built = c1, a2
        c1 = cached_frame(spark, sf_dir, "pq_codebook", lambda: c1_built)
        a2 = cached_frame(spark, sf_dir, "pq_codes", lambda: a2_built)
    return e, s, c1, a2


@register("embedding_pq_codebook", oracle=_pq_oracle())
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, _, a2 = _pq_train(spark, sf_dir)
    return a2.groupBy(
        F.col("m").cast("bigint").alias("subspace"),
        F.col("cid").alias("code"),
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        # output boundary: no decimal128 — exact floored mega-units
        # (d2 >= 0, so DuckDB HUGEINT // and Spark DIV agree)
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)"
        ).alias("distortion_mega"),
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV count(1) AS BIGINT)"
        ).alias("mean_d2_floor"),
    )


# ---------------------------------------------------------------------------
# ann_pq_adc_topk — PQ asymmetric-distance search (the query path of
# Jégou et al.'s IVFADC, sans the coarse level): each query computes a
# per-(subspace, code) distance TABLE against the trained codebooks
# (N_QUERIES·M·K rows — constant-size, broadcast), and every compressed
# corpus vector is scored by summing M table lookups instead of a 64-d
# arithmetic pass. Distances are exact BIGINTs (quantized-domain), so
# the top-k cut has no float ties.
#
# Scale shape: this is THE billion-vector search plan — the corpus side
# touches only its (vec_id, m, cid) codes (3 small ints/row), the
# lookup join is against a broadcast table, and the per-(query, vec)
# sum map-side combines M=4 rows. Sharing _pq_train/_pq_ctes with the
# codebook census means the compression being searched is the audited
# one, in both engines.
# ---------------------------------------------------------------------------


def _adc_tail_sql() -> str:
    """ADC search CTE tail over any trained (s, c1, a2) block: broadcast
    per-query distance tables + code-lookup scoring + top-k. Shared by
    the flat PQ oracle and the OPQ-permuted variant so the two can
    never drift."""
    dot = _KM_DOT
    return f"""qs AS (
  SELECT vec_id AS query_id, m, sq AS qsq FROM s WHERE vec_id < {N_QUERIES}
),
dt AS (
  SELECT query_id, c.m, c.cid,
    CAST({dot.format(a='qsq', b='qsq')}
       - 2 * {dot.format(a='qsq', b='c.c')}
       + {dot.format(a='c.c', b='c.c')} AS BIGINT) AS dt
  FROM qs JOIN c1 c ON qs.m = c.m
),
scored AS (
  SELECT query_id, a.vec_id, CAST(sum(dt) AS BIGINT) AS d2_adc
  FROM a2 a JOIN dt ON a.m = dt.m AND a.cid = dt.cid
  WHERE a.vec_id <> query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY d2_adc ASC, vec_id ASC) AS INTEGER) AS rnk,
  d2_adc
FROM scored
QUALIFY rnk <= {TOP_K}"""


def _pq_adc_oracle() -> str:
    return f"""
WITH {_pq_ctes()},
{_adc_tail_sql()}
"""


def _adc_search(s: DataFrame, c1: DataFrame, a2: DataFrame) -> DataFrame:
    """ADC top-k over any trained (s, c1, a2) block — the Spark twin of
    :func:`_adc_tail_sql` (flat PQ and the OPQ-permuted variant share
    it; distances are permutation-invariant so the output schema and
    ranking discipline are identical)."""
    qs = s.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sq").alias("qsq")
    )
    dt = qs.join(F.broadcast(c1), "m").select(
        "query_id",
        "m",
        "cid",
        (
            _km_dot_spark(F.col("qsq"), F.col("qsq"), None)
            - 2 * _km_dot_spark(F.col("qsq"), F.col("c"), None)
            + _km_dot_spark(F.col("c"), F.col("c"), None)
        )
        .cast("bigint")
        .alias("dt"),
    )
    scored = (
        a2.select("vec_id", "m", "cid")
        .join(F.broadcast(dt), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dt").cast("bigint").alias("d2_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_adc").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "d2_adc",
        )
    )


@register("ann_pq_adc_topk", oracle=_pq_adc_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, s, c1, a2 = _pq_train(spark, sf_dir)
    return _adc_search(s, c1, a2)


# ---------------------------------------------------------------------------
# embedding_opq_balance — OPQ-style balanced dimension permutation (the
# non-parametric half of Ge et al., "Optimized Product Quantization",
# CVPR'13): plain PQ slices dimensions CONTIGUOUSLY, so one
# high-variance contiguous block starves the other subspaces'
# codebooks. The fix that needs no rotation matrix: rank dimensions by
# exact integer variance and deal them to the M subspaces in SNAKE
# order (0,1,2,3,3,2,1,0,...), balancing per-subspace variance; then
# train the same audited PQ on the permuted vectors. Output: per
# (scheme, subspace) the assigned-variance mass and the resulting
# distortion — 8 rows proving what the permutation buys vs identity.
#
# All-integer determinism: variance numerator n·Σq² − (Σq)² in 128-bit,
# floored // n at the ranking boundary only for the report (ranking
# itself uses the exact numerator, dim-asc tie-break), so both engines
# produce the identical permutation. Scale shape: dimension stats are
# one map-combined 64-row aggregate; the permutation table broadcasts;
# re-ordering is one explode + keyed collect; PQ training reuses
# _pq_train unchanged. Nothing corpus-sized ever sits on the driver.
# ---------------------------------------------------------------------------


def _opq_sql_parts(src_e: str) -> str:
    """CTEs: per-dim exact variance -> snake-ranked permutation over
    ``src_e`` (vec_id, q) -> permuted vectors ``ep`` (vec_id, q)."""
    return f"""
xd AS (
  SELECT vec_id, generate_subscripts(q, 1) AS dim, unnest(q) AS qv
  FROM {src_e}
),
ds AS (
  SELECT dim, CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(qv) AS HUGEINT) AS s,
    CAST(sum(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS ss
  FROM xd GROUP BY dim
),
dr AS (
  SELECT dim, CAST(((n * ss - s * s) // n) AS BIGINT) AS var_floor,
    CAST(row_number() OVER (ORDER BY n * ss - s * s DESC, dim ASC)
      AS BIGINT) - 1 AS r
  FROM ds
),
dperm AS (
  SELECT dim, var_floor,
    CASE WHEN (r // {_PQ_M}) % 2 = 0 THEN r % {_PQ_M}
         ELSE {_PQ_M - 1} - (r % {_PQ_M}) END AS m_new,
    r // {_PQ_M} AS pos_new
  FROM dr
),
ep AS (
  SELECT vec_id, list(qv ORDER BY m_new * {_PQ_SUB} + pos_new) AS q
  FROM xd JOIN dperm USING (dim)
  GROUP BY vec_id
)"""


def _opq_balance_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
{_opq_sql_parts("e")},
{_pq_core_ctes("ep")},
opq AS (
  SELECT 'opq_snake' AS scheme, CAST(m AS BIGINT) AS subspace,
    CAST(CAST(sum(d2) AS HUGEINT) // 1000000 AS BIGINT) AS distortion_mega
  FROM a2 GROUP BY m
),
opq_var AS (
  SELECT 'opq_snake' AS scheme, m_new AS subspace,
    CAST(sum(var_floor) AS BIGINT) AS var_sum_floor
  FROM dperm GROUP BY m_new
),
flat AS (
  WITH {_pq_ctes()}
  SELECT 'identity' AS scheme, CAST(m AS BIGINT) AS subspace,
    CAST(CAST(sum(d2) AS HUGEINT) // 1000000 AS BIGINT) AS distortion_mega
  FROM a2 GROUP BY m
),
flat_var AS (
  SELECT 'identity' AS scheme, (dim - 1) // {_PQ_SUB} AS subspace,
    CAST(sum(var_floor) AS BIGINT) AS var_sum_floor
  FROM dr GROUP BY 1, 2
),
dist AS (SELECT * FROM opq UNION ALL SELECT * FROM flat),
vars AS (SELECT * FROM opq_var UNION ALL SELECT * FROM flat_var)
SELECT dist.scheme, dist.subspace, vars.var_sum_floor, dist.distortion_mega
FROM dist JOIN vars
  ON dist.scheme = vars.scheme AND dist.subspace = vars.subspace
"""


def _opq_permuted_e(spark: SparkSession, sf_dir: str):
    """(ep, dperm): snake-permuted quantized vectors + the permutation
    table (dim, var_floor, m_new, pos_new) — dperm is 64 rows,
    broadcast everywhere it is used."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    xd = e.select(
        "vec_id", F.posexplode("q").alias("pos", "qv")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "qv")
    ds = xd.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("qv").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(qv AS DECIMAL(38,0)) * qv")).alias("ss"),
    )
    # unpartitioned window bound: one row per embedding dim (<= DIM)
    wv = Window.orderBy(
        F.expr("n * ss - s * s").desc(), F.col("dim").asc()
    )  # 64-row frame only
    dr = ds.select(
        "dim",
        F.expr("CAST((n * ss - s * s) DIV n AS BIGINT)").alias("var_floor"),
        (F.row_number().over(wv) - 1).cast("bigint").alias("r"),
    )
    dperm = dr.select(
        "dim",
        "var_floor",
        F.expr(
            f"CASE WHEN (r DIV {_PQ_M}) % 2 = 0 THEN r % {_PQ_M}"
            f" ELSE {_PQ_M - 1} - (r % {_PQ_M}) END"
        ).alias("m_new"),
        F.expr(f"r DIV {_PQ_M}").alias("pos_new"),
    )
    ep = (
        xd.join(F.broadcast(dperm), "dim")
        .withColumn(
            "npos", F.expr(f"m_new * {_PQ_SUB} + pos_new").cast("bigint")
        )
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("npos", "qv"))),
                lambda t: t["qv"],
            ).alias("q")
        )
    )
    return ep, dperm


def _opq_frames_cached(spark: SparkSession, sf_dir: str):
    """(ep, dperm) through the index store: the permuted corpus and
    the 64-row dim→(subspace, position) map persist, so the OPQ family
    reads its permutation once instead of re-deriving it per query."""
    from bpaotu_spark.ann.index_store import cached_frame

    dperm = cached_frame(
        spark,
        sf_dir,
        "opq_perm_map",
        lambda: _opq_permuted_e(spark, sf_dir)[1],
    )
    ep = cached_frame(
        spark,
        sf_dir,
        "opq_permuted",
        lambda: _opq_permuted_e(spark, sf_dir)[0],
    )
    return ep, dperm


def _opq_train_cached(spark: SparkSession, sf_dir: str):
    """(ep, s, c1, a2) with the trained OPQ codebooks/codes persisted
    (same lifecycle as the flat-PQ and IVFADC artifacts)."""
    from bpaotu_spark.ann.index_store import cached_frame

    ep, _ = _opq_frames_cached(spark, sf_dir)
    _, s, c1, a2 = _pq_train(spark, sf_dir, e=ep)
    c1_built, a2_built = c1, a2
    c1 = cached_frame(spark, sf_dir, "opq_codebook", lambda: c1_built)
    a2 = cached_frame(spark, sf_dir, "opq_codes", lambda: a2_built)
    return ep, s, c1, a2


@register("embedding_opq_balance", oracle=_opq_balance_oracle())
def embedding_opq_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, dperm = _opq_frames_cached(spark, sf_dir)
    a2p = _opq_train_cached(spark, sf_dir)[3]
    opq = a2p.groupBy(
        F.lit("opq_snake").alias("scheme"),
        F.col("m").cast("bigint").alias("subspace"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)"
        ).alias("distortion_mega")
    )
    opq_var = dperm.groupBy(
        F.lit("opq_snake").alias("scheme"),
        F.col("m_new").cast("bigint").alias("subspace"),
    ).agg(F.sum("var_floor").cast("bigint").alias("var_sum_floor"))
    _, _, _, a2f = _pq_train(spark, sf_dir)
    flat = a2f.groupBy(
        F.lit("identity").alias("scheme"),
        F.col("m").cast("bigint").alias("subspace"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)"
        ).alias("distortion_mega")
    )
    flat_var = dperm.groupBy(
        F.lit("identity").alias("scheme"),
        F.expr(f"CAST((dim - 1) DIV {_PQ_SUB} AS BIGINT)").alias("subspace"),
    ).agg(F.sum("var_floor").cast("bigint").alias("var_sum_floor"))
    dist = opq.unionByName(flat)
    vars_ = F.broadcast(opq_var.unionByName(flat_var))
    return dist.join(vars_, ["scheme", "subspace"]).select(
        "scheme", "subspace", "var_sum_floor", "distortion_mega"
    )


# ---------------------------------------------------------------------------
# embedding_outlier_topk — label-quality audit: the 5 vectors farthest
# from their own label's centroid, per label (mislabeled/corrupted
# embedding detection — the vector-side twin of corpus quality gates).
# Centroids are the kmeans-update floor-mean (sign-safe identity);
# distances are exact BIGINTs in the quantized domain, so the top-5 cut
# is tie-free with the vec_id tie-break.
#
# Scale shape: one keyed aggregate for the per-label centroids (tiny —
# |labels| rows, broadcast back), one map pass for distances, and a
# top-5 window per label partition.
# ---------------------------------------------------------------------------

_OUTLIER_TOPK = 5


def _centroid_oracle_ctes() -> str:
    dot = _KM_DOT
    return f"""e AS (
  SELECT vec_id, label,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
x AS (
  SELECT label, generate_subscripts(q, 1) AS dim, unnest(q) AS qv FROM e
),
m AS (
  SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
    CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY 1, 2
),
cent AS (
  SELECT label, list((s - ((s % n + n) % n)) // n ORDER BY dim) AS c
  FROM m GROUP BY label
),
d AS (
  SELECT e.vec_id, e.label,
    CAST({dot.format(a='e.q', b='e.q')}
       - 2 * {dot.format(a='e.q', b='cent.c')}
       + {dot.format(a='cent.c', b='cent.c')} AS BIGINT) AS d2
  FROM e JOIN cent ON e.label = cent.label
)"""


@register(
    "embedding_outlier_topk",
    oracle=f"""
WITH {_centroid_oracle_ctes()}
SELECT label, vec_id, d2,
  CAST(row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id ASC)
       AS INTEGER) AS rnk
FROM d
QUALIFY rnk <= {_OUTLIER_TOPK}
""",
)
def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    x = e.select("label", F.posexplode("q").alias("pos", "qv")).select(
        "label", (F.col("pos") + 1).alias("dim"), "qv"
    )
    m = x.groupBy("label", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    fv = F.expr("(s - ((s % n + n) % n)) DIV n")
    cent = (
        m.select("label", "dim", fv.alias("fv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "fv"))),
                lambda t: t["fv"],
            ).alias("c")
        )
    )
    d2 = (
        _km_dot_spark(F.col("q"), F.col("q"))
        - 2 * _km_dot_spark(F.col("q"), F.col("c"))
        + _km_dot_spark(F.col("c"), F.col("c"))
    ).cast("bigint")
    d = e.join(F.broadcast(cent), "label").select(
        "vec_id", "label", d2.alias("d2")
    )
    w = Window.partitionBy("label").orderBy(
        F.col("d2").desc(), F.col("vec_id").asc()
    )
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _OUTLIER_TOPK)
        .select("label", "vec_id", "d2", "rnk")
    )


# ---------------------------------------------------------------------------
# ann_ivfadc_topk — the FULL IVFADC index of Jégou et al. (PAMI'11),
# composing the two halves already audited above: a coarse quantizer
# (N_CELLS integer-L2 cells, as ann_ivf_topk but in the exact quantized
# domain so residuals are integers) followed by product quantization of
# the RESIDUAL r = q − coarse_centroid (the residual carries far less
# variance than the raw vector, which is why IVFADC compresses better
# than flat PQ), searched with nprobe=1 asymmetric distance: each query
# builds its M×K lookup table against the residual codebooks and scans
# only the codes of its own coarse cell. This is the billion-vector
# layout: per corpus vector the index stores ONE cell id + M codes.
#
# Scale shape: coarse assignment = one broadcast pass (N_CELLS-row
# centroid set); PQ training reuses _pq_train on the residual frame
# (same audited plan); the search joins code rows against a broadcast
# (query × M × K) table and a broadcast query-cell row — candidate
# work shrinks ~N_CELLS-fold vs ann_pq_adc_topk, the measurable IVF
# payoff. Exact BIGINT distances: the top-k cut has no float ties.
# ---------------------------------------------------------------------------


_IVF_NPROBES = (1, 2, 4)  # the recall/cost sweep grid
_IVF_NPROBE_MULTI = 4  # the registered multi-probe search row


def _ivfadc_scored_sql(nprobe: int) -> str:
    """Standalone query: (query_id, vec_id, d2_adc) — every candidate the
    IVFADC search SCORES at this nprobe (pre-top-k), so callers can read
    both the ranking and the candidate-volume cost off the same CTE.

    Multi-probe: each query keeps its ``nprobe`` nearest coarse cells
    (ranked by exact integer L2, ccid tie-break) and scans the union of
    their inverted lists. A corpus vector lives in exactly ONE cell, so
    the union is dedup-free by construction — no DISTINCT needed.
    """
    dot = _KM_DOT
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cc0 AS (
  SELECT vec_id AS ccid, q AS cq FROM e WHERE vec_id < {N_CELLS}
),
car AS (
  SELECT vec_id, ccid, q, cq, cell_rank FROM (
    SELECT e.vec_id, cc0.ccid, e.q, cc0.cq,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        CAST({dot.format(a='e.q', b='e.q')}
           - 2 * {dot.format(a='e.q', b='cc0.cq')}
           + {dot.format(a='cc0.cq', b='cc0.cq')} AS BIGINT),
        cc0.ccid) AS cell_rank
    FROM e CROSS JOIN cc0) t
  WHERE cell_rank = 1
     OR (vec_id < {N_QUERIES} AND cell_rank <= {nprobe})
),
ca AS (
  SELECT vec_id, ccid, q, cq FROM car WHERE cell_rank = 1
),
r AS (
  SELECT vec_id, ccid,
    list_transform(generate_series(1, len(q)), i -> q[i] - cq[i]) AS q
  FROM ca
),
{_pq_core_ctes("r")},
cellq AS (
  SELECT vec_id AS query_id, ccid FROM car WHERE vec_id < {N_QUERIES}
),
qs AS (
  SELECT vec_id AS query_id, m, sq AS qsq FROM s
  WHERE vec_id < {N_QUERIES}
),
dt AS (
  SELECT query_id, c.m, c.cid,
    CAST({dot.format(a='qsq', b='qsq')}
       - 2 * {dot.format(a='qsq', b='c.c')}
       + {dot.format(a='c.c', b='c.c')} AS BIGINT) AS dt
  FROM qs JOIN c1 c ON qs.m = c.m
)
SELECT cellq.query_id, a.vec_id, CAST(sum(dt.dt) AS BIGINT) AS d2_adc
FROM a2 a
JOIN r cand ON a.vec_id = cand.vec_id
JOIN cellq ON cand.ccid = cellq.ccid
JOIN dt ON a.m = dt.m AND a.cid = dt.cid
       AND dt.query_id = cellq.query_id
WHERE a.vec_id <> cellq.query_id
GROUP BY 1, 2
"""


def _ivfadc_oracle(nprobe: int) -> str:
    return f"""
WITH scored AS ({_ivfadc_scored_sql(nprobe)})
SELECT query_id, vec_id AS cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY d2_adc ASC, vec_id ASC) AS INTEGER) AS rnk,
  d2_adc
FROM scored
QUALIFY rnk <= {TOP_K}
"""


def _ivfadc_index(spark: SparkSession, sf_dir: str, max_nprobe: int):
    """(car, r, dt) — the shared IVFADC index frames: ranked coarse
    assignments (rank 1 for every corpus vector + ranks <= max_nprobe
    for query vectors), coarse residuals, and the broadcast per-query
    M x K ADC lookup table. The PQ level reuses the audited _pq_train
    on the residual frame. One index build serves every nprobe <=
    max_nprobe — the recall sweep pays for PQ training exactly once.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    cc0 = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("ccid"), F.col("q").alias("cq")
    )
    d2 = (
        _km_dot_spark(F.col("q"), F.col("q"))
        - 2 * _km_dot_spark(F.col("q"), F.col("cq"))
        + _km_dot_spark(F.col("cq"), F.col("cq"))
    ).cast("bigint")
    from bpaotu_spark.ann.index_store import cached_frame

    wc = Window.partitionBy("vec_id").orderBy("d2", "ccid")

    def _build_car():
        return (
            e.crossJoin(F.broadcast(cc0))
            .select("vec_id", "ccid", "q", "cq", d2.alias("d2"))
            .withColumn("cell_rank", F.row_number().over(wc))
            .filter(
                (F.col("cell_rank") == 1)
                | (
                    (F.col("vec_id") < N_QUERIES)
                    & (F.col("cell_rank") <= max_nprobe)
                )
            )
            .drop("d2")
        )

    # the coarse assignment table IS the IVF index — persisted per
    # probe depth (rank-1 rows are shared; extra ranks are query-side)
    car = cached_frame(
        spark, sf_dir, f"ivfadc_car_np{max_nprobe}", _build_car
    )
    ca = car.filter(F.col("cell_rank") == 1)
    r = ca.select(
        "vec_id",
        "ccid",
        F.zip_with("q", "cq", lambda a, b: a - b).alias("q"),
    )
    # PQ trains on the residual frame via the SAME audited machinery;
    # the trained residual codebooks/codes persist like the coarse table
    _, s, c1, a2 = _pq_train(spark, sf_dir, e=r.select("vec_id", "q"))
    c1_built, a2_built = c1, a2
    c1 = cached_frame(
        spark, sf_dir, "ivfadc_codebook", lambda: c1_built
    )
    a2 = cached_frame(spark, sf_dir, "ivfadc_codes", lambda: a2_built)
    qs = s.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sq").alias("qsq")
    )
    dt = qs.join(F.broadcast(c1), "m").select(
        "query_id",
        "m",
        "cid",
        (
            _km_dot_spark(F.col("qsq"), F.col("qsq"), None)
            - 2 * _km_dot_spark(F.col("qsq"), F.col("c"), None)
            + _km_dot_spark(F.col("c"), F.col("c"), None)
        )
        .cast("bigint")
        .alias("dt"),
    )
    return car, r, a2, dt


def _ivfadc_scored_frame(
    index, nprobe: int, with_cell_rank: bool = False
) -> DataFrame:
    """Scored candidates (query_id, vec_id, d2_adc) at ``nprobe`` from a
    prebuilt index. Candidate volume grows ~linearly in nprobe (the
    cells are near-uniform); each candidate still costs M broadcast
    lookups + one map-side-combined sum — no new shuffle vs nprobe=1.

    ``with_cell_rank`` keeps the probe rank of the cell that
    contributed each candidate. A corpus vector lives in exactly ONE
    cell, so each (query, candidate) pair comes from exactly one probed
    cell and ``cell_rank`` is single-valued per pair — which makes the
    nprobe'<nprobe scored set EXACTLY ``filter(cell_rank <= nprobe')``.
    The recall sweep exploits this to score once at max nprobe instead
    of once per grid point (r6 bench regression: 3 scoring joins →
    2.7× the r5 wall time; this restores one join for the whole grid).
    """
    car, r, a2, dt = index
    cell_cols = [F.col("vec_id").alias("query_id"), F.col("ccid")]
    aggs = [F.sum("dt").cast("bigint").alias("d2_adc")]
    if with_cell_rank:
        # constant within the group (one contributing cell per pair)
        cell_cols.append(F.col("cell_rank"))
        aggs.append(F.min("cell_rank").alias("cell_rank"))
    cellq = car.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("cell_rank") <= nprobe)
    ).select(*cell_cols)
    return (
        a2.select("vec_id", "m", "cid")
        .join(r.select("vec_id", "ccid"), "vec_id")
        .join(F.broadcast(cellq), "ccid")
        .join(F.broadcast(dt), ["m", "cid", "query_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(*aggs)
    )


def _ivfadc_topk_frame(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_adc").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "d2_adc",
        )
    )


@register("ann_ivfadc_topk", oracle=_ivfadc_oracle(1))
def ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = _ivfadc_index(spark, sf_dir, max_nprobe=1)
    return _ivfadc_topk_frame(_ivfadc_scored_frame(index, 1))


@register(
    "ann_ivfadc_nprobe_topk", oracle=_ivfadc_oracle(_IVF_NPROBE_MULTI)
)
def ann_ivfadc_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVFADC (nprobe=4): each query scans its 4 nearest
    coarse cells' inverted lists — 4x the candidates of nprobe=1 for a
    recall step-change (quantified by ivfadc_recall_report), still
    ~N_CELLS/4-fold fewer than a flat scan. The production knob of
    Jégou et al. (PAMI'11) §5: recall climbs with nprobe while cost
    stays proportional, per-vector index state unchanged."""
    index = _ivfadc_index(spark, sf_dir, max_nprobe=_IVF_NPROBE_MULTI)
    return _ivfadc_topk_frame(
        _ivfadc_scored_frame(index, _IVF_NPROBE_MULTI)
    )


# ---------------------------------------------------------------------------
# ivfadc_recall_report — the recall/cost CURVE that decides nprobe: for
# each nprobe in the sweep grid, the overlap between the IVFADC top-k
# and the FLAT ADC top-k (same PQ metric space, full-corpus scan),
# alongside the candidate volume the search actually scored — so the
# deployment trade-off ("nprobe=2 buys +X recall for 2x candidates")
# reads off one table. One row per nprobe.
#
# Scale shape (Spark side): the index (coarse assignments + residual PQ
# + broadcast ADC tables) is built ONCE via localCheckpoint and reused
# across the sweep — each nprobe adds only its own bounded scoring join
# + a 1-row rollup. The oracle re-derives each nprobe's scored set from
# scratch (self-contained CTEs), proving the shared-index rewrite
# equivalent to the naive per-nprobe form.
# ---------------------------------------------------------------------------


def _ivfadc_recall_oracle() -> str:
    parts = [f"WITH flat AS ({_pq_adc_oracle()})"]
    rows = []
    for np_ in _IVF_NPROBES:
        parts.append(f""",
sc{np_} AS ({_ivfadc_scored_sql(np_)}),
top{np_} AS (
  SELECT query_id, vec_id FROM sc{np_}
  QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY d2_adc ASC, vec_id ASC) <= {TOP_K}
),
r{np_} AS (
  SELECT CAST({np_} AS BIGINT) AS nprobe,
    (SELECT CAST(count(*) AS BIGINT) FROM sc{np_}) AS scored_pairs,
    CAST(count(*) AS BIGINT) AS flat_total,
    CAST(count(top{np_}.vec_id) AS BIGINT) AS overlap_total
  FROM flat LEFT JOIN top{np_}
    ON flat.query_id = top{np_}.query_id
   AND flat.cand_id = top{np_}.vec_id
)""")
        rows.append(f"SELECT * FROM r{np_}")
    union = " UNION ALL ".join(rows)
    parts.append(f"""
SELECT nprobe, flat_total, overlap_total, scored_pairs,
  overlap_total * 1000000 // flat_total AS recall_ppm
FROM ({union})
""")
    return "".join(parts)


@register("ivfadc_recall_report", oracle=_ivfadc_recall_oracle())
def ivfadc_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = (
        ann_pq_adc_topk(spark, sf_dir)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    index = _ivfadc_index(spark, sf_dir, max_nprobe=max(_IVF_NPROBES))
    # ONE scoring join at max nprobe, candidates tagged with the probe
    # rank of their contributing cell; every smaller nprobe's scored
    # set is exactly `cell_rank <= nprobe` over this frame (one cell
    # per corpus vector → one contributing cell per pair). Pinning the
    # scored frame makes each sweep branch a filter + rollup — the r6
    # per-nprobe re-scoring (3 joins + 4 index checkpoints) is gone.
    sc_all = _ivfadc_scored_frame(
        index, max(_IVF_NPROBES), with_cell_rank=True
    ).localCheckpoint()
    out = None
    for np_ in _IVF_NPROBES:
        sc = sc_all.filter(F.col("cell_rank") <= np_)
        top = _ivfadc_topk_frame(sc).select(
            "query_id", "cand_id", F.lit(1).alias("hit")
        )
        pairs = sc.agg(
            F.count(F.lit(1)).cast("bigint").alias("scored_pairs")
        )
        row = (
            flat.join(top, ["query_id", "cand_id"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("flat_total"),
                F.count("hit").cast("bigint").alias("overlap_total"),
            )
            .crossJoin(F.broadcast(pairs))
            .select(
                F.lit(np_).cast("bigint").alias("nprobe"),
                "flat_total",
                "overlap_total",
                "scored_pairs",
                F.expr(
                    "overlap_total * 1000000 div flat_total"
                ).alias("recall_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# ann_ivfadc_rerank_topk — IVFADC+R (Jégou et al. PAMI'11 §6): the
# multi-probe ADC search produces a SHORTLIST of R candidates per query
# and an exact L2 re-ranker re-scores just those R against the original
# vectors. This is the standard production billion-vector layout: the
# compressed index (1 cell id + M codes per vector) answers the coarse
# search; only R original vectors per query are ever fetched — the
# random-read stage is bounded by R × n_queries, not corpus size. The
# re-rank repairs the PQ quantization error that caps plain ADC recall
# (quantified side-by-side by ivfadc_recall_report).
# ---------------------------------------------------------------------------

_RERANK_R = 20  # ADC shortlist depth handed to the exact re-ranker


def _rerank_oracle() -> str:
    dot = _KM_DOT
    return f"""
WITH scored AS ({_ivfadc_scored_sql(_IVF_NPROBE_MULTI)}),
short AS (
  SELECT query_id, vec_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_id
    ORDER BY d2_adc ASC, vec_id ASC) <= {_RERANK_R}
),
e2 AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
ex AS (
  SELECT s.query_id, s.vec_id,
    CAST({dot.format(a='eq.q', b='eq.q')}
       - 2 * {dot.format(a='eq.q', b='ec.q')}
       + {dot.format(a='ec.q', b='ec.q')} AS BIGINT) AS d2_exact
  FROM short s
  JOIN e2 eq ON eq.vec_id = s.query_id
  JOIN e2 ec ON ec.vec_id = s.vec_id
)
SELECT query_id, vec_id AS cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY d2_exact ASC, vec_id ASC) AS INTEGER) AS rnk,
  d2_exact
FROM ex
QUALIFY rnk <= {TOP_K}
"""


@register("ann_ivfadc_rerank_topk", oracle=_rerank_oracle())
def ann_ivfadc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC shortlist (nprobe=4, R=20) → exact integer-L2 re-rank.

    Scale shape: the shortlist (≤ R rows per query) is BROADCAST into
    the original-vector fetch, so the expensive side — the full vector
    table — is touched by one broadcast-pruned scan, never shuffled;
    the re-rank itself is R×n_queries rows of exact arithmetic. The
    quantized-vector L2 is all-int64 (identical to the k-means metric),
    so Spark and the oracle agree bit-exactly.
    """
    index = _ivfadc_index(spark, sf_dir, max_nprobe=_IVF_NPROBE_MULTI)
    scored = _ivfadc_scored_frame(index, _IVF_NPROBE_MULTI)
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_adc").asc(), F.col("vec_id").asc()
    )
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _RERANK_R)
        .select("query_id", "vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    eq = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    ex = (
        e.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(eq), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                _km_dot_spark(F.col("qq"), F.col("qq"))
                - 2 * _km_dot_spark(F.col("qq"), F.col("q"))
                + _km_dot_spark(F.col("q"), F.col("q"))
            )
            .cast("bigint")
            .alias("d2_exact"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("d2_exact").asc(), F.col("vec_id").asc()
    )
    return (
        ex.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("cand_id"), "rnk", "d2_exact")
    )


# ---------------------------------------------------------------------------
# embedding_prefix_recall — Matryoshka-style truncation report: top-k
# recall when the search metric uses only the FIRST d dimensions of the
# embedding, for d in the sweep grid, against the full-dimension
# brute-force truth. MRL-trained embedding families (Kusupati et al.
# 2022) front-load information so short prefixes retain most recall;
# this report measures whether THIS embedding column has that property
# — the go/no-go for serving a cheaper truncated index. Exact integer
# L2 on the quantized grid both sides; recall in floored ppm.
# ---------------------------------------------------------------------------

_PREFIX_DIMS = (8, 16, 32, 64)


def _prefix_recall_oracle() -> str:
    parts = [f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
pr AS (
  SELECT a.vec_id AS query_id, a.q AS qa, b.vec_id, b.q AS qb
  FROM e a JOIN e b
    ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
)"""]
    for d in _PREFIX_DIMS:
        d2 = (
            f"list_dot_product(CAST(dl AS DOUBLE[]), CAST(dl AS DOUBLE[]))"
        )
        parts.append(f""",
t{d} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      {d2} AS d2
    FROM (
      SELECT query_id, vec_id,
        list_transform(generate_series(1, {d}), i -> qa[i] - qb[i]) AS dl
      FROM pr)
  ) QUALIFY row_number() OVER (PARTITION BY query_id
      ORDER BY d2 ASC, vec_id ASC) <= {TOP_K}
)""")
    rows = []
    full = _PREFIX_DIMS[-1]
    for d in _PREFIX_DIMS:
        rows.append(f"""
SELECT CAST({d} AS BIGINT) AS prefix_dim,
  CAST(count(*) AS BIGINT) AS flat_total,
  CAST(count(t.vec_id) AS BIGINT) AS overlap_total
FROM t{full} b LEFT JOIN t{d} t
  ON b.query_id = t.query_id AND b.vec_id = t.vec_id""")
    union = " UNION ALL ".join(rows)
    parts.append(f"""
SELECT prefix_dim, flat_total, overlap_total,
  overlap_total * 1000000 // flat_total AS recall_ppm
FROM ({union})
""")
    return "".join(parts)


def _prefix_d2(qa, qb, d: int):
    diff = F.zip_with(
        F.slice(qa, 1, d), F.slice(qb, 1, d), lambda x, y: x - y
    )
    return F.aggregate(
        diff, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )


@register("embedding_prefix_recall", oracle=_prefix_recall_oracle())
def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of prefix-dimension search vs full-dimension truth, one
    row per prefix length.

    Scale: the pair frame is (n_queries × corpus) with the query side
    broadcast — the corpus is scanned once per report, each prefix adds
    only a column expression + a top-k window over the same frame. The
    d=64 row is the self-recall sanity check (always 1e6 ppm).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    qs = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    pr = (
        e.select(F.col("vec_id"), F.col("q").alias("qb"))
        .join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .localCheckpoint()
    )

    def topk_at(d: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("d2").asc(), F.col("vec_id").asc()
        )
        return (
            pr.select(
                "query_id", "vec_id", _prefix_d2("qa", "qb", d).alias("d2")
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "vec_id")
        )

    base = topk_at(_PREFIX_DIMS[-1]).localCheckpoint()
    out = None
    for d in _PREFIX_DIMS:
        hits = topk_at(d).withColumn("hit", F.lit(1))
        row = (
            base.join(F.broadcast(hits), ["query_id", "vec_id"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("flat_total"),
                F.count("hit").cast("bigint").alias("overlap_total"),
            )
            .select(
                F.lit(d).cast("bigint").alias("prefix_dim"),
                "flat_total",
                "overlap_total",
                F.expr(
                    "overlap_total * 1000000 div flat_total"
                ).alias("recall_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# ivf_cell_balance_report — inverted-list balance census for the IVF
# coarse quantizer: per cell, its vector count, corpus share, and load
# factor vs perfectly-balanced (1e6 ppm = exactly corpus/N_CELLS).
# THE operational health metric of an IVF deployment: a hot cell means
# nprobe=1 queries landing there scan far more than corpus/N_CELLS
# candidates (latency skew), a starved cell wastes a probe. At 100 TB
# this report is what triggers re-training the coarse codebook.
# Same coarse assignment as ann_ivf*/ivfadc (seeded centroids, exact
# integer L2, ccid tie-break) so the numbers describe the REAL index.
# ---------------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    dot = _KM_DOT
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cc0 AS (
  SELECT vec_id AS ccid, q AS cq FROM e WHERE vec_id < {N_CELLS}
),
ca AS (
  SELECT vec_id, ccid FROM (
    SELECT e.vec_id, cc0.ccid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        CAST({dot.format(a='e.q', b='e.q')}
           - 2 * {dot.format(a='e.q', b='cc0.cq')}
           + {dot.format(a='cc0.cq', b='cc0.cq')} AS BIGINT),
        cc0.ccid) AS cell_rank
    FROM e CROSS JOIN cc0) t
  WHERE cell_rank = 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ca)
SELECT ccid,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(count(*) * 1000000 // n AS BIGINT) AS share_ppm,
  CAST(count(*) * {N_CELLS} * 1000000 // n AS BIGINT) AS load_factor_ppm
FROM ca CROSS JOIN tot
GROUP BY ccid, n
"""


@register("ivf_cell_balance_report", oracle=_ivf_balance_oracle())
def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell inverted-list balance of the coarse quantizer.

    Scale: one broadcast of N_CELLS centroids, one pass over the
    corpus, one map-side-combined groupBy — the report costs a scan
    regardless of corpus size; the 1-row total is a bounded broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    cc0 = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("ccid"), F.col("q").alias("cq")
    )
    d2 = (
        _km_dot_spark(F.col("q"), F.col("q"))
        - 2 * _km_dot_spark(F.col("q"), F.col("cq"))
        + _km_dot_spark(F.col("cq"), F.col("cq"))
    ).cast("bigint")
    wc = Window.partitionBy("vec_id").orderBy("d2", "ccid")
    ca = (
        e.crossJoin(F.broadcast(cc0))
        .select("vec_id", "ccid", d2.alias("d2"))
        .withColumn("cell_rank", F.row_number().over(wc))
        .filter(F.col("cell_rank") == 1)
        .select("vec_id", "ccid")
    )
    tot = ca.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        ca.groupBy("ccid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "ccid",
            "n_vecs",
            F.expr("CAST(n_vecs * 1000000 div n AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                f"CAST(n_vecs * {N_CELLS} * 1000000 div n AS BIGINT)"
            ).alias("load_factor_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_cell_residual_stats — quantization-error census per coarse
# cell: how far the vectors in each inverted list sit from their
# centroid (mean/max residual L2). The companion to
# ivf_cell_balance_report: balance says WHERE the vectors are, residual
# stats say how well the centroid represents them — a cell with high
# mean residual degrades ADC accuracy for every query probing it, and
# is the per-cell trigger for codebook retraining or cell splitting.
# ---------------------------------------------------------------------------


def _cell_residual_oracle() -> str:
    dot = _KM_DOT
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cc0 AS (
  SELECT vec_id AS ccid, q AS cq FROM e WHERE vec_id < {N_CELLS}
),
ca AS (
  SELECT vec_id, ccid, d2 FROM (
    SELECT e.vec_id, cc0.ccid,
      CAST({dot.format(a='e.q', b='e.q')}
         - 2 * {dot.format(a='e.q', b='cc0.cq')}
         + {dot.format(a='cc0.cq', b='cc0.cq')} AS BIGINT) AS d2,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        CAST({dot.format(a='e.q', b='e.q')}
           - 2 * {dot.format(a='e.q', b='cc0.cq')}
           + {dot.format(a='cc0.cq', b='cc0.cq')} AS BIGINT),
        cc0.ccid) AS cell_rank
    FROM e CROSS JOIN cc0) t
  WHERE cell_rank = 1
)
SELECT ccid,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(CAST(sum(d2) AS HUGEINT) // count(*) AS BIGINT) AS mean_d2_floor,
  CAST(max(d2) AS BIGINT) AS max_d2
FROM ca GROUP BY ccid
"""


@register("embedding_cell_residual_stats", oracle=_cell_residual_oracle())
def embedding_cell_residual_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell residual-L2 stats (n, floored mean, max) of the coarse
    quantizer.

    Scale: one broadcast of N_CELLS centroids + one map-side-combined
    groupBy; Σd2 accumulates in DECIMAL(38,0)/HUGEINT (passes int64 at
    ~4e8 vectors) and only the floored mean leaves as BIGINT.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    cc0 = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("ccid"), F.col("q").alias("cq")
    )
    d2 = (
        _km_dot_spark(F.col("q"), F.col("q"))
        - 2 * _km_dot_spark(F.col("q"), F.col("cq"))
        + _km_dot_spark(F.col("cq"), F.col("cq"))
    ).cast("bigint")
    wc = Window.partitionBy("vec_id").orderBy("d2", "ccid")
    ca = (
        e.crossJoin(F.broadcast(cc0))
        .select("vec_id", "ccid", d2.alias("d2"))
        .withColumn("cell_rank", F.row_number().over(wc))
        .filter(F.col("cell_rank") == 1)
    )
    return ca.groupBy("ccid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.expr(
            "CAST(CAST(sum(CAST(d2 AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " div count(*) AS BIGINT)"
        ).alias("mean_d2_floor"),
        F.max("d2").cast("bigint").alias("max_d2"),
    )


# ---------------------------------------------------------------------------
# centroid_assignment_accuracy — nearest-centroid classification eval:
# assign every vector to its nearest label centroid (squared Euclidean)
# and report per-label accuracy. The label-separability health check a
# metric-learning / embedding-quality pipeline runs before trusting
# label-blocked dedup or stratified sampling at 100 TB — if nearest-
# centroid can't recover the labels, label blocking is leaking
# near-dups across blocks.
#
# Determinism: centroids use embedding_label_centroids' exact
# DECIMAL(28,12) summation (associative — partition order can't move
# an ulp) rounded to 4 dp; distances are then per-row double
# arithmetic with the SAME sequential-fold dot products as
# dedup_embedding (d² = v·v − 2·v·c + c·c, literal op order), and the
# argmin breaks double ties by label ASC.
#
# Scale shape: the centroid table is |labels|×|dims| → |labels| list
# rows, broadcast into a bounded cross with the vector table (≤
# |labels| candidates per vector, documented BNLJ); the argmin window
# partitions by vec_id.
# ---------------------------------------------------------------------------


@register(
    "centroid_assignment_accuracy",
    oracle="""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS (
  SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM e
), cl AS (
  SELECT label, dim,
    CAST(round(sum(CAST(val AS DECIMAL(28,12))) / count(*), 4) AS DOUBLE)
      AS cv
  FROM x GROUP BY label, dim
), cents AS (
  SELECT label AS c_label, list(cv ORDER BY dim) AS c FROM cl GROUP BY label
), cand AS (
  SELECT e.vec_id, e.label, cents.c_label,
    list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, cents.c)
      + list_dot_product(cents.c, cents.c) AS d2
  FROM e CROSS JOIN cents
), best AS (
  SELECT vec_id, label, c_label,
    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC)
      AS rk
  FROM cand
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(count(CASE WHEN c_label = label THEN 1 END) AS BIGINT) AS n_correct,
  CAST(count(CASE WHEN c_label = label THEN 1 END) AS BIGINT) * 1000000
    // CAST(count(*) AS BIGINT) AS accuracy_ppm
FROM best WHERE rk = 1 GROUP BY label
""",
)
def centroid_assignment_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("label", F.posexplode("v").alias("pos", "val")).select(
        "label", (F.col("pos") + 1).cast("bigint").alias("dim"), "val"
    )
    cl = x.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(28,12)")) / F.count(F.lit(1)), 4
        )
        .cast("double")
        .alias("cv")
    )
    cents = (
        cl.groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s.cv,
            ).alias("c")
        )
    )
    cand = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        (
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), F.col("c"))
            + dot(F.col("c"), F.col("c"))
        ).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("c_label").asc()
    )
    best = cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    correct = F.count(F.when(F.col("c_label") == F.col("label"), F.lit(1)))
    return best.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        correct.cast("bigint").alias("n_correct"),
        F.expr(
            "CAST(count(CASE WHEN c_label = label THEN 1 END) AS BIGINT)"
            " * 1000000 div count(*)"
        ).alias("accuracy_ppm"),
    )


# ---------------------------------------------------------------------------
# embedding_triplet_margin — metric-learning separability per query:
# for each demo query vector, the best same-label cosine (positive,
# self excluded) vs the best other-label cosine (negative) over the
# full corpus, and their margin. A positive margin means the nearest
# neighbor semantics respect labels — the per-query drill-down behind
# centroid_assignment_accuracy's aggregate (and the quantity a triplet
# loss would train on).
#
# Determinism: the same 6-dp-rounded sequential-fold cosine as
# ann_bruteforce_topk; max() over doubles is order-insensitive, and
# the margin floors the difference of two already-rounded values.
#
# Scale shape: broadcast query set (N_QUERIES rows) against one corpus
# scan, then a query-keyed aggregate — no windows over the fact.
# ---------------------------------------------------------------------------


@register(
    "embedding_triplet_margin",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS q_label, v AS qv
  FROM e WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cand_id, label AS c_label, v AS cv FROM e
), scored AS (
  SELECT query_id, q_label, c_label, round({_COS}, 6) AS cos_r
  FROM q JOIN c ON query_id != cand_id
), agg AS (
  SELECT query_id, q_label,
    max(CASE WHEN c_label = q_label THEN cos_r END) AS best_pos,
    max(CASE WHEN c_label <> q_label THEN cos_r END) AS best_neg
  FROM scored GROUP BY query_id, q_label
)
SELECT query_id, q_label,
  CAST(best_pos AS DOUBLE) AS best_pos_cos,
  CAST(best_neg AS DOUBLE) AS best_neg_cos,
  CAST(floor((best_pos - best_neg) * 1000) AS BIGINT) AS margin_milli
FROM agg
""",
)
def embedding_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn("nrm", norm(F.col("v")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("nc"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("cand_id")
    ).select(
        "query_id",
        "q_label",
        "c_label",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ).alias("cos_r"),
    )
    agg = scored.groupBy("query_id", "q_label").agg(
        F.max(
            F.when(F.col("c_label") == F.col("q_label"), F.col("cos_r"))
        ).alias("best_pos"),
        F.max(
            F.when(F.col("c_label") != F.col("q_label"), F.col("cos_r"))
        ).alias("best_neg"),
    )
    return agg.select(
        "query_id",
        "q_label",
        F.col("best_pos").cast("double").alias("best_pos_cos"),
        F.col("best_neg").cast("double").alias("best_neg_cos"),
        F.floor((F.col("best_pos") - F.col("best_neg")) * 1000)
        .cast("bigint")
        .alias("margin_milli"),
    )


# ---------------------------------------------------------------------------
# ann_filtered_topk — metadata-filtered vector search with PRE-filter
# semantics: the label predicate (same label parity as the query)
# restricts the candidate set BEFORE ranking, so every query gets its
# full k results from the eligible subset. The semantics every vector
# DB documents as the hard case — POST-filtering an unfiltered top-k
# silently returns < k (or misses eligible vectors entirely) once the
# filter is selective; the oracle-hashed pre-filter result is the
# correctness contract an IVF/LSH filtered search must reproduce.
#
# Scale shape: identical to ann_bruteforce_topk (broadcast query set,
# one corpus scan) — the predicate lands in the join condition, so
# Catalyst prunes candidates before the fold-cosine evaluates.
# ---------------------------------------------------------------------------


@register(
    "ann_filtered_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS q_label, v AS qv
  FROM e WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cand_id, label AS c_label, v AS cv FROM e
), scored AS (
  SELECT query_id, q_label, cand_id, round({_COS}, 6) AS cos_r
  FROM q JOIN c ON query_id != cand_id AND c_label % 2 = q_label % 2
)
SELECT query_id, q_label, cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cos_r DESC, cand_id ASC) AS INTEGER) AS rnk,
  CAST(round(cos_r, 4) AS DOUBLE) AS cos_sim
FROM scored
QUALIFY rnk <= {TOP_K}
""",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn("nrm", norm(F.col("v")))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("nq"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("nc"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("cand_id"))
        & (F.col("c_label") % 2 == F.col("q_label") % 2),
    ).select(
        "query_id",
        "q_label",
        "cand_id",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ).alias("cos_r"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "q_label",
            "cand_id",
            "rnk",
            F.round("cos_r", 4).cast("double").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_dim_quantiles — exact per-dimension p05/p50/p95 of the
# embedding matrix: the calibration table a quantizer needs BEFORE
# choosing clip ranges (vector_quantize_int8 clips at min/max, which
# a single outlier wrecks — quantile clipping is the production
# choice; this op supplies the quantiles). Values are read straight
# from the data at exact type-1 quantile ranks (rank = floor((n−1)q)+1
# over the (value, vec_id) total order) — no arithmetic, no floats to
# disagree on.
#
# Scale shape: one posexplode (the embedding_dim_stats scan), then a
# row_number window PARTITIONED BY dim — 64 independent partitions of
# |vectors| rows each, parallelism = dim count, never a global sort.
# ---------------------------------------------------------------------------

_DIMQ_QS = ((5, "p05"), (50, "p50"), (95, "p95"))


@register(
    "embedding_dim_quantiles",
    oracle=f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
), rk AS (
  SELECT dim, val,
    CAST(row_number() OVER (PARTITION BY dim ORDER BY val, vec_id)
      AS BIGINT) AS rn,
    CAST(count(*) OVER (PARTITION BY dim) AS BIGINT) AS n
  FROM x
)
SELECT dim, n AS n_values,
  {", ".join(f"CAST(max(CASE WHEN rn = (n - 1) * {q} // 100 + 1 THEN val END) AS DOUBLE) AS {name}" for q, name in _DIMQ_QS)}
FROM rk GROUP BY dim, n
""",
)
def embedding_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode("v").alias("pos", "val")).select(
        "vec_id", (F.col("pos") + 1).cast("bigint").alias("dim"), "val"
    )
    wd = Window.partitionBy("dim")
    rk = x.select(
        "dim",
        "val",
        F.row_number()
        .over(wd.orderBy("val", "vec_id"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n - 1) * {q} div 100 + 1"),
                F.col("val"),
            )
        )
        .cast("double")
        .alias(name)
        for q, name in _DIMQ_QS
    ]
    return rk.groupBy("dim", F.col("n").alias("n_values")).agg(*aggs)


# ---------------------------------------------------------------------------
# ann_sdc_topk — SDC (Symmetric Distance Computation; Jégou et al.
# PAMI'11 §4.1): both the query AND the database vector are represented
# by their PQ codes, and distance is looked up in a precomputed
# code-to-code table d(c_i, c_j) per subspace. ADC keeps the exact
# query subvector (lower error); SDC's table is query-INDEPENDENT —
# the distance of a pair of vectors is a pure function of their codes,
# which is what pre-computed pair mining / clustering over a compressed
# corpus uses. This row completes the PQ search family next to
# ann_pq_adc_topk (asymmetric) and the IVFADC rows.
#
# Scale shape: the code-to-code table is M*K² rows (256 here) built
# from the broadcast codebook joined to itself; the search joins corpus
# codes against broadcast query codes + the broadcast table — per
# candidate cost is M integer lookups + one map-side-combined sum.
# The K² table is independent of corpus size, so at 100 TB the only
# corpus-sized traffic is the code scan itself (M small ints/vector).
# ---------------------------------------------------------------------------


def _sdc_oracle() -> str:
    dot = _KM_DOT
    return f"""
WITH {_pq_ctes()},
dcc AS (
  SELECT x.m, x.cid AS cid_q, y.cid AS cid_c,
    CAST({dot.format(a='x.c', b='x.c')}
       - 2 * {dot.format(a='x.c', b='y.c')}
       + {dot.format(a='y.c', b='y.c')} AS BIGINT) AS dcc
  FROM c1 x JOIN c1 y ON x.m = y.m
),
qa AS (
  SELECT vec_id AS query_id, m, cid AS cid_q FROM a2
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, a.vec_id, CAST(sum(dcc) AS BIGINT) AS d2_sdc
  FROM a2 a
  JOIN qa ON a.m = qa.m
  JOIN dcc ON dcc.m = a.m AND dcc.cid_q = qa.cid_q AND dcc.cid_c = a.cid
  WHERE a.vec_id <> qa.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY d2_sdc ASC, vec_id ASC) AS INTEGER) AS rnk,
  d2_sdc
FROM scored
QUALIFY rnk <= {TOP_K}
"""


@register("ann_sdc_topk", oracle=_sdc_oracle())
def ann_sdc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat SDC top-k: code-to-code PQ distance, query side compressed
    too. Reference semantics: Jégou et al. PAMI'11 §4.1 (public)."""
    _, _, c1, a2 = _pq_train(spark, sf_dir)
    cx = c1.select("m", F.col("cid").alias("cid_q"), F.col("c").alias("cq"))
    cy = c1.select(
        F.col("m").alias("m_y"),
        F.col("cid").alias("cid_c"),
        F.col("c").alias("cc"),
    )
    dcc = cx.join(cy, cx.m == cy.m_y).select(
        "m",
        "cid_q",
        "cid_c",
        (
            _km_dot_spark(F.col("cq"), F.col("cq"), None)
            - 2 * _km_dot_spark(F.col("cq"), F.col("cc"), None)
            + _km_dot_spark(F.col("cc"), F.col("cc"), None)
        )
        .cast("bigint")
        .alias("dcc"),
    )
    qa = a2.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("cid").alias("cid_q")
    )
    # fold query codes into the broadcast table first: qdt is the
    # query-specific M x K distance row set (same shape as ADC's dt),
    # so the corpus-sized join is a single broadcast hash join
    qdt = qa.join(F.broadcast(dcc), ["m", "cid_q"]).select(
        "query_id", "m", F.col("cid_c").alias("cid"), "dcc"
    )
    scored = (
        a2.select("vec_id", "m", "cid")
        .join(F.broadcast(qdt), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dcc").cast("bigint").alias("d2_sdc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2_sdc").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "d2_sdc",
        )
    )


# ---------------------------------------------------------------------------
# pq_code_entropy — per-subspace Shannon entropy of the code-usage
# distribution in floored micro-nats, plus codes-used and top-code
# share: the information-theoretic codebook health check next to the
# count-based balance reports (embedding_pq_codebook census,
# embedding_opq_balance). A subspace whose entropy is far below
# ln(K) wastes code budget — the standard PQ diagnostics from the
# quantization literature. Same fixed-point H = ln(T) − Σ c·ln(c)/T
# idiom as pielou_evenness, so the value hashes engine-exact.
# ---------------------------------------------------------------------------


@register(
    "pq_code_entropy",
    oracle=f"""
WITH {_pq_ctes()},
cc AS (
  SELECT m, cid, CAST(count(*) AS BIGINT) AS c
  FROM a2 GROUP BY m, cid
),
st AS (
  SELECT m,
    CAST(count(*) AS BIGINT) AS n_codes_used,
    CAST(sum(c) AS BIGINT) AS n_total,
    CAST(max(c) AS BIGINT) AS c_top,
    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
      AS BIGINT) AS sum_clnc
  FROM cc GROUP BY m
)
SELECT CAST(m AS BIGINT) AS subspace, n_codes_used, n_total,
  CAST(floor(ln(CAST(n_total AS DOUBLE)) * 1000000) AS BIGINT)
    - sum_clnc // n_total AS entropy_micronats,
  c_top * 1000000 // n_total AS top_code_ppm
FROM st
""",
)
def pq_code_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-usage entropy per PQ subspace (micro-nats, exact)."""
    _, _, _, a2 = _pq_train(spark, sf_dir)
    cc = a2.groupBy("m", "cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    st = cc.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_codes_used"),
        F.sum("c").cast("bigint").alias("n_total"),
        F.max("c").cast("bigint").alias("c_top"),
        F.sum(
            F.col("c")
            * F.floor(F.log(F.col("c").cast("double")) * 1000000).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("sum_clnc"),
    )
    return st.select(
        F.col("m").cast("bigint").alias("subspace"),
        "n_codes_used",
        "n_total",
        (
            F.floor(F.log(F.col("n_total").cast("double")) * 1000000).cast(
                "bigint"
            )
            - F.expr("sum_clnc div n_total")
        ).alias("entropy_micronats"),
        F.expr("c_top * 1000000 div n_total").alias("top_code_ppm"),
    )


# ---------------------------------------------------------------------------
# embedding_dim_covariance — pairwise covariance/correlation over the
# first 8 embedding dimensions: the isotropy diagnostic
# (Ethayarajh '19 / Mu & Viswanath '18 — anisotropic embeddings
# concentrate in a narrow cone, visible as large |corr| off-diagonal)
# complementing the per-dim variance reports (embedding_dim_stats) and
# the OPQ balance row. Bounded to 8·7/2 = 28 pairs by design — the
# full DIM² matrix at scale is a different operator (a gramian
# aggregation), while this row is the cheap always-on health check.
#
# Exactness: covariance numerator n·Σxy − Σx·Σy in 128-bit integers,
# floored to BIGINT at the output boundary (both engines truncate
# toward zero on signed division — verified convention). Correlation
# converts the EXACT integer moments to DOUBLE with identical op order
# (single rounding each) and floors the milli value — engine-identical
# per-row float arithmetic, never an unordered float SUM.
# ---------------------------------------------------------------------------

_COV_DIMS = 8


@register(
    "embedding_dim_covariance",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
x AS (
  SELECT vec_id, d.dim, q[d.dim] AS qv
  FROM e CROSS JOIN (
    SELECT unnest(range(1, {_COV_DIMS} + 1)) AS dim
  ) d
),
mo AS (
  SELECT a.dim AS dim_i, b.dim AS dim_j,
    CAST(count(*) AS HUGEINT) AS n,
    CAST(sum(a.qv) AS HUGEINT) AS sx,
    CAST(sum(b.qv) AS HUGEINT) AS sy,
    CAST(sum(CAST(a.qv AS HUGEINT) * b.qv) AS HUGEINT) AS sxy,
    CAST(sum(CAST(a.qv AS HUGEINT) * a.qv) AS HUGEINT) AS sxx,
    CAST(sum(CAST(b.qv AS HUGEINT) * b.qv) AS HUGEINT) AS syy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
  GROUP BY 1, 2
)
SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
  CAST((n * sxy - sx * sy) // (n * n) AS BIGINT) AS cov_floor,
  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         * CAST(n * syy - sy * sy AS DOUBLE)) * 1000) AS BIGINT)
    AS corr_milli
FROM mo
""",
)
def embedding_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-pair covariance/correlation census over dims 1..8."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    # the oracle keeps the naive self-join form; Spark generates the 28
    # (i, j) pairs per row MAP-SIDE (one explode, zero joins) so the
    # whole operator is a single map-combined aggregation — the shape
    # that matters at 100 TB, where a vec_id-keyed self-join would
    # shuffle the corpus twice for no reason
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("dim_i"),
                F.lit(j).alias("dim_j"),
                F.expr(f"q[{i - 1}]").alias("qa"),
                F.expr(f"q[{j - 1}]").alias("qb"),
            )
            for i in range(1, _COV_DIMS + 1)
            for j in range(i + 1, _COV_DIMS + 1)
        ]
    )
    mo = (
        e.select(F.explode(pair_structs).alias("p"))
        .select("p.dim_i", "p.dim_j", "p.qa", "p.qb")
        .groupBy("dim_i", "dim_j")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("qa").cast("decimal(38,0)").alias("sx"),
            F.sum("qb").cast("decimal(38,0)").alias("sy"),
            F.sum(F.expr("CAST(qa AS DECIMAL(38,0)) * qb")).alias("sxy"),
            F.sum(F.expr("CAST(qa AS DECIMAL(38,0)) * qa")).alias("sxx"),
            F.sum(F.expr("CAST(qb AS DECIMAL(38,0)) * qb")).alias("syy"),
        )
    )
    return mo.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("dim_j").cast("bigint").alias("dim_j"),
        F.expr("CAST((n * sxy - sx * sy) div (n * n) AS BIGINT)").alias(
            "cov_floor"
        ),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "      * CAST(n * syy - sy * sy AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("corr_milli"),
    )


# ---------------------------------------------------------------------------
# ann_opq_adc_topk — ADC search in the OPQ-permuted space: the snake
# permutation (embedding_opq_balance) balances per-subspace variance,
# the SAME audited PQ trains on the permuted vectors, and the SAME ADC
# tail searches them. L2 distance is permutation-invariant, so any
# ranking difference vs ann_pq_adc_topk is purely the quantization
# binning the permutation changed — the end-to-end "what does OPQ buy
# in retrieval" row completing the balance report (which only shows
# distortion). Oracle composes the exact permutation CTEs + the shared
# ADC tail; Spark composes _opq_permuted_e → _pq_train → _adc_search.
#
# Scale shape: identical to ann_pq_adc_topk plus one broadcast 64-row
# permutation join on the way in.
# ---------------------------------------------------------------------------


def _opq_adc_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
{_opq_sql_parts("e")},
{_pq_core_ctes("ep")},
{_adc_tail_sql()}
"""


@register("ann_opq_adc_topk", oracle=_opq_adc_oracle())
def ann_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, s, c1, a2 = _opq_train_cached(spark, sf_dir)
    return _adc_search(s, c1, a2)


# ---------------------------------------------------------------------------
# ann_index_size_report — the capacity-planning advisor for the ANN
# family: bytes/vector and total index bytes for each layout this
# engine implements (flat float32, int8 scalar-quantized, PQ codes,
# IVFADC), plus the compression ratio vs flat — the table that decides
# which index a 100-TB corpus can afford to keep in memory. Constants
# mirror the actual operator layouts: flat = DIM·4; int8 = DIM·1 + 8
# (per-vector scale, vector_quantize_int8); PQ = M codes/vector + the
# M·K·SUB float64 codebook; IVFADC = 4-byte cell id + M codes + the
# codebook + the N_CELLS·DIM coarse table. Advisor-row family
# (bloom_sizing_advisor / dim_broadcast_advisor shape): one corpus
# count + constant arithmetic, engine-exact by construction.
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # embeddings.embedding length (driver schema)


def _index_layouts() -> list[tuple[str, int, int]]:
    """(layout, bytes_per_vector, fixed_overhead_bytes)."""
    codebook = _PQ_M * _PQ_K * _PQ_SUB * 8
    coarse = N_CELLS * _EMB_DIM * 8
    return [
        ("flat_f32", _EMB_DIM * 4, 0),
        ("int8_sq", _EMB_DIM + 8, 0),
        ("pq", _PQ_M, codebook),
        ("ivfadc", 4 + _PQ_M, codebook + coarse),
    ]


@register(
    "ann_index_size_report",
    oracle=f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
lay(layout, bytes_per_vector, overhead_bytes) AS (
  VALUES {", ".join(f"('{name}', {bpv}, {ovh})" for name, bpv, ovh in _index_layouts())}
)
SELECT layout,
  n_vectors,
  CAST(bytes_per_vector AS BIGINT) AS bytes_per_vector,
  CAST(overhead_bytes AS BIGINT) AS overhead_bytes,
  CAST(n_vectors * bytes_per_vector + overhead_bytes AS BIGINT)
    AS total_bytes,
  (n_vectors * {_EMB_DIM * 4}) * 1000
    // (n_vectors * bytes_per_vector + overhead_bytes)
    AS compression_milli
FROM lay CROSS JOIN n
""",
)
def ann_index_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-per-vector / total-bytes / compression for each layout."""
    n = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    lay = local_frame(
        spark, _index_layouts(), "layout string, bpv long, ovh long"
    )
    return (
        lay.crossJoin(F.broadcast(n))
        .select(
            "layout",
            "n_vectors",
            F.col("bpv").cast("bigint").alias("bytes_per_vector"),
            F.col("ovh").cast("bigint").alias("overhead_bytes"),
            F.expr("CAST(n_vectors * bpv + ovh AS BIGINT)").alias(
                "total_bytes"
            ),
            F.expr(
                f"(n_vectors * {_EMB_DIM * 4}) * 1000"
                " div (n_vectors * bpv + ovh)"
            ).alias("compression_milli"),
        )
    )


# ---------------------------------------------------------------------------
# label_centroid_distances — pairwise distances between per-label
# embedding centroids WITHOUT ever dividing: with per-(label, dim)
# exact sums s and counts n over the quantized grid, the centroid
# distance multiplies through by (n_a·n_b)²:
#   d²·(n_a·n_b)² = Σ_dim (s_a·n_b − s_b·n_a)²   — all-integer.
# Emitted as d2_q = that // (n_a·n_b)², the squared distance in q²
# units (q = floor(x·1e4)): the class-separation matrix that tells a
# curation pipeline which label pairs an ANN index will confuse
# (pairs with small d2_q relative to within-class spread).
#
# Scale shape: one (label, dim) sum aggregation (|labels|·DIM rows),
# one dim-keyed equi join of that bounded frame to itself, one pair
# rollup — nothing corpus-sized after the first aggregation.
# ---------------------------------------------------------------------------


@register(
    "label_centroid_distances",
    oracle=f"""
WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_NP_Q}) AS BIGINT)) AS q
  FROM embeddings
),
x AS (
  SELECT label, generate_subscripts(q, 1) AS dim, unnest(q) AS qv FROM e
),
ld AS (
  SELECT label, dim, CAST(sum(qv) AS BIGINT) AS s,
    CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY label, dim
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
    CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
    CAST(sum((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
           * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n))
      AS HUGEINT) AS num
  FROM ld a JOIN ld b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b, n_a, n_b,
  CAST(num // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b) AS BIGINT) AS d2_q
FROM pairs
""",
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-integer pairwise label-centroid squared distances (q² units)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _NP_Q),
        ).alias("q"),
    )
    x = e.select("label", F.posexplode("q").alias("pos", "qv")).select(
        "label", (F.col("pos") + 1).cast("bigint").alias("dim"), "qv"
    )
    ld = x.groupBy("label", "dim").agg(
        F.sum("qv").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    la = ld.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("s").alias("s_a"),
        F.col("n").alias("na"),
    )
    lb = ld.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("nb"),
    )
    pairs = (
        la.join(
            F.broadcast(lb),
            (la.dim == lb.dim_b) & (la.label_a < lb.label_b),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.sum(
                F.expr(
                    "(CAST(s_a AS DECIMAL(38,0)) * nb"
                    " - CAST(s_b AS DECIMAL(38,0)) * na)"
                    " * (CAST(s_a AS DECIMAL(38,0)) * nb"
                    " - CAST(s_b AS DECIMAL(38,0)) * na)"
                )
            ).alias("num"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        F.expr(
            "CAST(num div (CAST(n_a AS DECIMAL(38,0)) * n_b * n_a * n_b)"
            " AS BIGINT)"
        ).alias("d2_q"),
    )


# ---------------------------------------------------------------------------
# quantization_error_histogram — reconstruction-error audit for the
# int8 scalar quantizer (vector_quantize_int8): per value, the
# mid-rise dequantization error normalized by the quantization step,
# binned at 0.05 steps (a well-behaved quantizer is ~uniform on
# [0, 0.5) — spikes near 0.5 mean clipping, mass at 0 means wasted
# resolution). The whole per-row chain (quantize → dequantize → error
# → bin) is ONE shared SQL expression string evaluated by both
# engines, so the float op order is identical by construction.
# ---------------------------------------------------------------------------

_QERR_EXPR = (
    "least(CAST(floor(abs(val - (mn + (least(floor((val - mn) * 254"
    " / (mx - mn)), 254) + 0.5) * (mx - mn) / 254)) * 254 / (mx - mn)"
    " * 20) AS BIGINT), 10)"
)


@register(
    "quantization_error_histogram",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
x AS (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM e
),
s AS (
  SELECT dim, min(val) AS mn, max(val) AS mx FROM x GROUP BY dim
),
b AS (
  SELECT {_QERR_EXPR} AS bin
  FROM x JOIN s ON x.dim = s.dim WHERE mx > mn
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b)
SELECT bin, CAST(count(*) AS BIGINT) AS n_values,
  CAST(count(*) AS BIGINT) * 1000000 // total AS share_ppm
FROM b CROSS JOIN nt
GROUP BY bin, total
""",
)
def quantization_error_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized int8 reconstruction-error histogram (bins of 0.05)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode("v").alias("pos", "val")).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), "val"
    )
    s = x.groupBy("dim").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    b = (
        x.join(F.broadcast(s), "dim")
        .filter(F.col("mx") > F.col("mn"))
        .select(F.expr(_QERR_EXPR).alias("bin"))
    )
    nt = b.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        b.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_values"))
        .crossJoin(F.broadcast(nt))
        .select(
            "bin",
            "n_values",
            F.expr("n_values * 1000000 div total").alias("share_ppm"),
        )
    )
