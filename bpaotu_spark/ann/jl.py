"""Johnson-Lindenstrauss sign-projection audit.

Reference parity: the reference's BLAST retrieval (public path
``bpaotu/otu/views.py``) is similarity search; at 100 TB the standard
pre-index move is dimensionality reduction, and the cheapest
theoretically-grounded one is the ±1 sign projection (Achlioptas
2003: a Rademacher matrix satisfies the JL lemma with the same
guarantees as Gaussian). ``embedding_jl_distortion`` measures, on
this corpus, exactly what the lemma promises in expectation:
``E[‖Rᵀ(x−y)‖²] = K·‖x−y‖²`` for ±1 entries, so the audited
statistic is ``proj_d2 / (K · orig_d2)`` — 1.0 in expectation, with
spread shrinking as K grows. The output histogram is the
go/no-go evidence for replacing 64-dim distance math with 16-dim in
the ANN pipeline (4× less fold work per candidate pair).

Determinism: the projection matrix is a Python-side md5-derived ±1
literal (64×16 rows, generated once at import from
``md5(j:k)``'s first hex digit) — embedded as a broadcast literal
frame in Spark and a VALUES list in the oracle, so both engines
multiply the exact same matrix; distances are exact integers on the
milli grid.

Scale shape: projection is posexplode → broadcast-join the 1,024-row
sign matrix → one map-combined (vec, k) sum (shuffle carries
|corpus|·K rows); the pair stage is the bounded query set broadcast
against the corpus — no corpus×corpus anywhere.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import grid_d2
from bpaotu_spark.ann.core import N_QUERIES
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

_DIM = 64
_K = 16
_Q = 1000  # milli quantization (ann extras convention)


def _sign(j: int, k: int) -> int:
    h = hashlib.md5(f"{j}:{k}".encode()).hexdigest()[0]
    return 1 if h in "01234567" else -1


_SIGNS = [(j, k, _sign(j, k)) for j in range(_DIM) for k in range(_K)]


def _jl_oracle() -> str:
    values = ", ".join(f"({j}, {k}, {s})" for j, k, s in _SIGNS)
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
signs(j, k, s) AS (VALUES {values}),
x AS (
  SELECT vec_id, CAST(t.j AS INTEGER) AS j, e.q[CAST(t.j AS INTEGER) + 1] AS x
  FROM e, range({_DIM}) t(j)
),
proj AS (
  SELECT vec_id, k, CAST(sum(x * s) AS BIGINT) AS y
  FROM x JOIN signs ON x.j = signs.j
  GROUP BY vec_id, k
),
qp AS (SELECT vec_id AS query_id, k, y AS yq FROM proj
       WHERE vec_id < {N_QUERIES}),
pd AS (
  SELECT query_id, proj.vec_id AS cand_id,
    CAST(sum((yq - y) * (yq - y)) AS BIGINT) AS proj_d2
  FROM qp JOIN proj ON qp.k = proj.k AND proj.vec_id != qp.query_id
  GROUP BY query_id, proj.vec_id
),
od AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
    CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(a.q AS DOUBLE[]))
       + list_dot_product(CAST(b.q AS DOUBLE[]), CAST(b.q AS DOUBLE[]))
       - 2 * list_dot_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[]))
      AS BIGINT) AS orig_d2
  FROM e a JOIN e b ON a.vec_id < {N_QUERIES} AND b.vec_id != a.vec_id
),
r AS (
  SELECT pd.query_id, pd.cand_id,
    CAST(pd.proj_d2 * 1000000 //
         greatest({_K} * od.orig_d2, 1) AS BIGINT) AS ratio_ppm
  FROM pd JOIN od ON pd.query_id = od.query_id
    AND pd.cand_id = od.cand_id
)
SELECT
  CAST(greatest(least((ratio_ppm - 1000000) // 100000, 10), -10)
    AS BIGINT) AS band,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm
FROM r GROUP BY band ORDER BY band
"""


@register("embedding_jl_distortion", oracle=_jl_oracle())
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1-projection (64 → 16) distance-distortion census over the
    query set × corpus: (band, n_pairs, mean_ratio_ppm) where ratio =
    proj_d2 / (K · orig_d2) and band = 10%-wide buckets around 1.0,
    clamped to ±10."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _Q),
            ).alias("q"),
        )
        .localCheckpoint()  # feeds projection AND the exact-d2 leg
    )
    signs = local_frame(spark, _SIGNS, "j int, k int, s long")
    x = e.select("vec_id", F.posexplode("q").alias("j", "x"))
    proj = (
        x.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.expr("x * s")).cast("bigint").alias("y"))
    )
    qp = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "k", F.col("y").alias("yq")
    )
    pd_ = (
        proj.join(
            F.broadcast(qp),
            (proj.k == qp.k) & (proj.vec_id != qp.query_id),
        )
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.expr("(yq - y) * (yq - y)"))
            .cast("bigint")
            .alias("proj_d2")
        )
    )
    qs = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    od = e.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        grid_d2(F.col("qv"), F.col("q"), dim=None).alias("orig_d2"),
    )
    r = pd_.join(od, ["query_id", "cand_id"]).select(
        F.expr(
            f"CAST(proj_d2 * 1000000 div"
            f" greatest({_K} * orig_d2, 1) AS BIGINT)"
        ).alias("ratio_ppm")
    )
    return (
        r.groupBy(
            F.expr(
                "CAST(greatest(least((ratio_ppm - 1000000) div 100000,"
                " 10), -10) AS BIGINT)"
            ).alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr("CAST(sum(ratio_ppm) div count(*) AS BIGINT)").alias(
                "mean_ratio_ppm"
            ),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# ann_jl_topk_recall — the retrieval consequence of the distortion
# histogram above: top-k by 16-dim JL distance vs TRUE top-k by 64-dim
# exact distance, recall@1/3/5 in exact ppm (the ann_recall_at_k_sweep
# report shape). Distortion says "distances are ~right in
# expectation"; THIS says whether the ranking an ANN pipeline actually
# cuts survives the projection — the number that decides if candidate
# generation can run on the 4×-cheaper vectors with exact re-rank on
# the survivors.
#
# Scale shape: projection as above; both top-k legs are the bounded
# query set broadcast against the corpus with per-query heaps.
# ---------------------------------------------------------------------------

_RECALL_KS = (1, 3, 5)


def _jl_recall_oracle() -> str:
    values = ", ".join(f"({j}, {k}, {s})" for j, k, s in _SIGNS)
    legs = []
    for k in _RECALL_KS:
        legs.append(f"""
SELECT CAST({k} AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_truth,
  CAST(count(a.cand_id) AS BIGINT) AS n_hit,
  CAST(count(a.cand_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM (SELECT query_id, cand_id FROM truth WHERE rnk <= {k}) t
LEFT JOIN (SELECT query_id, cand_id FROM approx WHERE rnk <= {k}) a
  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
""".strip())
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
signs(j, k, s) AS (VALUES {values}),
x AS (
  SELECT vec_id, CAST(t.j AS INTEGER) AS j,
    e.q[CAST(t.j AS INTEGER) + 1] AS x
  FROM e, range({_DIM}) t(j)
),
proj AS (
  SELECT vec_id, k, CAST(sum(x * s) AS BIGINT) AS y
  FROM x JOIN signs ON x.j = signs.j
  GROUP BY vec_id, k
),
qp AS (SELECT vec_id AS query_id, k, y AS yq FROM proj
       WHERE vec_id < {N_QUERIES}),
approx AS (
  SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id ORDER BY pd2, cand_id) AS rnk
  FROM (
    SELECT query_id, proj.vec_id AS cand_id,
      CAST(sum((yq - y) * (yq - y)) AS BIGINT) AS pd2
    FROM qp JOIN proj ON qp.k = proj.k AND proj.vec_id != qp.query_id
    GROUP BY query_id, proj.vec_id
  )
),
truth AS (
  SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id ORDER BY d2, cand_id) AS rnk
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(a.q AS DOUBLE[]))
         + list_dot_product(CAST(b.q AS DOUBLE[]), CAST(b.q AS DOUBLE[]))
         - 2 * list_dot_product(CAST(a.q AS DOUBLE[]),
                                CAST(b.q AS DOUBLE[])) AS BIGINT) AS d2
    FROM e a JOIN e b ON a.vec_id < {N_QUERIES} AND b.vec_id != a.vec_id
  )
)
{" UNION ALL ".join(legs)}
ORDER BY k
"""


@register("ann_jl_topk_recall", oracle=_jl_recall_oracle())
def ann_jl_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1/3/5 (exact ppm) of 16-dim JL top-k vs the true 64-dim
    top-k: (k, n_truth, n_hit, recall_ppm)."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _Q),
            ).alias("q"),
        )
        .localCheckpoint()
    )
    signs = local_frame(spark, _SIGNS, "j int, k int, s long")
    x = e.select("vec_id", F.posexplode("q").alias("j", "x"))
    proj = (
        x.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.expr("x * s")).cast("bigint").alias("y"))
    )
    qp = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "k", F.col("y").alias("yq")
    )
    wq = Window.partitionBy("query_id").orderBy("pd2", "cand_id")
    approx = (
        proj.join(
            F.broadcast(qp),
            (proj.k == qp.k) & (proj.vec_id != qp.query_id),
        )
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.expr("(yq - y) * (yq - y)"))
            .cast("bigint")
            .alias("pd2")
        )
        .withColumn("rnk", F.row_number().over(wq))
    )
    qs = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    wt = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    truth = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            grid_d2(F.col("qv"), F.col("q"), dim=None).alias("d2"),
        )
        .withColumn("rnk", F.row_number().over(wt))
    )
    approx_c = approx.select("query_id", "cand_id", "rnk").localCheckpoint()
    truth_c = truth.select("query_id", "cand_id", "rnk").localCheckpoint()
    out = None
    for k in _RECALL_KS:
        t = truth_c.filter(F.col("rnk") <= k)
        a = approx_c.filter(F.col("rnk") <= k).select(
            F.col("query_id").alias("q2"),
            F.col("cand_id").alias("c2"),
        )
        leg = (
            t.join(
                a,
                (t.query_id == a.q2) & (t.cand_id == a.c2),
                "left",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_truth"),
                F.count("c2").cast("bigint").alias("n_hit"),
            )
            .select(
                F.lit(k).cast("bigint").alias("k"),
                "n_truth",
                "n_hit",
                F.expr(
                    "CAST(n_hit * 1000000 div n_truth AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# ann_jl_pool_recall_sweep — the action on r10's negative result:
# ann_jl_topk_recall measured that a DIRECT 16-dim JL top-k keeps only
# 0-12% of the true top-k (the ranking does not survive projection on
# near-isotropic data). The production question is different: JL as
# CANDIDATE GENERATION — take a top-P pool by cheap 16-dim distance,
# exact-re-rank the P survivors in 64-dim, and ask what recall@k the
# re-ranked cut achieves per pool size P ∈ {16, 64, 256}. Because the
# re-rank uses the exact global metric, a truth-top-k member inside
# the pool always survives the re-ranked top-k cut, so recall@k(P) =
# |truth_top_k ∩ pool_P| / k — the sweep reports, per (pool, k), the
# measured pool size at which JL candidate generation becomes safe
# (recall ≥ 90%) or the documented finding that none suffices.
#
# MEASURED (r11): none suffices at a bounded pool size. sf0.01
# (n=500): recall@k crosses 90% only at P=256 — 51% of the corpus.
# sf0.1 (n=2000): P=256 (12.8% of corpus) reaches just 20-47%. The
# required pool grows as a constant FRACTION of the corpus, so on
# near-isotropic 64-dim data a 16-dim JL first pass cannot bound the
# re-rank set; candidate generation must come from the LSH/IVF/graph
# family instead (whose recall the ann_recall_* ops measure directly).
#
# Scale shape: identical legs to ann_jl_topk_recall (projection is one
# broadcast-join + map-combined sum; both rankings are the bounded
# query set broadcast against the corpus); the sweep adds only
# per-(P, k) aggregates over the two checkpointed rank frames.
# ---------------------------------------------------------------------------

_POOL_SIZES = (16, 64, 256)


def _jl_pool_oracle() -> str:
    values = ", ".join(f"({j}, {k}, {s})" for j, k, s in _SIGNS)
    legs = []
    for p in _POOL_SIZES:
        for k in _RECALL_KS:
            legs.append(f"""
SELECT CAST({p} AS BIGINT) AS pool, CAST({k} AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_truth,
  CAST(count(a.cand_id) AS BIGINT) AS n_hit,
  CAST(count(a.cand_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM (SELECT query_id, cand_id FROM truth WHERE rnk <= {k}) t
LEFT JOIN (SELECT query_id, cand_id FROM approx WHERE rnk <= {p}) a
  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
""".strip())
    return f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
signs(j, k, s) AS (VALUES {values}),
x AS (
  SELECT vec_id, CAST(t.j AS INTEGER) AS j,
    e.q[CAST(t.j AS INTEGER) + 1] AS x
  FROM e, range({_DIM}) t(j)
),
proj AS (
  SELECT vec_id, k, CAST(sum(x * s) AS BIGINT) AS y
  FROM x JOIN signs ON x.j = signs.j
  GROUP BY vec_id, k
),
qp AS (SELECT vec_id AS query_id, k, y AS yq FROM proj
       WHERE vec_id < {N_QUERIES}),
approx AS (
  SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id ORDER BY pd2, cand_id) AS rnk
  FROM (
    SELECT query_id, proj.vec_id AS cand_id,
      CAST(sum((yq - y) * (yq - y)) AS BIGINT) AS pd2
    FROM qp JOIN proj ON qp.k = proj.k AND proj.vec_id != qp.query_id
    GROUP BY query_id, proj.vec_id
  )
),
truth AS (
  SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id ORDER BY d2, cand_id) AS rnk
  FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(a.q AS DOUBLE[]))
         + list_dot_product(CAST(b.q AS DOUBLE[]), CAST(b.q AS DOUBLE[]))
         - 2 * list_dot_product(CAST(a.q AS DOUBLE[]),
                                CAST(b.q AS DOUBLE[])) AS BIGINT) AS d2
    FROM e a JOIN e b ON a.vec_id < {N_QUERIES} AND b.vec_id != a.vec_id
  )
)
{" UNION ALL ".join(legs)}
ORDER BY pool, k
"""


@register("ann_jl_pool_recall_sweep", oracle=_jl_pool_oracle())
def ann_jl_pool_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JL-candidate-pool sweep: recall@1/3/5 after exact re-rank of
    the 16-dim top-{16,64,256} pool — (pool, k, n_truth, n_hit,
    recall_ppm)."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _Q),
            ).alias("q"),
        )
        .localCheckpoint()
    )
    signs = local_frame(spark, _SIGNS, "j int, k int, s long")
    x = e.select("vec_id", F.posexplode("q").alias("j", "x"))
    proj = (
        x.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.expr("x * s")).cast("bigint").alias("y"))
    )
    qp = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "k", F.col("y").alias("yq")
    )
    wq = Window.partitionBy("query_id").orderBy("pd2", "cand_id")
    approx = (
        proj.join(
            F.broadcast(qp),
            (proj.k == qp.k) & (proj.vec_id != qp.query_id),
        )
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.expr("(yq - y) * (yq - y)"))
            .cast("bigint")
            .alias("pd2")
        )
        .withColumn("rnk", F.row_number().over(wq))
        .select("query_id", "cand_id", "rnk")
        .localCheckpoint()
    )
    qs = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    wt = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    truth = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            grid_d2(F.col("qv"), F.col("q"), dim=None).alias("d2"),
        )
        .withColumn("rnk", F.row_number().over(wt))
        .select("query_id", "cand_id", "rnk")
        .localCheckpoint()
    )
    out = None
    for p in _POOL_SIZES:
        a = approx.filter(F.col("rnk") <= p).select(
            F.col("query_id").alias("q2"), F.col("cand_id").alias("c2")
        )
        for k in _RECALL_KS:
            t = truth.filter(F.col("rnk") <= k)
            leg = (
                t.join(
                    a,
                    (t.query_id == F.col("q2"))
                    & (t.cand_id == F.col("c2")),
                    "left",
                )
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_truth"),
                    F.count("c2").cast("bigint").alias("n_hit"),
                )
                .select(
                    F.lit(p).cast("bigint").alias("pool"),
                    F.lit(k).cast("bigint").alias("k"),
                    "n_truth",
                    "n_hit",
                    F.expr(
                        "CAST(n_hit * 1000000 div n_truth AS BIGINT)"
                    ).alias("recall_ppm"),
                )
            )
            out = leg if out is None else out.unionByName(leg)
    return out.orderBy("pool", "k")
