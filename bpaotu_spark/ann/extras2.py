"""Round-8 ANN/embedding additions: range queries and a spectral
embedding diagnostic built on the r8 fixed-point eigensolver.

* ``ann_range_query_count`` — ε-ball range-query workload: per query,
  how many corpus vectors fall inside three fixed radii on the exact
  integer (milli-quantized) L2 grid. Range queries are the other half
  of the vector-search API surface (top-k's dual); the three-radius
  census is the operating-point curve an index tuner reads.
* ``embedding_pca_power_axis`` — dominant principal axis of the
  embedding covariance via the SAME fixed-point integer power
  iteration that ordination_pcoa_2d ships (ordination.py): the
  64×64 scaled covariance C' = N·Σxxᵀ − (Σx)(Σx)ᵀ is exact integer
  on the milli grid, the iterate lives in ppm, both engines compute
  bit-identical sequences, and the oracle unrolls the rounds as
  MATERIALIZED CTEs. The loading vector is the anisotropy direction
  (Mu & Viswanath '18 "all-but-the-top"): a dominant axis with high
  eigenvalue share is the classic embedding-quality smell.

Determinism: quantize → exact integer distances/covariance; floats
only in each op's final floored output expression.

Scale shape: range query is one broadcast of the bounded query set
against the corpus (map-side fold per pair, no shuffle beyond the
count agg); PCA's Gram pass is one self-join on vec_id (64²
cells/vector, map-combined into a 4096-row operator) and the
iteration runs on the fixed 64×64 frame — constant-size rounds at
any corpus scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.ann.core import _RQ_Q, N_QUERIES, quantized_embeddings
from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import grid_d2, int_norm2
from bpaotu_spark.operators.ordination import (
    _int_power_iterate,
    _start_vector,
)
from bpaotu_spark.operators.pipeline import hash_bucket_sql
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

_R_SMALL, _R_MID, _R_LARGE = 1_500_000, 1_800_000, 2_100_000

_PCA_ITERS = 40
_PCA_TARGET = 10**16  # operator rescaled under 1e16: MAC ≤ 64·1e16·1e6


@register(
    "ann_range_query_count",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < {N_QUERIES}),
d AS (
  SELECT query_id,
    CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
       + list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
       - 2 * list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
      AS BIGINT) AS d2
  FROM qs JOIN e ON e.vec_id != qs.query_id
)
SELECT query_id,
  CAST(count(*) FILTER (WHERE d2 <= {_R_SMALL}) AS BIGINT) AS n_small,
  CAST(count(*) FILTER (WHERE d2 <= {_R_MID}) AS BIGINT) AS n_mid,
  CAST(count(*) FILTER (WHERE d2 <= {_R_LARGE}) AS BIGINT) AS n_large,
  CAST(min(d2) AS BIGINT) AS nn_d2
FROM d GROUP BY query_id ORDER BY query_id
""",
)
def ann_range_query_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ε-ball counts at three fixed radii on the exact
    milli-quantized integer L2 grid (values ≤ 6e3 → per-dim square ≤
    3.6e7, 64-dim sum ≤ 2.4e9 — exact in BIGINT and in DuckDB's
    double fold)."""
    emb = quantized_embeddings(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    d = emb.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        grid_d2(F.col("qv"), F.col("q"), dim=None).alias("d2"),
    )
    return (
        d.groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("d2") <= _R_SMALL, 1).otherwise(0))
            .cast("bigint")
            .alias("n_small"),
            F.sum(F.when(F.col("d2") <= _R_MID, 1).otherwise(0))
            .cast("bigint")
            .alias("n_mid"),
            F.sum(F.when(F.col("d2") <= _R_LARGE, 1).otherwise(0))
            .cast("bigint")
            .alias("n_large"),
            F.min("d2").cast("bigint").alias("nn_d2"),
        )
        .orderBy("query_id")
    )


def _pca_oracle() -> str:
    v0 = hash_bucket_sql("CAST(i AS VARCHAR) || ':13'", 2001)
    rounds = []
    prev = "v0p"
    for k in range(1, _PCA_ITERS + 1):
        rounds.append(
            f"u{k}p AS MATERIALIZED (\n"
            f"  SELECT b.i AS j, CAST(sum(b.b * v.v) AS HUGEINT) AS u\n"
            f"  FROM cms b JOIN {prev} v ON b.j = v.j GROUP BY b.i\n"
            f"),\n"
            f"v{k}p AS MATERIALIZED (\n"
            f"  SELECT j, CAST(CASE WHEN u < 0 THEN -1 ELSE 1 END\n"
            f"    * ((abs(u) * 1000000)\n"
            f"       // greatest(max(abs(u)) OVER (), 1)) AS HUGEINT) AS v\n"
            f"  FROM u{k}p\n"
            f")"
        )
        prev = f"v{k}p"
    last = _PCA_ITERS
    return f"""
WITH xm AS MATERIALIZED (
  SELECT vec_id, dim, CAST(floor(val * {_RQ_Q}) AS BIGINT) AS xm
  FROM (
    SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  )
),
sa AS MATERIALIZED (
  SELECT dim, CAST(sum(xm) AS HUGEINT) AS s FROM xm GROUP BY dim
),
nn AS MATERIALIZED (
  SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM xm
),
sab AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
    CAST(sum(CAST(a.xm AS HUGEINT) * b.xm) AS HUGEINT) AS s
  FROM xm a JOIN xm b ON a.vec_id = b.vec_id GROUP BY a.dim, b.dim
),
cmat AS MATERIALIZED (
  SELECT sab.i, sab.j, nn.n * sab.s - si.s * sj.s AS b
  FROM sab JOIN sa si ON sab.i = si.dim JOIN sa sj ON sab.j = sj.dim
  CROSS JOIN nn
),
cs AS MATERIALIZED (
  SELECT greatest(max(abs(b)) // {_PCA_TARGET} + 1, 1) AS s FROM cmat
),
cms AS MATERIALIZED (
  SELECT i, j, CAST(CASE WHEN b < 0 THEN -1 ELSE 1 END
    * (abs(b) // cs.s) AS HUGEINT) AS b
  FROM cmat CROSS JOIN cs
),
rs AS MATERIALIZED (SELECT DISTINCT i FROM cmat),
v0p AS MATERIALIZED (
  SELECT i AS j, CAST({v0} - 1000 AS HUGEINT) AS v FROM rs
),
{",".join(rounds)},
den AS MATERIALIZED (
  SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM v{last}p
),
num AS MATERIALIZED (
  SELECT CAST(sum(bv.u * v.v) AS HUGEINT) AS num
  FROM (SELECT b.i AS j, CAST(sum(b.b * v.v) AS HUGEINT) AS u
        FROM cms b JOIN v{last}p v ON b.j = v.j GROUP BY b.i) bv
  JOIN v{last}p v ON bv.j = v.j
),
sg AS MATERIALIZED (
  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn FROM v{last}p
  WHERE j = (SELECT min(j) FROM v{last}p)
)
SELECT va.j AS dim,
  CAST(floor(CAST(sg.sgn * va.v AS DOUBLE)
    / sqrt(CAST(greatest(d.den, 1) AS DOUBLE)) * 1000000) AS BIGINT)
    AS loading_micro,
  CAST(floor(CAST(num.num AS DOUBLE)
    / CAST(greatest(d.den, 1) AS DOUBLE) * 1000) AS BIGINT)
    AS op_eigval_milli
FROM v{last}p va CROSS JOIN den d CROSS JOIN num CROSS JOIN sg
ORDER BY dim
"""


@register("embedding_pca_power_axis", oracle=_pca_oracle())
def embedding_pca_power_axis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(dim, loading_micro, op_eigval_milli): unit dominant axis of
    the milli-grid scaled covariance + the Rayleigh eigenvalue of the
    RESCALED operator (a relative anisotropy diagnostic; both engines
    compute it from identical integers)."""
    xm = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            F.floor(F.col("val") * _RQ_Q).cast("bigint").alias("xm"),
        )
    )
    sa = xm.groupBy("dim").agg(
        F.sum("xm").cast("decimal(38,0)").alias("s")
    )
    nn = xm.agg(
        F.countDistinct("vec_id").cast("decimal(38,0)").alias("n")
    )
    # Gram matrix as a per-partition integer matmul (guide §4.2: hand
    # whole Arrow batches to vectorized native code) instead of the
    # row-keyed self-join of the exploded table — the old shape
    # shuffled 2x128k exploded rows and hash-aggregated 8.2M joined
    # rows into the 4096 (i, j) cells; here each scan task emits one
    # 64x64 partial X^T X (exact int64: |x| <= _RQ_Q scale, so every
    # partial and the final sums fit in 2^63 with orders of magnitude
    # to spare) and the shuffle carries 4096 rows per task. Integer
    # sums are order-free, so the DECIMAL(38,0) totals are identical
    # to the joined form (A/B-verified cell-for-cell at sf0.1;
    # measured 3.8-4.4 s -> 0.4-0.8 s).
    qarr = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * _RQ_Q).cast("bigint"),
        ).alias("q"),
    )

    def _gram(it):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in it:
            x = np.vstack(pdf["q"].values).astype(np.int64)
            g = x.T @ x
            acc = g if acc is None else acc + g
        if acc is None:
            return
        ii, jj = np.meshgrid(
            np.arange(64), np.arange(64), indexing="ij"
        )
        yield pd.DataFrame(
            {"i": ii.ravel() + 1, "j": jj.ravel() + 1, "s_ab": acc.ravel()}
        )

    sab = (
        qarr.select("q")
        .mapInPandas(_gram, schema="i long, j long, s_ab long")
        .groupBy("i", "j")
        .agg(F.sum("s_ab").cast("decimal(38,0)").alias("s_ab"))
    )
    cmat = (
        sab.join(F.broadcast(sa.select(F.col("dim").alias("i"), F.col("s").alias("s_i"))), "i")
        .join(F.broadcast(sa.select(F.col("dim").alias("j"), F.col("s").alias("s_j"))), "j")
        .crossJoin(F.broadcast(nn))
        .select("i", "j", F.expr("n * s_ab - s_i * s_j").alias("braw"))
    )
    cs = cmat.agg(
        F.expr(
            f"greatest(max(abs(braw)) div CAST({_PCA_TARGET} AS"
            " DECIMAL(38,0)) + 1, CAST(1 AS BIGINT))"
        ).alias("s")
    )
    cms = (
        cmat.crossJoin(F.broadcast(cs))
        .select(
            "i",
            "j",
            F.expr(
                "CAST(CASE WHEN braw < 0 THEN -1 ELSE 1 END"
                " * (abs(braw) div s) AS DECIMAL(38,0))"
            ).alias("b"),
        )
        .localCheckpoint()
    )
    v = _int_power_iterate(cms, _start_vector(cms, seed=13), _PCA_ITERS)
    den = v.agg(F.sum(F.expr("v * v")).cast("decimal(38,0)").alias("den"))
    bv = (
        cms.join(F.broadcast(v), "j")
        .groupBy("i")
        .agg(F.sum(F.expr("CAST(b AS DECIMAL(38,0)) * v")).alias("u"))
    )
    num = bv.join(
        F.broadcast(v.select(F.col("j").alias("i"), "v")), "i"
    ).agg(F.sum(F.expr("u * v")).cast("decimal(38,0)").alias("num"))
    sg = (
        v.orderBy("j")
        .limit(1)
        .select(
            F.expr("CASE WHEN v < 0 THEN -1 ELSE 1 END")
            .cast("bigint")
            .alias("sgn")
        )
    )
    return (
        v.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(sg))
        .select(
            F.col("j").alias("dim"),
            F.expr(
                "CAST(floor(CAST(sgn * v AS DOUBLE)"
                " / sqrt(CAST(greatest(den, 1) AS DOUBLE)) * 1000000)"
                " AS BIGINT)"
            ).alias("loading_micro"),
            F.expr(
                "CAST(floor(CAST(num AS DOUBLE)"
                " / CAST(greatest(den, 1) AS DOUBLE) * 1000)"
                " AS BIGINT)"
            ).alias("op_eigval_milli"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# ann_lsh_multiprobe_topk — multiprobe sign-LSH (Lv VLDB'07): probe
# the query's own bucket PLUS its four 1-bit-flip neighbors, so recall
# recovers the near-misses that land across one hyperplane without
# widening buckets. Probes are engine-identical bit-string edits; a
# candidate lives in exactly one bucket so probes never duplicate it.
# ---------------------------------------------------------------------------

from bpaotu_spark.ann.core import (  # noqa: E402
    SIGN_DIMS,
    _bucket_sql,
    _bucket_spark,
    _queries_and_corpus,
    _topk,
    _COS,
    _ORACLE_COMMON,
    dot,
)


def _probe_sql() -> str:
    """DuckDB: the 5 probe buckets of q (p = 0 keeps the base)."""
    cases = []
    for i in range(SIGN_DIMS):
        base = f"(CASE WHEN qv[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        flip = f"(CASE WHEN qv[{i + 1}] >= 0 THEN '0' ELSE '1' END)"
        cases.append(f"(CASE WHEN p = {i + 1} THEN {flip} ELSE {base} END)")
    return " || ".join(cases)


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
{_ORACLE_COMMON},
probes AS (SELECT unnest([0, 1, 2, 3, 4]) AS p),
qp AS (
  SELECT query_id, qv, {_probe_sql()} AS bucket
  FROM q CROSS JOIN probes
),
cb AS (SELECT cand_id, cv, {_bucket_sql('cv')} AS bucket FROM c),
scored AS (
  SELECT query_id, cand_id, round({_COS}, 6) AS cos_r
  FROM qp JOIN cb ON qp.bucket = cb.bucket AND query_id != cand_id
)
SELECT query_id, cand_id,
  CAST(row_number() OVER (PARTITION BY query_id
    ORDER BY cos_r DESC, cand_id ASC) AS INTEGER) AS rnk,
  CAST(round(cos_r, 4) AS DOUBLE) AS cos_sim
FROM scored
QUALIFY rnk <= 5
""",
)
def ann_lsh_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-k under 5-probe sign-LSH (base bucket + 4 one-bit flips)."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    probes = local_frame(spark, [(p,) for p in range(SIGN_DIMS + 1)], "p int")
    probe_bits = []
    for i in range(SIGN_DIMS):
        base = F.when(F.col("qv")[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
        flip = F.when(F.col("qv")[i] >= 0, F.lit("0")).otherwise(F.lit("1"))
        probe_bits.append(F.when(F.col("p") == i + 1, flip).otherwise(base))
    qp = queries.crossJoin(F.broadcast(probes)).withColumn(
        "bucket", F.concat(*probe_bits)
    )
    cb = corpus.withColumn("bucket_c", _bucket_spark(F.col("cv")))
    scored = cb.join(
        F.broadcast(qp),
        (F.col("bucket") == F.col("bucket_c"))
        & (F.col("query_id") != F.col("cand_id")),
    ).withColumn(
        "cos_r",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")), 6
        ),
    )
    return _topk(scored)


# ---------------------------------------------------------------------------
# knn_shared_neighbor_histogram — Jarvis-Patrick shared-nearest-
# neighbor census over the kNN graph: for every co-neighbor pair
# (a, b) (both point at some common vector), how many neighbors do
# they share? Composes the knn_graph_lsh oracle so the SNN census can
# never drift from the graph it summarizes; shared ∈ [1, K] bounds
# the output.
# ---------------------------------------------------------------------------

from bpaotu_spark.registry import ORACLES  # noqa: E402


def _snn_oracle() -> str:
    return f"""
WITH knn AS ({ORACLES["knn_graph_lsh"]}),
pr AS (
  SELECT e1.vec_id AS a, e2.vec_id AS b,
    CAST(count(*) AS BIGINT) AS shared
  FROM knn e1 JOIN knn e2
    ON e1.neighbor_id = e2.neighbor_id AND e1.vec_id < e2.vec_id
  GROUP BY e1.vec_id, e2.vec_id
)
SELECT shared, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT a) AS BIGINT) AS n_left_vectors
FROM pr GROUP BY shared ORDER BY shared
"""


@register("knn_shared_neighbor_histogram", oracle=_snn_oracle())
def knn_shared_neighbor_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SNN strength histogram over the kNN graph (co-membership join
    on neighbor_id; per-hub fan-out bounded by in-degree, which the
    hubness census monitors)."""
    from bpaotu_spark.ann.core import knn_graph_lsh

    knn = knn_graph_lsh(spark, sf_dir).select("vec_id", "neighbor_id")
    e1 = knn.select(F.col("vec_id").alias("a"), "neighbor_id")
    e2 = knn.select(F.col("vec_id").alias("b"), F.col("neighbor_id").alias("nb"))
    pr = (
        e1.join(e2, (F.col("neighbor_id") == F.col("nb")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    return (
        pr.groupBy("shared")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("a").cast("bigint").alias("n_left_vectors"),
        )
        .orderBy("shared")
    )


# ---------------------------------------------------------------------------
# label_silhouette_centroid — centroid-based silhouette (the O(n·L)
# simplification of the O(n²) silhouette): a = d²(x, own centroid),
# b = min over other labels, s = (b − a)/max(a, b). Exact integers on
# the milli grid with floor-div centroids; one truncating div per
# vector; per-label census.
# ---------------------------------------------------------------------------


@register(
    "label_silhouette_centroid",
    oracle=f"""
WITH xm AS (
  SELECT vec_id, label, dim, CAST(floor(val * {_RQ_Q}) AS BIGINT) AS xm
  FROM (
    SELECT vec_id, label, generate_subscripts(v, 1) AS dim,
      unnest(v) AS val
    FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings)
  )
),
cent AS (
  SELECT label AS c_label, dim,
    CAST(sum(xm) AS HUGEINT) // count(*) AS c
  FROM xm GROUP BY label, dim
),
d2 AS (
  SELECT vec_id, label, c_label,
    CAST(sum(CAST(xm - c AS HUGEINT) * (xm - c)) AS BIGINT) AS d2
  FROM xm JOIN cent ON xm.dim = cent.dim
  GROUP BY vec_id, label, c_label
),
ab AS (
  SELECT vec_id, label,
    CAST(min(CASE WHEN c_label = label THEN d2 END) AS BIGINT) AS a,
    CAST(min(CASE WHEN c_label != label THEN d2 END) AS BIGINT) AS b
  FROM d2 GROUP BY vec_id, label
),
s AS (
  SELECT label,
    (b - a) * 1000 // greatest(greatest(a, b), 1) AS s_milli,
    CASE WHEN b < a THEN 1 ELSE 0 END AS misfit
  FROM ab
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(s_milli) AS BIGINT) AS sum_s_milli,
  CAST(sum(misfit) AS BIGINT) AS n_misassigned
FROM s GROUP BY label ORDER BY label
""",
)
def label_silhouette_centroid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid silhouette census (sum of per-vector
    truncated s_milli + nearest-centroid misfit count)."""
    xm = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            F.floor(F.col("val") * _RQ_Q).cast("bigint").alias("xm"),
        )
    )
    cent = xm.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.expr(
            "CAST(sum(xm) AS DECIMAL(38,0)) div count(*)"
        ).alias("c")
    )
    d2 = (
        xm.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(F.expr("CAST(xm - c AS DECIMAL(38,0)) * (xm - c)"))
            .cast("bigint")
            .alias("d2")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("d2")))
        .cast("bigint")
        .alias("a"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d2")))
        .cast("bigint")
        .alias("b"),
    )
    s = ab.select(
        "label",
        F.expr(
            "(b - a) * 1000 div greatest(greatest(a, b),"
            " CAST(1 AS BIGINT))"
        ).alias("s_milli"),
        F.expr("CASE WHEN b < a THEN 1 ELSE 0 END").alias("misfit"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("s_milli").cast("bigint").alias("sum_s_milli"),
            F.sum("misfit").cast("bigint").alias("n_misassigned"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# embedding_norm_vs_label_anova — one-way F of the exact integer
# norm² (milli grid) across labels: "does vector magnitude leak the
# label" — a quality smell before cosine-metric indexing (norm leak
# breaks inner-product vs L2 interchangeability). The anova_oneway_f
# discipline: milli-floored group means, exact integer deviations,
# one float F.
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_vs_label_anova",
    oracle=f"""
WITH n2 AS (
  SELECT vec_id, label,
    CAST(list_dot_product(
      CAST(list_transform(CAST(embedding AS DOUBLE[]),
        x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS DOUBLE[]),
      CAST(list_transform(CAST(embedding AS DOUBLE[]),
        x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS DOUBLE[]))
      AS BIGINT) AS n2
  FROM embeddings
),
g AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_g,
    CAST(sum(n2) AS HUGEINT) * 1000 // count(*) AS m_milli
  FROM n2 GROUP BY label
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
    CAST(count(DISTINCT label) AS BIGINT) AS k_groups,
    CAST(sum(n2) AS HUGEINT) * 1000 // count(*) AS gm_milli
  FROM n2
),
ssb AS (
  SELECT CAST(sum(n_g * (m_milli - gm_milli) * (m_milli - gm_milli))
    AS HUGEINT) AS ssb
  FROM g CROSS JOIN tot
),
ssw AS (
  SELECT CAST(sum(CAST(n2.n2 * 1000 - m_milli AS HUGEINT)
      * (n2.n2 * 1000 - m_milli)) AS HUGEINT) AS ssw
  FROM n2 JOIN g USING (label)
)
SELECT k_groups, n_total,
  CAST(floor(
    (CAST(ssb AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE))
    / (CAST(ssw AS DOUBLE) / CAST(n_total - k_groups AS DOUBLE))
    * 1000) AS BIGINT) AS f_milli,
  CAST(ssb * 1000000 // (ssb + ssw) AS BIGINT) AS eta2_ppm
FROM tot CROSS JOIN ssb CROSS JOIN ssw
""",
)
def embedding_norm_vs_label_anova(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way F of integer norm² across labels (norm-leak smell)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * _RQ_Q),
    )
    n2 = emb.select("label", qv.alias("qv")).select(
        "label",
        int_norm2(F.col("qv"), dim=None).alias("n2"),
    )
    g = n2.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.expr(
            "CAST(sum(n2) AS DECIMAL(38,0)) * 1000 div count(*)"
        ).alias("m_milli"),
    )
    tot = n2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.countDistinct("label").cast("bigint").alias("k_groups"),
        F.expr(
            "CAST(sum(n2) AS DECIMAL(38,0)) * 1000 div count(*)"
        ).alias("gm_milli"),
    )
    ssb = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(n_g AS DECIMAL(38,0)) * (m_milli - gm_milli)"
                " * (m_milli - gm_milli)"
            )
        ).alias("ssb")
    )
    ssw = n2.join(F.broadcast(g), "label").agg(
        F.sum(
            F.expr(
                "CAST(n2 * 1000 - m_milli AS DECIMAL(38,0))"
                " * (n2 * 1000 - m_milli)"
            )
        ).alias("ssw")
    )
    return (
        tot.crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(ssw))
        .select(
            "k_groups",
            "n_total",
            F.expr(
                "CAST(floor("
                " (CAST(ssb AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE))"
                " / (CAST(ssw AS DOUBLE)"
                "    / CAST(n_total - k_groups AS DOUBLE))"
                " * 1000) AS BIGINT)"
            ).alias("f_milli"),
            F.expr(
                "CAST(ssb * 1000000 div (ssb + ssw) AS BIGINT)"
            ).alias("eta2_ppm"),
        )
    )
