"""Round-9 ANN/embedding additions: top-1 margin, two-hop reach,
split centroid drift.

Reference parity: the reference's BLAST search (public path
``bpaotu/otu/views.py`` blast endpoints) is nearest-neighbour retrieval
re-expressed as vector ANN (SURVEY.md §2); these extend the index-
diagnostics family.

* ``ann_top1_margin_histogram`` — distribution of the top-2/top-1
  L2² ratio per query on the exact milli-quantized integer grid: the
  query-difficulty census (margin ≈ 1 → ambiguous neighbours → ANN
  recall will suffer; large margin → easy queries). This is the
  statistic behind "hard query" sampling in index tuning.
* ``knn_two_hop_reach`` — per-node count of EXACT-distance-2
  neighbours in the undirected k-NN graph (neighbours-of-neighbours
  minus direct neighbours minus self): the expansion profile that
  predicts how fast greedy graph search (HNSW-style) spreads.
* ``embedding_split_centroid_shift`` — per-label centroid distance
  between the even/odd vec_id halves (exact integer MACs on the milli
  grid, one float sqrt at the end): the self-consistency drift check —
  a label whose halves disagree is mislabeled or multimodal.

Determinism: quantize → exact integer distances/sums; floats only in
each op's final floored output expression.

Scale shape: margin is one broadcast of the bounded query set against
the corpus scan (map-side fold per pair, one per-query top-2 cut);
two-hop composes the registered knn_graph_lsh (LSH-bucketed self-join,
never |corpus|²) with two edge-list self-joins on node keys; centroid
shift is one map-combined per-(label, dim) aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.ann.core import _RQ_Q, N_QUERIES, quantized_embeddings
from bpaotu_spark.dedup.core import grid_d2
from bpaotu_spark.registry import ORACLES, QUERIES, register
from bpaotu_spark.session import local_frame

_MQ = 100  # margin-histogram query set: vec_id < 100


# ---------------------------------------------------------------------------
# ann_top1_margin_histogram
# ---------------------------------------------------------------------------


@register(
    "ann_top1_margin_histogram",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < {_MQ}),
d AS (
  SELECT query_id, e.vec_id AS cand_id,
    CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
       + list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
       - 2 * list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
      AS BIGINT) AS d2
  FROM qs JOIN e ON e.vec_id != qs.query_id
),
t2 AS (
  SELECT query_id, d2,
    row_number() OVER (PARTITION BY query_id ORDER BY d2, cand_id)
      AS rnk
  FROM d QUALIFY rnk <= 2
),
m AS (
  SELECT query_id,
    CAST(max(CASE WHEN rnk = 2 THEN d2 END) * 1000000
         // greatest(max(CASE WHEN rnk = 1 THEN d2 END), 1) AS BIGINT)
      AS margin_ppm
  FROM t2 GROUP BY query_id
)
SELECT
  CAST(least((margin_ppm - 1000000) // 100000, 9) AS BIGINT) AS band,
  CAST(count(*) AS BIGINT) AS n_queries,
  CAST(sum(margin_ppm) // count(*) AS BIGINT) AS mean_margin_ppm
FROM m GROUP BY band ORDER BY band
""",
)
def ann_top1_margin_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-2/top-1 L2² margin census over 100 queries (exact ppm on
    the milli grid; band = 10%-wide margin buckets, capped at 9)."""
    emb = quantized_embeddings(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < _MQ).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    from bpaotu_spark.catalog import widen_scan

    # the |corpus|×|queries| d2 folds run in the stream stage of the
    # broadcast join — ONE task on a single-row-group scan (guide
    # §2.5; r15 scaling ratio 1.08) — widen the corpus side first
    emb = widen_scan(emb, "vec_id")
    d = emb.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        grid_d2(F.col("qv"), F.col("q"), dim=None).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    t2 = d.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 2")
    m = t2.groupBy("query_id").agg(
        F.expr(
            "CAST(max(CASE WHEN rnk = 2 THEN d2 END) * 1000000"
            " div greatest(max(CASE WHEN rnk = 1 THEN d2 END), 1)"
            " AS BIGINT)"
        ).alias("margin_ppm")
    )
    return (
        m.groupBy(
            F.expr(
                "CAST(least((margin_ppm - 1000000) div 100000, 9)"
                " AS BIGINT)"
            ).alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.expr(
                "CAST(sum(margin_ppm) div count(*) AS BIGINT)"
            ).alias("mean_margin_ppm"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# knn_two_hop_reach
# ---------------------------------------------------------------------------


def _two_hop_oracle() -> str:
    return f"""
WITH knn AS ({ORACLES["knn_graph_lsh"]}),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT vec_id AS src, neighbor_id AS dst FROM knn
    UNION ALL
    SELECT neighbor_id AS src, vec_id AS dst FROM knn
  )
),
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
  FROM sym GROUP BY src
),
hop2 AS (
  SELECT DISTINCT a.src, b.dst
  FROM sym a JOIN sym b ON a.dst = b.src
  WHERE b.dst != a.src
),
pure2 AS (
  SELECT h.src, h.dst FROM hop2 h
  ANTI JOIN sym s ON s.src = h.src AND s.dst = h.dst
),
c2 AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS two_hop
  FROM pure2 GROUP BY src
)
SELECT deg.node AS vec_id, degree,
  CAST(coalesce(two_hop, 0) AS BIGINT) AS two_hop_count
FROM deg LEFT JOIN c2 ON deg.node = c2.node
ORDER BY vec_id
"""


@register("knn_two_hop_reach", oracle=_two_hop_oracle())
def knn_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node exact-distance-2 neighbour count in the undirected
    k-NN graph — the expansion profile of greedy graph search."""
    knn = QUERIES["knn_graph_lsh"](spark, sf_dir)
    sym = (
        knn.select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .unionAll(
            knn.select(
                F.col("neighbor_id").alias("src"), F.col("vec_id").alias("dst")
            )
        )
        .distinct()
        # three consumers below (deg + both sides of the hop join)
        .localCheckpoint()
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    a = sym.select(F.col("src").alias("h_src"), F.col("dst").alias("mid"))
    b = sym.select(F.col("src").alias("mid"), F.col("dst").alias("h_dst"))
    hop2 = (
        a.join(b, "mid")
        .filter(F.col("h_dst") != F.col("h_src"))
        .select(F.col("h_src").alias("src"), F.col("h_dst").alias("dst"))
        .distinct()
    )
    pure2 = hop2.join(sym, ["src", "dst"], "left_anti")
    c2 = pure2.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("two_hop")
    )
    return (
        deg.join(c2, "node", "left")
        .select(
            F.col("node").alias("vec_id"),
            "degree",
            F.coalesce(F.col("two_hop"), F.lit(0))
            .cast("bigint")
            .alias("two_hop_count"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# embedding_split_centroid_shift
# ---------------------------------------------------------------------------


@register(
    "embedding_split_centroid_shift",
    oracle=f"""
WITH x AS (
  SELECT vec_id, label, generate_subscripts(v, 1) AS dim,
    CAST(floor(unnest(v) * {_RQ_Q}) AS BIGINT) AS xm
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings)
),
h AS (
  SELECT label, dim,
    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN xm ELSE 0 END) AS HUGEINT)
      AS se,
    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN xm ELSE 0 END) AS HUGEINT)
      AS so,
    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT)
      AS ne,
    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS HUGEINT)
      AS no
  FROM x GROUP BY label, dim
),
s AS (
  SELECT label, max(ne) AS ne, max(no) AS no,
    CAST(sum((se * no - so * ne) * (se * no - so * ne)) AS HUGEINT)
      AS dist2_scaled
  FROM h GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label,
  CAST(ne AS BIGINT) AS n_even, CAST(no AS BIGINT) AS n_odd,
  CAST(floor(sqrt(CAST(dist2_scaled AS DOUBLE))
       / (CAST(ne AS DOUBLE) * CAST(no AS DOUBLE)) * 1000000)
    AS BIGINT) AS shift_micro
FROM s WHERE ne > 0 AND no > 0 ORDER BY label
""",
)
def embedding_split_centroid_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid L2 distance between even/odd vec_id halves
    on the milli grid (exact 128-bit MACs; one float sqrt, floored
    micro) — the label self-consistency drift check."""
    x = (
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
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("val") * _RQ_Q).cast("bigint").alias("xm"),
        )
    )
    h = x.groupBy("label", "dim").agg(
        F.sum(F.expr("CASE WHEN vec_id % 2 = 0 THEN xm ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("se"),
        F.sum(F.expr("CASE WHEN vec_id % 2 = 1 THEN xm ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("so"),
        F.sum(F.expr("CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("ne"),
        F.sum(F.expr("CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("no"),
    )
    s = h.groupBy("label").agg(
        F.max("ne").alias("ne"),
        F.max("no").alias("no"),
        F.sum(
            F.expr("(se * no - so * ne) * (se * no - so * ne)")
        ).alias("dist2_scaled"),
    )
    return (
        s.filter("ne > 0 AND no > 0")
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("ne").cast("bigint").alias("n_even"),
            F.col("no").cast("bigint").alias("n_odd"),
            F.expr(
                "CAST(floor(sqrt(CAST(dist2_scaled AS DOUBLE))"
                " / (CAST(ne AS DOUBLE) * CAST(no AS DOUBLE)) * 1000000)"
                " AS BIGINT)"
            ).alias("shift_micro"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# ann_recall_at_k_sweep — recall@k of the sign-LSH index vs brute-force
# ground truth at k = 1 / 3 / 5 (k ≤ ann.core.TOP_K): the CURVE ann_recall_report's single
# k collapses (an index can be fine at k=10 and useless at k=1). Both
# sides compose the REGISTERED operators, so the sweep can never drift
# from what the pipeline serves.
# Scale shape: both top-k tables are already blocked; per-k the join is
# pair-keyed on (query_id, cand_id) over rnk-filtered subsets.
# ---------------------------------------------------------------------------

_RECALL_KS = (1, 3, 5)  # bounded by TOP_K = 5 in ann.core


def _recall_sweep_oracle() -> str:
    legs = []
    for k in _RECALL_KS:
        legs.append(
            f"""
SELECT CAST({k} AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_truth,
  CAST(count(a.cand_id) AS BIGINT) AS n_hit,
  CAST(count(a.cand_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM (SELECT query_id, cand_id FROM truth WHERE rnk <= {k}) t
LEFT JOIN (SELECT query_id, cand_id FROM lsh WHERE rnk <= {k}) a
  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
""".strip()
        )
    return (
        f"WITH truth AS ({ORACLES['ann_bruteforce_topk']}),\n"
        f"lsh AS ({ORACLES['ann_lsh_topk']})\n"
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY k"
    )


@register("ann_recall_at_k_sweep", oracle=_recall_sweep_oracle())
def ann_recall_at_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k (exact ppm) of sign-LSH vs brute force at k=1/3/5."""
    truth = QUERIES["ann_bruteforce_topk"](spark, sf_dir).select(
        "query_id", "cand_id", "rnk"
    )
    lsh = QUERIES["ann_lsh_topk"](spark, sf_dir).select(
        F.col("query_id").alias("q2"),
        F.col("cand_id").alias("c2"),
        F.col("rnk").alias("rnk2"),
    )
    out = None
    for k in _RECALL_KS:
        t = truth.filter(F.col("rnk") <= k)
        a = lsh.filter(F.col("rnk2") <= k)
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
# ann_greedy_graph_search — deterministic NSW-style greedy search over
# the CONNECTED kNN graph (the §7 "graph-based ANN" candidate): from
# a fixed entry node (max vec_id — never a query), hop to the best
# out-neighbour on the exact milli-grid L2² as long as it strictly
# improves; _SEARCH_HOPS hops bound the walk. r9 ran this over the raw
# k=5 LSH graph, whose 10 components capped recall at ~1/10 regardless
# of the walk (knn_graph_components is that diagnosis); r10 swaps in
# knn_graph_connected's edge set (LSH kNN ∪ construction-time
# multiprobe links ∪ medoid bridges — ann/graphconn.py), so the pair
# now measures the SEARCH, not a broken substrate. Strict improvement makes
# the walk cycle-free without a visited set, and the (d2, cand_id)
# argmin makes every hop engine-identical, so the DuckDB twin unrolls
# the hops as MATERIALIZED CTEs (the eigensolver discipline applied to
# graph traversal). Output per query: found vs TRUE nearest neighbour
# (self excluded) — the recall-and-distance-ratio report that decides
# whether a graph index serves before building HNSW layers.
#
# Scale shape: the frontier is |queries| rows; each hop broadcasts it
# into the edge list (shuffle-free probe of an edge table that is
# |V|·k at scale), then semi-joins the candidate ids against the
# corpus scan for distances. 12 hops × 2 broadcast joins — the
# distributed loop shape (the graph is NOT bounded, so the one-batch
# solver idiom does not apply).
# ---------------------------------------------------------------------------

_SEARCH_HOPS = 12


def _greedy_oracle() -> str:
    hops = []
    prev = "h0"
    for k in range(1, _SEARCH_HOPS + 1):
        hops.append(f"""
cand{k} AS MATERIALIZED (
  SELECT f.query_id, f.qv, f.cur_id, f.cur_d2,
    e.neighbor_id AS cand_id,
    CAST(list_dot_product(CAST(q.q AS DOUBLE[]), CAST(q.q AS DOUBLE[]))
       + list_dot_product(CAST(c.q AS DOUBLE[]), CAST(c.q AS DOUBLE[]))
       - 2 * list_dot_product(CAST(q.q AS DOUBLE[]), CAST(c.q AS DOUBLE[]))
      AS BIGINT) AS cand_d2
  FROM {prev} f
  JOIN knn e ON e.vec_id = f.cur_id AND e.neighbor_id != f.query_id
  JOIN eq q ON q.vec_id = f.query_id
  JOIN eq c ON c.vec_id = e.neighbor_id
),
best{k} AS MATERIALIZED (
  SELECT query_id, qv, cur_id, cur_d2, cand_id, cand_d2,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cand_d2, cand_id) AS rn
  FROM cand{k} QUALIFY rn = 1
),
h{k} AS MATERIALIZED (
  SELECT f.query_id, f.qv,
    CASE WHEN b.cand_d2 < f.cur_d2 THEN b.cand_id ELSE f.cur_id END
      AS cur_id,
    CASE WHEN b.cand_d2 < f.cur_d2 THEN b.cand_d2 ELSE f.cur_d2 END
      AS cur_d2
  FROM {prev} f LEFT JOIN best{k} b ON b.query_id = f.query_id
)""".strip())
        prev = f"h{k}"
    from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL

    return f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
knn AS MATERIALIZED (SELECT vec_id, neighbor_id FROM conn_edges),
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
entry AS (SELECT max(vec_id) AS eid FROM eq),
h0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, qs.q AS qv,
    entry.eid AS cur_id,
    CAST(list_dot_product(CAST(qs.q AS DOUBLE[]), CAST(qs.q AS DOUBLE[]))
       + list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
       - 2 * list_dot_product(CAST(qs.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
      AS BIGINT) AS cur_d2
  FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
  CROSS JOIN entry
  JOIN eq e ON e.vec_id = entry.eid
),
{",".join(hops)},
truth AS (
  SELECT query_id, cand_id AS true_id, cand_d2 AS true_d2
  FROM (
    SELECT qs.vec_id AS query_id, e.vec_id AS cand_id,
      CAST(list_dot_product(CAST(qs.q AS DOUBLE[]), CAST(qs.q AS DOUBLE[]))
         + list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
         - 2 * list_dot_product(CAST(qs.q AS DOUBLE[]),
                                CAST(e.q AS DOUBLE[])) AS BIGINT)
        AS cand_d2,
      row_number() OVER (PARTITION BY qs.vec_id
                         ORDER BY CAST(list_dot_product(CAST(qs.q AS
        DOUBLE[]), CAST(qs.q AS DOUBLE[]))
         + list_dot_product(CAST(e.q AS DOUBLE[]), CAST(e.q AS DOUBLE[]))
         - 2 * list_dot_product(CAST(qs.q AS DOUBLE[]),
                                CAST(e.q AS DOUBLE[])) AS BIGINT),
        e.vec_id) AS rn
    FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
    JOIN eq e ON e.vec_id != qs.vec_id
  ) WHERE rn = 1
)
SELECT h.query_id, h.cur_id AS found_id, h.cur_d2 AS found_d2,
  t.true_id, t.true_d2,
  (h.cur_id = t.true_id) AS exact_hit,
  CAST(h.cur_d2 * 1000 // greatest(t.true_d2, 1) AS BIGINT)
    AS dist_ratio_milli
FROM {prev} h JOIN truth t USING (query_id)
ORDER BY h.query_id
"""


@register("ann_greedy_graph_search", oracle=_greedy_oracle())
def ann_greedy_graph_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy graph-ANN walk over the registered kNN graph vs true
    NN: (query_id, found/true ids + exact L2², exact_hit,
    dist_ratio_milli)."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    eq = quantized_embeddings(spark, sf_dir)
    # build-once edge list: persisted index, not per-query construction
    knn = connected_edges_cached(spark, sf_dir)

    qs = eq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(
        F.col("vec_id").alias("cand_id"), F.col("q").alias("cq")
    )
    # driver-frontier walk (r16, ann/walk.py): the bounded frontier —
    # which every hop already round-tripped through the driver via the
    # broadcast — is held in the driver; each hop fetches only the
    # not-yet-seen adjacency lists and candidate vectors through
    # pushed-down IN probes of the cluster-resident tables, and the
    # walk stops at its fixed point (a cur that fails to strictly
    # improve never moves again). Values are the exact integer
    # (d2, cand_id) argmin the checkpoint loop computed.
    from bpaotu_spark.ann.walk import (
        collect_qv,
        collect_truth_nn,
        entry_init,
        greedy_walk,
        walk_report,
    )

    qmap = collect_qv(qs)
    eid, ed2 = entry_init(eq, qmap)
    cur = greedy_walk(
        spark,
        knn,
        cq,
        qmap,
        {q: (eid, ed2[q]) for q in qmap},
        hops=_SEARCH_HOPS,
    )
    # truth leg READ from the persisted ground-truth store (r14
    # VERDICT item 3 / truthstore.py): trank=1 of truth_grid_top10 IS
    # this op's exact-NN leg (same _RQ_Q quantization, same self-
    # exclusion, same (d2, cand_id) tiebreak); the oracle keeps
    # computing truth from scratch, so the driver verifies the
    # store-served values
    from bpaotu_spark.ann.truthstore import grid_top10_cached

    truth = collect_truth_nn(
        grid_top10_cached(spark, sf_dir)
        .filter(F.col("trank") == 1)
        .select("query_id", "cand_id", "cand_d2")
    )
    return walk_report(spark, cur, truth)


# ---------------------------------------------------------------------------
# ann_beam_graph_search — beam-width-12 companion to the greedy walk:
# per hop the frontier is the best _BEAM distinct nodes seen so far
# (union of frontier ∪ frontier's out-neighbours, ranked by exact
# milli-grid L2², deterministic (d2, id) cut). The monotone frontier
# makes the walk convergent without a visited set, and every hop is
# engine-identical — same unrolled-MATERIALIZED-oracle discipline as
# the greedy op. Side-by-side the two ops ARE the graph-index tuning
# story: greedy vs beam-4 recall shows what beam width buys before
# paying for HNSW layers — now measured on the CONNECTED graph
# (ann/graphconn.py), so the ceiling is the walk, not the substrate.
#
# Scale shape: frontier is |queries|·B rows broadcast into the edge
# probe per hop; candidates semi-join the corpus scan for distances.
# ---------------------------------------------------------------------------

# width 12 / 8 hops: the measured knee. On the connected graph the
# walk saturates in hops by 8 (frontier stops moving) and in width at
# 12 (exact-hit 7/10 at BOTH sf0.01 and sf0.1, vs 2/10 at width 4 —
# local minima, not connectivity, are the binding constraint once the
# substrate is connected; width is the standard NSW/HNSW ef lever).
_BEAM = 12
_BEAM_HOPS = 8

_D2_SQL = (
    "CAST(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))"
    " + list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " - 2 * list_dot_product(CAST({a} AS DOUBLE[]),"
    " CAST({b} AS DOUBLE[])) AS BIGINT)"
)


def _beam_oracle() -> str:
    hops = []
    prev = "f0"
    for k in range(1, _BEAM_HOPS + 1):
        hops.append(f"""
exp{k} AS MATERIALIZED (
  -- DISTINCT via subquery: under WITH RECURSIVE DuckDB applies
  -- UNION-ALL semantics to a non-self-referential CTE's top-level
  -- UNION, so the dedup must be explicit
  SELECT DISTINCT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2 FROM {prev}
    UNION ALL
    SELECT f.query_id, e.neighbor_id AS node_id,
      {_D2_SQL.format(a="q.q", b="c.q")} AS d2
    FROM {prev} f
    JOIN knn e ON e.vec_id = f.node_id AND e.neighbor_id != f.query_id
    JOIN eq q ON q.vec_id = f.query_id
    JOIN eq c ON c.vec_id = e.neighbor_id
  )
),
f{k} AS MATERIALIZED (
  SELECT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
        AS rn
    FROM exp{k}
  ) WHERE rn <= {_BEAM}
)""".strip())
        prev = f"f{k}"
    from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL

    return f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
knn AS MATERIALIZED (SELECT vec_id, neighbor_id FROM conn_edges),
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
entry AS (SELECT max(vec_id) AS eid FROM eq),
f0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, entry.eid AS node_id,
    {_D2_SQL.format(a="qs.q", b="e.q")} AS d2
  FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
  CROSS JOIN entry
  JOIN eq e ON e.vec_id = entry.eid
),
{",".join(hops)},
found AS (
  SELECT query_id, node_id AS found_id, d2 AS found_d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
        AS rn
    FROM {prev}
  ) WHERE rn = 1
),
truth AS (
  SELECT query_id, cand_id AS true_id, cand_d2 AS true_d2 FROM (
    SELECT qs.vec_id AS query_id, e.vec_id AS cand_id,
      {_D2_SQL.format(a="qs.q", b="e.q")} AS cand_d2,
      row_number() OVER (PARTITION BY qs.vec_id
        ORDER BY {_D2_SQL.format(a="qs.q", b="e.q")}, e.vec_id) AS rn
    FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
    JOIN eq e ON e.vec_id != qs.vec_id
  ) WHERE rn = 1
)
SELECT f.query_id, f.found_id, f.found_d2, t.true_id, t.true_d2,
  (f.found_id = t.true_id) AS exact_hit,
  CAST(f.found_d2 * 1000 // greatest(t.true_d2, 1) AS BIGINT)
    AS dist_ratio_milli
FROM found f JOIN truth t USING (query_id)
ORDER BY f.query_id
"""


@register("ann_beam_graph_search", oracle=_beam_oracle())
def ann_beam_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-12 graph-ANN walk over the CONNECTED kNN graph vs true NN
    (same report shape as ann_greedy_graph_search)."""
    eq = quantized_embeddings(spark, sf_dir)
    from bpaotu_spark.ann.index_store import connected_edges_cached

    knn = connected_edges_cached(spark, sf_dir)

    qs = eq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    # driver-frontier beam (r16, ann/walk.py): per hop only the
    # not-yet-seen adjacency/vectors are fetched via pushed-down IN
    # probes; union/distinct/top-B merge in the driver with the
    # identical integer (d2, node_id) ordering, early exit at the
    # frontier's fixed point.
    from bpaotu_spark.ann.walk import (
        beam_walk,
        collect_qv,
        collect_truth_nn,
        entry_init,
        top1,
        walk_report,
    )

    qmap = collect_qv(qs)
    eid, ed2 = entry_init(eq, qmap)
    front = beam_walk(
        spark,
        knn,
        cq,
        qmap,
        {q: [(ed2[q], eid)] for q in qmap},
        beam=_BEAM,
        hops=_BEAM_HOPS,
    )
    # truth leg READ from the persisted ground-truth store (r14
    # VERDICT item 3 / truthstore.py): trank=1 of truth_grid_top10 IS
    # this op's exact-NN leg (same _RQ_Q quantization, same self-
    # exclusion, same (d2, cand_id) tiebreak); the oracle keeps
    # computing truth from scratch, so the driver verifies the
    # store-served values
    from bpaotu_spark.ann.truthstore import grid_top10_cached

    truth = collect_truth_nn(
        grid_top10_cached(spark, sf_dir)
        .filter(F.col("trank") == 1)
        .select("query_id", "cand_id", "cand_d2")
    )
    return walk_report(spark, top1(front), truth)


# ---------------------------------------------------------------------------
# ann_hnsw_layered_search — the hierarchical (HNSW-style) completion
# of the graph-ANN arc: a beam-4 walk on a 1/16-sampled COARSE layer
# (its own exact k=3 graph — the sample is small by construction,
# which is the whole HNSW argument for upper layers; measured
# connected at every SF) picks per-query entry points, then a SHORT
# beam-12 descent (4 hops, half the flat op's 8) runs on the full
# connected graph from them. Versus ann_beam_graph_search this
# MEASURES the hierarchy trade at this corpus size: sf0.01 it wins
# outright (exact-hit 7-8/10 vs flat 7/10 at half the full-layer
# hops); sf0.1 it saturates at 5/10 by descent hop 4 (vs flat 7/10 at
# 8 hops) — the coarse entry lands in a basin the short descent
# cannot exit, the classic ef-vs-layers trade HNSW tunes. A greedy
# (width-1) layer walk was measurably worse (2/10 at sf0.1): width
# matters on the coarse layer exactly as it does on the base layer.
#
# Determinism: layer membership is vec_id % 16 == 0; every walk step
# is the (d2, id) argmin on the exact milli grid; oracle unrolls both
# phases as MATERIALIZED CTEs over the same conn_edges construction.
#
# Scale shape: the layer-1 kNN is |corpus|/16 × |corpus|/16 pairs —
# at true scale upper layers are log-sampled so this stays bounded;
# the descent is the same broadcast-frontier beam as the flat op,
# with half the hops.
# ---------------------------------------------------------------------------

_L1_MOD = 16
_L1_K = 3
_L1_BEAM = 4
_L1_HOPS = 8
_DESCENT_HOPS = 4


def _hnsw_oracle() -> str:
    from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL

    # phase 1: beam-4 hops on the layer-1 graph
    l1_hops = []
    prev = "lf0"
    for k in range(1, _L1_HOPS + 1):
        l1_hops.append(f"""
lexp{k} AS MATERIALIZED (
  SELECT DISTINCT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2 FROM {prev}
    UNION ALL
    SELECT f.query_id, e.dst AS node_id,
      {_D2_SQL.format(a="q.q", b="c.q")} AS d2
    FROM {prev} f
    JOIN l1edges e ON e.src = f.node_id AND e.dst != f.query_id
    JOIN eq q ON q.vec_id = f.query_id
    JOIN eq c ON c.vec_id = e.dst
  )
),
lf{k} AS MATERIALIZED (
  SELECT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
        AS rn
    FROM lexp{k}) WHERE rn <= {_L1_BEAM}
)""".strip())
        prev = f"lf{k}"
    l1_final = prev
    # phase 2: beam-12 descent on the full connected graph
    d_hops = []
    prev = "b0"
    for k in range(1, _DESCENT_HOPS + 1):
        d_hops.append(f"""
dexp{k} AS MATERIALIZED (
  SELECT DISTINCT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2 FROM {prev}
    UNION ALL
    SELECT f.query_id, e.neighbor_id AS node_id,
      {_D2_SQL.format(a="q.q", b="c.q")} AS d2
    FROM {prev} f
    JOIN knn e ON e.vec_id = f.node_id AND e.neighbor_id != f.query_id
    JOIN eq q ON q.vec_id = f.query_id
    JOIN eq c ON c.vec_id = e.neighbor_id
  )
),
b{k} AS MATERIALIZED (
  SELECT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rn
    FROM dexp{k}) WHERE rn <= {_BEAM}
)""".strip())
        prev = f"b{k}"
    return f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
knn AS MATERIALIZED (SELECT vec_id, neighbor_id FROM conn_edges),
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
l1 AS MATERIALIZED (SELECT vec_id, q FROM eq WHERE vec_id % {_L1_MOD} = 0),
l1knn AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY {_D2_SQL.format(a="a.q", b="b.q")}, b.vec_id) AS rn
    FROM l1 a JOIN l1 b ON a.vec_id != b.vec_id
  ) WHERE rn <= {_L1_K}
),
l1edges AS (
  SELECT src, dst FROM l1knn UNION SELECT dst, src FROM l1knn
),
l1entry AS (SELECT max(vec_id) AS eid FROM l1),
lf0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, l1entry.eid AS node_id,
    {_D2_SQL.format(a="qs.q", b="e.q")} AS d2
  FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
  CROSS JOIN l1entry
  JOIN eq e ON e.vec_id = l1entry.eid
),
{",".join(l1_hops)},
b0 AS MATERIALIZED (
  SELECT query_id, node_id, d2 FROM {l1_final}
),
{",".join(d_hops)},
found AS (
  SELECT query_id, node_id AS found_id, d2 AS found_d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rn
    FROM {prev}) WHERE rn = 1
),
truth AS (
  SELECT query_id, cand_id AS true_id, cand_d2 AS true_d2 FROM (
    SELECT qs.vec_id AS query_id, e.vec_id AS cand_id,
      {_D2_SQL.format(a="qs.q", b="e.q")} AS cand_d2,
      row_number() OVER (PARTITION BY qs.vec_id
        ORDER BY {_D2_SQL.format(a="qs.q", b="e.q")}, e.vec_id) AS rn
    FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
    JOIN eq e ON e.vec_id != qs.vec_id
  ) WHERE rn = 1
)
SELECT f.query_id, f.found_id, f.found_d2, t.true_id, t.true_d2,
  (f.found_id = t.true_id) AS exact_hit,
  CAST(f.found_d2 * 1000 // greatest(t.true_d2, 1) AS BIGINT)
    AS dist_ratio_milli
FROM found f JOIN truth t USING (query_id)
ORDER BY f.query_id
"""


@register("ann_hnsw_layered_search", oracle=_hnsw_oracle())
def ann_hnsw_layered_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-layer HNSW-style search: beam-4 walk on the 1/16 sample
    layer (``_L1_BEAM``), then beam-12 × 4 hops on the full connected
    graph from the coarse result (same report shape as the flat
    search ops)."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    eq = quantized_embeddings(spark, sf_dir)
    knn = connected_edges_cached(spark, sf_dir)

    qs = eq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    # layer-1 graph: exact k=3 among the 1/16 sample (small by
    # construction — the HNSW upper-layer argument), symmetric closure.
    # No checkpoint: the serve path scans it once (entry lookup); the
    # k=3 build runs only on an index-store miss.
    l1 = eq.filter(F.col("vec_id") % _L1_MOD == 0)

    def _build_l1edges():
        a = l1.select(F.col("vec_id").alias("src"), F.col("q").alias("qa"))
        b = l1.select(F.col("vec_id").alias("dst"), F.col("q").alias("qb"))
        wl1 = Window.partitionBy("src").orderBy("d2l", "dst")
        l1knn = (
            a.join(b, F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                grid_d2(F.col("qa"), F.col("qb"), dim=None).alias("d2l"),
            )
            .withColumn("rn", F.row_number().over(wl1))
            .filter(F.col("rn") <= _L1_K)
            .select("src", "dst")
        )
        return l1knn.unionByName(
            l1knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    from bpaotu_spark.ann.index_store import cached_frame

    l1edges = cached_frame(spark, sf_dir, "hnsw_l1", _build_l1edges)
    # phase 1: beam-4 walk on layer 1 from its max-id entry —
    # driver-frontier form (r16, ann/walk.py): pushed-down IN fetches
    # of the touched adjacency/vectors, bounded merge in the driver,
    # fixed-point early exit
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    from bpaotu_spark.ann.walk import (
        beam_walk,
        collect_qv,
        collect_truth_nn,
        entry_init,
        top1,
        walk_report,
    )

    qmap = collect_qv(qs)
    eid, ed2 = entry_init(l1, qmap)
    beam = beam_walk(
        spark,
        l1edges,
        cq,
        qmap,
        {q: [(ed2[q], eid)] for q in qmap},
        beam=_L1_BEAM,
        hops=_L1_HOPS,
        src="src",
        dst="dst",
    )
    # phase 2: beam-12 descent on the full connected graph, entered
    # from the coarse layer's surviving frontier
    beam = beam_walk(
        spark,
        knn,
        cq,
        qmap,
        beam,
        beam=_BEAM,
        hops=_DESCENT_HOPS,
    )
    # truth leg READ from the persisted ground-truth store (r14
    # VERDICT item 3 / truthstore.py): trank=1 of truth_grid_top10 IS
    # this op's exact-NN leg (same _RQ_Q quantization, same self-
    # exclusion, same (d2, cand_id) tiebreak); the oracle keeps
    # computing truth from scratch, so the driver verifies the
    # store-served values
    from bpaotu_spark.ann.truthstore import grid_top10_cached

    truth = collect_truth_nn(
        grid_top10_cached(spark, sf_dir)
        .filter(F.col("trank") == 1)
        .select("query_id", "cand_id", "cand_d2")
    )
    return walk_report(spark, top1(beam), truth)


# ---------------------------------------------------------------------------
# ann_beam_topk_quality — LIST quality of the beam search over the
# PERSISTED connected graph: a retrieval deployment returns the
# frontier's top-K, not just the top-1, so the numbers that matter are
# recall@10 (|found@10 ∩ true@10|) and the reciprocal rank of the TRUE
# nearest neighbour within the returned list (MRR's per-query term).
# Same beam-12 × 8-hop walk as ann_beam_graph_search (the frontier IS
# the candidate list); the oracle unrolls the identical hops and
# scores the final frontier as a ranked list.
#
# Scale shape: identical to the flat beam (broadcast frontier per hop
# against the persisted edge table); the scoring tail is two bounded
# per-query joins.
# ---------------------------------------------------------------------------

_QUAL_K = 10


def _beam_quality_oracle() -> str:
    hops = []
    prev = "f0"
    for k in range(1, _BEAM_HOPS + 1):
        hops.append(f"""
exp{k} AS MATERIALIZED (
  SELECT DISTINCT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2 FROM {prev}
    UNION ALL
    SELECT f.query_id, e.neighbor_id AS node_id,
      {_D2_SQL.format(a="q.q", b="c.q")} AS d2
    FROM {prev} f
    JOIN knn e ON e.vec_id = f.node_id AND e.neighbor_id != f.query_id
    JOIN eq q ON q.vec_id = f.query_id
    JOIN eq c ON c.vec_id = e.neighbor_id
  )
),
f{k} AS MATERIALIZED (
  SELECT query_id, node_id, d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
        AS rn
    FROM exp{k}
  ) WHERE rn <= {_BEAM}
)""".strip())
        prev = f"f{k}"
    from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL

    return f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
knn AS MATERIALIZED (SELECT vec_id, neighbor_id FROM conn_edges),
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
entry AS (SELECT max(vec_id) AS eid FROM eq),
f0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, entry.eid AS node_id,
    {_D2_SQL.format(a="qs.q", b="e.q")} AS d2
  FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
  CROSS JOIN entry
  JOIN eq e ON e.vec_id = entry.eid
),
{",".join(hops)},
found AS (
  SELECT query_id, node_id,
    row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
      AS frank
  FROM {prev}
),
truthall AS (
  SELECT query_id, cand_id, trank FROM (
    SELECT qs.vec_id AS query_id, e.vec_id AS cand_id,
      row_number() OVER (PARTITION BY qs.vec_id
        ORDER BY {_D2_SQL.format(a="qs.q", b="e.q")}, e.vec_id)
        AS trank
    FROM (SELECT vec_id, q FROM eq WHERE vec_id < {N_QUERIES}) qs
    JOIN eq e ON e.vec_id != qs.vec_id
  ) WHERE trank <= {_QUAL_K}
),
per AS (
  SELECT t.query_id, CAST(count(f.node_id) AS BIGINT) AS n_hits_at10
  FROM truthall t
  LEFT JOIN (SELECT query_id, node_id FROM found
             WHERE frank <= {_QUAL_K}) f
    ON f.query_id = t.query_id AND f.node_id = t.cand_id
  GROUP BY t.query_id
),
nnrank AS (
  SELECT t1.query_id, f.frank
  FROM (SELECT query_id, cand_id FROM truthall WHERE trank = 1) t1
  LEFT JOIN found f
    ON f.query_id = t1.query_id AND f.node_id = t1.cand_id
)
SELECT p.query_id, p.n_hits_at10,
  CAST(p.n_hits_at10 * 100000 // {_QUAL_K} AS BIGINT) AS recall10_e5,
  CAST(coalesce(n.frank, 0) AS BIGINT) AS true_nn_rank_in_found,
  CAST(CASE WHEN n.frank IS NULL THEN 0
            ELSE 1000 // n.frank END AS BIGINT) AS rr_milli
FROM per p JOIN nnrank n USING (query_id)
ORDER BY p.query_id
"""


@register("ann_beam_topk_quality", oracle=_beam_quality_oracle())
def ann_beam_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-list quality of the beam-12 walk on the persisted graph:
    (query_id, n_hits_at10, recall10_e5, true_nn_rank_in_found,
    rr_milli) — recall@10 against the exact top-10 plus the true NN's
    reciprocal rank inside the returned list."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    eq = quantized_embeddings(spark, sf_dir)
    knn = connected_edges_cached(spark, sf_dir)

    qs = eq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    # driver-frontier beam (r16, ann/walk.py): identical walk to
    # ann_beam_graph_search; the ranked list is the final frontier,
    # whose (d2, node_id) order IS frank
    from bpaotu_spark.ann.walk import beam_walk, collect_qv, entry_init

    qmap = collect_qv(qs)
    eid, ed2 = entry_init(eq, qmap)
    front = beam_walk(
        spark,
        knn,
        cq,
        qmap,
        {q: [(ed2[q], eid)] for q in qmap},
        beam=_BEAM,
        hops=_BEAM_HOPS,
    )
    # truth leg served from the persisted ground-truth artifact
    # (ann/truthstore.py truth_grid_top10; _QUAL_K == truthstore's
    # _TRUTH_K, and the oracle still computes truth from scratch).
    # The ranked-list scoring is bounded per-query arithmetic
    # (|truth|=10 × |found|≤12 integers), computed in the driver with
    # the identical integer div semantics.
    from bpaotu_spark.ann.truthstore import grid_top10_cached

    t_rows = (
        grid_top10_cached(spark, sf_dir)
        .select("query_id", "cand_id", "trank")
        .collect()
    )
    truth10: dict[int, list[int]] = {}
    nn1: dict[int, int] = {}
    for r in t_rows:
        truth10.setdefault(int(r[0]), []).append(int(r[1]))
        if int(r[2]) == 1:
            nn1[int(r[0])] = int(r[1])
    rows = []
    # the oracle inner-joins on the truth rows: a query without its
    # true NN has no report row (nn1's keys are a subset of truth10's)
    for q in sorted(front.keys() & nn1.keys()):
        flist = [n for (_, n) in front[q]]  # (d2, node) order IS frank
        hits = len(set(truth10[q]) & set(flist[:_QUAL_K]))
        frank = flist.index(nn1[q]) + 1 if nn1[q] in flist else None
        rows.append(
            (
                q,
                hits,
                hits * 100000 // _QUAL_K,
                frank if frank is not None else 0,
                1000 // frank if frank is not None else 0,
            )
        )
    # rows are built in query_id order: the literal frame needs no sort
    return local_frame(
        spark,
        rows,
        "query_id long, n_hits_at10 long, recall10_e5 long,"
        " true_nn_rank_in_found long, rr_milli long",
    )
