"""Tombstone deletes through the persisted ANN graph (r12 VERDICT
item 3).

Takedown removal from a navigable-small-world graph is the classical
delete problem: dropping a node's edges leaves its former in-
neighbors with reduced out-degree exactly where the graph was
navigable THROUGH the deleted node. The standard repair (HNSW
deletions, Vamana/FreshDiskANN consolidate) re-links each orphaned
neighbor to the deleted node's own out-neighborhood — a LOCAL patch:
no global rebuild, work bounded by |deleted| × degree².

``ann_graph_tombstone_repair`` runs that patch against the PERSISTED
connected-graph edges (the store artifact every graph search walks):

1. tombstones: vec_id ≡ 7 (mod 50) — a deterministic ~2% takedown
   set both engines can name (the incremental ops' convention).
2. orphans: surviving sources u of edges u → d into a tombstone.
3. donors: surviving targets w of the tombstone's own edges d → w.
4. candidates (u, w) via the shared d, minus self-links and minus
   pairs already adjacent in the surviving graph.
5. per-u ranking by (round(cos, 4) DESC, w ASC) — the insert path's
   total order — keeping the top ``_REPAIR_K``.

Output: one row per repair edge with the orphan's lost degree. The
oracle recomputes the WHOLE construction from scratch (the connected
graph's full recursive SQL + the same patch algebra), so the
store-served surgery is hash-verified against ground truth each
round.

Scale shape: the orphan/donor frames are |tombstone| × degree keyed
joins into the persisted edge list; candidate scoring touches
|tombstone| × degree² pairs; nothing rescans the corpus and the base
graph is never rebuilt. ``tombstoned_edges_cached`` publishes the
patched edge list back through the store under the base fingerprint
(the augment path's convention) so searches can walk the repaired
graph read-only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL
from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import dot, grid_d2, norm
from bpaotu_spark.registry import register

_VTOMB_MOD = 50
_VTOMB_RES = 7
_REPAIR_K = 3


def repair_edges(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """(src, lost_deg, rank, neighbor_id) — the local re-link patch
    for deleting the mod-50 tombstone set from the directed edge list
    ``edges`` (vec_id, neighbor_id)."""
    is_tomb = lambda c: (F.col(c) % _VTOMB_MOD) == _VTOMB_RES  # noqa: E731
    orph = edges.filter(
        is_tomb("neighbor_id") & ~is_tomb("vec_id")
    ).select(
        F.col("vec_id").alias("u"), F.col("neighbor_id").alias("d")
    )
    donors = edges.filter(
        is_tomb("vec_id") & ~is_tomb("neighbor_id")
    ).select(
        F.col("vec_id").alias("d"), F.col("neighbor_id").alias("w")
    )
    lost = orph.groupBy("u").agg(
        F.countDistinct("d").cast("bigint").alias("lost_deg")
    )
    cand = (
        orph.join(donors, "d")
        .filter(F.col("w") != F.col("u"))
        .select("u", "w")
        .distinct()
        # minus pairs already adjacent in the surviving graph
        .join(
            edges.select(
                F.col("vec_id").alias("u"), F.col("neighbor_id").alias("w")
            ),
            ["u", "w"],
            "left_anti",
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ea = emb.select(
        F.col("vec_id").alias("u"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("w"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
    )
    scored = (
        cand.join(ea, "u")
        .join(eb, "w")
        .select(
            "u",
            "w",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                4,
            ).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("u").orderBy(
        F.col("cos_sim").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _REPAIR_K)
        .join(F.broadcast(lost), "u")
        .select(
            F.col("u").alias("src"),
            "lost_deg",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("w").alias("neighbor_id"),
        )
        .orderBy("src", "rank")
    )


def tombstoned_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PATCHED directed edge list — base edges minus everything
    incident to the tombstone set, plus the repair edges (both
    directions) — published through the store under the base
    fingerprint as ``conn_edges_tomb``: build the patch once, search
    it many times (the augment path's lifecycle, for deletes)."""
    from bpaotu_spark.ann.index_store import (
        cached_frame,
        connected_edges_cached,
    )

    def build() -> DataFrame:
        edges = connected_edges_cached(spark, sf_dir)
        is_tomb = lambda c: (F.col(c) % _VTOMB_MOD) == _VTOMB_RES  # noqa: E731
        surviving = edges.filter(
            ~is_tomb("vec_id") & ~is_tomb("neighbor_id")
        )
        rep = repair_edges(spark, sf_dir, edges).select(
            F.col("src").alias("vec_id"),
            F.col("neighbor_id"),
        )
        return (
            surviving.unionByName(rep)
            .unionByName(
                rep.select(
                    F.col("neighbor_id").alias("vec_id"),
                    F.col("vec_id").alias("neighbor_id"),
                )
            )
            .distinct()
        )

    return cached_frame(spark, sf_dir, "conn_edges_tomb", build)


@register(
    "ann_graph_tombstone_repair",
    oracle=f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
orph AS (
  SELECT ce.vec_id AS u, ce.neighbor_id AS d
  FROM conn_edges ce
  WHERE ce.neighbor_id % {_VTOMB_MOD} = {_VTOMB_RES}
    AND ce.vec_id % {_VTOMB_MOD} != {_VTOMB_RES}
),
donors AS (
  SELECT ce.vec_id AS d, ce.neighbor_id AS w
  FROM conn_edges ce
  WHERE ce.vec_id % {_VTOMB_MOD} = {_VTOMB_RES}
    AND ce.neighbor_id % {_VTOMB_MOD} != {_VTOMB_RES}
),
lost AS (
  SELECT u, CAST(count(DISTINCT d) AS BIGINT) AS lost_deg
  FROM orph GROUP BY u
),
cand AS (
  SELECT u, w FROM (
    SELECT DISTINCT orph.u, donors.w
    FROM orph JOIN donors ON donors.d = orph.d
    WHERE donors.w != orph.u
  ) c
  WHERE NOT EXISTS (
    SELECT 1 FROM conn_edges e
    WHERE e.vec_id = c.u AND e.neighbor_id = c.w
  )
),
scored AS (
  SELECT u, w,
    round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])))),
      4) AS cos_sim
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.u
  JOIN embeddings b ON b.vec_id = cand.w
),
ranked AS (
  SELECT u, w,
    row_number() OVER (PARTITION BY u ORDER BY cos_sim DESC, w ASC) AS rn
  FROM scored
)
SELECT ranked.u AS src, lost.lost_deg,
  CAST(rn AS BIGINT) AS rank, ranked.w AS neighbor_id
FROM ranked JOIN lost ON lost.u = ranked.u
WHERE rn <= {_REPAIR_K}
ORDER BY src, rank
""",
)
def ann_graph_tombstone_repair(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tombstone the mod-50 takedown set out of the persisted
    connected graph and emit the LOCAL re-link patch: for each
    surviving node that lost an edge into a deleted node, its top-3
    repair edges drawn from the deleted nodes' own out-neighborhoods
    — (src, lost_deg, rank, neighbor_id). The oracle rebuilds the
    graph and the patch from scratch."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    edges = connected_edges_cached(spark, sf_dir)
    return repair_edges(spark, sf_dir, edges)


# ---------------------------------------------------------------------------
# ann_tombstone_search_recall — SEARCH the repaired graph: the proof
# that the tombstone patch preserved navigability. A beam-12 walk
# (the ann_beam_graph_search shape, same hops/width) runs over the
# PATCHED edge list — surviving base edges plus the local re-link
# repairs — for the standard query set (minus any tombstoned query),
# and is scored against the brute-force nearest neighbor over the
# SURVIVING corpus. Exact milli-quantized integer distances, entry at
# the max surviving vec_id; the oracle rebuilds graph + patch + walk
# from scratch.
#
# Scale shape: identical to the flat beam op (broadcast frontier,
# |queries| × beam × degree candidate joins per hop) over the
# store-served patched edges; the truth pass is the bounded
# |queries| × |survivors| scan every recall report pays.
# ---------------------------------------------------------------------------


def _patch_ctes() -> str:
    """DuckDB CTEs (after CONNECTED_EDGES_SQL): ``patched`` = the
    directed post-delete edge list — surviving base edges plus the
    top-K repair edges in both directions."""
    return f"""
orph2 AS (
  SELECT ce.vec_id AS u, ce.neighbor_id AS d
  FROM conn_edges ce
  WHERE ce.neighbor_id % {_VTOMB_MOD} = {_VTOMB_RES}
    AND ce.vec_id % {_VTOMB_MOD} != {_VTOMB_RES}
),
donors2 AS (
  SELECT ce.vec_id AS d, ce.neighbor_id AS w
  FROM conn_edges ce
  WHERE ce.vec_id % {_VTOMB_MOD} = {_VTOMB_RES}
    AND ce.neighbor_id % {_VTOMB_MOD} != {_VTOMB_RES}
),
cand2 AS (
  SELECT u, w FROM (
    SELECT DISTINCT orph2.u, donors2.w
    FROM orph2 JOIN donors2 ON donors2.d = orph2.d
    WHERE donors2.w != orph2.u
  ) c
  WHERE NOT EXISTS (
    SELECT 1 FROM conn_edges e
    WHERE e.vec_id = c.u AND e.neighbor_id = c.w
  )
),
scored2 AS (
  SELECT u, w,
    round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])))),
      4) AS cos_sim
  FROM cand2
  JOIN embeddings a ON a.vec_id = cand2.u
  JOIN embeddings b ON b.vec_id = cand2.w
),
rep2 AS (
  SELECT u, w FROM (
    SELECT u, w,
      row_number() OVER (PARTITION BY u ORDER BY cos_sim DESC, w ASC)
        AS rn
    FROM scored2
  ) WHERE rn <= {_REPAIR_K}
),
patched AS (
  SELECT vec_id, neighbor_id FROM conn_edges
  WHERE vec_id % {_VTOMB_MOD} != {_VTOMB_RES}
    AND neighbor_id % {_VTOMB_MOD} != {_VTOMB_RES}
  UNION SELECT u, w FROM rep2
  UNION SELECT w, u FROM rep2
)
""".strip()


def _tomb_search_oracle() -> str:
    from bpaotu_spark.ann.core import _RQ_Q, N_QUERIES
    from bpaotu_spark.ann.extras3 import _BEAM, _BEAM_HOPS, _D2_SQL

    surv_q = (
        f"vec_id < {N_QUERIES} AND vec_id % {_VTOMB_MOD} != {_VTOMB_RES}"
    )
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
    JOIN pedges e ON e.vec_id = f.node_id AND e.neighbor_id != f.query_id
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
{_patch_ctes()},
pedges AS MATERIALIZED (SELECT vec_id, neighbor_id FROM patched),
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
entry AS (
  SELECT max(vec_id) AS eid FROM eq
  WHERE vec_id % {_VTOMB_MOD} != {_VTOMB_RES}
),
f0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, entry.eid AS node_id,
    {_D2_SQL.format(a="qs.q", b="e.q")} AS d2
  FROM (SELECT vec_id, q FROM eq WHERE {surv_q}) qs
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
    FROM (SELECT vec_id, q FROM eq WHERE {surv_q}) qs
    JOIN eq e ON e.vec_id != qs.vec_id
      AND e.vec_id % {_VTOMB_MOD} != {_VTOMB_RES}
  ) WHERE rn = 1
)
SELECT f.query_id, f.found_id, f.found_d2, t.true_id, t.true_d2,
  (f.found_id = t.true_id) AS exact_hit,
  CAST(f.found_d2 * 1000 // greatest(t.true_d2, 1) AS BIGINT)
    AS dist_ratio_milli
FROM found f JOIN truth t USING (query_id)
ORDER BY f.query_id
"""


@register("ann_tombstone_search_recall", oracle=_tomb_search_oracle())
def ann_tombstone_search_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beam-12 walk over the PATCHED (post-tombstone) graph vs the
    brute-force nearest neighbor among survivors — the navigability
    proof of the local re-link: (query_id, found_id, found_d2,
    true_id, true_d2, exact_hit, dist_ratio_milli)."""
    from bpaotu_spark.ann.core import N_QUERIES, quantized_embeddings
    from bpaotu_spark.ann.extras3 import _BEAM, _BEAM_HOPS

    is_surv = (F.col("vec_id") % _VTOMB_MOD) != _VTOMB_RES
    eq = quantized_embeddings(spark, sf_dir)
    pedges = tombstoned_edges_cached(spark, sf_dir)

    qs = eq.filter((F.col("vec_id") < N_QUERIES) & is_surv).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    # driver-frontier beam (r16, ann/walk.py): one scored-candidate
    # job per hop over the patched edge list, bounded merge in the
    # driver, fixed-point early exit — identical integer ordering
    from bpaotu_spark.ann.walk import (
        beam_walk,
        collect_qv,
        collect_truth_nn,
        entry_init,
        top1,
        walk_report,
    )

    qmap = collect_qv(qs)
    eid, ed2 = entry_init(eq.filter(is_surv), qmap)
    front = beam_walk(
        spark,
        pedges,
        cq,
        qmap,
        {q: [(ed2[q], eid)] for q in qmap},
        beam=_BEAM,
        hops=_BEAM_HOPS,
    )

    # survivor truth served from the persisted ground-truth artifact
    # (ann/truthstore.py truth_grid_nn_surv; the oracle still computes
    # the survivor scan from scratch)
    from bpaotu_spark.ann.truthstore import grid_nn_surv_cached

    truth = collect_truth_nn(
        grid_nn_surv_cached(spark, sf_dir).select(
            "query_id", "true_id", "true_d2"
        )
    )
    return walk_report(spark, top1(front), truth)
