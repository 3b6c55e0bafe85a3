"""The index lifecycle of the persisted ANN graph, under the deletion
policy of :mod:`bpaotu_spark.dedup.lifecycle` (the vector takedown set
``DEAD_VECS`` and the graph cutoffs).

Dropping a node's edges leaves its former in-neighbours with reduced
out-degree exactly where the graph was navigable through it. The
standard repair (HNSW deletions, FreshDiskANN consolidate) re-links
each orphan to the deleted node's own out-neighbourhood: a local
patch, bounded by |deleted| × degree², with no global rebuild. The
patch accumulates as debt until the graph is rebuilt over the
survivors and the rebuild is promoted to serve.

Artifacts, published through the store under the base fingerprint:

* ``conn_edges_tomb`` — the patched graph: base edges between
  survivors plus the repair edges in both directions;
* ``conn_edges_rebuilt`` — the connected graph rebuilt from scratch
  over the survivors (the consolidate job) and, after the promotion,
  the serving base.

Operators; every oracle rebuilds the graphs from scratch:

* ``ann_graph_tombstone_repair`` — the repair edges: per orphan its
  top ``_REPAIR_K`` donors w (targets of the deleted node's edges, not
  already adjacent), ranked by (round(cos, 4) DESC, w ASC);
* ``ann_tombstone_search_recall`` / ``ann_epoch_search_recall`` — the
  beam-12 walk over the patched / promoted graph for the surviving
  queries, scored against the persisted survivor ground truth;
* ``ann_graph_consolidate_audit`` — the rebuild compared edge for
  edge with the patch;
* ``ann_consolidation_decision`` — the graph's debt and the
  consolidate verdict;
* ``ann_epoch_promote`` — the promoted serving graph audited: counts,
  id sums and zero tombstone-incident edges (the reset, observed).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.ann.core import _RQ_Q, N_QUERIES
from bpaotu_spark.ann.extras3 import (
    _BEAM,
    _BEAM_HOPS,
    _D2_SQL,
    beam_hops_sql,
)
from bpaotu_spark.ann.graphconn import CONNECTED_EDGES_SQL
from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import dot, norm
from bpaotu_spark.dedup.lifecycle import (
    DEAD_VECS,
    GRAPH_REPAIR_THRESHOLD_PPM,
    GRAPH_TOMB_THRESHOLD_PPM,
)
from bpaotu_spark.registry import register

_REPAIR_K = 3


# SQL: edges with a deleted endpoint
_INCIDENT_SQL = f"{DEAD_VECS.sql()} OR {DEAD_VECS.sql('neighbor_id')}"


def _incident() -> F.Column:
    return DEAD_VECS.spark() | DEAD_VECS.spark("neighbor_id")


def repair_edges(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """(src, lost_deg, rank, neighbor_id) — the local re-link patch
    for deleting ``DEAD_VECS`` from the directed edge list ``edges``
    (vec_id, neighbor_id)."""
    dead, alive = DEAD_VECS.spark, lambda c: DEAD_VECS.spark(c, False)
    orph = edges.filter(dead("neighbor_id") & alive("vec_id")).select(
        F.col("vec_id").alias("u"), F.col("neighbor_id").alias("d")
    )
    donors = edges.filter(dead("vec_id") & alive("neighbor_id")).select(
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


def _repair_ctes() -> str:
    """DuckDB CTEs after ``CONNECTED_EDGES_SQL``: the SQL twin of
    :func:`repair_edges` (``lost``, and ``ranked`` with rank ``rn``)
    and ``patched``, the directed post-delete edge list."""
    return f"""
orph AS (
  SELECT ce.vec_id AS u, ce.neighbor_id AS d
  FROM conn_edges ce
  WHERE {DEAD_VECS.sql("ce.neighbor_id")}
    AND {DEAD_VECS.sql("ce.vec_id", False)}
),
donors AS (
  SELECT ce.vec_id AS d, ce.neighbor_id AS w
  FROM conn_edges ce
  WHERE {DEAD_VECS.sql("ce.vec_id")}
    AND {DEAD_VECS.sql("ce.neighbor_id", False)}
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
),
patched AS (
  SELECT vec_id, neighbor_id FROM conn_edges
  WHERE {DEAD_VECS.sql(member=False)}
    AND {DEAD_VECS.sql("neighbor_id", False)}
  UNION SELECT u, w FROM ranked WHERE rn <= {_REPAIR_K}
  UNION SELECT w, u FROM ranked WHERE rn <= {_REPAIR_K}
)
""".strip()


def tombstoned_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PATCHED directed edge list — base edges minus everything
    incident to a deleted node, plus the repair edges (both
    directions) — published as ``conn_edges_tomb``: build the patch
    once, search it many times."""
    from bpaotu_spark.ann.index_store import (
        cached_frame,
        connected_edges_cached,
    )

    def build() -> DataFrame:
        edges = connected_edges_cached(spark, sf_dir)
        surviving = edges.filter(
            DEAD_VECS.spark(member=False)
            & DEAD_VECS.spark("neighbor_id", member=False)
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


def rebuilt_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connected graph REBUILT from scratch over the survivors and
    published as ``conn_edges_rebuilt`` — the consolidate job's output
    and, after the promotion, the serving base."""
    from bpaotu_spark.ann.graphconn import connected_search_edges
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "conn_edges_rebuilt",
        lambda: connected_search_edges(
            spark, sf_dir, alive=DEAD_VECS.spark(member=False)
        ),
    )


def _rebuilt_oracle_sql() -> str:
    """The survivor rebuild from scratch, as a complete query in its
    own WITH RECURSIVE scope: nested as a subquery, it composes with a
    second graph CTE chain without name collisions."""
    survivor_sql = CONNECTED_EDGES_SQL.replace(
        "FROM embeddings", "FROM survivors"
    ).replace("JOIN embeddings", "JOIN survivors")
    return f"""WITH RECURSIVE
survivors AS (
  SELECT * FROM embeddings
  WHERE {DEAD_VECS.sql(member=False)}
),
{survivor_sql}
SELECT vec_id, neighbor_id FROM conn_edges"""


@register(
    "ann_graph_tombstone_repair",
    oracle=f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
{_repair_ctes()}
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
    """The local re-link patch for deleting ``DEAD_VECS`` from the
    persisted connected graph: per surviving node that lost an edge
    into a deleted node, its top repair edges — (src, lost_deg, rank,
    neighbor_id)."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    return repair_edges(spark, sf_dir, connected_edges_cached(spark, sf_dir))


# ---------------------------------------------------------------------------
# The survivor search: the beam walk of ann_beam_graph_search (same
# width and hops) over a post-delete edge list, for the surviving
# queries from the max surviving vec_id, scored against the brute-force
# nearest surviving neighbour. The two registered forms differ only in
# the edge list: the patched graph proves the local repair kept the
# graph navigable, the promoted rebuild is the query path after the
# swap.
# ---------------------------------------------------------------------------


def _survivor_search(
    spark: SparkSession, sf_dir: str, edges: Callable[[], DataFrame], name: str
) -> DataFrame:
    from bpaotu_spark.ann.truthstore import grid_nn_surv
    from bpaotu_spark.ann.walk import (
        beam_walk,
        collect_qv,
        entry_init,
        store_vectors,
        stored,
        top1,
        walk_report,
    )

    # driver-frontier beam (ann/walk.py): keyed lookups per hop,
    # bounded merge in the driver, fixed-point early exit
    surv = DEAD_VECS.where(member=False)
    vecs = store_vectors(spark, sf_dir)
    qmap = collect_qv(vecs, range(N_QUERIES), surv)
    eid, ed2 = entry_init(vecs, qmap, surv)
    front = beam_walk(
        spark,
        stored(edges, sf_dir, name, ("vec_id", "neighbor_id")),
        vecs,
        qmap,
        {q: [(ed2[q], eid)] for q in qmap},
        beam=_BEAM,
        hops=_BEAM_HOPS,
    )
    # survivor truth from the persisted ground-truth artifact (the
    # oracle computes the survivor scan from scratch)
    return walk_report(spark, top1(front), grid_nn_surv(spark, sf_dir, qmap))


def _survivor_search_oracle(pedges: str) -> str:
    """The oracle of :func:`_survivor_search`, after ``pedges``: the
    head of the WITH list ending in the ``pedges`` CTE."""
    surv = DEAD_VECS.sql(member=False)
    surv_q = f"vec_id < {N_QUERIES} AND {surv}"
    hops, last = beam_hops_sql("pedges")
    return f"""
{pedges},
eq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_RQ_Q}) AS BIGINT)) AS q
  FROM embeddings
),
entry AS (
  SELECT max(vec_id) AS eid FROM eq
  WHERE {surv}
),
f0 AS MATERIALIZED (
  SELECT qs.vec_id AS query_id, entry.eid AS node_id,
    {_D2_SQL.format(a="qs.q", b="e.q")} AS d2
  FROM (SELECT vec_id, q FROM eq WHERE {surv_q}) qs
  CROSS JOIN entry
  JOIN eq e ON e.vec_id = entry.eid
),
{hops},
found AS (
  SELECT query_id, node_id AS found_id, d2 AS found_d2 FROM (
    SELECT query_id, node_id, d2,
      row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id)
        AS rn
    FROM {last}
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
      AND {DEAD_VECS.sql("e.vec_id", False)}
  ) WHERE rn = 1
)
SELECT f.query_id, f.found_id, f.found_d2, t.true_id, t.true_d2,
  (f.found_id = t.true_id) AS exact_hit,
  CAST(f.found_d2 * 1000 // greatest(t.true_d2, 1) AS BIGINT)
    AS dist_ratio_milli
FROM found f JOIN truth t USING (query_id)
ORDER BY f.query_id
"""


@register(
    "ann_tombstone_search_recall",
    oracle=_survivor_search_oracle(f"""WITH RECURSIVE
{CONNECTED_EDGES_SQL},
{_repair_ctes()},
pedges AS MATERIALIZED (SELECT vec_id, neighbor_id FROM patched)"""),
)
def ann_tombstone_search_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beam-12 walk over the PATCHED graph vs the brute-force nearest
    surviving neighbour — (query_id, found_id, found_d2, true_id,
    true_d2, exact_hit, dist_ratio_milli): the navigability proof of
    the local re-link."""
    return _survivor_search(
        spark, sf_dir, lambda: tombstoned_edges_cached(spark, sf_dir),
        "conn_edges_tomb",
    )


def _consolidate_audit_oracle() -> str:
    return f"""
WITH rebuilt AS (
  SELECT * FROM ({_rebuilt_oracle_sql()})
),
patched_d AS (
  SELECT * FROM (
    WITH RECURSIVE
    {CONNECTED_EDGES_SQL},
    {_repair_ctes()}
    SELECT DISTINCT vec_id, neighbor_id FROM patched
  )
),
u AS (
  SELECT coalesce(r.vec_id, p.vec_id) AS vec_id,
    (r.vec_id IS NOT NULL) AS in_r, (p.vec_id IS NOT NULL) AS in_p
  FROM rebuilt r FULL OUTER JOIN patched_d p
    ON r.vec_id = p.vec_id AND r.neighbor_id = p.neighbor_id
)
SELECT
  CAST(count(*) FILTER (WHERE in_r) AS BIGINT) AS n_edges_rebuilt,
  CAST(count(*) FILTER (WHERE in_p) AS BIGINT) AS n_edges_patched,
  CAST(count(*) FILTER (WHERE in_r AND in_p) AS BIGINT) AS n_common,
  CAST(count(*) FILTER (WHERE in_p AND NOT in_r) AS BIGINT)
    AS n_patched_only,
  CAST(count(*) FILTER (WHERE in_r AND NOT in_p) AS BIGINT)
    AS n_rebuilt_only,
  CAST(count(*) FILTER (WHERE in_r AND in_p) AS BIGINT) * 1000000
    // CAST(count(*) FILTER (WHERE in_r) AS BIGINT)
    AS patched_recall_ppm,
  CAST(count(*) FILTER (WHERE in_p AND NOT in_r) AS BIGINT) * 1000000
    // CAST(count(*) FILTER (WHERE in_p) AS BIGINT)
    AS patched_excess_ppm
FROM u
"""


@register(
    "ann_graph_consolidate_audit", oracle=_consolidate_audit_oracle()
)
def ann_graph_consolidate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row — (n_edges_rebuilt, n_edges_patched, n_common,
    n_patched_only, n_rebuilt_only, patched_recall_ppm,
    patched_excess_ppm): the survivor REBUILD (published as
    ``conn_edges_rebuilt``, executing the consolidation) compared edge
    for edge with the PATCHED graph served since the takedown. The
    number a maintenance team reads before paying for the rebuild."""
    rebuilt = rebuilt_edges_cached(spark, sf_dir)
    patched = tombstoned_edges_cached(spark, sf_dir)
    r = rebuilt.select("vec_id", "neighbor_id").withColumn(
        "in_r", F.lit(1)
    )
    p = patched.select("vec_id", "neighbor_id").withColumn(
        "in_p", F.lit(1)
    )
    u = r.join(p, ["vec_id", "neighbor_id"], "full_outer").select(
        F.coalesce("in_r", F.lit(0)).alias("in_r"),
        F.coalesce("in_p", F.lit(0)).alias("in_p"),
    )
    return u.agg(
        F.sum("in_r").cast("bigint").alias("n_edges_rebuilt"),
        F.sum("in_p").cast("bigint").alias("n_edges_patched"),
        F.sum(F.col("in_r") * F.col("in_p"))
        .cast("bigint")
        .alias("n_common"),
        F.sum(F.col("in_p") * (1 - F.col("in_r")))
        .cast("bigint")
        .alias("n_patched_only"),
        F.sum(F.col("in_r") * (1 - F.col("in_p")))
        .cast("bigint")
        .alias("n_rebuilt_only"),
        F.expr(
            "CAST(sum(in_r * in_p) * 1000000 DIV sum(in_r) AS BIGINT)"
        ).alias("patched_recall_ppm"),
        F.expr(
            "CAST(sum(in_p * (1 - in_r)) * 1000000 DIV sum(in_p)"
            " AS BIGINT)"
        ).alias("patched_excess_ppm"),
    )


def _graph_debt_cols(div: str) -> list[str]:
    """The decision columns over (n_edges_base, n_tomb_incident,
    n_edges_patched), as SQL both engines parse given the integer
    division operator ``div``."""
    tomb_ppm = f"n_tomb_incident * 1000000 {div} n_edges_base"
    repair = "n_edges_patched - (n_edges_base - n_tomb_incident)"
    repair_ppm = f"({repair}) * 1000000 {div} n_edges_patched"
    return [
        "n_edges_base",
        "n_tomb_incident",
        f"{tomb_ppm} AS tomb_share_ppm",
        "n_edges_patched",
        f"{repair} AS n_repair_edges",
        f"{repair_ppm} AS repair_share_ppm",
        f"(({tomb_ppm}) >= {GRAPH_TOMB_THRESHOLD_PPM}"
        f" OR {repair_ppm} >= {GRAPH_REPAIR_THRESHOLD_PPM}) AS consolidate",
    ]


@register(
    "ann_consolidation_decision",
    oracle=f"""
WITH RECURSIVE
{CONNECTED_EDGES_SQL},
{_repair_ctes()},
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges_base,
    CAST(count(*) FILTER (WHERE {_INCIDENT_SQL}) AS BIGINT)
      AS n_tomb_incident
  FROM conn_edges
),
pat AS (
  -- under WITH RECURSIVE a non-self-referential member's top-level
  -- UNION gets UNION-ALL semantics, so patched carries duplicate
  -- repair rows: count the DISTINCT edge set the Spark artifact stores
  SELECT CAST(count(*) AS BIGINT) AS n_edges_patched
  FROM (SELECT DISTINCT vec_id, neighbor_id FROM patched)
)
SELECT {", ".join(_graph_debt_cols("//"))}
FROM base, pat
""",
)
def ann_consolidation_decision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row — (n_edges_base, n_tomb_incident, tomb_share_ppm,
    n_edges_patched, n_repair_edges, repair_share_ppm, consolidate):
    the graph's standing takedown debt, from the PERSISTED base and
    patched edge lists (repair edges = patched − surviving, exact
    because repair edges are never already-adjacent pairs and the base
    list is symmetric), and the consolidate verdict."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    base = connected_edges_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_base"),
        F.count(F.when(_incident(), 1))
        .cast("bigint")
        .alias("n_tomb_incident"),
    )
    pat = tombstoned_edges_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_patched")
    )
    # two 1-row aggregates — bounded broadcast crossJoin
    return base.crossJoin(pat).selectExpr(*_graph_debt_cols("div"))


@register(
    "ann_epoch_promote",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_edges_serving,
  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_nodes_serving,
  CAST(count(*) FILTER (WHERE {_INCIDENT_SQL}) AS BIGINT)
    AS n_tomb_incident,
  CAST(sum(vec_id) AS BIGINT) AS sum_src_ids,
  CAST(sum(neighbor_id) AS BIGINT) AS sum_dst_ids
FROM ({_rebuilt_oracle_sql()})
""",
)
def ann_epoch_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph generation swap: one row — (n_edges_serving,
    n_nodes_serving, n_tomb_incident, sum_src_ids, sum_dst_ids) over
    the PROMOTED serving edge list (``conn_edges_rebuilt``).
    n_tomb_incident is COUNTED from the artifact (zero: the observed
    reset), so a stale or corrupted promoted graph fails the
    compare."""
    return rebuilt_edges_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_serving"),
        F.count_distinct("vec_id").cast("bigint").alias("n_nodes_serving"),
        F.count(F.when(_incident(), 1))
        .cast("bigint")
        .alias("n_tomb_incident"),
        F.sum("vec_id").cast("bigint").alias("sum_src_ids"),
        F.sum("neighbor_id").cast("bigint").alias("sum_dst_ids"),
    )


@register(
    "ann_epoch_search_recall",
    oracle=_survivor_search_oracle(f"""WITH pedges AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM ({_rebuilt_oracle_sql()})
)"""),
)
def ann_epoch_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-12 walk over the PROMOTED serving graph
    (``conn_edges_rebuilt``) vs the persisted survivor ground truth —
    the post-swap query path, scored (the report of
    ``ann_tombstone_search_recall``)."""
    return _survivor_search(
        spark, sf_dir, lambda: rebuilt_edges_cached(spark, sf_dir),
        "conn_edges_rebuilt",
    )
