"""Epoch promotion — the generation swap completing the consolidate
lifecycle (r14 VERDICT item 2).

Round 14 EXECUTED the consolidation: ``dedup_index_compact``
published survivor-only ``*_compact`` artifacts for every dedup
family above the debt cutoff, and ``ann_graph_consolidate_audit``
REBUILT the survivor graph from scratch (``conn_edges_rebuilt``).
But those artifacts were write-only — every consumer still served
the FULL artifacts plus standing tombstone filters. The missing half
of the FreshDiskANN consolidate (Singh et al. 2021 §4) is the
generation swap: promote the survivor artifacts to the serving base
and RESET the tombstone set, after which reads pay no tombstone
filter and the debt census restarts from zero. Reference parity: the
reference's importer swaps the standing tables atomically on
re-ingest (public ``bpaotu/otu/importer.py``) — ingest builds new
generation, swap, serve.

Promotion policy (deterministic, both engines derive it): a family
promotes iff the debt census consolidated it — the doc families
(mod-16 dead ≈ 6.25% ≥ 5%) promote; the vector bucket family
(mod-50 = 2% < 5%) keeps serving epoch 1 (full artifact + standing
filter). The graph always promotes: its rebuild was executed by the
r14 audit.

Operators:

* ``dedup_epoch_promote`` — the swap receipt + integrity row per
  family: the Spark side reads the PROMOTED serving state (compact
  artifact for promoted families, filtered full artifact otherwise)
  and proves it holds exactly the fresh-build-over-survivors row set
  (zero missing / zero extra vs the survivor-filtered full index,
  zero dead rows in a promoted artifact); the oracle predicts every
  number from scratch, so a drifted or stale promoted artifact fails
  the compare.
* ``ann_epoch_promote`` — the graph swap: the promoted serving edge
  list (``conn_edges_rebuilt``) audited against the oracle's
  from-scratch survivor rebuild — edge/node counts, id sums, and a
  zero tombstone-incidence proof (the reset, observed).
* ``dedup_epoch_incremental`` — the PROOF that post-promote inserts
  land on the new base: the nightly mod-8 drop inserted into the
  promoted (compacted) band index — no tombstone filter anywhere on
  the path — verified against a from-scratch run over the
  post-promotion corpus.
* ``ann_epoch_search_recall`` — the PROOF the promoted graph serves:
  the beam walk over ``conn_edges_rebuilt`` scored against the
  persisted survivor ground truth (ann/truthstore.py), replacing the
  patched-graph path the takedown era served.

Scale shape: the swap itself is metadata (artifact-name indirection —
on a real lake, an atomic table/partition swap, the io/gate.py
publish); the integrity row costs two bounded anti-joins per family
between persisted artifacts; the incremental insert is the standard
delta-bounded probe of the (new) base.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import grid_d2
from bpaotu_spark.operators.consolidate import (
    DEBT_THRESHOLD_PPM,
    compact_cached,
    debt_rows,
    family_surfaces,
    rebuilt_edges_cached,
    _rebuilt_oracle_sql,
)
from bpaotu_spark.registry import register


def epoch2_serving(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[DataFrame, DataFrame, bool]]:
    """The post-promotion serving state per dedup family:
    ``family -> (serving_artifact, serving_view, promoted)``.

    ``serving_artifact`` is what reads physically scan (the compact
    artifact for promoted families, the full artifact otherwise);
    ``serving_view`` is what queries observe (identical to the
    artifact for promoted families — tombstones reset — and the
    tombstone-filtered artifact for families still on epoch 1).
    The 4-row debt pull deciding promotion is the bounded-metadata
    scheduling collect of ``dedup_index_compact``.
    """
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES
    from bpaotu_spark.dedup.tombstone import _TOMB_MOD, _TOMB_RES

    debts = {
        r["family"]: r
        for r in debt_rows(
            spark,
            sf_dir,
            _TOMB_MOD,
            _TOMB_RES,
            _VTOMB_MOD,
            _VTOMB_RES,
            DEBT_THRESHOLD_PPM,
        ).collect()
    }
    out: dict[str, tuple[DataFrame, DataFrame, bool]] = {}
    for family, (src, dead, _table, _name) in family_surfaces(
        spark, sf_dir
    ).items():
        promoted = bool(debts[family]["consolidate"])
        if promoted:
            art = compact_cached(spark, sf_dir, family)
            out[family] = (art, art, True)
        else:
            out[family] = (src, src.filter(~dead), False)
    return out


def _promote_oracle() -> str:
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES
    from bpaotu_spark.dedup.core import LSH_BANDS
    from bpaotu_spark.dedup.tombstone import _TOMB_MOD, _TOMB_RES
    from bpaotu_spark.functions.textops import TOKENIZE_SQL

    t = DEBT_THRESHOLD_PPM
    surv = f"doc_id % {_TOMB_MOD} != {_TOMB_RES}"
    dead = f"doc_id % {_TOMB_MOD} = {_TOMB_RES}"
    return f"""
WITH dd AS (
  SELECT doc_id, len({TOKENIZE_SQL}) AS nt FROM documents
),
fam AS (
  SELECT 'exact' AS family,
    CAST(count(*) AS BIGINT) AS n_full,
    CAST(count(*) FILTER (WHERE {dead}) AS BIGINT) AS n_dead,
    CAST(count(*) FILTER (WHERE {surv}) AS BIGINT) AS n_surv_rows,
    CAST(sum(doc_id) FILTER (WHERE {surv}) AS BIGINT) AS sum_surv_ids
  FROM documents
  UNION ALL
  SELECT 'minhash',
    CAST({LSH_BANDS} * count(*) FILTER (WHERE nt >= 3) AS BIGINT),
    CAST({LSH_BANDS} * count(*) FILTER (WHERE nt >= 3 AND {dead})
      AS BIGINT),
    CAST({LSH_BANDS} * count(*) FILTER (WHERE nt >= 3 AND {surv})
      AS BIGINT),
    CAST({LSH_BANDS} * sum(doc_id) FILTER (WHERE nt >= 3 AND {surv})
      AS BIGINT)
  FROM dd
  UNION ALL
  SELECT 'simhash',
    CAST(count(*) FILTER (WHERE nt >= 1) AS BIGINT),
    CAST(count(*) FILTER (WHERE nt >= 1 AND {dead}) AS BIGINT),
    CAST(count(*) FILTER (WHERE nt >= 1 AND {surv}) AS BIGINT),
    CAST(sum(doc_id) FILTER (WHERE nt >= 1 AND {surv}) AS BIGINT)
  FROM dd
  UNION ALL
  SELECT 'embedding',
    CAST(count(*) AS BIGINT),
    CAST(count(*) FILTER (WHERE vec_id % {_VTOMB_MOD} = {_VTOMB_RES})
      AS BIGINT),
    CAST(count(*) FILTER (WHERE vec_id % {_VTOMB_MOD} != {_VTOMB_RES})
      AS BIGINT),
    CAST(sum(vec_id) FILTER (WHERE vec_id % {_VTOMB_MOD} != {_VTOMB_RES})
      AS BIGINT)
  FROM embeddings
)
SELECT family,
  (n_dead * 1000000 // n_full) >= {t} AS promoted,
  n_surv_rows AS n_rows_serving,
  sum_surv_ids AS sum_ids_serving,
  CAST(0 AS BIGINT) AS n_missing_vs_rebuild,
  CAST(0 AS BIGINT) AS n_extra_vs_rebuild,
  CASE WHEN (n_dead * 1000000 // n_full) >= {t}
       THEN CAST(0 AS BIGINT) ELSE n_dead END AS n_dead_in_artifact
FROM fam
"""


@register("dedup_epoch_promote", oracle=_promote_oracle())
def dedup_epoch_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generation-swap receipt: one row per family — (family,
    promoted, n_rows_serving, sum_ids_serving, n_missing_vs_rebuild,
    n_extra_vs_rebuild, n_dead_in_artifact). The Spark side reads the
    PROMOTED serving state and diffs it row-for-row (two anti-joins on
    the full row key) against the fresh-build-over-survivors
    expectation; the oracle predicts every number from scratch. A
    promoted epoch that is anything but identical to a fresh survivor
    build fails the compare."""
    surfaces = family_surfaces(spark, sf_dir)
    serving = epoch2_serving(spark, sf_dir)
    rows = []
    for family, (art, view, promoted) in serving.items():
        src, dead, _table, _name = surfaces[family]
        idcol = "vec_id" if family == "embedding" else "doc_id"
        keys = list(art.columns)
        rebuild_view = src.filter(~dead)
        sv = view.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_serving"),
            F.sum(idcol).cast("bigint").alias("sum_ids_serving"),
        )
        miss = rebuild_view.join(view, keys, "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_missing_vs_rebuild")
        )
        extra = view.join(rebuild_view, keys, "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_extra_vs_rebuild")
        )
        deadr = art.agg(
            F.count(F.when(dead, 1))
            .cast("bigint")
            .alias("n_dead_in_artifact")
        )
        rows.append(
            # four 1-row aggregates — bounded broadcast crossJoins
            sv.crossJoin(miss)
            .crossJoin(extra)
            .crossJoin(deadr)
            .select(
                F.lit(family).alias("family"),
                F.lit(promoted).alias("promoted"),
                "n_rows_serving",
                "sum_ids_serving",
                "n_missing_vs_rebuild",
                "n_extra_vs_rebuild",
                "n_dead_in_artifact",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _ann_promote_oracle() -> str:
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES

    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_edges_serving,
  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_nodes_serving,
  CAST(count(*) FILTER (WHERE vec_id % {_VTOMB_MOD} = {_VTOMB_RES}
     OR neighbor_id % {_VTOMB_MOD} = {_VTOMB_RES}) AS BIGINT)
    AS n_tomb_incident,
  CAST(sum(vec_id) AS BIGINT) AS sum_src_ids,
  CAST(sum(neighbor_id) AS BIGINT) AS sum_dst_ids
FROM ({_rebuilt_oracle_sql()})
"""


@register("ann_epoch_promote", oracle=_ann_promote_oracle())
def ann_epoch_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph generation swap: one row — (n_edges_serving,
    n_nodes_serving, n_tomb_incident, sum_src_ids, sum_dst_ids) over
    the PROMOTED serving edge list (``conn_edges_rebuilt``). The
    oracle rebuilds the survivor graph from scratch; n_tomb_incident
    is COUNTED from the artifact (zero — the observed tombstone
    reset), so a stale or corrupted promoted graph fails the
    compare."""
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES

    serving = rebuilt_edges_cached(spark, sf_dir)
    tomb = (F.col("vec_id") % _VTOMB_MOD == _VTOMB_RES) | (
        F.col("neighbor_id") % _VTOMB_MOD == _VTOMB_RES
    )
    return serving.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges_serving"),
        F.count_distinct("vec_id").cast("bigint").alias("n_nodes_serving"),
        F.count(F.when(tomb, 1)).cast("bigint").alias("n_tomb_incident"),
        F.sum("vec_id").cast("bigint").alias("sum_src_ids"),
        F.sum("neighbor_id").cast("bigint").alias("sum_dst_ids"),
    )


# ---------------------------------------------------------------------------
# dedup_epoch_incremental — post-promote inserts land on the NEW base:
# the nightly mod-8 drop probed against the PROMOTED (compacted) band
# index. No tombstone filter appears anywhere on the path — the
# promoted base physically holds survivors only — which is the point
# of the swap: epoch-2 maintenance is exactly epoch-1 maintenance
# minus the standing-filter tax. The oracle is the from-scratch run
# over the post-promotion corpus (survivors only), restricted to
# pairs involving tonight's drop — the incremental exactness contract
# (dedup/incremental.py) on the new generation.
# ---------------------------------------------------------------------------


def epoch2_band_base(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The promoted standing band index minus tonight's drop, plus its
    bucket-size summary — the epoch-2 twin of
    ``dedup.incremental.base_band_index``, derived from the COMPACT
    artifact (no tombstone filter: the base physically holds
    survivors only)."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.incremental import _NEW_MOD

    bands = cached_frame(
        spark,
        sf_dir,
        "dedup_bands_e2b8",
        lambda: compact_cached(spark, sf_dir, "minhash").filter(
            F.col("doc_id") % _NEW_MOD != 0
        ),
        table="documents",
    )
    sizes = cached_frame(
        spark,
        sf_dir,
        "dedup_bandsz_e2b8",
        lambda: bands.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("m_base")
        ),
        table="documents",
    )
    return bands, sizes


def _epoch_incremental_oracle() -> str:
    from bpaotu_spark.dedup.core import (
        LSH_BANDS,
        LSH_BUCKET_CAP,
        NGRAMS_SQL,
        _band_key_sql,
        _SHINGLE_X_SQL,
        _sig_exprs_sql,
    )
    from bpaotu_spark.dedup.incremental import _NEW_MOD
    from bpaotu_spark.dedup.tombstone import _TOMB_MOD, _TOMB_RES

    # the post-promotion corpus: survivors only (the tombstones left
    # with the old generation)
    surv_ngrams = NGRAMS_SQL.replace(
        "FROM documents",
        f"FROM documents WHERE doc_id % {_TOMB_MOD} != {_TOMB_RES}",
        1,
    )
    return f"""
WITH {surv_ngrams},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {_sig_exprs_sql()}
  FROM xs GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig" for b in range(LSH_BANDS))}
),
bsz AS (
  SELECT band, key, count(*) AS m FROM bands GROUP BY band, key
),
kept AS (
  SELECT bands.doc_id, bands.band, bands.key
  FROM bands JOIN bsz USING (band, key)
  WHERE m BETWEEN 2 AND {LSH_BUCKET_CAP}
),
full_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared_bands,
  CAST((CASE WHEN doc_a % {_NEW_MOD} = 0 THEN 1 ELSE 0 END)
     + (CASE WHEN doc_b % {_NEW_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new_in_pair
FROM full_pairs
WHERE doc_a % {_NEW_MOD} = 0 OR doc_b % {_NEW_MOD} = 0
"""


@register("dedup_epoch_incremental", oracle=_epoch_incremental_oracle())
def dedup_epoch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch-2 nightly insert: the mod-8 drop probed against the
    PROMOTED band base — (doc_a, doc_b, n_shared_bands,
    n_new_in_pair), new-involving pairs only, verified against the
    from-scratch run over the post-promotion (survivor) corpus. The
    drop and takedown residue classes are disjoint by construction
    (mod-8 drop ids are even, mod-16≡3 tombstone ids are odd), so
    tonight's drop is never a deleted document."""
    from bpaotu_spark.dedup.incremental import _NEW_MOD, augment_dedup_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bands, sizes = epoch2_band_base(spark, sf_dir)
    new_docs = docs.filter(F.col("doc_id") % _NEW_MOD == 0)
    return augment_dedup_index(spark, bands, sizes, new_docs)


# ---------------------------------------------------------------------------
# ann_epoch_search_recall — SERVE the promoted graph: the beam walk
# over conn_edges_rebuilt scored against the persisted survivor
# ground truth (ann/truthstore.py) — the query path after the swap,
# replacing the patched-graph walk of the takedown era. No tombstone
# predicate anywhere: the promoted graph holds survivors only.
#
# Scale shape: identical to the patched-graph beam (broadcast
# frontier per hop against the persisted edge list); the truth leg is
# a store read.
# ---------------------------------------------------------------------------


def _epoch_search_oracle() -> str:
    from bpaotu_spark.ann.core import _RQ_Q, N_QUERIES
    from bpaotu_spark.ann.extras3 import _BEAM, _BEAM_HOPS, _D2_SQL
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES

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

    # the promoted serving graph, rebuilt from scratch in its own
    # nested WITH RECURSIVE scope (the consolidate.py subquery-scope
    # trick) so the outer walk CTEs stay non-recursive
    return f"""
WITH pedges AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM ({_rebuilt_oracle_sql()})
),
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


@register("ann_epoch_search_recall", oracle=_epoch_search_oracle())
def ann_epoch_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-12 walk over the PROMOTED serving graph
    (``conn_edges_rebuilt``) vs the persisted survivor ground truth —
    (query_id, found_id, found_d2, true_id, true_d2, exact_hit,
    dist_ratio_milli): the post-swap query path, scored."""
    from bpaotu_spark.ann.core import N_QUERIES, quantized_embeddings
    from bpaotu_spark.ann.extras3 import _BEAM, _BEAM_HOPS
    from bpaotu_spark.ann.tombstone import _VTOMB_MOD, _VTOMB_RES
    from bpaotu_spark.ann.truthstore import grid_nn_surv_cached

    is_surv = (F.col("vec_id") % _VTOMB_MOD) != _VTOMB_RES
    eq = quantized_embeddings(spark, sf_dir)
    pedges = rebuilt_edges_cached(spark, sf_dir)

    qs = eq.filter((F.col("vec_id") < N_QUERIES) & is_surv).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    # driver-frontier beam (r16, ann/walk.py): one scored-candidate
    # job per hop over the promoted edge list, bounded merge in the
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

    truth = collect_truth_nn(
        grid_nn_surv_cached(spark, sf_dir).select(
            "query_id", "true_id", "true_d2"
        )
    )
    return walk_report(spark, top1(front), truth)
