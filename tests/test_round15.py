"""Round-15 tests: the persisted ANN ground-truth store and the
consolidate epoch promotion (generation swap)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from bpaotu_spark.registry import QUERIES, load_all

load_all()

# ---------------------------------------------------------------------------
# ANN ground-truth store (r14 VERDICT item 3): the recall-eval family
# must score against PERSISTED exact truth — built once, read many —
# and the served truth must equal a from-scratch computation (the
# registered oracles enforce the same equality driver-side).
# ---------------------------------------------------------------------------


def test_truth_store_persists_and_reserves(spark, sf_dir, tmp_path, monkeypatch):
    from bpaotu_spark.ann import index_store, truthstore

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    t1 = {
        tuple(r)
        for r in QUERIES["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    g1 = {
        tuple(r)
        for r in truthstore.grid_top10_cached(spark, sf_dir).collect()
    }
    s1 = {
        tuple(r)
        for r in truthstore.grid_nn_surv_cached(spark, sf_dir).collect()
    }
    for name in ("truth_topk_cos", "truth_grid_top10", "truth_grid_nn_surv"):
        assert any(
            d.startswith(f"{name}-") for d in os.listdir(tmp_path / "idx")
        ), name
    # fresh "process": truth must come from disk — the builder is
    # never re-invoked
    index_store._MEM.clear()
    from bpaotu_spark.ann import core as ann_core

    calls = {"n": 0}
    real = ann_core._bruteforce_topk_build

    def counting(spark_, sf_dir_):
        calls["n"] += 1
        return real(spark_, sf_dir_)

    monkeypatch.setattr(ann_core, "_bruteforce_topk_build", counting)
    t2 = {
        tuple(r)
        for r in QUERIES["ann_bruteforce_topk"](spark, sf_dir).collect()
    }
    g2 = {
        tuple(r)
        for r in truthstore.grid_top10_cached(spark, sf_dir).collect()
    }
    s2 = {
        tuple(r)
        for r in truthstore.grid_nn_surv_cached(spark, sf_dir).collect()
    }
    assert calls["n"] == 0
    assert (t2, g2, s2) == (t1, g1, s1)
    # the served truth EQUALS a from-scratch build (the store is an
    # optimization, never a semantic change)
    fresh = {tuple(r) for r in real(spark, sf_dir).collect()}
    assert t1 == fresh
    index_store._MEM.clear()


def test_truth_store_shapes(spark, sf_dir):
    """Truth invariants: per-query row counts, rank ranges, and the
    survivor table's tombstone exclusion."""
    from bpaotu_spark.ann.core import N_QUERIES, TOP_K
    from bpaotu_spark.dedup.lifecycle import DEAD_VECS
    from bpaotu_spark.ann.truthstore import (
        _TRUTH_K,
        grid_nn_surv_cached,
        grid_top10_cached,
    )

    _, _VTOMB_MOD, _VTOMB_RES = DEAD_VECS
    g = grid_top10_cached(spark, sf_dir)
    per_q = {r.query_id: r.n for r in g.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert len(per_q) == N_QUERIES
    assert all(n == _TRUTH_K for n in per_q.values())
    assert g.filter(
        (F.col("trank") < 1) | (F.col("trank") > _TRUTH_K)
    ).count() == 0
    assert g.filter(F.col("cand_id") == F.col("query_id")).count() == 0
    s = grid_nn_surv_cached(spark, sf_dir).collect()
    n_surv_q = sum(
        1 for q in range(N_QUERIES) if q % _VTOMB_MOD != _VTOMB_RES
    )
    assert len(s) == n_surv_q
    assert all(r.true_id % _VTOMB_MOD != _VTOMB_RES for r in s)
    t = QUERIES["ann_bruteforce_topk"](spark, sf_dir)
    assert t.count() == N_QUERIES * TOP_K


# ---------------------------------------------------------------------------
# Epoch promotion (r14 VERDICT item 2): the generation swap — promoted
# serving state ≡ fresh build over survivors, tombstones reset, and
# post-promote inserts land on the new base.
# ---------------------------------------------------------------------------


def test_epoch_promote_receipts(spark, sf_dir, tmp_path, monkeypatch):
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    debts = {
        r.family: r
        for r in QUERIES["index_tombstone_debt"](spark, sf_dir).collect()
    }
    receipts = {
        r.family: r
        for r in QUERIES["dedup_epoch_promote"](spark, sf_dir).collect()
    }
    assert set(receipts) == {"exact", "minhash", "simhash", "embedding"}
    for fam, r in receipts.items():
        # promotion executes exactly the census verdicts
        assert r.promoted == debts[fam].consolidate
        # the promoted epoch is identical to a fresh survivor build
        assert r.n_missing_vs_rebuild == 0
        assert r.n_extra_vs_rebuild == 0
        assert r.n_rows_serving == debts[fam].n_rows - debts[fam].n_dead
        if r.promoted:
            # tombstones reset: the serving artifact holds no dead rows
            assert r.n_dead_in_artifact == 0
        else:
            # epoch-1 families still carry the standing filter
            assert r.n_dead_in_artifact == debts[fam].n_dead
    assert receipts["exact"].promoted
    assert receipts["minhash"].promoted
    assert receipts["simhash"].promoted
    assert not receipts["embedding"].promoted
    index_store._MEM.clear()


def test_epoch_incremental_lands_on_new_base(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The post-promote insert equals a from-scratch run over the
    post-promotion (survivor) corpus restricted to new-involving
    pairs, and never touches a tombstoned document."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.dedup.core import LSH_BUCKET_CAP, minhash_bands
    from bpaotu_spark.dedup.lifecycle import DEAD_DOCS, DROP

    _NEW_MOD = DROP.mod
    _, _TOMB_MOD, _TOMB_RES = DEAD_DOCS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    got = {
        (r.doc_a, r.doc_b, r.n_shared_bands, r.n_new_in_pair)
        for r in QUERIES["dedup_epoch_incremental"](spark, sf_dir).collect()
    }
    # no tombstoned endpoint anywhere (the drop is disjoint from the
    # takedown set and the base holds survivors only)
    for a, b, _, _ in got:
        assert a % _TOMB_MOD != _TOMB_RES and b % _TOMB_MOD != _TOMB_RES
    # from-scratch over the survivor corpus, new-involving pairs only
    surv = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _TOMB_MOD != _TOMB_RES)
        .select("doc_id", "text")
    )
    bands = minhash_bands(surv)
    bsz = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("m"))
    kept = bands.join(
        bsz.filter(F.col("m").between(2, LSH_BUCKET_CAP)), ["band", "key"]
    ).select("doc_id", "band", "key")
    buckets = kept.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("ds")
    )
    pairs = (
        buckets.select(F.explode("ds").alias("doc_a"), F.col("ds"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .filter(
            (F.col("doc_a") % _NEW_MOD == 0)
            | (F.col("doc_b") % _NEW_MOD == 0)
        )
    )
    want = {
        (
            r.doc_a,
            r.doc_b,
            r.n_shared_bands,
            int(r.doc_a % _NEW_MOD == 0) + int(r.doc_b % _NEW_MOD == 0),
        )
        for r in pairs.collect()
    }
    assert got == want
    index_store._MEM.clear()


def test_ann_epoch_promote_and_search(spark, sf_dir, tmp_path, monkeypatch):
    """The promoted graph is tombstone-free and the post-swap search
    path emits internally consistent recall rows."""
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    r = QUERIES["ann_epoch_promote"](spark, sf_dir).collect()[0]
    assert r.n_edges_serving > 0 and r.n_nodes_serving > 0
    assert r.n_tomb_incident == 0  # the reset, observed
    rows = QUERIES["ann_epoch_search_recall"](spark, sf_dir).collect()
    assert rows
    for row in rows:
        assert row.found_d2 >= row.true_d2
        assert row.dist_ratio_milli >= 1000
        if row.exact_hit:
            assert row.found_id == row.true_id
    # navigability: the promoted graph finds the true NN for most
    # queries (the patched-graph path's bar, now on the clean rebuild)
    assert sum(1 for row in rows if row.exact_hit) >= len(rows) // 2
    index_store._MEM.clear()
