"""Round-14 tests: registry duplicate guard, the dedup signature
store, the UniFrac lineage store, and the tombstone-debt
consolidation decision."""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from bpaotu_spark.registry import ORACLES, QUERIES, load_all

load_all()

# ---------------------------------------------------------------------------
# registry.register() duplicate guard (r13 VERDICT item 3): the r13
# mann_kendall_trend near-miss was caught by an allowlist coincidence;
# a same-name re-registration must now raise, not silently overwrite.
# ---------------------------------------------------------------------------


def test_register_duplicate_name_raises():
    from bpaotu_spark.registry import QUERIES as REG, register

    assert "q1_pricing_summary" in REG
    before = REG["q1_pricing_summary"]
    with pytest.raises(ValueError, match="duplicate operator registration"):

        @register("q1_pricing_summary")
        def q1_pricing_summary(spark, sf_dir):  # pragma: no cover
            raise AssertionError("must never be registered")

    # the original registration is untouched
    assert REG["q1_pricing_summary"] is before


# ---------------------------------------------------------------------------
# dedup signature store (r13 VERDICT item 1): the batch dedup family
# must be served from persisted artifacts — zero signature recomputes
# on a warm store — and the served values must equal a from-scratch
# run (the registered oracles enforce the same equality driver-side).
# ---------------------------------------------------------------------------


def test_dedup_sig_store_persists_and_reserves(
    spark, sf_dir, tmp_path, monkeypatch
):
    import os

    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup import core as dedup_core
    from bpaotu_spark.dedup import sigstore

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    r1 = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    s1 = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()
    }
    c1 = {
        (r.doc_id, r.cluster_id)
        for r in QUERIES["dedup_cluster_cc"](spark, sf_dir)
        .select("doc_id", "cluster_id")
        .collect()
    }
    for name in (
        "dedup_bands_all",
        "dedup_lsh_pairs",
        "simhash_sig_all",
        "dedup_simhash_pairs",
        "dedup_cc_labels",
    ):
        assert any(
            d.startswith(f"{name}-") for d in os.listdir(tmp_path / "idx")
        ), name
    # fresh "process": everything must come from disk — zero signature
    # recomputes (minhash_bands / simhash_signatures never called)
    index_store._MEM.clear()
    calls = {"n": 0}
    real_mb, real_ss = dedup_core.minhash_bands, dedup_core.simhash_signatures

    def counting_mb(docs):
        calls["n"] += 1
        return real_mb(docs)

    def counting_ss(docs):
        calls["n"] += 1
        return real_ss(docs)

    monkeypatch.setattr(dedup_core, "minhash_bands", counting_mb)
    monkeypatch.setattr(dedup_core, "simhash_signatures", counting_ss)
    r2 = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    s2 = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()
    }
    c2 = {
        (r.doc_id, r.cluster_id)
        for r in QUERIES["dedup_cluster_cc"](spark, sf_dir)
        .select("doc_id", "cluster_id")
        .collect()
    }
    assert calls["n"] == 0
    assert (r2, s2, c2) == (r1, s1, c1)
    # the integrity row agrees with the served artifacts
    stats = QUERIES["dedup_sig_store_stats"](spark, sf_dir).collect()[0]
    assert stats.n_lsh_pairs == len(r1)
    assert stats.n_simhash_pairs == len(s1)
    assert stats.n_clustered_docs == len(c1)
    # the build job is idempotent and reports every artifact
    manifest = sigstore.build_dedup_store(spark, sf_dir)
    assert manifest["dedup_lsh_pairs"] == len(r1)
    assert manifest["dedup_cc_labels"] == len(c1)
    index_store._MEM.clear()


def test_unifrac_store_round_trip(spark, sf_dir, tmp_path, monkeypatch):
    """Both UniFrac ops read fingerprint-keyed lineage artifacts; a
    fresh process serves them from disk with identical values (r13
    VERDICT item 2)."""
    import os

    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    u1 = {
        tuple(r) for r in QUERIES["unifrac_unweighted"](spark, sf_dir).collect()
    }
    w1 = {
        tuple(r) for r in QUERIES["unifrac_weighted"](spark, sf_dir).collect()
    }
    for name in ("unifrac_pres", "unifrac_uw_pairs", "unifrac_eab",
                 "unifrac_w_pairs"):
        assert any(
            d.startswith(f"{name}-") for d in os.listdir(tmp_path / "idx")
        ), name
    index_store._MEM.clear()
    u2 = {
        tuple(r) for r in QUERIES["unifrac_unweighted"](spark, sf_dir).collect()
    }
    w2 = {
        tuple(r) for r in QUERIES["unifrac_weighted"](spark, sf_dir).collect()
    }
    assert (u2, w2) == (u1, w1)
    assert u1 and w1
    index_store._MEM.clear()


# ---------------------------------------------------------------------------
# tombstone-debt consolidation decision (r13 VERDICT item 4)
# ---------------------------------------------------------------------------


def test_tombstone_debt_decision_flips_with_share(spark, sf_dir):
    """The registered census emits the documented MIXED verdict (doc
    families above the 5% cutoff, the mod-50 vector family below),
    and raising the deterministic tombstone share flips the
    decision."""
    from bpaotu_spark.dedup.lifecycle import DEBT_THRESHOLD_PPM, debt_rows

    rows = {
        r.family: r
        for r in QUERIES["index_tombstone_debt"](spark, sf_dir).collect()
    }
    assert set(rows) == {"exact", "minhash", "simhash", "embedding"}
    for r in rows.values():
        assert r.threshold_ppm == DEBT_THRESHOLD_PPM
        assert r.consolidate == (r.dead_ppm >= DEBT_THRESHOLD_PPM)
    # mod-16 doc families: 1/16 = 62500 ppm >= 50000 -> consolidate
    assert rows["exact"].consolidate
    assert rows["minhash"].consolidate
    assert rows["simhash"].consolidate
    # mod-50 vector family: 2% = 20000 ppm < 50000 -> keep patching
    assert not rows["embedding"].consolidate
    # raise the share: a mod-2 takedown (50% dead everywhere) must
    # flip EVERY family to consolidate
    raised = debt_rows(
        spark, sf_dir, 2, 1, 2, 1, DEBT_THRESHOLD_PPM
    ).collect()
    assert len(raised) == 4
    assert all(r.consolidate for r in raised)
    assert all(abs(r.dead_ppm - 500_000) < 20_000 for r in raised)
    # lower the share to nothing: an empty residue class (mod larger
    # than any id is impossible, so use a residue that misses: mod 2
    # res cannot miss — instead drop the threshold test the other
    # way: a cutoff above every share must flip all to False)
    relaxed = debt_rows(
        spark, sf_dir, 16, 3, 50, 7, 1_000_000
    ).collect()
    assert not any(r.consolidate for r in relaxed)


def test_ann_consolidation_decision_consistent(spark, sf_dir):
    """The graph decision row is internally consistent with its own
    documented cutoffs and the persisted artifacts."""
    from bpaotu_spark.dedup.lifecycle import (
        GRAPH_REPAIR_THRESHOLD_PPM,
        GRAPH_TOMB_THRESHOLD_PPM,
    )

    r = QUERIES["ann_consolidation_decision"](spark, sf_dir).collect()[0]
    assert r.n_edges_base > 0 and r.n_edges_patched > 0
    assert 0 <= r.n_tomb_incident <= r.n_edges_base
    assert r.n_repair_edges == r.n_edges_patched - (
        r.n_edges_base - r.n_tomb_incident
    )
    assert r.consolidate == (
        r.tomb_share_ppm >= GRAPH_TOMB_THRESHOLD_PPM
        or r.repair_share_ppm >= GRAPH_REPAIR_THRESHOLD_PPM
    )


def test_dedup_index_compact_executes_verdicts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Compaction receipts agree with the census: above-cutoff
    families get a PUBLISHED survivor-only artifact (residual dead
    rows = 0, reclaimed = the census's dead count), below-cutoff
    families are no-ops still carrying their debt."""
    import os

    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    debts = {
        r.family: r
        for r in QUERIES["index_tombstone_debt"](spark, sf_dir).collect()
    }
    receipts = {
        r.family: r
        for r in QUERIES["dedup_index_compact"](spark, sf_dir).collect()
    }
    assert set(receipts) == set(debts)
    for fam, r in receipts.items():
        d = debts[fam]
        assert r.consolidated == d.consolidate
        assert r.n_rows_before == d.n_rows
        if r.consolidated:
            assert r.n_rows_after == d.n_rows - d.n_dead
            assert r.n_reclaimed == d.n_dead
            assert r.residual_dead_rows == 0
        else:
            assert r.n_rows_after == d.n_rows
            assert r.n_reclaimed == 0
            assert r.residual_dead_rows == d.n_dead
    # the compacted artifacts were published through the store
    published = os.listdir(tmp_path / "idx")
    for fam, name in (
        ("exact", "dedup_hash_compact"),
        ("minhash", "dedup_bands_compact"),
        ("simhash", "simhash_sig_compact"),
    ):
        assert receipts[fam].consolidated
        assert any(d.startswith(f"{name}-") for d in published), name
    # the below-cutoff family published nothing
    assert not any(d.startswith("emb_lsh_compact-") for d in published)
    index_store._MEM.clear()


def test_graph_consolidate_audit(spark, sf_dir, tmp_path, monkeypatch):
    """The survivor rebuild is published, contains no tombstoned
    endpoints, and the audit row's shares are internally consistent."""
    import os

    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.lifecycle import DEAD_VECS

    _, _VTOMB_MOD, _VTOMB_RES = DEAD_VECS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    r = QUERIES["ann_graph_consolidate_audit"](spark, sf_dir).collect()[0]
    assert any(
        d.startswith("conn_edges_rebuilt-")
        for d in os.listdir(tmp_path / "idx")
    )
    assert r.n_common == r.n_edges_rebuilt - r.n_rebuilt_only
    assert r.n_common == r.n_edges_patched - r.n_patched_only
    assert 0 < r.patched_recall_ppm <= 1_000_000
    assert 0 <= r.patched_excess_ppm < 1_000_000
    # the patch preserves the overwhelming majority of the proper
    # graph (the point of local repair) but not all of it (the point
    # of the audit)
    assert r.patched_recall_ppm > 900_000
    # the rebuilt artifact holds survivors only (same-process store
    # hit — the audit above built and published it)
    from bpaotu_spark.ann.graphconn import connected_search_edges

    rebuilt = cached_frame(
        spark,
        sf_dir,
        "conn_edges_rebuilt",
        lambda: connected_search_edges(
            spark,
            sf_dir,
            alive=F.col("vec_id") % _VTOMB_MOD != _VTOMB_RES,
        ),
    )
    bad = rebuilt.filter(
        (F.col("vec_id") % _VTOMB_MOD == _VTOMB_RES)
        | (F.col("neighbor_id") % _VTOMB_MOD == _VTOMB_RES)
    ).count()
    assert bad == 0
    index_store._MEM.clear()


def test_sig_store_corruption_surfaces_in_integrity_row(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The integrity op must READ the persisted artifact, not rebuild
    it — so a corrupted (truncated) pair artifact must change the
    integrity row, which is exactly what makes the driver's
    store-vs-from-scratch-oracle compare fail the round corruption
    appears."""
    import os

    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    before = QUERIES["dedup_sig_store_stats"](spark, sf_dir).collect()[0]
    assert before.n_lsh_pairs > 1
    # corrupt the persisted pair artifact: drop one row and republish
    # under the same fingerprint key
    idx = tmp_path / "idx"
    key = next(
        d for d in os.listdir(idx) if d.startswith("dedup_lsh_pairs-")
    )
    good = spark.read.parquet(str(idx / key)).collect()
    truncated = spark.createDataFrame(good[1:])
    import shutil

    shutil.rmtree(idx / key)
    truncated.write.parquet(str(idx / key))
    # fresh "process": the corrupted artifact is what gets served
    index_store._MEM.clear()
    after = QUERIES["dedup_sig_store_stats"](spark, sf_dir).collect()[0]
    assert after.n_lsh_pairs == before.n_lsh_pairs - 1
    assert after != before  # the driver's hash compare would fail
    index_store._MEM.clear()
