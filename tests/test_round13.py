"""Round-13 invariants: the distance-matrix store (r12 VERDICT item 1)
and its consumers."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


def _pairs_rows(df):
    return sorted(
        (r.sample_a, r.sample_b, r.grp_a, r.grp_b, r.d_ppm)
        for r in df.collect()
    )


def test_dist_store_round_trip_and_warm_serve(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The pair matrix publishes through the store (file:// URI — the
    Hadoop FS path) and a fresh 'process' serves it from disk without
    rebuilding; warm-served values equal the from-scratch build."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators import diststore

    local = tmp_path / "idx"
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", f"file://{local}")
    index_store._MEM.clear()
    p1 = _pairs_rows(diststore.anosim_pairs_cached(spark, sf_dir))
    assert len(p1) > 0
    published = [
        d for d in os.listdir(local) if d.startswith("bray_pairs_anosim-")
    ]
    assert len(published) == 1
    assert os.path.exists(local / published[0] / "_SUCCESS")

    # fresh process: must read, not rebuild (the builder scans the
    # fact tables; count the abundance accessor calls)
    index_store._MEM.clear()
    builds = {"n": 0}
    real = diststore.anosim_abundance_cached

    def counting(*a, **k):
        builds["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(diststore, "anosim_abundance_cached", counting)
    p2 = _pairs_rows(diststore.anosim_pairs_cached(spark, sf_dir))
    assert builds["n"] == 0
    assert p2 == p1
    index_store._MEM.clear()


def test_dist_store_matches_from_scratch(spark, sf_dir, monkeypatch, tmp_path):
    """Store-served pair matrix == the from-scratch pair machinery
    (the permtest r12 shape) row for row."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators import diststore
    from bpaotu_spark.operators.bpaotu import abundance_selected

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    sel = diststore.anosim_sel(spark, sf_dir)
    a = (
        abundance_selected(spark, sf_dir, sel)
        .groupBy("sample_id", "grp", "otu_id")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    tot = a.groupBy("sample_id", "grp").agg(F.sum("c").alias("tot"))
    x, y = a.alias("x"), a.alias("y")
    shared = (
        x.join(
            y,
            (F.col("x.otu_id") == F.col("y.otu_id"))
            & (F.col("x.sample_id") < F.col("y.sample_id")),
        )
        .groupBy(
            F.col("x.sample_id").alias("sa"),
            F.col("y.sample_id").alias("sb"),
        )
        .agg(F.sum(F.least("x.c", "y.c")).cast("bigint").alias("sum_min"))
    )
    ta, tb = tot.alias("ta"), tot.alias("tb")
    scratch = (
        ta.join(F.broadcast(tb), F.col("ta.sample_id") < F.col("tb.sample_id"))
        .join(
            shared,
            (F.col("ta.sample_id") == shared.sa)
            & (F.col("tb.sample_id") == shared.sb),
            "left",
        )
        .select(
            F.col("ta.sample_id").alias("sample_a"),
            F.col("tb.sample_id").alias("sample_b"),
            F.col("ta.grp").alias("grp_a"),
            F.col("tb.grp").alias("grp_b"),
            F.expr(
                "1000000 - (2000000 * coalesce(sum_min, 0))"
                " div (ta.tot + tb.tot)"
            ).alias("d_ppm"),
        )
    )
    assert _pairs_rows(diststore.anosim_pairs_cached(spark, sf_dir)) == (
        _pairs_rows(scratch)
    )
    index_store._MEM.clear()


def test_build_dist_store_manifest_idempotent(
    spark, sf_dir, monkeypatch, tmp_path
):
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators.diststore import build_dist_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    m1 = build_dist_store(spark, sf_dir)
    assert set(m1) == {
        "sample_otu",
        "anosim_sel",
        "bray_a_anosim",
        "bray_tot_anosim",
        "bray_pairs_anosim",
        "bray_pairs_pcoa",
        # r14: the UniFrac lineage artifacts (r13 VERDICT item 2)
        "unifrac_pres",
        "unifrac_uw_pairs",
        "unifrac_eab",
        "unifrac_w_pairs",
    }
    assert all(n > 0 for n in m1.values())
    n_tot = m1["bray_tot_anosim"]
    assert m1["bray_pairs_anosim"] == n_tot * (n_tot - 1) // 2
    m2 = build_dist_store(spark, sf_dir)  # idempotent re-read
    assert m2 == m1
    index_store._MEM.clear()


def test_pcoa_pairs_store_symmetric_with_diagonal(
    spark, sf_dir, monkeypatch, tmp_path
):
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators.diststore import pcoa_pairs_cached

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rows = [(r.i, r.j, r.dp) for r in pcoa_pairs_cached(spark, sf_dir).collect()]
    byij = {(i, j): dp for i, j, dp in rows}
    assert len(byij) == len(rows)
    ids = {i for i, _, _ in rows}
    assert len(rows) == len(ids) * len(ids)  # full square incl. diagonal
    for (i, j), dp in byij.items():
        assert byij[(j, i)] == dp
        if i == j:
            assert dp == 0
    index_store._MEM.clear()


def test_intlog_three_way_parity(spark):
    """functions/intlog: the Spark column chain, the DuckDB CTE chain
    and the pure-Python reference agree bit-for-bit on a (num, den)
    grid, and track true ln within ~15 micro."""
    import math
    import random

    import duckdb

    from bpaotu_spark.functions.intlog import (
        ln_ratio_micro_ctes,
        ln_ratio_micro_py,
    )

    random.seed(13)
    cases = [(1, 1), (2, 1), (3, 2), (10**12, 7), (2**62, 1)]
    cases += [
        (n, random.randint(1, n))
        for n in (random.randint(1, 10**14) for _ in range(60))
    ]
    ref = {(n, d): ln_ratio_micro_py(n, d) for n, d in cases}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?)", cases)
    ctes = ln_ratio_micro_ctes("L", "t", "num", "den", "num, den")
    for n, d, lm in con.execute(
        f"WITH {ctes} SELECT num, den, ln_micro FROM L17"
    ).fetchall():
        assert lm == ref[(n, d)]
        assert abs(lm - math.floor(math.log(n / d) * 1e6)) <= 15

    from bpaotu_spark.functions.intlog import ln_ratio_micro_col

    df = spark.createDataFrame(cases, "num long, den long")
    for r in ln_ratio_micro_col(df, "num", "den").collect():
        assert r.ln_micro == ref[(r.num, r.den)]


def test_incremental_simhash_equals_batch_restriction(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Incremental pair set == from-scratch dedup_simhash restricted
    to pairs involving a new (doc_id % 8 == 0) doc."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup.core import dedup_simhash
    from bpaotu_spark.dedup.lifecycle import DROP, dedup_incremental_simhash

    _NEW_MOD = DROP.mod

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    inc = {
        (r.doc_a, r.doc_b): (r.hamming, r.n_new_in_pair)
        for r in dedup_incremental_simhash(spark, sf_dir).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash(spark, sf_dir).collect()
        if r.doc_a % _NEW_MOD == 0 or r.doc_b % _NEW_MOD == 0
    }
    assert {k: v[0] for k, v in inc.items()} == full
    for (a, b), (_, n_new) in inc.items():
        assert n_new == (a % _NEW_MOD == 0) + (b % _NEW_MOD == 0)
    index_store._MEM.clear()


def test_incremental_embedding_equals_batch_restriction(
    spark, sf_dir, monkeypatch, tmp_path
):
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup.core import dedup_embedding_lsh
    from bpaotu_spark.dedup.lifecycle import DROP, dedup_incremental_embedding

    _NEW_MOD = DROP.mod

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    inc = {
        (r.vec_a, r.vec_b): (r.bucket, r.cos_sim, r.n_new_in_pair)
        for r in dedup_incremental_embedding(spark, sf_dir).collect()
    }
    full = {
        (r.vec_a, r.vec_b): (r.bucket, r.cos_sim)
        for r in dedup_embedding_lsh(spark, sf_dir).collect()
        if r.vec_a % _NEW_MOD == 0 or r.vec_b % _NEW_MOD == 0
    }
    assert {k: v[:2] for k, v in inc.items()} == full
    for (a, b), (_, _, n_new) in inc.items():
        assert n_new == (a % _NEW_MOD == 0) + (b % _NEW_MOD == 0)
    index_store._MEM.clear()


def test_tombstone_minhash_states_consistent(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Bucket surgery vs a from-scratch Spark recount: sizes, reps and
    the status state machine agree; m_after counts survivors only."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup.core import LSH_BUCKET_CAP, minhash_bands
    from bpaotu_spark.dedup.lifecycle import DEAD_DOCS, dedup_tombstone_minhash

    _, _TOMB_MOD, _TOMB_RES = DEAD_DOCS
    from bpaotu_spark.catalog import load_table

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rows = dedup_tombstone_minhash(spark, sf_dir).collect()
    assert rows
    bands = minhash_bands(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).collect()
    by_bucket: dict = {}
    for r in bands:
        by_bucket.setdefault((r.band, r.key), []).append(r.doc_id)
    affected = {
        bk
        for bk, ids in by_bucket.items()
        if any(d % _TOMB_MOD == _TOMB_RES for d in ids)
    }
    assert {(r.band, r.key) for r in rows} == affected
    for r in rows:
        ids = by_bucket[(r.band, r.key)]
        surv = [d for d in ids if d % _TOMB_MOD != _TOMB_RES]
        assert r.m_before == len(ids)
        assert r.m_after == len(surv)
        assert r.old_rep == min(ids)
        assert r.new_rep == (min(surv) if surv else None)
        if r.m_after < 2:
            assert r.status == "dead" and r.n_pairs_after == 0
        elif r.m_after > LSH_BUCKET_CAP:
            assert r.status == "capped" and r.n_pairs_after == 0
        else:
            assert r.status in ("active", "revived")
            assert r.n_pairs_after == r.m_after * (r.m_after - 1) // 2
    index_store._MEM.clear()


def test_ann_tombstone_patched_graph_invariants(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The published patched edge list: no edge touches a tombstone,
    repair edges are present in both directions, and every repair
    target survives."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.lifecycle import (
        _REPAIR_K,
        repair_edges,
        tombstoned_edges_cached,
    )
    from bpaotu_spark.dedup.lifecycle import DEAD_VECS

    _, _VTOMB_MOD, _VTOMB_RES = DEAD_VECS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rep = repair_edges(
        spark, sf_dir, index_store.connected_edges_cached(spark, sf_dir)
    ).collect()
    assert rep
    for r in rep:
        assert 1 <= r.rank <= _REPAIR_K
        assert r.src % _VTOMB_MOD != _VTOMB_RES
        assert r.neighbor_id % _VTOMB_MOD != _VTOMB_RES
        assert r.lost_deg >= 1
    patched = {
        (r.vec_id, r.neighbor_id)
        for r in tombstoned_edges_cached(spark, sf_dir).collect()
    }
    for u, v in patched:
        assert u % _VTOMB_MOD != _VTOMB_RES
        assert v % _VTOMB_MOD != _VTOMB_RES
        assert (v, u) in patched  # symmetric closure holds post-patch
    for r in rep:
        assert (r.src, r.neighbor_id) in patched
        assert (r.neighbor_id, r.src) in patched
    index_store._MEM.clear()


def test_maintenance_cycle_delta_shape(spark, sf_dir, monkeypatch, tmp_path):
    """Every drop doc is 'inserted', no tombstone id survives into the
    delta, and canonicals point at post-cycle corpus members."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup.lifecycle import DEAD_DOCS, DROP, dedup_maintenance_cycle

    _CYC_NEW_MOD = DROP.mod
    _, _TOMB_MOD, _TOMB_RES = DEAD_DOCS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rows = dedup_maintenance_cycle(spark, sf_dir).collect()
    assert rows
    inserted = {r.doc_id for r in rows if r.change == "inserted"}
    for r in rows:
        # a tombstoned doc never appears (tombstones are base-only)
        assert not (
            r.doc_id % _CYC_NEW_MOD != 0
            and r.doc_id % _TOMB_MOD == _TOMB_RES
        )
        assert r.canonical_id <= r.doc_id
        if r.doc_id % _CYC_NEW_MOD == 0:
            assert r.change == "inserted"
        else:
            assert r.change == "rekeyed"
    # every drop doc gets a canonical assignment in the delta
    from bpaotu_spark.catalog import load_table
    import pyspark.sql.functions as SF

    drop = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(SF.col("doc_id") % _CYC_NEW_MOD == 0)
        .select("doc_id")
        .collect()
    }
    assert inserted == drop
    index_store._MEM.clear()


def test_cliffs_delta_pair_accounting(spark, sf_dir):
    from bpaotu_spark.operators.stats9 import cliffs_delta_priority

    r = cliffs_delta_priority(spark, sf_dir).collect()[0]
    assert r.n_gt + r.n_lt + r.n_tie == r.n_a * r.n_b
    assert -1_000_000 <= r.delta_ppm <= 1_000_000
    assert r.magnitude in ("negligible", "small", "medium", "large")


def test_tombstone_search_and_bucket_deletes(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Post-delete search returns only survivors with sane ratios;
    the simhash/embedding bucket surgeries account sizes exactly."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.lifecycle import ann_tombstone_search_recall
    from bpaotu_spark.dedup.lifecycle import (
        DEAD_VECS,
        dedup_tombstone_embedding,
        dedup_tombstone_simhash,
    )

    _, _VTOMB_MOD, _VTOMB_RES = DEAD_VECS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    res = ann_tombstone_search_recall(spark, sf_dir).collect()
    assert res
    for r in res:
        assert r.query_id % _VTOMB_MOD != _VTOMB_RES
        assert r.found_id % _VTOMB_MOD != _VTOMB_RES
        assert r.true_id % _VTOMB_MOD != _VTOMB_RES
        # found can't beat the truth — except the degenerate true_d2=0
        # case (exact-duplicate embedding), where the quantized ratio
        # found_d2*1000 // greatest(true_d2, 1) is 0 even on a perfect
        # hit (r13 ADVICE item 3)
        assert r.dist_ratio_milli >= 1000 or (
            r.true_d2 == 0 and r.exact_hit
        )
        if r.exact_hit:
            assert r.found_id == r.true_id

    for rows in (
        dedup_tombstone_simhash(spark, sf_dir).collect(),
        dedup_tombstone_embedding(spark, sf_dir).collect(),
    ):
        assert rows
        for r in rows:
            assert r.m_after < r.m_before  # every bucket lost a member
            if r.status == "dead":
                assert r.m_after < 2 and r.n_cand_pairs_after == 0
            else:
                assert r.n_cand_pairs_after == r.m_after * (r.m_after - 1) // 2
    index_store._MEM.clear()


def test_maintenance_cycle_minhash_bucket_accounting(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Cycle bucket surgery vs a from-scratch Spark recount over the
    full band table: sizes and the status machine (incl. both cap
    transitions) agree."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.dedup.core import LSH_BUCKET_CAP, minhash_bands
    from bpaotu_spark.dedup.lifecycle import DEAD_DOCS, DROP, dedup_maintenance_cycle_minhash

    _CYC_NEW_MOD = DROP.mod
    _, _TOMB_MOD, _TOMB_RES = DEAD_DOCS

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rows = dedup_maintenance_cycle_minhash(spark, sf_dir).collect()
    assert rows
    bands = minhash_bands(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).collect()
    by_bucket: dict = {}
    for r in bands:
        by_bucket.setdefault((r.band, r.key), []).append(r.doc_id)
    touched = {
        bk
        for bk, ids in by_bucket.items()
        if any(
            d % _CYC_NEW_MOD == 0 or d % _TOMB_MOD == _TOMB_RES
            for d in ids
        )
    }
    assert {(r.band, r.key) for r in rows} == touched
    for r in rows:
        ids = by_bucket[(r.band, r.key)]
        before = [d for d in ids if d % _CYC_NEW_MOD != 0]
        after = [d for d in ids if d % _TOMB_MOD != _TOMB_RES]
        assert r.m_before == len(before)
        assert r.m_after == len(after)
        assert r.old_rep == (min(before) if before else None)
        assert r.new_rep == (min(after) if after else None)
        if r.status == "newly_capped":
            assert 2 <= r.m_before <= LSH_BUCKET_CAP < r.m_after
        if r.status == "revived":
            assert r.m_before > LSH_BUCKET_CAP >= r.m_after >= 2
    index_store._MEM.clear()
