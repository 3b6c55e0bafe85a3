"""Round-12 invariants: Hadoop-FS index publication, content-keyed
delta cache, kmv left-join completeness, holt negative-level parity,
trig-free periodogram."""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR

from bpaotu_spark.registry import ORACLES, QUERIES, load_all

load_all()


# ---------------------------------------------------------------------------
# ANN index store: publication through the Hadoop FileSystem API
# ---------------------------------------------------------------------------


def test_index_store_publishes_via_hadoop_fs_uri(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A scheme-qualified store root (file://...) must round-trip:
    build, publish, and serve a fresh process from the disk tier —
    os.rename could never do this on s3a/hdfs (r11 VERDICT item 2);
    the Hadoop FileSystem API treats file:// exactly like s3a://."""
    from bpaotu_spark.ann import graphconn, index_store

    local = tmp_path / "idx"
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", f"file://{local}")
    index_store._MEM.clear()
    e1 = {
        (r.vec_id, r.neighbor_id)
        for r in index_store.connected_edges_cached(spark, sf_dir).collect()
    }
    # published onto the local disk behind the URI, atomically
    entries = [d for d in os.listdir(local) if d.startswith("conn_edges-")]
    assert len(entries) == 1
    assert os.path.exists(local / entries[0] / "_SUCCESS")
    assert not [d for d in os.listdir(local) if ".tmp-" in d]

    # fresh "process": disk tier must serve without rebuilding
    index_store._MEM.clear()
    builds = {"n": 0}
    real = graphconn.connected_search_edges

    def counting(*a, **k):
        builds["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(graphconn, "connected_search_edges", counting)
    e2 = {
        (r.vec_id, r.neighbor_id)
        for r in index_store.connected_edges_cached(spark, sf_dir).collect()
    }
    assert builds["n"] == 0 and e2 == e1 and len(e1) > 0
    index_store._MEM.clear()


def test_index_store_unwritable_root_still_correct(
    spark, sf_dir, monkeypatch
):
    """An unwritable store root degrades to build-only — persistence
    is an optimization, never a correctness dependency."""
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv(
        "BPAOTU_ANN_INDEX_DIR", "/proc/definitely-not-writable/idx"
    )
    index_store._MEM.clear()
    got = index_store.connected_edges_cached(spark, sf_dir).count()
    assert got > 0
    index_store._MEM.clear()


def test_augmented_edges_key_depends_on_batch_content(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Reusing a tag with a DIFFERENT insert batch must rebuild, not
    serve the previous batch's edges (r11 ADVICE item 4)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bpaotu_spark.ann.index_store import augmented_edges_cached

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t.column("vec_id")
    base_t = t.filter(pc.less(pc.bit_wise_and(ids, 7), 6))
    batch_a = t.filter(pc.equal(pc.bit_wise_and(ids, 7), 6))
    batch_b = t.filter(pc.equal(pc.bit_wise_and(ids, 7), 7))
    base_dir = tmp_path / "base_sf"
    base_dir.mkdir()
    pq.write_table(base_t, base_dir / "embeddings.parquet")
    df_a = spark.createDataFrame(batch_a.to_pandas()).select(
        "vec_id", "embedding"
    )
    df_b = spark.createDataFrame(batch_b.to_pandas()).select(
        "vec_id", "embedding"
    )
    ea = {
        (r.vec_id, r.neighbor_id)
        for r in augmented_edges_cached(
            spark, str(base_dir), df_a, "nightly"
        ).collect()
    }
    eb = {
        (r.vec_id, r.neighbor_id)
        for r in augmented_edges_cached(
            spark, str(base_dir), df_b, "nightly"  # SAME tag, new batch
        ).collect()
    }
    a_ids = set(batch_a.column("vec_id").to_pylist())
    b_ids = set(batch_b.column("vec_id").to_pylist())
    assert a_ids <= {u for u, _ in ea} and not (b_ids & {u for u, _ in ea})
    assert b_ids <= {u for u, _ in eb} and not (a_ids & {u for u, _ in eb})


# ---------------------------------------------------------------------------
# HNSW routing level: derived from corpus size, persisted with the index
# ---------------------------------------------------------------------------


def test_hnsw_route_level_rule():
    """route_level = 1 + #{k in 5..9 : n >= 16^k} — the scan n/16^L
    stays under 16^5 members at every corpus size, via exact integer
    thresholds identical in both engines (no float log boundaries)."""
    from bpaotu_spark.ann.hnswml import _LEVEL_THRESHOLDS, _PARAMS_SQL

    def py_level(n: int) -> int:
        return 1 + sum(n >= t for t in _LEVEL_THRESHOLDS)

    for n in (1, 2000, 16**5 - 1, 16**5, 16**6 - 1, 16**6, 16**9, 16**10):
        sql = _PARAMS_SQL.replace(
            "FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)",
            f"FROM (SELECT CAST({n} AS BIGINT) AS n)",
        )
        got_n, lvl, seeds = duckdb.sql(sql).fetchone()
        assert (got_n, lvl, seeds) == (n, py_level(n), 2 + 2 * py_level(n))
        # the scan is geometrically bounded at every size
        assert n // (16 ** lvl) < 16**5
    assert py_level(2000) == 1  # today's SFs keep the measured recall


def test_hnsw_params_persisted_with_index(spark, sf_dir, tmp_path, monkeypatch):
    """The build's (n, route_level, n_seeds) decision lands in the
    store next to the graph — a search job reads it, not re-derives."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.hnswml import hnsw_params

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    row = hnsw_params(spark, sf_dir).collect()[0]
    assert row.route_level >= 1 and row.n_seeds == 2 + 2 * row.route_level
    assert any(
        d.startswith("hnsw_params-") for d in os.listdir(tmp_path / "idx")
    )
    index_store._MEM.clear()


# ---------------------------------------------------------------------------
# kmv_set_intersection: sketch-miss pairs must still be reported
# ---------------------------------------------------------------------------


def test_kmv_intersection_covers_every_overlapping_pair(spark, sf_dir):
    """The output must contain EXACTLY the source pairs with real
    token overlap — a pair whose K=64 sketches share no hash appears
    with kmv_estimate 0 / err_ppm 1e6 instead of vanishing (r11
    ADVICE item 5)."""
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.functions.textops import tokenize

    out = QUERIES["kmv_set_intersection"](spark, sf_dir).collect()
    got_pairs = {(r.source_a, r.source_b) for r in out}
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("tok")
    ).distinct()
    x = t.select(F.col("source").alias("a"), "tok")
    y = t.select(F.col("source").alias("b"), F.col("tok").alias("tok2"))
    expect = {
        (r.a, r.b)
        for r in x.join(
            y, (F.col("tok") == F.col("tok2")) & (F.col("a") < F.col("b"))
        )
        .select("a", "b")
        .distinct()
        .collect()
    }
    assert got_pairs == expect
    for r in out:
        if r.kmv_estimate == 0:
            assert r.err_ppm == 1_000_000


# ---------------------------------------------------------------------------
# Incremental dedup index: exactness + persistence
# ---------------------------------------------------------------------------


def test_incremental_dedup_equals_from_scratch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The incremental pair set must EQUAL the from-scratch batch LSH
    on the unioned corpus restricted to pairs involving a new doc —
    same pairs, same n_shared_bands."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup.lifecycle import DROP

    _NEW_MOD = DROP.mod

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    inc = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
        if r.doc_a % _NEW_MOD == 0 or r.doc_b % _NEW_MOD == 0
    }
    assert inc == full and len(inc) > 0
    index_store._MEM.clear()


def test_incremental_dedup_index_persists_and_reserves(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Second run: the base band table and bucket-size summary must be
    served from the store (zero base signature recomputes)."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.dedup import core as dedup_core
    from bpaotu_spark.dedup import lifecycle as incremental

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    r1 = {
        (r.doc_a, r.doc_b, r.n_shared_bands, r.n_new_in_pair)
        for r in QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    }
    for name in ("dedup_bands_b8", "dedup_bandsz_b8"):
        assert any(
            d.startswith(f"{name}-") for d in os.listdir(tmp_path / "idx")
        )
    # fresh "process": the BASE must come from disk; only the delta's
    # 8-bands-per-doc signature step may run
    index_store._MEM.clear()
    calls = {"n": 0}
    real = dedup_core.minhash_bands

    def counting(docs):
        calls["n"] += 1
        return real(docs)

    monkeypatch.setattr(incremental, "minhash_bands", counting)
    r2 = {
        (r.doc_a, r.doc_b, r.n_shared_bands, r.n_new_in_pair)
        for r in QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    }
    assert calls["n"] == 1  # the delta only — never the base
    assert r2 == r1
    # every pair involves a new doc; both-new pairs say 2
    assert all(k in (1, 2) for *_xs, k in r1)
    index_store._MEM.clear()


# ---------------------------------------------------------------------------
# holt_linear_mase: explicit init flag vs negative mid-series level
# ---------------------------------------------------------------------------


def test_holt_fold_survives_negative_level(spark, tmp_path):
    """A steeply falling series drives the Holt level negative
    mid-series; the Spark fold must keep folding (explicit 'started'
    flag, r11 ADVICE item 2) and stay hash-identical to the oracle's
    recursive CTE on the same data."""
    import datetime

    rows = []
    d0 = datetime.date(1995, 1, 1)
    for i in range(40):
        # collapses from 5000.00 to 1.00 fast enough that the trend
        # term pulls l+b (and then l) below zero around day ~12
        price = 5000.0 / (i + 1) ** 2 if i < 12 else 1.0
        rows.append((i, d0 + datetime.timedelta(days=i), float(price)))
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate date, o_totalprice double"
    )
    data_dir = tmp_path / "neg_sf"
    data_dir.mkdir()
    df.coalesce(1).write.parquet(str(data_dir / "orders.parquet"))

    got = QUERIES["holt_linear_mase"](spark, str(data_dir)).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"'{data_dir}/orders.parquet/*.parquet'"
    )
    want = con.execute(ORACLES["holt_linear_mase"]).fetchone()
    assert tuple(got) == tuple(want)
    # the scenario actually exercised the guarded branch
    assert got.trend_final_milli < 0


# ---------------------------------------------------------------------------
# New round-12 operators: invariants
# ---------------------------------------------------------------------------


def test_augmented_graph_insert_invariants(spark, sf_dir, tmp_path, monkeypatch):
    """Near-duplicate inserts (scaled copies) must hit their own
    original at rank 1, ranks are 1..k per new node, and every new
    node appears."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.graphconn import _AUG_N, _INS_K

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    rows = QUERIES["ann_augmented_graph_insert"](spark, sf_dir).collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r.new_id, []).append(r)
    assert len(by_node) == _AUG_N
    for nid, es in by_node.items():
        ranks = sorted(e.rank for e in es)
        assert ranks == list(range(1, len(es) + 1)) and len(es) <= _INS_K
        r1 = next(e for e in es if e.rank == 1)
        # a x0.5 copy's best neighbour is its own original (cos = 1)
        assert r1.is_origin and r1.neighbor_id == nid - 1000000
    index_store._MEM.clear()


def test_canberra_bounds_and_symmetry_inputs(spark, sf_dir):
    """Canberra norm is within [0, 1e6]; a pair sharing nothing reads
    exactly 1e6; n_union >= 1."""
    rows = QUERIES["beta_diversity_canberra"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.canberra_norm_ppm <= 1_000_000
        assert r.n_union >= 1
        assert r.canberra_sum_ppm <= 1_000_000 * r.n_union


def test_position_attribution_conserves_credit(spark, sf_dir):
    """Summed ppm weight per position family stays within the model's
    envelope and positions are exactly the four classes."""
    rows = QUERIES["attribution_position_based"](spark, sf_dir).collect()
    assert rows
    assert {r.position for r in rows} <= {"only", "first", "middle", "last"}
    for r in rows:
        assert r.n_credits > 0
        # per-credit weight is <= 1e6 and middle weights are below 40%
        assert r.total_weight_ppm <= 1_000_000 * r.n_credits
        if r.position == "middle":
            assert r.total_weight_ppm <= 200_000 * r.n_credits


def test_anderson_darling_nonnegative_and_bins(spark, sf_dir):
    r = QUERIES["anderson_darling_binned"](spark, sf_dir).collect()[0]
    assert r.a2_micro >= 0
    assert 1 <= r.n_bins_used <= 50
    assert r.n_a > 0 and r.n_b > 0


def test_incremental_exact_covers_drop_and_canonical_order(spark, sf_dir):
    """One row per drop doc; canonical <= new_id; cross_batch implies
    duplicate; the drop size matches the mod-8 rule."""
    from bpaotu_spark.catalog import load_table

    rows = QUERIES["dedup_incremental_exact"](spark, sf_dir).collect()
    n_drop = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 8 == 0)
        .count()
    )
    assert len(rows) == n_drop
    for r in rows:
        assert r.canonical_id <= r.new_id
        assert r.is_duplicate == (r.canonical_id != r.new_id)
        if r.cross_batch:
            assert r.is_duplicate and r.canonical_id % 8 != 0


def test_novelty_curve_first_batch_full_and_shares(spark, sf_dir):
    rows = QUERIES["corpus_novelty_growth_curve"](spark, sf_dir).collect()
    assert [r.batch for r in rows] == sorted(r.batch for r in rows)
    assert rows[0].novelty_ppm == 1_000_000  # batch 0 is all-new
    for r in rows:
        assert 0 <= r.novelty_ppm <= 1_000_000
        assert 0 < r.n_new_grams <= r.n_grams or r.n_new_grams == 0


def test_kpss_nonnegative(spark, sf_dir):
    r = QUERIES["kpss_level_stat"](spark, sf_dir).collect()[0]
    assert r.kpss_milli >= 0 and r.n_days > 0


def test_wav_zcr_matches_python_reference(spark, sf_dir):
    """The Spark ZCR must equal a direct pure-Python recount on the
    same synthesized payloads, and bands partition the ppm range."""
    from bpaotu_spark.multimodal.core import (
        multimodal_table,
        wav_zero_crossings,
    )

    rows = {
        r.asset_id: r
        for r in QUERIES["multimodal_wav_zero_crossings"](
            spark, sf_dir
        ).collect()
    }
    assert rows
    payloads = (
        multimodal_table(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("asset_id", "payload")
        .limit(20)
        .collect()
    )
    for p in payloads:
        n, c = wav_zero_crossings(bytes(p.payload))
        r = rows[p.asset_id]
        assert (r.n_samples, r.n_crossings) == (n, c)
        assert r.zcr_ppm == c * 1_000_000 // max(n - 1, 1)
        assert r.zcr_band in ("tonal", "mixed", "noisy")


def test_cr4_bounds(spark, sf_dir):
    rows = QUERIES["cr4_by_part_type"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.cr4_ppm <= 1_000_000
        if r.n_suppliers <= 4:
            assert r.cr4_ppm == 1_000_000


def test_quality_filters_agreement_consistency(spark, sf_dir):
    """Contingency shares sum to ~1e6, kappa within [-1000, 1000], and
    cell counts match the independent gopher/ccnet operator outputs."""
    rows = QUERIES["quality_filters_agreement"](spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.share_ppm for r in rows) - 1_000_000) <= len(rows)
    k = {r.kappa_head_milli for r in rows}
    assert len(k) == 1 and -1000 <= k.pop() <= 1000
    n_total = sum(r.n_docs for r in rows)
    ccnet = QUERIES["ccnet_perplexity_tertiles"](spark, sf_dir).collect()
    assert n_total == sum(r.n_docs for r in ccnet)
    gopher = QUERIES["gopher_quality_rules"](spark, sf_dir).collect()
    n_pass = sum(r.pass_all for r in gopher)
    assert n_pass == sum(r.n_docs for r in rows if r.gopher_pass)


def test_davies_bouldin_invariants(spark, sf_dir):
    """One row per label; nearest != self; DB index equals the mean of
    r_max; scatters and ratios nonnegative."""
    rows = QUERIES["label_davies_bouldin"](spark, sf_dir).collect()
    assert len(rows) == len({r.label for r in rows}) >= 2
    db = {r.db_index_ppm for r in rows}
    assert len(db) == 1
    assert db.pop() == sum(r.r_max_ppm for r in rows) // len(rows)
    for r in rows:
        assert r.nearest_label != r.label
        assert r.s2_micro >= 0 and r.r_max_ppm >= 0 and r.n_members > 0


def test_calinski_harabasz_positive(spark, sf_dir):
    r = QUERIES["label_calinski_harabasz"](spark, sf_dir).collect()[0]
    assert r.k_labels >= 2 and r.n_vectors > r.k_labels
    assert r.b_milli > 0 and r.w_milli > 0 and r.ch_milli > 0


def test_good_turing_table(spark, sf_dir):
    rows = {r.r: r for r in QUERIES["corpus_good_turing"](spark, sf_dir).collect()}
    assert set(rows) == set(range(6))
    assert rows[0].n_types == 0  # unseen row: no observed types at r=0
    assert rows[0].next_n_types == rows[1].n_types  # N_1 consistency
    for r in rows.values():
        assert 0 <= r.mass_ppm <= 1_000_000
        if r.r > 0 and r.n_types > 0:
            assert r.r_star_milli == (r.r + 1) * r.next_n_types * 1000 // r.n_types


def test_simper_shares_monotone(spark, sf_dir):
    """Ranks 1..25, shares nonincreasing, cumulative share monotone
    and <= 1e6 (+rounding)."""
    rows = QUERIES["simper_contributions"](spark, sf_dir).collect()
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    shares = [r.share_ppm for r in rows]
    assert shares == sorted(shares, reverse=True)
    cums = [r.cum_share_ppm for r in rows]
    assert cums == sorted(cums) and cums[-1] <= 1_000_000 + len(rows)
    assert cums[0] == shares[0] or abs(cums[0] - shares[0]) <= 1


def test_sentence_dedup_census_bounds(spark, sf_dir):
    rows = QUERIES["sentence_dedup_census"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_distinct <= r.n_instances
        assert 0 <= r.dup_within_ppm <= 1_000_000
        assert 0 <= r.n_cross_source <= r.n_distinct
        assert 0 <= r.cross_source_ppm <= 1_000_000


def test_pack_budget_sweep_monotone(spark, sf_dir):
    """Doubling the budget can only reduce the split share; fill and
    split shares stay in [0, 1e6]; chunk count is nonincreasing."""
    rows = sorted(
        QUERIES["pack_budget_sweep"](spark, sf_dir).collect(),
        key=lambda r: r.budget,
    )
    assert [r.budget for r in rows] == [512, 1024, 2048, 4096]
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs_split <= a.n_docs_split
        assert b.n_chunks <= a.n_chunks
    for r in rows:
        assert 0 <= r.split_ppm <= 1_000_000
        assert 0 < r.fill_ppm <= 1_000_000


def test_rapid_repeat_orders_window(spark, sf_dir):
    rows = QUERIES["rapid_repeat_orders"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.gap_days <= 7
        assert r.order_a < r.order_b
        assert r.cents_diff >= 0


# ---------------------------------------------------------------------------
# daily_revenue_periodogram: no engine-side trig anywhere
# ---------------------------------------------------------------------------


def test_periodogram_uses_no_engine_trig(spark, sf_dir):
    """Both engines must consume the Python-built integer trig table —
    zero cos()/sin() calls in either plan (r11 ADVICE item 1), and the
    trig table itself is exact at the residue symmetry points."""
    from bpaotu_spark.operators.stats7 import _PGRAM_TRIG

    sql = ORACLES["daily_revenue_periodogram"]
    assert "cos(" not in sql and "sin(" not in sql and "pi()" not in sql
    by_pr = {(p, r): (c, s) for p, r, c, s in _PGRAM_TRIG}
    for p in (7, 14, 30, 91, 365):
        assert by_pr[(p, 0)] == (1_000_000, 0)
    assert by_pr[(14, 7)] == (-1_000_000, 0)  # cos(pi), sin(pi)
    df = QUERIES["daily_revenue_periodogram"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "COS" not in plan.upper() or "COSQ" in plan.upper()
    rows = df.collect()
    assert len(rows) == 5
    assert sorted(r.power_rank for r in rows) == [1, 2, 3, 4, 5]
