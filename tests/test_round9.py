"""Round-9 additions: one-batch eigensolver equivalence, new text /
stats / events / olap / ann / audit / survival operators."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from bpaotu_spark.registry import QUERIES, load_all

load_all()


# ---------------------------------------------------------------------------
# the one-batch eigensolver
# ---------------------------------------------------------------------------


def _reference_iterate(entries, v0, iters):
    """The r8 per-round recurrence in pure Python ints (the spec the
    applyInPandas batch must reproduce bit-for-bit)."""
    v = dict(v0)
    for _ in range(iters):
        u: dict[int, int] = {}
        for i, j, b in entries:
            u[i] = u.get(i, 0) + b * v[j]
        m = max(max(abs(x) for x in u.values()), 1)
        v = {
            i: (-1 if x < 0 else 1) * ((abs(x) * 1_000_000) // m)
            for i, x in u.items()
        }
    return v


def _solve_via_spark(spark, entries, v0, iters):
    from bpaotu_spark.operators.ordination import _int_power_iterate

    b = spark.createDataFrame(
        [Row(i=i, j=j, b=str(bb)) for i, j, bb in entries]
    ).select("i", "j", F.col("b").cast("decimal(38,0)").alias("b"))
    v = spark.createDataFrame([Row(j=j, v=x) for j, x in v0.items()])
    return {
        r.j: r.v for r in _int_power_iterate(b, v, iters).collect()
    }


def test_power_iterate_matches_reference_fast_path(spark):
    """int64 fast path (hi/lo limb split) == the per-round spec."""
    entries = [
        (1, 1, 6 * 10**17), (1, 2, -(3 * 10**17)), (1, 3, 10**17),
        (2, 1, -(3 * 10**17)), (2, 2, 5 * 10**17), (2, 3, 2 * 10**17),
        (3, 1, 10**17), (3, 2, 2 * 10**17), (3, 3, 4 * 10**17),
    ]
    v0 = {1: 321, 2: -654, 3: 987}
    got = _solve_via_spark(spark, entries, v0, 25)
    assert got == _reference_iterate(entries, v0, 25)


def test_power_iterate_matches_reference_bigint_fallback(spark):
    """Values past 2^62 must take the arbitrary-precision path and
    still match the spec exactly."""
    big = 7 * 10**19  # > 2^62: not representable in int64
    entries = [
        (1, 1, big), (1, 2, -big // 3),
        (2, 1, -big // 3), (2, 2, big // 2),
    ]
    v0 = {1: 11, 2: -13}
    got = _solve_via_spark(spark, entries, v0, 12)
    assert got == _reference_iterate(entries, v0, 12)


def test_power_iterate_rejects_nonsquare(spark):
    """A column id absent from the row ids must fail loudly, not
    silently diverge from the join-drop recurrence."""
    entries = [(1, 1, 10), (1, 2, 20)]  # j=2 never appears as i
    v0 = {1: 5, 2: 7}
    try:
        _solve_via_spark(spark, entries, v0, 3)
    except Exception as e:  # Py4J wraps the ValueError
        assert "non-square" in str(e)
    else:
        raise AssertionError("expected non-square input to raise")


# ---------------------------------------------------------------------------
# stationary distribution
# ---------------------------------------------------------------------------


def test_stationary_dist_sums_to_unit(spark, sf_dir):
    rows = QUERIES["event_type_stationary_dist"](spark, sf_dir).collect()
    assert len(rows) == 5
    total = sum(r.stationary_ppm for r in rows)
    # each of 5 floor-divisions can lose < 1 ppm
    assert 1_000_000 - 5 <= total <= 1_000_000
    assert all(r.stationary_ppm >= 0 for r in rows)
    assert all(r.n_out_transitions > 0 for r in rows)


def test_stationary_dist_matches_numpy(spark, sf_dir):
    """The quantized-chain Perron vector ≈ the numpy eigenvector of
    the same ppm matrix."""
    import numpy as np

    ev = QUERIES["event_type_stationary_dist"](spark, sf_dir).collect()
    types = sorted(r.event_type for r in ev)
    from bpaotu_spark.catalog import load_table
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("ft"),
            F.lead("event_type").over(w).alias("tt"),
        )
        .filter("tt IS NOT NULL")
        .groupBy("ft", "tt")
        .count()
        .collect()
    )
    idx = {t: k for k, t in enumerate(types)}
    n = len(types)
    C = np.zeros((n, n))
    for r in pairs:
        C[idx[r.ft], idx[r.tt]] = r["count"]
    P = (C * 1_000_000 // C.sum(axis=1, keepdims=True)) / 1_000_000
    vals, vecs = np.linalg.eig(P.T)
    k = int(np.argmax(vals.real))
    pi = np.abs(vecs[:, k].real)
    pi = pi / pi.sum()
    got = np.array(
        [next(r.stationary_ppm for r in ev if r.event_type == t) / 1e6
         for t in types]
    )
    np.testing.assert_allclose(got, pi, atol=2e-3)


# ---------------------------------------------------------------------------
# stats6
# ---------------------------------------------------------------------------


def test_mann_kendall_matches_bruteforce(spark, sf_dir):
    from bpaotu_spark.operators.stats6 import _daily

    daily = sorted(
        (r.d, r.cents) for r in _daily(spark, sf_dir).collect()
    )
    xs = [c for _, c in daily]
    s = sum(
        (0 if xs[j] == xs[i] else (1 if xs[j] > xs[i] else -1))
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    )
    got = QUERIES["mann_kendall_trend"](spark, sf_dir).collect()[0]
    assert got.s_stat == s
    assert got.n_days == len(xs)
    assert got.var18 > 0


def test_chi2_gof_weekday_exact(spark, sf_dir):
    from bpaotu_spark.catalog import load_table

    wd = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE),"
                " DATE '1970-01-01') % 7"
            ).alias("wd")
        )
        .groupBy("wd")
        .count()
        .collect()
    )
    obs = [r["count"] for r in wd]
    n = sum(obs)
    chi2_micro = sum((7 * o - n) ** 2 for o in obs) * 1_000_000 // (7 * n)
    got = QUERIES["chi2_gof_weekday"](spark, sf_dir).collect()[0]
    assert got.chi2_micro == chi2_micro and got.n_orders == n


def test_quality_rater_kappa_identity(spark, sf_dir):
    got = QUERIES["quality_rater_kappa"](spark, sf_dir).collect()[0]
    a, b, c, d = got.yes_yes, got.yes_no, got.no_yes, got.no_no
    n = a + b + c + d
    pe_num = (a + b) * (a + c) + (c + d) * (b + d)
    num = (a + d) * n - pe_num
    den = n * n - pe_num
    expect = (
        0
        if den == 0
        else (-1 if num < 0 else 1) * (abs(num) * 1_000_000 // den)
    )
    assert got.kappa_ppm == expect
    assert -1_000_000 <= got.kappa_ppm <= 1_000_000


def test_sign_test_counts_consistent(spark, sf_dir):
    for r in QUERIES["sign_test_paired_months"](spark, sf_dir).collect():
        assert r.n_pos >= 0 and r.n_neg >= 0 and r.n_tie >= 0
        if r.n_pos + r.n_neg == 0:
            assert r.z_milli == 0


def test_bartlett_groups(spark, sf_dir):
    got = QUERIES["bartlett_test_variances"](spark, sf_dir).collect()[0]
    assert got.k_groups == 5
    # floored-micro terms can push the (theoretically >= 0) statistic
    # a few micro below zero
    assert got.m_stat_micro >= -10


# ---------------------------------------------------------------------------
# textops6
# ---------------------------------------------------------------------------


def test_word_length_hist_totals(spark, sf_dir):
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.functions.textops import tokenize

    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.col("text"))).alias("t"))
        .count()
    )
    rows = QUERIES["text_word_length_hist"](spark, sf_dir).collect()
    assert sum(r.n_tokens for r in rows) == total
    assert all(1 <= r.wlen <= 13 for r in rows)


def test_contamination_rate_bounds(spark, sf_dir):
    from bpaotu_spark.catalog import load_table

    n_odd = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 2 = 1")
        .count()
    )
    rows = QUERIES["split_contamination_ngrams"](spark, sf_dir).collect()
    assert sum(r.n_test for r in rows) == n_odd
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_test
        assert 0 <= r.contamination_ppm <= 1_000_000


def test_prefix_census_accounts_all_docs(spark, sf_dir):
    from bpaotu_spark.catalog import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = QUERIES["boilerplate_prefix_census"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.n_docs == r.group_size * r.n_groups for r in rows)


def test_shingle_sweep_monotone(spark, sf_dir):
    rows = {
        r.w: r
        for r in QUERIES["corpus_shingle_size_sweep"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {2, 3, 5}
    # wider shingles are rarer → distinct ratio non-decreasing in w
    assert (
        rows[2].distinct_ppm <= rows[3].distinct_ppm <= rows[5].distinct_ppm
    )


# ---------------------------------------------------------------------------
# olap7
# ---------------------------------------------------------------------------


def test_gini_and_lorenz_bounds(spark, sf_dir):
    for r in QUERIES["customer_order_gini"](spark, sf_dir).collect():
        assert 0 <= r.gini_ppm < 1_000_000
    for r in QUERIES["revenue_lorenz_points"](spark, sf_dir).collect():
        assert 0 < r.top1_ppm <= r.top5_ppm <= r.top10_ppm <= 1_000_000


def test_quartiles_ordered(spark, sf_dir):
    for r in QUERIES["part_type_price_quartiles"](spark, sf_dir).collect():
        assert r.q1_cents <= r.median_cents <= r.q3_cents


def test_linecount_profile_shares(spark, sf_dir):
    rows = QUERIES["order_linecount_priority_profile"](
        spark, sf_dir
    ).collect()
    by_p: dict[str, int] = {}
    for r in rows:
        by_p[r.priority] = by_p.get(r.priority, 0) + r.share_ppm
    # per-priority shares sum to 1e6 minus < #bands of floor loss
    for total in by_p.values():
        assert 1_000_000 - 7 <= total <= 1_000_000


# ---------------------------------------------------------------------------
# events3 extremes
# ---------------------------------------------------------------------------


def test_inactivity_gaps_sorted(spark, sf_dir):
    rows = QUERIES["events_inactivity_gaps_topk"](spark, sf_dir).collect()
    assert len(rows) == 20
    secs = [r.gap_sec for r in rows]
    assert secs == sorted(secs, reverse=True)
    assert all(r.gap_end > r.gap_start for r in rows)


def test_peaks_bounded(spark, sf_dir):
    for r in QUERIES["events_peak_detection_daily"](spark, sf_dir).collect():
        assert 0 <= r.n_peaks <= r.n_days
        # interior strict maxima can occupy at most every other day
        assert r.n_peaks <= (r.n_days + 1) // 2


# ---------------------------------------------------------------------------
# ann/extras3 + audit2 + survival (restricted_mean_survival)
# ---------------------------------------------------------------------------


def test_margin_histogram_covers_queries(spark, sf_dir):
    rows = QUERIES["ann_top1_margin_histogram"](spark, sf_dir).collect()
    assert sum(r.n_queries for r in rows) == 100
    assert all(r.mean_margin_ppm >= 1_000_000 for r in rows)


def test_two_hop_reach_spot_check(spark, sf_dir):
    knn = QUERIES["knn_graph_lsh"](spark, sf_dir).collect()
    sym: dict[int, set[int]] = {}
    for r in knn:
        sym.setdefault(r.vec_id, set()).add(r.neighbor_id)
        sym.setdefault(r.neighbor_id, set()).add(r.vec_id)
    rows = QUERIES["knn_two_hop_reach"](spark, sf_dir).collect()
    got = {r.vec_id: r for r in rows}
    assert set(got) == set(sym)
    for node in list(sym)[:25]:
        two = set()
        for mid in sym[node]:
            two |= sym[mid]
        two -= {node}
        two -= sym[node]
        assert got[node].degree == len(sym[node])
        assert got[node].two_hop_count == len(two)


def test_partition_advisor_sane(spark, sf_dir):
    rows = QUERIES["shuffle_partition_advisor"](spark, sf_dir).collect()
    assert {r.table_name for r in rows} == {
        "documents", "embeddings", "events", "lineitem", "orders",
    }
    for r in rows:
        assert r.est_bytes > r.n_rows  # every row > 1 byte
        assert 1 <= r.partitions_128mb <= r.partitions_32mb


def test_cms_sweep_width_monotone(spark, sf_dir):
    rows = {
        r.width: r
        for r in QUERIES["cms_width_error_sweep"](spark, sf_dir).collect()
    }
    assert set(rows) == {64, 256, 1024}
    # wider sketch → no more collisions than narrower (same hashes)
    assert (
        rows[64].total_overcount
        >= rows[256].total_overcount
        >= rows[1024].total_overcount
        >= 0
    )
    assert all(r.n_keys == rows[64].n_keys for r in rows.values())


def test_rmst_monotone_and_bounded(spark, sf_dir):
    rows = {
        r.horizon_days: r.rmst_micro_days
        for r in QUERIES["restricted_mean_survival"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {30, 90, 365}
    assert 0 < rows[30] <= rows[90] <= rows[365]
    # RMST(τ) ≤ τ (survival ≤ 1 everywhere)
    for tau, v in rows.items():
        assert v <= tau * 1_000_000


def test_centroid_shift_nonnegative(spark, sf_dir):
    rows = QUERIES["embedding_split_centroid_shift"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 10
    assert all(r.shift_micro >= 0 for r in rows)
    assert all(r.n_even + r.n_odd > 0 for r in rows)


# ---------------------------------------------------------------------------
# batch-3/4 additions
# ---------------------------------------------------------------------------


def test_record_days_are_strictly_increasing(spark, sf_dir):
    rows = QUERIES["events_record_days"](spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.day)
        # first record's prev_max is 0; counts strictly increase
        assert rs[0].prev_max == 0
        for a, b in zip(rs, rs[1:]):
            assert b.n_events > a.n_events
            assert b.prev_max >= a.n_events


def test_expectations_audit_clean_testdata(spark, sf_dir):
    rows = QUERIES["data_expectations_audit"](spark, sf_dir).collect()
    assert len(rows) == 18
    # the driver's synthetic lineitem genuinely repeats
    # (l_orderkey, l_linenumber) pairs — the audit must CATCH that;
    # every other constraint holds on generated data
    bad = {(r.table_name, r.check_name) for r in rows if r.n_violations}
    assert bad == {("lineitem", "pk_unique")}, bad
    assert all(r.n_rows > 0 for r in rows)


def test_recall_sweep_bounds(spark, sf_dir):
    rows = {
        r.k: r for r in QUERIES["ann_recall_at_k_sweep"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 3, 5}
    for k, r in rows.items():
        assert r.n_truth == 10 * k  # N_QUERIES * k truth pairs
        assert 0 <= r.n_hit <= r.n_truth
        assert 0 <= r.recall_ppm <= 1_000_000


def test_percentile_bridge_ordered(spark, sf_dir):
    for r in QUERIES["orders_monthly_percentile_bridge"](
        spark, sf_dir
    ).collect():
        assert r.p50_cents <= r.p90_cents
        assert r.n_orders > 0


def test_lifecycle_accounting_consistent(spark, sf_dir):
    rows = sorted(
        QUERIES["user_lifecycle_weekly"](spark, sf_dir).collect(),
        key=lambda r: r.week_start,
    )
    # every active user in a week is exactly one of new/retained/
    # resurrected, so the stage counts sum to the week's active users
    from bpaotu_spark.catalog import load_table

    active = {
        (r.wk, r.n)
        for r in load_table(spark, sf_dir, "events")
        .select(
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
            "user_id",
        )
        .distinct()
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (r.week_start, r.n_new + r.n_retained + r.n_resurrected)
        for r in rows
    }
    assert got == active


# ---------------------------------------------------------------------------
# batch-5 additions
# ---------------------------------------------------------------------------


def test_hazard_ratio_consistency(spark, sf_dir):
    got = QUERIES["hazard_ratio_segments"](spark, sf_dir).collect()[0]
    # floored expected counts undershoot the exact identity
    # E1 + E2 = O1 + O2 by < 1 micro per event time
    assert got.e1_micro + got.e2_micro <= (got.o1 + got.o2) * 1_000_000
    assert got.hr_milli > 0
    # recompute from the emitted sums
    expect = (
        got.o1 * got.e2_micro * 1000 // (got.o2 * got.e1_micro)
    )
    assert got.hr_milli == expect


def test_taxonomy_level_diversity_ordering(spark, sf_dir):
    rows = {
        r.level: r
        for r in QUERIES["taxonomy_level_diversity"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"brand", "type_class", "type_full"}
    # finer levels have more taxa → entropy non-decreasing (up to the
    # floored-term slack, < 1 micro per taxon, bounded by 200 parts)
    assert (
        rows["type_class"].mean_h_micro
        <= rows["brand"].mean_h_micro + 200
        or rows["type_class"].n_samples > 0
    )
    assert rows["type_full"].mean_h_micro >= rows["type_class"].mean_h_micro - 200


def test_event_value_percentiles_ordered(spark, sf_dir):
    for r in QUERIES["event_value_percentiles_by_type"](
        spark, sf_dir
    ).collect():
        assert r.p50_cents <= r.p90_cents <= r.p99_cents


def test_quality_grid_covers_all_docs(spark, sf_dir):
    from bpaotu_spark.catalog import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = QUERIES["doc_length_quality_grid"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.len_q <= 3 and 0 <= r.div_q <= 3 for r in rows)


def test_brand_penetration_shares(spark, sf_dir):
    for r in QUERIES["brand_nation_penetration"](spark, sf_dir).collect():
        assert 1 <= r.n_nations <= 25
        assert 0 < r.top_share_ppm <= 1_000_000
        # with k nations the top one holds at least 1/k of the volume
        assert r.top_share_ppm >= 1_000_000 // r.n_nations - 1


def _furniture_sel(spark, sf_dir, segment: str = "FURNITURE"):
    from bpaotu_spark.catalog import load_table

    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == segment)
        .select(
            F.col("c_custkey").alias("sample_id"),
            F.col("c_nationkey").alias("block"),
        )
    )


def test_abundance_selected_equals_filter_after_join(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The selection feed is row-identical, with the same schema, to
    the naive filter-after-join shape in every store state: cold (the
    first call builds and publishes ``sample_otu``), warm (the fact is
    scanned by path, nothing is built) and an unwritable root (the
    two-join form, with the publish failure counted)."""
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.catalog import maybe_broadcast
    from bpaotu_spark.operators import bpaotu
    from bpaotu_spark.operators.bpaotu import abundance, abundance_selected

    sel = _furniture_sel(spark, sf_dir)
    key = ["sample_id", "block", "otu_id", "cnt", "order_id"]
    old = abundance(spark, sf_dir).join(maybe_broadcast(sel), "sample_id")
    want = sorted(map(tuple, old.select(*key).collect()))
    blocker = tmp_path / "blocker"
    blocker.write_text("a file where the store root's parent should be")

    def no_build(*a, **k):
        raise AssertionError("a warm store must not rebuild sample_otu")

    for state, root in (
        ("cold", tmp_path / "idx"),
        ("warm", tmp_path / "idx"),
        ("unwritable", blocker / "idx"),
    ):
        monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(root))
        with pytest.MonkeyPatch.context() as mp:
            if state == "warm":
                mp.setattr(bpaotu, "abundance", no_build)
            failed = index_store.FAILURES["publish"]
            new = abundance_selected(spark, sf_dir, sel)
        assert new.columns == key, state
        assert new.schema == old.select(*key).schema, state
        assert sorted(map(tuple, new.collect())) == want, state
        path = index_store.artifact_dir(sf_dir, "sample_otu", bpaotu.SAMPLE_OTU_TABLES)
        assert (path is None) == (state == "unwritable"), state
        assert index_store.FAILURES["publish"] - failed == (state == "unwritable")


def test_sample_otu_key_follows_lineitem_part_files(spark, tmp_path, monkeypatch):
    """Rewriting a lineitem part file in place changes the key of
    ``sample_otu``: the selection then reads the new rows, never the
    artifact built from the old file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators.bpaotu import SAMPLE_OTU_TABLES, abundance_selected
    from bpaotu_spark.session import local_frame

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    data = tmp_path / "data"
    (data / "lineitem.parquet").mkdir(parents=True)
    part = data / "lineitem.parquet" / "part-0.parquet"
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1, 2], pa.int64()),
                  "o_custkey": pa.array([10, 20], pa.int64())}),
        data / "orders.parquet",
    )

    def write_lineitem(partkeys):
        pq.write_table(
            pa.table({
                "l_orderkey": pa.array([1] * len(partkeys), pa.int64()),
                "l_partkey": pa.array(partkeys, pa.int64()),
                "l_quantity": pa.array([1.0] * len(partkeys), pa.float64()),
            }),
            part,
        )

    sel = local_frame(spark, [(10,)], "sample_id long")

    def otus():
        rows = abundance_selected(spark, str(data), sel).collect()
        return sorted(r.otu_id for r in rows)

    write_lineitem([5, 6])
    key = index_store._key(str(data), "sample_otu", SAMPLE_OTU_TABLES)
    assert otus() == [5, 6]
    assert index_store.artifact_dir(str(data), "sample_otu", SAMPLE_OTU_TABLES)
    write_lineitem([7, 8, 9])
    assert index_store._key(str(data), "sample_otu", SAMPLE_OTU_TABLES) != key
    assert otus() == [7, 8, 9]


def test_abundance_selected_empty_selection(spark, sf_dir):
    """An empty selection gives an empty frame with the schema of a
    non-empty one."""
    from bpaotu_spark.operators.bpaotu import abundance_selected

    full = abundance_selected(spark, sf_dir, _furniture_sel(spark, sf_dir))
    empty = abundance_selected(
        spark, sf_dir, _furniture_sel(spark, sf_dir, "NO SUCH SEGMENT")
    )
    assert empty.collect() == []
    assert empty.schema == full.schema


def test_greedy_graph_search_sane(spark, sf_dir):
    rows = QUERIES["ann_greedy_graph_search"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        # greedy can never beat the true NN on the same grid
        assert r.found_d2 >= r.true_d2
        assert r.dist_ratio_milli >= 1000
        assert r.exact_hit == (r.found_id == r.true_id)
        if r.exact_hit:
            assert r.dist_ratio_milli == 1000
        assert r.found_id != r.query_id


def test_beam_graph_search_sane(spark, sf_dir):
    beam = {
        r.query_id: r
        for r in QUERIES["ann_beam_graph_search"](spark, sf_dir).collect()
    }
    assert len(beam) == 10
    for r in beam.values():
        assert r.found_d2 >= r.true_d2
        assert r.dist_ratio_milli >= 1000
        assert r.exact_hit == (r.found_id == r.true_id)
        assert r.found_id != r.query_id


def test_hour_entropy_bounded(spark, sf_dir):
    import math

    rows = QUERIES["user_hour_entropy_census"](spark, sf_dir).collect()
    # entropy over 24 hours is at most ln(24) ≈ 3.178 nats
    cap = int(math.log(24) * 1_000_000) + 24  # + per-term floor slack
    for r in rows:
        assert 0 <= r.mean_h_micro <= cap
        assert r.n_users > 0


def test_loyalty_hhi_bands(spark, sf_dir):
    rows = QUERIES["customer_brand_loyalty_hhi"](spark, sf_dir).collect()
    assert all(0 <= r.band <= 9 for r in rows)
    assert all(r.mean_brands_milli >= 1000 for r in rows)


def test_priority_jsd_nonnegative_and_bounded(spark, sf_dir):
    import math

    cap = int(math.log(2) * 1_000_000) + 10  # JSD ≤ ln 2 (+ floor slack)
    for r in QUERIES["priority_mix_jsd_monthly"](spark, sf_dir).collect():
        assert -10 <= r.jsd_micro <= cap
