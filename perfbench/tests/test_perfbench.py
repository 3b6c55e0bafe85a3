"""Tests of the benchmark's own logic: request generation, statistics,
span arithmetic and the ``plans.*`` requests against DuckDB."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import datagen, stats, workloads as rq
from perfbench.spans import Span, self_times, union_length


def _pools_from(tables: dict) -> rq.Pools:
    return rq.Pools.from_tables(tables["customer"], tables["nation"], tables["region"], tables["part"])


@pytest.fixture(scope="module")
def pools() -> rq.Pools:
    return _pools_from(datagen.tables())


def _describe(workload, seed, pools, rounds=3):
    return [
        (r.rid, r.describe())
        for rnd in range(rounds)
        for r in rq.round_requests(workload, seed, rnd, pools)
    ]


def test_same_seed_same_requests(pools):
    assert _describe("portal", 7, pools) == _describe("portal", 7, pools)
    assert _describe("analysis", 7, None) == _describe("analysis", 7, None)


def test_other_seed_other_parameters(pools):
    def params(seed):
        return [d for _, d in _describe("portal", seed, pools) if "WHERE" in d]

    assert params(7) != params(8)


def test_every_round_holds_every_kind_once(pools):
    for workload in ("portal", "analysis"):
        for seed, rnd in ((3, 0), (3, 1), (8, 2)):
            kinds = [r.kind for r in rq.round_requests(workload, seed, rnd, pools)]
            assert sorted(kinds) == sorted(rq.MIX[workload])


def test_unshuffled_round_keeps_mix_order(pools):
    def fixed(seed):
        return [r.describe() for r in rq.round_requests("portal", seed, 0, pools, shuffled=False)]

    assert [r.kind for r in rq.round_requests("portal", 3, 0, pools, shuffled=False)] == list(rq.MIX["portal"])
    assert fixed(3) == fixed(3) and fixed(3) != fixed(8)


def test_generated_data_is_deterministic():
    a, b = datagen.tables(), datagen.tables()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["customer"].equals(datagen.tables(seed=1)["customer"])


def test_percentiles_carry_sample_counts():
    small = stats.latency_report([float(i) for i in range(1, 21)])
    assert small["p50"] == {"value": 10.5, "n": 20}
    assert "p90" not in small and "p90" in small["absent"]
    assert "n=20" in small["absent"]["p90"]

    big = stats.latency_report([float(i) for i in range(1, 101)])
    assert big["p90"] == {"value": 90.0, "n": 100, "beyond": 10}
    assert "p99" in big["absent"]

    assert stats.percentile([3.0, 1.0, 2.0], 50) == {"value": 2.0, "n": 3, "beyond": 1}
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_geomean_weighs_kinds_equally():
    assert stats.geomean([1.0, 4.0]) == {"value": pytest.approx(2.0), "n": 2}
    # halving the fast kind or the slow kind moves it by the same factor
    fast, slow = [0.5, 0.5], [4.0, 4.0]
    base = stats.geomean(fast + slow)["value"]
    assert stats.geomean([0.25, 0.25] + slow)["value"] == pytest.approx(base / 2 ** 0.5)
    assert stats.geomean(fast + [2.0, 2.0])["value"] == pytest.approx(base / 2 ** 0.5)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_median_round_ignores_one_stalled_call():
    calm = {"fast": [1.0, 1.0, 1.0], "slow": [4.0, 4.0, 4.0]}
    stalled = {"fast": [1.0, 9.0, 1.0], "slow": [4.0, 4.0, 12.0]}
    want = {"latency_s": pytest.approx(2.0), "requests_per_s": pytest.approx(2 / 5.0), "n": 6}
    assert stats.median_round(calm) == want
    assert stats.median_round(stalled) == want
    # a kind that got slower on most calls moves both
    slower = stats.median_round({"fast": [2.0, 2.0, 1.0], "slow": [4.0, 4.0, 4.0]})
    assert slower["latency_s"] == pytest.approx(8 ** 0.5)
    assert slower["requests_per_s"] == pytest.approx(2 / 6.0)
    with pytest.raises(ValueError):
        stats.median_round({"fast": []})


def test_union_length_merges_and_clips():
    assert union_length([(1, 3), (2, 5), (6, 7)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5), (6, 7)], 2.5, 6.5) == pytest.approx(3.0)
    assert union_length([], 0, 1) == 0
    assert union_length([(5, 9)], 0, 1) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "request", 0.0, 10.0, None, "r"),
        Span(1, "build", 1.0, 3.0, 0, "r"),
        Span(2, "catalog.load_table", 1.5, 2.0, 1, "r"),
        Span(3, "catalog.load_table", 1.8, 2.5, 1, "r"),  # overlaps its sibling
        Span(4, "execute", 2.0, 5.0, 0, "r"),  # overlaps build
        Span(5, "execute", 6.0, 7.0, 0, "r"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0)  # children cover [1,5] and [6,7]
    assert own[1] == pytest.approx(2.0 - 1.0)  # load_table spans cover [1.5,2.5]
    assert own[2] == pytest.approx(0.5)
    assert own[4] == pytest.approx(3.0)


def test_plans_requests_match_duckdb(spark, sf_dir):
    from perfbench.oracle import Oracle

    def read(t):
        return pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))

    pools = rq.Pools.from_tables(read("customer"), read("nation"), read("region"), read("part"))
    oracle = Oracle(sf_dir)
    seen = 0
    try:
        for seed in (1, 2):
            for req in rq.round_requests("portal", seed, 1, pools):
                if not req.kind.startswith("plans."):
                    continue
                df = rq.build(spark, sf_dir, req)
                rows = [tuple(r) for r in df.collect()]
                assert oracle.check(df.columns, rows, rq.oracle_sql(req), df.dtypes) is None, req.describe()
                seen += 1
    finally:
        oracle.close()
    assert seen == 2 * sum(1 for k in rq.MIX["portal"] if k.startswith("plans."))
