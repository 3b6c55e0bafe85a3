"""Round-16 focused tests: the driver-frontier walk helpers
(``bpaotu_spark/ann/walk.py``) that replaced the per-hop
localCheckpoint loops of the seven graph-search operators."""

from __future__ import annotations

import pyspark.sql.functions as F


def _eq(spark, sf_dir):
    from bpaotu_spark.catalog import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000),
        ).alias("q"),
    )


def test_d2_exact_matches_grid_d2(spark, sf_dir):
    """The driver-side scorer is bit-equal to the Catalyst fold on
    real quantized vectors (exact integer math on both sides)."""
    from bpaotu_spark.dedup.core import grid_d2
    from bpaotu_spark.ann.walk import d2_exact

    eq = _eq(spark, sf_dir).filter(F.col("vec_id") < 20)
    rows = {int(r[0]): [int(x) for x in r[1]] for r in eq.collect()}
    a = eq.select(F.col("vec_id").alias("ia"), F.col("q").alias("qa"))
    b = eq.select(F.col("vec_id").alias("ib"), F.col("q").alias("qb"))
    spark_d2 = {
        (int(r[0]), int(r[1])): int(r[2])
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", grid_d2(F.col("qa"), F.col("qb"), dim=None)
                .cast("long").alias("d2"))
        .collect()
    }
    assert spark_d2, "no pairs scored"
    for (i, j), v in spark_d2.items():
        assert d2_exact(rows[i], rows[j]) == v


def test_beam_walk_hop_budget_is_a_fixed_point(spark, sf_dir):
    """Early termination is exact: running the walk with a far larger
    hop budget returns the identical frontier (an unchanged frontier
    is a fixed point of every remaining unrolled hop)."""
    from bpaotu_spark.ann.index_store import connected_edges_cached
    from bpaotu_spark.ann.walk import beam_walk, collect_qv, entry_init

    eq = _eq(spark, sf_dir)
    knn = connected_edges_cached(spark, sf_dir)
    qs = eq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    qmap = collect_qv(qs)
    eid, ed2 = entry_init(eq, qmap)
    init = {q: [(ed2[q], eid)] for q in qmap}
    f8 = beam_walk(spark, knn, cq, qmap, init, beam=12, hops=8)
    f28 = beam_walk(spark, knn, cq, qmap, init, beam=12, hops=28)
    assert f8 == f28


def test_walks_identical_with_chunked_in_lists(spark, sf_dir, monkeypatch):
    """Splitting the fetch id sets into 2-id ``IN`` chunks changes
    nothing: beam and greedy frontiers equal the one-chunk walks."""
    from bpaotu_spark.ann import walk
    from bpaotu_spark.ann.index_store import connected_edges_cached

    eq = _eq(spark, sf_dir)
    knn = connected_edges_cached(spark, sf_dir)
    qs = eq.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    cq = eq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    qmap = walk.collect_qv(qs)
    eid, ed2 = walk.entry_init(eq, qmap)

    def both():
        beam = walk.beam_walk(
            spark, knn, cq, qmap, {q: [(ed2[q], eid)] for q in qmap},
            beam=6, hops=3,
        )
        greedy = walk.greedy_walk(
            spark, knn, cq, qmap, {q: (eid, ed2[q]) for q in qmap}, hops=3
        )
        return beam, greedy

    whole = both()
    n_in = {"n": 0}
    real_fetch = walk._fetch

    def counting(df, col, ids):
        n_in["n"] += -(-len(ids) // walk._IN_CHUNK)
        return real_fetch(df, col, ids)

    monkeypatch.setattr(walk, "_IN_CHUNK", 2)
    monkeypatch.setattr(walk, "_fetch", counting)
    assert both() == whole
    assert n_in["n"] > 4  # the id sets really were split


def test_greedy_tie_keeps_current_node(spark):
    """Greedy moves ONLY on a strict d2 improvement: a candidate at
    the same d2 with a smaller id must not displace cur (the original
    CASE WHEN b_d2 < cur_d2 rule — a beam of width 1 would move)."""
    from bpaotu_spark.ann.walk import greedy_walk

    # node 5 (cur) and node 3 both sit at d2=1 from the query vector
    # [0, 0]; 3 < 5 would win a (d2, id) sort, but must not be taken.
    edges = spark.createDataFrame(
        [(5, 3), (3, 5)], "vec_id long, neighbor_id long"
    )
    cq = spark.createDataFrame(
        [(3, [1, 0]), (5, [0, 1])], "cand_id long, cq array<bigint>"
    )
    qmap = {0: [0, 0]}
    out = greedy_walk(
        spark, edges, cq, qmap, {0: (5, 1)}, hops=6
    )
    assert out == {0: (5, 1)}


def test_greedy_walk_strictly_improves_to_local_min(spark):
    """On a path graph 9-4-2-1 with monotonically improving d2 the
    walk reaches the local minimum and reports its exact distance."""
    from bpaotu_spark.ann.walk import greedy_walk

    edges = spark.createDataFrame(
        [(9, 4), (4, 9), (4, 2), (2, 4), (2, 1), (1, 2)],
        "vec_id long, neighbor_id long",
    )
    vecs = {9: [9, 0], 4: [4, 0], 2: [2, 0], 1: [1, 0]}
    cq = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "cand_id long, cq array<bigint>"
    )
    qmap = {0: [0, 0]}
    out = greedy_walk(spark, edges, cq, qmap, {0: (9, 81)}, hops=12)
    assert out == {0: (1, 1)}


def test_walk_report_integer_div_semantics(spark):
    """dist_ratio_milli uses non-negative integer division — the
    literal report must match Spark's `div` on the same inputs."""
    from bpaotu_spark.ann.walk import walk_report

    found = {0: (7, 0), 1: (8, 123456)}
    truth = {0: (7, 0), 1: (9, 1000)}
    df = walk_report(spark, found, truth)
    rows = {int(r["query_id"]): r for r in df.collect()}
    assert rows[0]["exact_hit"] is True
    assert rows[0]["dist_ratio_milli"] == 0  # 0 * 1000 div max(0,1)
    assert rows[1]["exact_hit"] is False
    assert rows[1]["dist_ratio_milli"] == 123456 * 1000 // 1000
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "bigint", "bigint", "bigint", "bigint", "boolean",
        "bigint",
    ]


def test_walk_report_skips_query_without_truth(spark):
    """A query with no truth row has no report row — the oracles
    inner-join found with truth — instead of raising KeyError."""
    from bpaotu_spark.ann.walk import walk_report

    found = {0: (7, 0), 1: (8, 5), 2: (4, 9)}
    truth = {0: (7, 0), 2: (3, 3)}
    rows = walk_report(spark, found, truth).collect()
    assert [int(r["query_id"]) for r in rows] == [0, 2]


def test_hnsw_layered_search_cold_store_matches_oracle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """On an empty index store the op builds every artifact itself,
    the layer-1 k-NN graph included, and must still equal its DuckDB
    oracle."""
    import duckdb

    from bpaotu_spark.ann import index_store
    from bpaotu_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    try:
        sdf = QUERIES["ann_hnsw_layered_search"](spark, sf_dir)
        got = sorted(tuple(r) for r in sdf.collect())
    finally:
        index_store._MEM.clear()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    cur = con.execute(ORACLES["ann_hnsw_layered_search"])
    assert sdf.columns == [d[0] for d in cur.description]
    want = sorted(tuple(r) for r in cur.fetchall())
    assert got and got == want
