"""Round-8 additions: maybe_broadcast size guard, distributed
theil-sen rank selection, kruskal-wallis decimal term."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_maybe_broadcast_hints_under_threshold(spark, sf_dir):
    """Small frame + default 10MB threshold -> hint applied (the
    returned frame is a new hinted plan, not the input object)."""
    from bpaotu_spark.catalog import load_table, maybe_broadcast

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    hinted = maybe_broadcast(cust, "test: sf0.001 customer ~ KBs")
    assert hinted is not cust
    # the hint must actually produce a broadcast join downstream
    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    plan = (
        od.join(hinted, od.o_custkey == hinted.c_custkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Broadcast" in plan


def test_maybe_broadcast_declines_past_threshold(spark, sf_dir):
    """Past the session threshold the hint is withheld (AQE decides),
    and a disabled (-1) threshold always withholds — the 100-TB
    guard the r7 VERDICT asked for."""
    from bpaotu_spark.catalog import load_table, maybe_broadcast

    cust = load_table(spark, sf_dir, "customer")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert maybe_broadcast(cust, "declines: est > 1 byte") is cust
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert maybe_broadcast(cust, "declines: disabled") is cust
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_theil_sen_rank_selection_matches_driver_sort(spark, sf_dir):
    """The distributed rank-selected lower median equals a plain
    global-sort pick of the same (slope, d_i, d_j) order."""
    from bpaotu_spark.operators.timeseries2 import theil_sen_revenue_trend
    from bpaotu_spark.catalog import load_table

    got = theil_sen_revenue_trend(spark, sf_dir).collect()[0]

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    rows = sorted(daily.collect())
    slopes = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            di, ci = rows[i]
            dj, cj = rows[j]
            slopes.append((float(cj - ci) / (dj - di).days, di, dj))
    slopes.sort()
    expect = round(slopes[(len(slopes) + 1) // 2 - 1][0], 4)
    assert got.sen_slope == expect
    assert got.n_pairs == len(slopes)


@pytest.mark.parametrize("n_days", [0, 1])
def test_theil_sen_fewer_than_two_days_matches_oracle(
    spark, sf_dir, tmp_path, n_days
):
    """With fewer than two order days the pair frame is empty: the op
    returns the oracle's row (n_pairs 0, NULL slope and S) instead of
    failing on the NULL sum."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bpaotu_spark.operators.timeseries2 import theil_sen_revenue_trend
    from bpaotu_spark.registry import ORACLES, load_all

    load_all()
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    day = pc.cast(orders.column("o_orderdate"), "date32")
    orders = orders.filter(pc.equal(day, day[0])).slice(0, n_days)
    pq.write_table(orders, tmp_path / "orders.parquet")

    sdf = theil_sen_revenue_trend(spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'"
    )
    cur = con.execute(ORACLES["theil_sen_revenue_trend"])
    assert sdf.columns == [d[0] for d in cur.description]
    assert got == [tuple(r) for r in cur.fetchall()]
    assert got[0][:4] == (n_days, 0, None, None)


def test_kruskal_wallis_term_is_exact_floor(spark, sf_dir):
    """The DECIMAL(38,0) compare-and-decrement term equals Python's
    exact integer floor division of r_x2^2 by 4*n_g."""
    from bpaotu_spark.operators.stats3 import _seg_cents

    j = _seg_cents(spark, sf_dir)
    import pyspark.sql.functions as F2
    from pyspark.sql import Window

    dv = j.groupBy("cents").agg(F2.count(F2.lit(1)).alias("cnt"))
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = dv.select(
        "cents",
        "cnt",
        (2 * F2.coalesce(F2.sum("cnt").over(wv), F2.lit(0)) + F2.col("cnt") + 1)
        .cast("bigint")
        .alias("rank_x2"),
    )
    grp = (
        j.groupBy("seg", "cents")
        .agg(F2.count(F2.lit(1)).alias("cnt_s"))
        .join(cum, "cents")
        .groupBy("seg")
        .agg(
            F2.sum("cnt_s").cast("bigint").alias("n_g"),
            F2.sum(F2.col("cnt_s") * F2.col("rank_x2"))
            .cast("bigint")
            .alias("r_x2"),
        )
    )
    expected = sum(
        (r.r_x2 * r.r_x2) // (4 * r.n_g) for r in grp.collect()
    )
    got = (
        grp.select(
            F2.expr("CAST(r_x2 AS DECIMAL(38,0)) * r_x2").alias("sq"),
            F2.expr("CAST(4 * n_g AS DECIMAL(38,0))").alias("den"),
        )
        .select(
            F2.expr(
                "CASE WHEN CAST(sq / den AS DECIMAL(38,0)) * den > sq"
                " THEN CAST(sq / den AS DECIMAL(38,0)) - 1"
                " ELSE CAST(sq / den AS DECIMAL(38,0)) END"
            ).alias("term_i")
        )
        .agg(F2.sum("term_i").alias("s"))
        .collect()[0]
        .s
    )
    assert int(got) == expected
