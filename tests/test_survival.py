"""Degenerate reorder-gap inputs for the survival family.

Each case rewrites ``orders`` (the other tables are copied unchanged)
and compares the operator with its DuckDB oracle by the value hash of
``tools/check.py``:

* ``one_order`` — each customer keeps only its first order, so every
  gap is censored and none is observed;
* ``cadence`` — every customer reorders every 7 days and its last
  order falls on the global max date, so all observed gaps share one
  duration and nothing is censored. The log-rank variance and the
  rank regressions' x variance are 0 there; the oracle returns NULL.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from bpaotu_spark.catalog import TABLE_NAMES
from bpaotu_spark.registry import ORACLES, QUERIES, load_all

SURVIVAL_KEYS = (
    "kaplan_meier_order_gaps",
    "nelson_aalen_hazard",
    "restricted_mean_survival",
    "logrank_reorder_test",
    "hazard_ratio_segments",
    "competing_risks_cif",
    "weibull_rank_regression",
    "loglogistic_rank_regression",
)

# DuckDB rewrites of orders ({src} = the source parquet); o_orderdate
# stays TIMESTAMP
ORDERS_SQL = {
    "one_order": """
SELECT * FROM '{src}'
QUALIFY row_number() OVER (PARTITION BY o_custkey
  ORDER BY o_orderdate, o_orderkey) = 1
""",
    "cadence": """
SELECT * REPLACE (
  (SELECT max(o_orderdate) FROM '{src}')
    - to_days(CAST(7 * (row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) - 1) AS INTEGER))
  AS o_orderdate)
FROM '{src}'
""",
}


def _table_hash():
    from tools.check import table_hash

    return table_hash


def _degenerate_dir(sf_dir: str, out, shape: str) -> str:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        if t != "orders":
            shutil.copy(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    sql = ORDERS_SQL[shape].format(src=f"{sf_dir}/orders.parquet")
    con.execute(f"COPY ({sql}) TO '{out}/orders.parquet' (FORMAT PARQUET)")
    return str(out)


@pytest.mark.parametrize("key", SURVIVAL_KEYS)
@pytest.mark.parametrize("shape", sorted(ORDERS_SQL))
def test_degenerate_orders_match_oracle(spark, sf_dir, tmp_path, shape, key):
    load_all()
    case_dir = _degenerate_dir(sf_dir, tmp_path, shape)
    sdf = QUERIES[key](spark, case_dir)
    got = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{case_dir}/{t}.parquet'"
        )
    cur = con.execute(ORACLES[key])
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(sdf.columns) == sorted(cols)
    assert len(got) == len(want)
    table_hash = _table_hash()
    assert table_hash(got, sdf.columns) == table_hash(want, cols), (got, want)
