"""Degenerate study selections for the two permutation tests.

Each case rewrites ``customer`` (the other tables are copied unchanged)
and compares the operator with its DuckDB oracle by the value hash of
``tools/check.py``. The study selection is ``ecology._ANOSIM_SEL``:
segments BUILDING and MACHINERY, nation keys below 5.

* ``one_per_group`` — one selected sample per label: the one pair is
  between groups, so no permutation has a within-group pair;
* ``two_per_group`` — two selected samples per label;
* ``one_segment`` — only BUILDING samples are selected;
* ``empty_sel`` — no customer is selected.

Every case reads a fresh store directory, so the selection and the
distance pairs are built on the store-miss path and then read from
the published files (no case falls back to Spark).
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from bpaotu_spark.catalog import TABLE_NAMES
from bpaotu_spark.operators.ecology import _ANOSIM_SEL as _SEL
from bpaotu_spark.registry import ORACLES, QUERIES, load_all
from tests.test_survival import _table_hash

PERM_KEYS = ("anosim_permutation_p", "permanova_permutation_p")

# DuckDB rewrites of customer ({src} = the source parquet): move every
# selected customer that is not kept to nation 5, out of the selection
_KEEP = {
    "one_per_group": f"""
{_SEL} AND row_number() OVER (PARTITION BY ({_SEL}), c_mktsegment
  ORDER BY c_custkey) <= 1""",
    "two_per_group": f"""
{_SEL} AND row_number() OVER (PARTITION BY ({_SEL}), c_mktsegment
  ORDER BY c_custkey) <= 2""",
    "one_segment": f"{_SEL} AND c_mktsegment = 'BUILDING'",
    "empty_sel": "false",
}


def _case_dir(sf_dir: str, out, shape: str) -> str:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        if t != "customer":
            shutil.copy(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    src = f"{sf_dir}/customer.parquet"
    con.execute(
        f"""COPY (
  SELECT * REPLACE (
    CASE WHEN ({_SEL}) AND NOT ({_KEEP[shape]}) THEN 5
         ELSE c_nationkey END AS c_nationkey)
  FROM '{src}'
) TO '{out}/customer.parquet' (FORMAT PARQUET)"""
    )
    return str(out)


@pytest.fixture()
def fresh_store(tmp_path, monkeypatch):
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    yield
    index_store._MEM.clear()


@pytest.mark.parametrize("key", PERM_KEYS)
@pytest.mark.parametrize("shape", sorted(_KEEP))
def test_degenerate_selection_matches_oracle(
    spark, sf_dir, tmp_path, fresh_store, shape, key
):
    from bpaotu_spark.ann import walk

    load_all()
    data = tmp_path / "data"
    data.mkdir()
    case_dir = _case_dir(sf_dir, data, shape)
    before = walk.FALLBACKS.copy()
    sdf = QUERIES[key](spark, case_dir)
    got = [tuple(r) for r in sdf.collect()]
    assert not walk.FALLBACKS - before  # even an empty artifact reads through Arrow

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


def test_foreign_label_raises():
    """The masks encode exactly two labels; a third is a named error,
    not a silent relabel."""
    from bpaotu_spark.operators.permtest import _perm_masks

    with pytest.raises(ValueError, match="AUTOMOBILE"):
        _perm_masks([(1, "BUILDING"), (2, "AUTOMOBILE")])


def test_masks_follow_the_oracle_draw(spark, sf_dir):
    """Bit b of each driver mask equals the label the oracle's
    ``_PERM_CTES`` assign under draw b (rank-matched md5 order)."""
    from bpaotu_spark.operators.permtest import (
        _MASK_GRP,
        _PERM_CTES,
        _collect_sel,
        _perm_masks,
    )

    masks = _perm_masks(_collect_sel(spark, sf_dir))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    rows = con.execute(
        f"WITH sel AS (SELECT c_custkey AS sample_id, c_mktsegment AS grp"
        f" FROM customer WHERE {_SEL}), {_PERM_CTES}"
        " SELECT b, sample_id, grp FROM pa"
    ).fetchall()
    assert rows and len(rows) == 33 * len(masks)
    for b, sid, grp in rows:
        assert (masks[sid] >> b) & 1 == int(grp == _MASK_GRP)
