"""The index-lifecycle operators (``dedup/lifecycle.py``,
``ann/lifecycle.py``) against their DuckDB oracles.

* every lifecycle key on an empty store, so each builds, publishes and
  reads back the artifacts it serves;
* the consolidation census on a corpus whose MinHash family is empty
  (every document has two tokens, so none has a shingle): the dead
  share is NULL there, and so is the verdict.
"""

from __future__ import annotations

import duckdb
import pytest

from bpaotu_spark.catalog import TABLE_NAMES
from bpaotu_spark.registry import ORACLES, QUERIES, load_all
from tests.test_survival import _table_hash

LIFECYCLE_KEYS = (
    "dedup_incremental_minhash",
    "dedup_incremental_exact",
    "corpus_novelty_growth_curve",
    "dedup_incremental_simhash",
    "dedup_incremental_embedding",
    "dedup_tombstone_exact",
    "dedup_tombstone_minhash",
    "dedup_tombstone_simhash",
    "dedup_tombstone_embedding",
    "dedup_maintenance_cycle",
    "dedup_maintenance_cycle_minhash",
    "index_tombstone_debt",
    "dedup_index_compact",
    "dedup_epoch_promote",
    "dedup_epoch_incremental",
    "ann_graph_tombstone_repair",
    "ann_tombstone_search_recall",
    "ann_graph_consolidate_audit",
    "ann_consolidation_decision",
    "ann_epoch_promote",
    "ann_epoch_search_recall",
)
# each census key's verdict column
VERDICTS = {
    "index_tombstone_debt": "consolidate",
    "dedup_index_compact": "consolidated",
    "dedup_epoch_promote": "promoted",
}


@pytest.fixture(scope="module")
def cold_store(tmp_path_factory):
    """One empty store for the module: each artifact is built by its
    first consumer and read back by the others."""
    from bpaotu_spark.ann import index_store

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path_factory.mktemp("idx")))
        index_store._MEM.clear()
        yield
        index_store._MEM.clear()


def _assert_matches_oracle(spark, sf_dir: str, key: str) -> list[tuple]:
    load_all()
    sdf = QUERIES[key](spark, sf_dir)
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(ORACLES[key])
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(sdf.columns) == sorted(cols)
    assert len(got) == len(want)
    table_hash = _table_hash()
    assert table_hash(got, sdf.columns) == table_hash(want, cols), (got, want)
    return [dict(zip(sdf.columns, r)) for r in got]


@pytest.mark.parametrize("key", LIFECYCLE_KEYS)
def test_matches_oracle(spark, sf_dir, cold_store, key):
    assert _assert_matches_oracle(spark, sf_dir, key)


@pytest.fixture(scope="module")
def two_token_dir(tmp_path_factory, sf_dir):
    """``sf_dir`` with every document rewritten to two tokens."""
    import shutil

    out = tmp_path_factory.mktemp("two_token")
    for t in TABLE_NAMES:
        if t != "documents":
            shutil.copy(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    duckdb.execute(
        f"COPY (SELECT * REPLACE ('w' || doc_id || ' x' AS text)"
        f" FROM '{sf_dir}/documents.parquet')"
        f" TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    return str(out)


@pytest.mark.parametrize("key", sorted(VERDICTS))
def test_empty_family_matches_oracle(spark, two_token_dir, cold_store, key):
    rows = _assert_matches_oracle(spark, two_token_dir, key)
    verdict = {r["family"]: r[VERDICTS[key]] for r in rows}
    assert verdict["minhash"] is None
    assert verdict["exact"] is True
