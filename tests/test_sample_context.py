"""The stored SampleContext (``operators/bpaotu.sample_context``).

The sample pages filter one published artifact, ``sample_ctx``
(customer ⋈ nation ⋈ region), instead of re-joining the three tables
on every request:

* its five registered consumers equal their DuckDB oracles on an empty
  store (the build-and-publish path) and again warm, where each page
  plans an in-memory scan with no parquet scan of the three tables;
* a rewritten ``nation`` changes the artifact key and the rows served;
* a key evicted from the process tier is read back from disk without
  running the join again.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from bpaotu_spark.catalog import TABLE_NAMES
from bpaotu_spark.registry import ORACLES, QUERIES, load_all
from tests.test_survival import _table_hash

CONSUMERS = (
    "contextual_filter_and",
    "contextual_filter_or",
    "krona_rollup",
    "sample_summary",
    "contextual_filter_upset",
)
CTX_TABLES = ("customer", "nation", "region")


@pytest.fixture()
def fresh_store(tmp_path, monkeypatch):
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    yield
    index_store._MEM.clear()


def _count_builds(monkeypatch) -> dict:
    from bpaotu_spark.operators import bpaotu

    n = {"build": 0}
    real = bpaotu._build_sample_context

    def counting(spark, sf_dir):
        n["build"] += 1
        return real(spark, sf_dir)

    monkeypatch.setattr(bpaotu, "_build_sample_context", counting)
    return n


def _assert_matches_oracle(spark, sf_dir: str, key: str) -> None:
    sdf = QUERIES[key](spark, sf_dir)
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(ORACLES[key])
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(sdf.columns) == sorted(cols)
    assert got and len(got) == len(want), (key, len(got), len(want))
    table_hash = _table_hash()
    assert table_hash(got, sdf.columns) == table_hash(want, cols), (key, got, want)


def test_consumers_match_oracle_cold_then_warm(spark, sf_dir, fresh_store, monkeypatch):
    """The first consumer builds and publishes ``sample_ctx``; every
    later call, warm included, is served without another build, and all
    five consumers equal their oracles both times."""
    from bpaotu_spark.ann import index_store

    load_all()
    n = _count_builds(monkeypatch)
    assert index_store.artifact_dir(sf_dir, "sample_ctx", CTX_TABLES) is None
    for key in CONSUMERS:
        _assert_matches_oracle(spark, sf_dir, key)
    assert n["build"] == 1
    assert index_store.artifact_dir(sf_dir, "sample_ctx", CTX_TABLES)
    for key in CONSUMERS:
        _assert_matches_oracle(spark, sf_dir, key)
    assert n["build"] == 1
    plan = QUERIES["contextual_filter_and"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "BroadcastExchange" not in plan
    for t in CTX_TABLES:
        assert f"{t}.parquet" not in plan


def _rename_nation(sf_dir: str, nationkey: int, name: str) -> None:
    """Rewrite ``nation.parquet`` with one ``n_name`` changed (a new
    file renamed over the old, as a data refresh publishes it)."""
    path = os.path.join(sf_dir, "nation.parquet")
    t = pq.read_table(path)
    names = pc.if_else(
        pc.equal(t["n_nationkey"], nationkey), pa.scalar(name), t["n_name"]
    )
    t = t.set_column(t.schema.get_field_index("n_name"), "n_name", names)
    pq.write_table(t, path + ".new")
    os.replace(path + ".new", path)


def test_rewritten_nation_changes_key_and_rows(spark, sf_dir, fresh_store, tmp_path):
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators.bpaotu import sample_context

    load_all()
    data = tmp_path / "data"
    data.mkdir()
    for t in TABLE_NAMES:
        shutil.copy(f"{sf_dir}/{t}.parquet", data / f"{t}.parquet")
    data = str(data)

    before = sample_context(spark, data)
    nk, old = before.select("c_nationkey", "n_name").first()
    old_rows = before.filter(before.c_nationkey == nk).count()
    key = index_store._key(data, "sample_ctx", CTX_TABLES)

    _rename_nation(data, nk, "RENAMED")
    assert index_store._key(data, "sample_ctx", CTX_TABLES) != key
    after = sample_context(spark, data)
    assert after is not before
    served = {r.n_name for r in after.filter(after.c_nationkey == nk).select("n_name").collect()}
    assert served == {"RENAMED"} and old != "RENAMED"
    assert after.filter(after.n_name == "RENAMED").count() == old_rows
    assert after.filter(after.n_name == old).count() == 0
    _assert_matches_oracle(spark, data, "contextual_filter_upset")


def test_evicted_key_reads_disk_without_building(spark, sf_dir, fresh_store, monkeypatch):
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.operators.bpaotu import sample_context

    first = sorted(tuple(r) for r in sample_context(spark, sf_dir).collect())
    # a one-entry process tier: publishing any other artifact evicts it
    monkeypatch.setattr(index_store, "MEM_CAP", 1)
    index_store.cached_frame(spark, sf_dir, "filler", lambda: spark.range(3), table=CTX_TABLES)
    app = spark.sparkContext.applicationId
    assert (app, index_store._key(sf_dir, "sample_ctx", CTX_TABLES)) not in index_store._MEM

    n = _count_builds(monkeypatch)
    again = sorted(tuple(r) for r in sample_context(spark, sf_dir).collect())
    assert n["build"] == 0
    assert again == first
