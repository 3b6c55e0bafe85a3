"""Round-11 tests: ADVICE fixes (tile-census long docs, gated write
overwrite safety, gated_merge_upsert arity-before-effect) and the new
round-11 surfaces (persisted ANN index, multi-layer HNSW, permutation
p-values, JDBC fallback, stream-stream interval join twin)."""

import pyspark.sql.functions as F
import pytest


def _write_documents(tmp_path, docs):
    """docs: list[(doc_id, source, text)] -> parquet dir usable as
    sf_dir for the documents table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "source": pa.array([d[1] for d in docs], pa.string()),
            "text": pa.array([d[2] for d in docs], pa.string()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_tile_census_long_document_engine_parity(spark, tmp_path):
    """A document far beyond the old 64-tile oracle cap (1280 words)
    must count identically in both engines: the DuckDB bound is now
    derived from the data (r10 ADVICE item 4)."""
    import duckdb

    long_doc = " ".join(f"w{i % 37}" for i in range(3000))  # 150 tiles
    short_doc = " ".join(f"s{i}" for i in range(25))  # 1 tile
    tiny_doc = "a b c"  # below one tile, filtered
    sf = _write_documents(
        tmp_path,
        [(1, "web", long_doc), (2, "web", short_doc), (3, "books", tiny_doc)],
    )

    from bpaotu_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    got = [
        tuple(r)
        for r in QUERIES["text_tile_dedup_census"](spark, sf).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = [
        tuple(r)
        for r in con.execute(ORACLES["text_tile_dedup_census"]).fetchall()
    ]
    assert got == want
    web = [r for r in got if r[0] == "web"][0]
    assert web[2] == 151  # n_tiles: 150 + 1 — nothing capped at 64


def test_gated_write_overwrite_failure_keeps_old_data(spark, tmp_path):
    """If the publish rename fails in overwrite mode, the PREVIOUS
    data must survive (r10 ADVICE item 2: old target is renamed aside
    and restored, never deleted before the new data is in place)."""
    from bpaotu_spark.io import gate as gate_mod

    path = str(tmp_path / "t")
    df1 = spark.range(5).select(F.col("id").alias("v"))
    gate_mod.gated_write(df1, path, rules={"neg": "v < 0"})
    assert spark.read.parquet(path).count() == 5

    df2 = spark.range(7).select(F.col("id").alias("v"))

    class _FailRenameFS:
        """Wrap the Hadoop FS: the rename INTO the final target fails
        once; everything else passes through."""

        def __init__(self, fs, target):
            self._fs = fs
            self._target = target

        def rename(self, src, dst):
            if str(dst).endswith(self._target.rstrip("/").split("/")[-1]) \
                    and gate_mod._STAGING_SUFFIX in str(src):
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs_for = gate_mod._fs_for

    def patched(df, p):
        fs, jpath_cls, jtarget = real_fs_for(df, p)
        return _FailRenameFS(fs, p), jpath_cls, jtarget

    gate_mod._fs_for = patched
    try:
        with pytest.raises(IOError):
            gate_mod.gated_write(
                df2, path, rules={"neg": "v < 0"}, mode="overwrite"
            )
    finally:
        gate_mod._fs_for = real_fs_for
    # the failed publish did NOT destroy the previous table
    assert spark.read.parquet(path).count() == 5
    # and a later healthy overwrite still works and cleans up
    gate_mod.gated_write(df2, path, rules={"neg": "v < 0"}, mode="overwrite")
    assert spark.read.parquet(path).count() == 7
    import os

    leftovers = [
        d
        for d in os.listdir(tmp_path)
        if gate_mod._BACKUP_SUFFIX in d or gate_mod._STAGING_SUFFIX in d
    ]
    assert leftovers == []


def test_gated_merge_upsert_arity_checked_before_any_effect(spark, tmp_path):
    """Two partition columns must raise BEFORE the merge mutates the
    lake (r10 ADVICE item 1: no partial-effect failure)."""
    from bpaotu_spark.io.merge import gated_merge_upsert

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "2024", 10.0), (2, "2024", 20.0)], "k long, y string, v double"
    )
    base.write.partitionBy("y").parquet(path)
    delta = spark.createDataFrame([(1, "2024", 99.0)], "k long, y string, v double")
    with pytest.raises(ValueError, match="exactly one"):
        gated_merge_upsert(
            spark,
            path,
            delta,
            key_cols=("k",),
            partition_cols=("y", "k"),
            rules={"neg": "v < 0"},
        )
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 20.0}  # untouched — no partial merge


# ---------------------------------------------------------------------------
# Persisted ANN index (round-11 item 2): build-once / search-many
# ---------------------------------------------------------------------------


def test_ann_index_persisted_vs_inline_parity(spark, sf_dir, tmp_path, monkeypatch):
    """The persisted edge index must be row-identical to the inline
    construction (reference parity: bpaotu's BLAST queries a pre-built
    index, they never reconstruct it per request)."""
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.graphconn import connected_search_edges

    index_store._MEM.clear()
    inline = {
        (r.vec_id, r.neighbor_id)
        for r in connected_search_edges(spark, sf_dir).collect()
    }
    cached = {
        (r.vec_id, r.neighbor_id)
        for r in index_store.connected_edges_cached(spark, sf_dir).collect()
    }
    assert cached == inline and len(cached) > 0


def test_ann_index_builds_once_then_reads(spark, sf_dir, tmp_path, monkeypatch):
    """Second call in-session: memory tier, zero builds. Fresh 'process'
    (cleared memory tier): disk tier, still zero builds."""
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    from bpaotu_spark.ann import graphconn, index_store

    index_store._MEM.clear()
    calls = {"n": 0}
    real = graphconn.connected_search_edges

    def counting(spark_, sf_dir_):
        calls["n"] += 1
        return real(spark_, sf_dir_)

    monkeypatch.setattr(graphconn, "connected_search_edges", counting)
    e1 = index_store.connected_edges_cached(spark, sf_dir)
    assert calls["n"] == 1
    index_store.connected_edges_cached(spark, sf_dir)
    assert calls["n"] == 1  # memory tier
    index_store._MEM.clear()  # simulate a new process
    e3 = index_store.connected_edges_cached(spark, sf_dir)
    assert calls["n"] == 1  # disk tier — the index was READ, not rebuilt
    assert e3.count() == e1.count()


def test_ann_index_unwritable_cache_still_correct(spark, sf_dir, monkeypatch):
    """Persistence is an optimization: an unwritable cache root must
    degrade to build-only with identical results."""
    monkeypatch.setenv(
        "BPAOTU_ANN_INDEX_DIR", "/proc/definitely/not/writable"
    )
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.graphconn import connected_search_edges

    index_store._MEM.clear()
    got = index_store.connected_edges_cached(spark, sf_dir).count()
    want = connected_search_edges(spark, sf_dir).count()
    assert got == want
    index_store._MEM.clear()


def test_hnsw_multilayer_beats_flat_hop_budget(spark, sf_dir):
    """The hierarchical search must reach flat-beam recall at HALF the
    base-layer hops (the r10 verdict's acceptance bar). At sf0.001 we
    assert the mechanical contract: report shape, self-exclusion, and
    found_d2 >= true_d2 (found can never beat the exact NN)."""
    from bpaotu_spark.ann.hnswml import _ML_HOPS, ann_hnsw_multilayer_search
    from bpaotu_spark.ann.extras3 import _BEAM_HOPS

    assert _ML_HOPS * 2 <= _BEAM_HOPS  # half the expensive hops
    rows = ann_hnsw_multilayer_search(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.found_id != r.query_id and r.true_id != r.query_id
        assert r.found_d2 >= r.true_d2
        assert r.dist_ratio_milli >= 1000
        assert r.exact_hit == (r.found_id == r.true_id)
    # the routing scan must place the walk close: dist ratio bounded
    assert sum(1 for r in rows if r.exact_hit) >= 5


# ---------------------------------------------------------------------------
# JDBC resolution (round-11 item 6): DB-API -> Arrow -> DataFrame
# ---------------------------------------------------------------------------


def test_read_dbapi_sqlite_roundtrip(spark, tmp_path):
    """The jar-free database path: read a sqlite table into a
    DataFrame, write a DataFrame back through DB-API, read it again —
    values and batching behaviour verified (batch_size smaller than
    the row count forces multi-chunk Arrow assembly)."""
    import sqlite3

    from bpaotu_spark.io.readers import read_dbapi, write_dbapi

    db = str(tmp_path / "ref.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE otu (otu_id INTEGER, name TEXT, abundance REAL)"
    )
    rows = [(i, f"otu_{i}", float(i) * 1.5) for i in range(257)]
    conn.executemany("INSERT INTO otu VALUES (?, ?, ?)", rows)
    conn.commit()
    conn.close()

    def connect():
        return sqlite3.connect(db)

    df = read_dbapi(
        spark, connect, "SELECT * FROM otu ORDER BY otu_id", batch_size=100
    )
    got = [(r.otu_id, r.name, r.abundance) for r in df.collect()]
    assert sorted(got) == rows
    assert dict(df.dtypes)["otu_id"] == "bigint"

    # write path: project + filter in Spark, land it back in sqlite
    out = df.filter("otu_id < 10").select("otu_id", "name")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE otu_small (otu_id INTEGER, name TEXT)")
    conn.commit()
    conn.close()
    n = write_dbapi(out, connect, "otu_small", batch_size=4)
    assert n == 10
    back = read_dbapi(spark, connect, "SELECT * FROM otu_small")
    assert back.count() == 10
    assert {r.name for r in back.collect()} == {f"otu_{i}" for i in range(10)}

    # a nullable INTEGER column stays bigint with its NULL (a pandas
    # round trip would give 10.0, None, 30.0 as double)
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE gaps (k INTEGER, v INTEGER)")
    conn.executemany(
        "INSERT INTO gaps VALUES (?, ?)", [(1, 10), (2, None), (3, 30)]
    )
    conn.commit()
    conn.close()
    gaps = read_dbapi(spark, connect, "SELECT * FROM gaps ORDER BY k")
    assert dict(gaps.dtypes)["v"] == "bigint"
    assert [r.v for r in gaps.collect()] == [10, None, 30]


def test_read_dbapi_empty_result(spark, tmp_path):
    import sqlite3

    from bpaotu_spark.io.readers import read_dbapi

    db = str(tmp_path / "e.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (a INTEGER, b TEXT)")
    conn.commit()
    conn.close()
    df = read_dbapi(spark, lambda: sqlite3.connect(db), "SELECT * FROM t")
    assert df.columns == ["a", "b"]
    assert df.count() == 0


def test_purchases_after_signup_stream_matches_batch_twin(spark, sf_dir):
    """The watermarked stream-stream interval join must produce, after
    per-signup aggregation, exactly the frame the driver hash-verifies
    (events_purchases_after_signup) — the r11 '+1 streaming driver
    key' acceptance check."""
    import pyspark.sql.functions as F

    from bpaotu_spark.registry import QUERIES, load_all
    from bpaotu_spark.streaming.jobs import (
        purchases_after_signup_stream,
        read_events_stream,
        run_to_memory,
    )

    load_all()
    ev = read_events_stream(spark, sf_dir)
    # append mode: stream-stream inner joins emit matched pairs as
    # they resolve; a drained availableNow source resolves everything
    run_to_memory(
        purchases_after_signup_stream(ev), "pas_sink", complete=False
    )
    got = {
        (r.signup_id, r.user_id, r.signup_ms, r.n_purchases,
         r.first_purchase_ms)
        for r in (
            spark.table("pas_sink")
            .groupBy(
                "signup_id",
                "user_id",
                F.unix_millis("ts_s").alias("signup_ms"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
                F.min(F.unix_millis("ts_p"))
                .cast("bigint")
                .alias("first_purchase_ms"),
            )
            .collect()
        )
    }
    want = {
        (r.signup_id, r.user_id, r.signup_ms, r.n_purchases,
         r.first_purchase_ms)
        for r in QUERIES["events_purchases_after_signup"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert want, "no signup->purchase conversions in this data"


def test_pq_index_builds_once_then_reads(spark, sf_dir, tmp_path, monkeypatch):
    """The PQ codebook/code tables persist through the index store:
    a second training call (same data) must hit the cache, and the
    cached frames must equal the inline build."""
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    from bpaotu_spark.ann import index_store
    from bpaotu_spark.ann.core import _pq_train

    index_store._MEM.clear()
    _, _, c1a, a2a = _pq_train(spark, sf_dir)
    got_codes_a = {(r.vec_id, r.m, r.cid) for r in a2a.collect()}
    # second call, fresh 'process' (memory tier cleared): disk tier
    index_store._MEM.clear()
    _, _, c1b, a2b = _pq_train(spark, sf_dir)
    got_codes_b = {(r.vec_id, r.m, r.cid) for r in a2b.collect()}
    assert got_codes_a == got_codes_b and got_codes_a
    assert {tuple(r.c) for r in c1a.collect()} == {
        tuple(r.c) for r in c1b.collect()
    }
    import os

    entries = os.listdir(tmp_path / "idx")
    assert any(e.startswith("pq_codebook-") for e in entries)
    assert any(e.startswith("pq_codes-") for e in entries)


def test_build_ann_index_manifest_and_idempotence(spark, sf_dir, tmp_path, monkeypatch):
    """One build call persists every ANN artifact; a second call is
    read-only (no builder invocations) and returns the same manifest."""
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    from bpaotu_spark.ann import graphconn, index_store

    index_store._MEM.clear()
    m1 = index_store.build_ann_index(spark, sf_dir)
    assert m1["conn_edges"] > 0 and m1["pq_codes"] > 0
    assert m1["opq_codebook"] > 0 and m1["ivfadc_car_np4"] > 0
    import os

    names = {e.split("-")[0] for e in os.listdir(tmp_path / "idx")}
    assert {"conn_edges", "pq_codebook", "pq_codes", "ivfadc_codebook",
            "ivfadc_codes", "opq_permuted", "opq_codebook",
            "opq_codes"} <= names

    calls = {"n": 0}
    real = graphconn.connected_search_edges

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(graphconn, "connected_search_edges", counting)
    index_store._MEM.clear()  # fresh 'process': disk tier only
    m2 = index_store.build_ann_index(spark, sf_dir)
    assert m2 == m1
    assert calls["n"] == 0  # nothing was rebuilt


def test_jl_pool_recall_monotone_in_pool_size(spark, sf_dir):
    """The sweep's defining property: a larger JL candidate pool can
    only raise recall (found sets are nested), and the biggest pool
    must beat the raw top-k (the r10 negative result's remedy path)."""
    from bpaotu_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["ann_jl_pool_recall_sweep"](spark, sf_dir).collect()
    by_k: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_k.setdefault(r.k, []).append((r.pool, r.recall_ppm))
    assert set(by_k) == {1, 3, 5}
    for k, series in by_k.items():
        series.sort()
        recalls = [rec for _, rec in series]
        assert recalls == sorted(recalls), (k, series)  # monotone
