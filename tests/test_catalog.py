"""The catalog's schema memo: ``load_table`` infers each table's parquet
schema once and later reads with ``.schema(...)``; the memo entry is
replaced when a file under the table path or an inference conf
changes, and the memo never grows past its cap."""

from __future__ import annotations

import os
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from bpaotu_spark import catalog


def _jobs_in_group(spark, group: str, fn):
    """Spark job ids launched by ``fn()`` under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_launches_no_job(spark, sf_dir):
    catalog.load_table(spark, sf_dir, "orders")
    df, jobs = _jobs_in_group(
        spark, "test_catalog.warm",
        lambda: catalog.load_table(spark, sf_dir, "orders"),
    )
    assert jobs == []
    assert df.count() > 0


def test_each_call_returns_a_fresh_frame(spark, sf_dir):
    """No DataFrame is reused: two loads of one table self-join on
    distinct attributes (one region row per key)."""
    a = catalog.load_table(spark, sf_dir, "region")
    b = catalog.load_table(spark, sf_dir, "region")
    assert a is not b
    n = a.count()
    assert a.join(b, a["r_regionkey"] == b["r_regionkey"]).count() == n


def test_rewritten_table_returns_new_schema(spark, tmp_path):
    path = catalog.table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert catalog.load_table(spark, str(tmp_path), "region").columns == ["a", "b"]

    os.remove(path)
    pq.write_table(
        pa.table({"a": [3], "c": [1.5], "d": ["z"]}), path
    )
    df = catalog.load_table(spark, str(tmp_path), "region")
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, "z")]
    # the new stamp replaced the old entry
    real = os.path.realpath(path)
    assert sum(k[0] == real for k in catalog._SCHEMAS) == 1


def test_binary_as_string_conf_changes_type(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1], "blob": pa.array([b"ab"], pa.binary())}),
        catalog.table_path(str(tmp_path), "documents"),
    )
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        off = catalog.load_table(spark, str(tmp_path), "documents")
        spark.conf.set(conf, "true")
        on = catalog.load_table(spark, str(tmp_path), "documents")
    finally:
        spark.conf.set(conf, old)
    assert dict(off.dtypes)["blob"] == "binary"
    assert dict(on.dtypes)["blob"] == "string"
    assert on.collect()[0]["blob"] == "ab"


def _inferred_with_casts(spark, sf_dir, name):
    """The un-memoized read: plain inference, then the per-column casts
    ``load_table`` applied before the memo existed."""
    df = spark.read.parquet(catalog.table_path(sf_dir, name))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_memoized_schema_matches_inference(spark, sf_dir, sf):
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name in catalog.TABLE_NAMES:
        got = catalog.load_table(spark, sf_dir, name)
        want = _inferred_with_casts(spark, sf_dir, name)
        assert got.dtypes == want.dtypes, name
        assert got.schema == want.schema, name


def test_memo_never_exceeds_cap(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", OrderedDict())
    monkeypatch.setattr(catalog, "SCHEMA_MEMO_CAP", 3)
    for name in catalog.TABLE_NAMES:
        catalog.load_table(spark, sf_dir, name)
        assert len(catalog._SCHEMAS) <= 3
    # oldest first out: the last three tables loaded remain
    kept = [os.path.basename(k[0]) for k in catalog._SCHEMAS]
    assert kept == [f"{n}.parquet" for n in catalog.TABLE_NAMES[-3:]]


def test_path_outside_local_fs_is_not_memoized(spark):
    assert catalog._memo_schema(spark, "s3a://bucket/region.parquet") is None
