"""Sources/sinks: round-trips, partitioned write + pruning, export shapes."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from bpaotu_spark.io.readers import (
    read_csv,
    read_jdbc,
    read_json,
    write_csv,
    write_json,
    write_parquet,
)
from bpaotu_spark.registry import QUERIES, load_all

load_all()


def test_parquet_partitioned_write_and_pruning(spark, sf_dir, tables, tmp_path):
    out = str(tmp_path / "cust_parted")
    write_parquet(tables["customer"], out, partition_by=("c_mktsegment",))
    segs = [d for d in os.listdir(out) if d.startswith("c_mktsegment=")]
    assert len(segs) == 5
    back = spark.read.parquet(out).filter(F.col("c_mktsegment") == "BUILDING")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    # partition filter handled by pruning, not data filters
    assert "PartitionFilters: [isnotnull(c_mktsegment" in plan
    assert back.count() == tables["customer"].filter(
        F.col("c_mktsegment") == "BUILDING"
    ).count()


def test_csv_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "nation_csv")
    write_csv(tables["nation"], out, single_file=True)
    back = read_csv(spark, out)
    assert back.count() == 25
    assert sorted(back.columns) == sorted(tables["nation"].columns)


def test_json_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "region_json")
    write_json(tables["region"], out)
    back = read_json(spark, out)
    assert {r.r_name for r in back.collect()} == {
        r.r_name for r in tables["region"].collect()
    }


def test_export_long_abundance_to_csv(spark, sf_dir, tmp_path):
    """The reference's CSV export path: filtered long-form abundance."""
    df = QUERIES["export_long_abundance"](spark, sf_dir)
    out = str(tmp_path / "export_csv")
    write_csv(df, out, single_file=True)
    back = read_csv(spark, out)
    assert back.count() == df.count()


def test_jdbc_fails_with_clear_error(spark):
    with pytest.raises(RuntimeError, match="JDBC driver jar"):
        read_jdbc(spark, "jdbc:postgresql://nowhere/db", "tbl")


def test_training_shards_layout_and_pruning(spark, sf_dir, tmp_path):
    from bpaotu_spark.io.readers import write_training_shards

    out = str(tmp_path / "shards")
    manifest = write_training_shards(spark, sf_dir, out).collect()
    assert {r.split for r in manifest} <= {"train", "valid", "test"}
    assert sum(r.n_docs for r in manifest) > 0
    # directory layout is split=/lang=
    import os

    top = [d for d in os.listdir(out) if not d.startswith((".", "_"))]
    assert top and all(d.startswith("split=") for d in top)
    # a split+lang read prunes at the source: partition filters appear
    df = spark.read.parquet(out).filter("split = 'train' AND lang = 'en'")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "split" in plan
    assert df.count() == sum(
        r.n_docs for r in manifest if r.split == "train" and r.lang == "en"
    )


def test_bucketed_join_no_shuffle(spark, sf_dir, tables, tmp_path):
    from bpaotu_spark.io.readers import write_bucketed

    write_bucketed(
        tables["lineitem"].select("l_orderkey", "l_quantity"),
        "li_b",
        str(tmp_path / "li_b"),
        ("l_orderkey",),
        8,
        ("l_orderkey",),
    )
    write_bucketed(
        tables["orders"].select("o_orderkey", "o_orderpriority"),
        "ord_b",
        str(tmp_path / "ord_b"),
        ("o_orderkey",),
        8,
        ("o_orderkey",),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, od = spark.table("li_b"), spark.table("ord_b")
        joined = li.join(od, li.l_orderkey == od.o_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # co-located: a sort-merge join with NO shuffle on either side
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the result is the same as the plain join
        expected = (
            tables["lineitem"]
            .join(
                tables["orders"],
                tables["lineitem"].l_orderkey == tables["orders"].o_orderkey,
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_krona_text_roundtrip(spark, sf_dir, tmp_path):
    """Leaf rows of krona_rollup serialize to ktImportText lines whose
    parsed (path -> magnitude) map matches the DataFrame exactly."""
    from bpaotu_spark.io.krona import write_krona_text

    path_cols = ("r_name", "n_name", "c_mktsegment")
    rollup = QUERIES["krona_rollup"](spark, sf_dir)
    out = str(tmp_path / "krona")
    write_krona_text(rollup, out, "total_abundance", path_cols, single_file=True)

    expected = {
        tuple(getattr(r, c) for c in path_cols): r.total_abundance
        for r in rollup.filter(F.col("depth") == len(path_cols)).collect()
    }
    got = {}
    for line in spark.read.text(out).collect():
        mag, *path = line.value.split("\t")
        got[tuple(path)] = float(mag)
    assert got == {k: pytest.approx(v) for k, v in expected.items()}
    # krona consumes leaves only: every line has the full path depth
    assert all(len(k) == len(path_cols) for k in got)


def test_krona_magnitudes_never_scientific(spark):
    """ktImportText does not parse 1.23E8; large and tiny non-integral
    magnitudes must render as plain fixed-point (zeros trimmed)."""
    from bpaotu_spark.io.krona import krona_text_lines

    df = spark.createDataFrame(
        [(123456789.5, "a"), (0.25, "b"), (3.0, "c"), (1e9, "d")],
        "m DOUBLE, p STRING",
    )
    lines = {
        r.value.split("\t")[1]: r.value.split("\t")[0]
        for r in krona_text_lines(df, "m", ("p",)).collect()
    }
    assert lines == {
        "a": "123456789.5",
        "b": "0.25",
        "c": "3",
        "d": "1000000000",
    }


def test_biom_v1_roundtrip(spark, sf_dir, tmp_path):
    """A filtered selection exports to a valid BIOM v1 JSON doc whose
    ids, shape and sparse data reproduce the triplet DataFrame."""
    import json

    from bpaotu_spark.io.biom import BIOM_FORMAT, write_biom_v1

    trip = QUERIES["export_biom_triplets"](spark, sf_dir)
    out = str(tmp_path / "table.biom")
    header = write_biom_v1(trip, out)

    doc = json.loads(open(out).read())
    assert doc["format"] == BIOM_FORMAT
    assert doc["matrix_type"] == "sparse"

    cells = trip.collect()
    n_rows = len({r.sample_id for r in cells})
    n_cols = len({r.otu_id for r in cells})
    assert doc["shape"] == [n_rows, n_cols] == header["shape"]
    assert len(doc["rows"]) == n_rows and len(doc["columns"]) == n_cols
    # ids are listed in dense-index order, so data indices dereference
    row_ids = {r.row_idx: str(r.sample_id) for r in cells}
    assert [r["id"] for r in doc["rows"]] == [
        row_ids[i] for i in range(n_rows)
    ]
    got = {(d[0], d[1]): d[2] for d in doc["data"]}
    expected = {(r.row_idx, r.col_idx): r.v for r in cells}
    assert got == expected
    assert all(0 <= r < n_rows and 0 <= c < n_cols for r, c in got)


def test_ingest_rejects_and_lake(spark, tmp_path):
    """Importer analogue: unknown taxon/sample and bad counts land in
    rejects WITH the first-failing reason; valid rows land in the lake."""
    from bpaotu_spark.io.ingest import ingest_abundance

    tax = tmp_path / "tax.csv"
    tax.write_text("otu_id,rank1,rank2,rank3\n1,K,P,C\n2,K,P,D\n")
    smp = tmp_path / "samples.csv"
    smp.write_text("sample_id,site,env\n10,a,soil\n20,b,marine\n")
    ab = tmp_path / "abundance.csv"
    ab.write_text(
        "sample_id,otu_id,cnt\n"
        "10,1,5.0\n"          # valid
        "20,2,1.5\n"          # valid
        "10,99,3.0\n"         # unknown taxon
        "30,1,2.0\n"          # unknown sample
        "20,1,0\n"            # bad count (non-positive)
        "30,99,-1\n"          # unknown taxon wins (checked first)
    )
    out = str(tmp_path / "lake")
    counts = ingest_abundance(spark, str(tax), str(smp), str(ab), out)
    assert counts == {"taxonomy": 2, "samples": 2, "abundance": 2, "rejects": 4}

    lake = {
        (r.sample_id, r.otu_id): r.cnt
        for r in spark.read.parquet(f"{out}/abundance").collect()
    }
    assert lake == {(10, 1): 5.0, (20, 2): 1.5}
    reasons = {
        (r.sample_id, r.otu_id): r.reject_reason
        for r in spark.read.parquet(f"{out}/rejects").collect()
    }
    assert reasons == {
        (10, 99): "unknown_taxon",
        (30, 1): "unknown_sample",
        (20, 1): "bad_count",
        (30, 99): "unknown_taxon",
    }
    # the lake is immediately queryable next to its dims
    assert spark.read.parquet(f"{out}/taxonomy").count() == 2
    assert spark.read.parquet(f"{out}/samples").count() == 2


def test_training_shards_near_dedup_and_packing(spark, sf_dir, tmp_path):
    """The full cleaning chain keeps EXACTLY ONE member per near-dup
    cluster, re-elected among the quality-gated survivors — a cluster
    whose global min-doc_id representative fails the gate must still
    keep its smallest surviving member, not vanish wholesale."""
    from collections import Counter

    from bpaotu_spark.io.readers import write_training_shards
    from bpaotu_spark.registry import QUERIES

    out = str(tmp_path / "shards_v2")
    write_training_shards(
        spark, sf_dir, out, near_dedup=True, pack_budget=512
    ).collect()
    back = spark.read.parquet(out)
    written = {r.doc_id for r in back.select("doc_id").collect()}

    # the gated set = the near_dedup=False output (same gate, no CC)
    gated_out = str(tmp_path / "shards_gate_only")
    write_training_shards(spark, sf_dir, gated_out).collect()
    gated = {
        r.doc_id
        for r in spark.read.parquet(gated_out).select("doc_id").collect()
    }

    cluster_of = {
        r.doc_id: r.cluster_id
        for r in QUERIES["corpus_near_dedup_keep_first"](spark, sf_dir).collect()
    }
    sizes = Counter(cluster_of.values())
    multi = {c for c, n in sizes.items() if n > 1}
    assert multi, "fixture has no near-dup clusters"

    # exactly one survivor per cluster that has any gated member
    expected = {}
    for doc in sorted(gated):
        expected.setdefault(cluster_of[doc], doc)  # min gated doc per cluster
    assert written == set(expected.values())
    # and the re-election matters: some multi-doc cluster keeps a doc
    # that is NOT the raw-corpus minimum (its representative was gated)
    raw_min = {}
    for doc in sorted(cluster_of):
        raw_min.setdefault(cluster_of[doc], doc)
    assert any(
        expected[c] != raw_min[c] for c in expected
    ) or all(raw_min[c] in gated for c in expected)

    rows = back.select(
        "split", "lang", "doc_id", "n_tokens", "chunk_idx", "chunk_offset"
    ).collect()
    by_stream = {}
    for r in rows:
        by_stream.setdefault((r.split, r.lang), []).append(r)
    for stream, rs in by_stream.items():
        rs.sort(key=lambda r: r.doc_id)
        run = 0
        for r in rs:
            assert r.chunk_idx == run // 512 and r.chunk_offset == run % 512
            run += r.n_tokens


def test_compaction_preserves_rows_and_reduces_files(spark, sf_dir, tmp_path):
    """Write documents as many tiny files per partition, compact, and
    assert: identical row multiset, fewer files, untouched partitions
    left alone."""
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.maintenance import compact_parquet, plan_compaction

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "lake")
    docs.repartition(16).write.partitionBy("lang").parquet(root)

    before = plan_compaction(spark, root)
    assert all(n > 1 for n, _ in before.values())
    want = {tuple(r) for r in spark.read.parquet(root).collect()}

    report = compact_parquet(spark, root, target_bytes=64 * 1024 * 1024)
    assert report  # something was compacted
    after = plan_compaction(spark, root)
    assert set(after) == set(before)
    for d, n_after in report.items():
        assert n_after < before[d][0]
        assert n_after == after[d][0]

    got = {tuple(r) for r in spark.read.parquet(root).collect()}
    assert got == want


def test_compaction_skips_single_file_partitions(spark, sf_dir, tmp_path):
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.maintenance import compact_parquet

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "lake1")
    docs.coalesce(1).write.parquet(root)
    assert compact_parquet(spark, root) == {}


def test_load_table_nanos_legacy_events(spark, sf_dir, tmp_path):
    """Rounds 1-3 shipped events.ts as parquet TIMESTAMP(NANOS); the
    catalog's legacy branch (nanosAsLong + integer `ts div 1000`) must
    keep reading that era bit-exactly. Writes a real nanos parquet and
    reads it through load_table next to the current micros-era file."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bpaotu_spark.catalog import load_table, table_path

    src = pq.read_table(table_path(sf_dir, "events"))
    nanos_schema = pa.schema(
        [
            f if f.name != "ts" else pa.field("ts", pa.timestamp("ns"))
            for f in src.schema
        ]
    )
    legacy_dir = str(tmp_path / "legacy_sf")
    os.makedirs(legacy_dir)
    pq.write_table(
        src.cast(nanos_schema),
        os.path.join(legacy_dir, "events.parquet"),
        # parquet stores ns only as INT64 physical with TIMESTAMP(NANOS)
        # logical when coerced; defaults already do this for ns type
    )
    assert (
        pq.read_schema(os.path.join(legacy_dir, "events.parquet"))
        .field("ts").type == pa.timestamp("ns")
    )

    legacy = load_table(spark, legacy_dir, "events")
    assert dict(legacy.dtypes)["ts"].startswith("timestamp")
    cur = load_table(spark, sf_dir, "events")
    a = {tuple(r) for r in legacy.select("event_id", "ts").collect()}
    b = {tuple(r) for r in cur.select("event_id", "ts").collect()}
    assert a == b


def test_merge_upsert_partition_scoped(spark, sf_dir, tmp_path):
    """Upsert replaces same-key rows, inserts new keys, and never
    rewrites partitions absent from the delta (file mtimes prove it)."""
    import os
    import time

    from bpaotu_spark.io.merge import merge_upsert

    base = spark.createDataFrame(
        [(i, f"m{i % 3}", float(i)) for i in range(30)],
        "k BIGINT, seg STRING, v DOUBLE",
    )
    path = str(tmp_path / "lake")
    r0 = merge_upsert(spark, path, base, ("k",), ("seg",))
    assert r0 == {"updated": 0, "inserted": 30}

    untouched_dir = os.path.join(path, "seg=m2")
    mtimes_before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }
    time.sleep(1.1)

    # delta: update k=0,3 (seg m0) and insert k=100 (seg m1)
    delta = spark.createDataFrame(
        [(0, "m0", 999.0), (3, "m0", 888.0), (100, "m1", 777.0)],
        "k BIGINT, seg STRING, v DOUBLE",
    )
    r1 = merge_upsert(spark, path, delta, ("k",), ("seg",))
    assert r1 == {"updated": 2, "inserted": 1}

    got = {r.k: (r.seg, r.v) for r in spark.read.parquet(path).collect()}
    assert len(got) == 31
    assert got[0] == ("m0", 999.0)
    assert got[3] == ("m0", 888.0)
    assert got[100] == ("m1", 777.0)
    assert got[1] == ("m1", 1.0)  # untouched row carried forward
    # untouched partition's files were not rewritten
    mtimes_after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }
    assert mtimes_after == mtimes_before


def test_krona_html_renders_tree(spark, sf_dir, tmp_path):
    """The HTML export embeds the full lineage tree: root magnitude
    equals the rollup leaf total, every path value appears, and the
    embedded JSON round-trips."""
    import json as _json
    import re

    from bpaotu_spark.io.krona import write_krona_html

    rollup = QUERIES["krona_rollup"](spark, sf_dir)
    out = str(tmp_path / "krona.html")
    root = write_krona_html(
        rollup, "total_abundance", ("r_name", "n_name", "c_mktsegment"), out
    )
    doc = open(out).read()
    m = re.search(
        r'<script type="application/json" id="krona-data">\n(.*)\n</script>',
        doc,
        re.S,
    )
    assert m
    embedded = _json.loads(m.group(1))
    assert embedded == root

    leaves = [
        r
        for r in rollup.collect()
        if r.r_name is not None
        and r.n_name is not None
        and r.c_mktsegment is not None
    ]
    assert abs(root["mag"] - sum(r.total_abundance for r in leaves)) < 1e-6
    for r in leaves[:20]:
        assert r.r_name in doc and r.n_name in doc and r.c_mktsegment in doc


def test_geojson_points_roundtrip(spark, sf_dir, tmp_path):
    import json as _json

    from bpaotu_spark.io.geojson import write_geojson_points

    cells = QUERIES["map_binning_2d"](spark, sf_dir)
    out = str(tmp_path / "cells.geojson")
    n = write_geojson_points(
        cells, out, "bin_x", "bin_y", ("n_orders", "n_samples", "total_price")
    )
    doc = _json.loads(open(out).read())
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == n == cells.count()
    want = {
        (r.bin_x, r.bin_y): (r.n_orders, r.n_samples, r.total_price)
        for r in cells.collect()
    }
    for feat in doc["features"]:
        x, y = feat["geometry"]["coordinates"]
        p = feat["properties"]
        assert want[(x, y)] == (
            p["n_orders"], p["n_samples"], p["total_price"]
        )


def _streamed_geojson(cells, path, lon_col, lat_col, property_cols) -> int:
    """The earlier writer: a Spark ``orderBy`` streamed through
    ``toLocalIterator``, kept as the byte-level reference."""
    import json as _json

    n = 0
    with open(path, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [')
        it = cells.select(lon_col, lat_col, *property_cols).orderBy(lat_col, lon_col)
        for row in it.toLocalIterator():
            feature = {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [row[lon_col], row[lat_col]]},
                "properties": {c: row[c] for c in property_cols},
            }
            if n:
                f.write(", ")
            f.write(_json.dumps(feature, sort_keys=True))
            n += 1
        f.write("]}")
    return n


def test_geojson_order_matches_spark_orderby(spark, tmp_path):
    """Features come in Spark's ``orderBy(lat, lon)`` order: a NULL bin
    first, NaN after every number, ties broken by lon."""
    import json as _json

    from bpaotu_spark.io.geojson import write_geojson_points
    from bpaotu_spark.session import local_frame

    nan = float("nan")
    rows = [
        (3, 2.5, 1), (1, None, 2), (2, -1.0, 3), (None, 2.5, 4),
        (0, nan, 5), (1, 2.5, 6), (5, -1.0, 7), (None, None, 8),
    ]
    cells = local_frame(spark, rows, "bin_x long, bin_y double, n long")
    out = str(tmp_path / "order.geojson")
    assert write_geojson_points(cells, out, "bin_x", "bin_y", ("n",)) == len(rows)
    got = [f["properties"]["n"] for f in _json.loads(open(out).read())["features"]]
    want = [r.n for r in cells.orderBy("bin_y", "bin_x").collect()]
    assert got == want
    assert got[:2] == [8, 2]  # the NULL-lat bins, the NULL lon first


def test_geojson_bytes_equal_streamed_writer(spark, sf_dir, tmp_path):
    from bpaotu_spark.io.geojson import write_geojson_points

    cells = QUERIES["map_binning_2d"](spark, sf_dir)
    props = ("n_orders", "n_samples", "total_price")
    new, old = str(tmp_path / "new.geojson"), str(tmp_path / "old.geojson")
    n = write_geojson_points(cells, new, "bin_x", "bin_y", props)
    assert n == _streamed_geojson(cells, old, "bin_x", "bin_y", props) > 0
    assert open(new, "rb").read() == open(old, "rb").read()


def test_geojson_past_cap_is_named_error(spark, sf_dir, tmp_path, monkeypatch):
    from bpaotu_spark.io import geojson

    cells = QUERIES["map_binning_2d"](spark, sf_dir)
    n = cells.count()
    out = str(tmp_path / "cap.geojson")
    monkeypatch.setattr(geojson, "MAX_FEATURES", n)
    assert geojson.write_geojson_points(cells, out, "bin_x", "bin_y", ("n_orders",)) == n
    monkeypatch.setattr(geojson, "MAX_FEATURES", n - 1)
    with pytest.raises(geojson.TooManyFeatures, match="MAX_FEATURES"):
        geojson.write_geojson_points(cells, out, "bin_x", "bin_y", ("n_orders",))


def test_scd2_merge_version_chains(spark, sf_dir, tmp_path):
    """SCD2 merge: changed keys close + reopen, unchanged deltas are
    no-ops (idempotent re-apply), new keys insert, history accumulates
    with exactly one open row per key."""
    from bpaotu_spark.io.merge import scd2_merge

    path = str(tmp_path / "dim_scd2")
    snap0 = spark.createDataFrame(
        [(1, "BUILDING", 100), (2, "MACHINERY", 100), (3, "FURNITURE", 100)],
        "k int, segment string, ts long",
    )
    r0 = scd2_merge(spark, path, snap0, "k", ("segment",), "ts")
    assert r0 == {"closed": 0, "inserted": 3, "unchanged": 0}

    # key 1 changes, key 2 unchanged, key 4 new
    delta = spark.createDataFrame(
        [(1, "HOUSEHOLD", 200), (2, "MACHINERY", 200), (4, "AUTOMOBILE", 200)],
        "k int, segment string, ts long",
    )
    r1 = scd2_merge(spark, path, delta, "k", ("segment",), "ts")
    assert r1 == {"closed": 1, "inserted": 2, "unchanged": 1}

    rows = spark.read.parquet(path).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    # exactly one open row per key
    for k, rs in by_key.items():
        assert sum(1 for r in rs if r.is_current) == 1, k
    # key 1: closed old version [100, 200) + open HOUSEHOLD from 200
    v1 = sorted(by_key[1], key=lambda r: r.valid_from_us)
    assert [r.segment for r in v1] == ["BUILDING", "HOUSEHOLD"]
    assert (v1[0].valid_to_us, v1[0].is_current) == (200, False)
    assert (v1[1].valid_to_us, v1[1].is_current) == (None, True)
    assert len(by_key[2]) == 1 and len(by_key[4]) == 1

    # idempotent: re-applying the same delta changes nothing
    r2 = scd2_merge(spark, path, delta, "k", ("segment",), "ts")
    assert r2 == {"closed": 0, "inserted": 0, "unchanged": 3}
    assert len(spark.read.parquet(path).collect()) == len(rows)


def test_snapshot_time_travel(spark, tmp_path):
    """Append-only snapshots: a pinned version keeps reading the same
    rows after later commits; the latest version sees everything; the
    manifest publish is atomic (no .tmp leftovers)."""
    from bpaotu_spark.io.snapshots import (
        commit_snapshot,
        list_versions,
        read_snapshot,
    )

    path = str(tmp_path / "snap_table")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    v1 = commit_snapshot(df1, path)
    assert v1 == 1

    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    v2 = commit_snapshot(df2, path)
    assert v2 == 2
    assert list_versions(path) == [1, 2]

    # time travel: v1 is immutable, v2 = v1 + appended rows
    got_v1 = {(r.id, r.v) for r in read_snapshot(spark, path, 1).collect()}
    got_v2 = {(r.id, r.v) for r in read_snapshot(spark, path).collect()}
    assert got_v1 == {(1, "a"), (2, "b")}
    assert got_v2 == {(1, "a"), (2, "b"), (3, "c")}

    # append-only: commit 2 added files, it did not rewrite commit 1's
    import json as _json
    import os as _os

    with open(_os.path.join(path, "manifest-v2.json")) as fh:
        m2 = _json.load(fh)
    with open(_os.path.join(path, "manifest-v1.json")) as fh:
        m1 = _json.load(fh)
    assert set(m1["files"]) <= set(m2["files"])
    # no half-published manifests
    assert not [f for f in _os.listdir(path) if ".tmp-" in f]

    # unknown version is a hard error, not silent latest
    try:
        read_snapshot(spark, path, 99)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source round-trips values and serves predicate
    pushdown + partition pruning like the parquet primary."""
    import pyspark.sql.functions as F

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.readers import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=("o_orderpriority",))

    back = read_orc(spark, path)
    assert back.count() == orders.count()
    want = {
        (r.o_orderkey, round(r.o_totalprice, 4)) for r in orders.collect()
    }
    got = {(r.o_orderkey, round(r.o_totalprice, 4)) for r in back.collect()}
    assert got == want

    # partition pruning: a priority filter must scan one partition dir
    pri = orders.select("o_orderpriority").first()[0]
    plan = (
        back.filter(F.col("o_orderpriority") == pri)
        .filter(F.col("o_totalprice") > 1000.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan
    # predicate pushdown reaches the ORC scan
    assert "PushedFilters: [" in plan and "o_totalprice" in plan


def test_gated_write_publishes_clean_data(spark, sf_dir, tmp_path):
    import json
    import os

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import gated_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "gated_ok")
    receipt = gated_write(
        orders,
        path,
        rules={"nonpositive_price": "o_totalprice <= 0"},
    )
    assert receipt["published"] and receipt["n_rows"] == orders.count()
    assert receipt["rules"][0]["n_violations"] == 0
    # data landed AND the receipt sits next to it
    assert spark.read.parquet(path).count() == orders.count()
    with open(os.path.join(path, "_expectations_receipt.json")) as fh:
        assert json.load(fh)["published"] is True


def test_gated_write_refuses_dirty_data(spark, sf_dir, tmp_path):
    import os

    import pytest

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import ExpectationsFailed, gated_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "gated_refused")
    with pytest.raises(ExpectationsFailed) as ei:
        gated_write(
            orders,
            path,
            rules={
                "impossible": "o_totalprice > -1",  # flags EVERY row
                "fine": "o_totalprice <= 0",
            },
        )
    receipt = ei.value.receipt
    assert receipt["published"] is False
    assert {r["rule"] for r in receipt["rules"] if r["n_violations"]} == {
        "impossible"
    }
    # the circuit breaker must not have written anything
    assert not os.path.exists(path)


def test_gated_write_single_scan(spark, sf_dir, tmp_path):
    """The rule metrics must ride the write action itself (observe),
    not a separate validate pass — a second scan doubles the job at
    100 TB and can audit different rows than it publishes. The
    accumulator counts every row each scan touches: one-pass == n,
    the old validate-then-write shape == 2n."""
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import gated_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    n = orders.count()
    acc = spark.sparkContext.accumulator(0)

    def counting_passthrough(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = orders.mapInPandas(counting_passthrough, orders.schema)
    receipt = gated_write(
        counted,
        str(tmp_path / "gated_once"),
        rules={"nonpositive_price": "o_totalprice <= 0"},
    )
    assert receipt["published"] and receipt["n_rows"] == n
    assert acc.value == n, f"expected ONE scan ({n} rows), saw {acc.value}"


def test_gated_write_empty_frame_publishes(spark, sf_dir, tmp_path):
    """Zero rows violate nothing: an empty frame must publish (the
    old F.sum-over-zero-rows NULL crashed before deciding)."""
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import gated_write

    empty = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .where("o_totalprice < 0")  # synthetic data has none
    )
    path = str(tmp_path / "gated_empty")
    receipt = gated_write(
        empty, path, rules={"nonpositive_price": "o_totalprice <= 0"}
    )
    assert receipt["published"] and receipt["n_rows"] == 0
    assert receipt["rules"][0]["n_violations"] == 0
    assert spark.read.parquet(path).count() == 0


def test_gated_write_rejects_reserved_rule_names(spark, sf_dir, tmp_path):
    import pytest

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import gated_write

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    with pytest.raises(ValueError, match="reserved"):
        gated_write(
            orders,
            str(tmp_path / "gated_reserved"),
            rules={"__gate_n_rows__": "o_orderkey < 0"},
        )
    with pytest.raises(ValueError, match="unsupported mode"):
        gated_write(
            orders,
            str(tmp_path / "gated_badmode"),
            rules={"neg": "o_orderkey < 0"},
            mode="append",
        )


def test_gated_write_publish_modes(spark, sf_dir, tmp_path):
    """mode applies to the PUBLISH step: overwrite replaces,
    errorifexists raises (and cleans staging), ignore skips."""
    import os

    import pytest

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.gate import gated_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    rules = {"nonpositive_price": "o_totalprice <= 0"}
    path = str(tmp_path / "gated_modes")
    gated_write(orders, path, rules=rules)
    n = spark.read.parquet(path).count()

    with pytest.raises(FileExistsError):
        gated_write(orders, path, rules=rules, mode="errorifexists")
    receipt = gated_write(orders, path, rules=rules, mode="ignore")
    assert receipt["published"] is False and "skipped" in receipt
    # no staging junk left behind by either non-publish path
    parent = os.path.dirname(path)
    assert not [f for f in os.listdir(parent) if "gate_staging" in f]
    # target untouched
    assert spark.read.parquet(path).count() == n
