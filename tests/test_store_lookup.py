"""Keyed lookups served from the published store and the one-kernel
permutation tests.

* the graph walks (``ann/walk.py``) read the published artifacts
  through ``pyarrow.dataset``; Spark's ``_fetch`` is the fallback when
  an input has no local path or its files are gone, and both paths
  must give the same rows;
* ``ann/index_store.py`` keys an artifact on the file stamp of every
  file under its source table, caps the process tier and counts each
  failed publish; on a warm store an Arrow reader's first build takes
  no frame at all (its ``Stored`` thunk never runs);
* ``operators/permtest.py`` reads the study selection and reduces the
  stored pairs in one kernel whose int64 sums are bounded: in the
  driver over the published files, or as a ``mapInArrow`` pass when
  they are missing, with the same rows either way.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bpaotu_spark.catalog import TABLE_NAMES
from bpaotu_spark.registry import ORACLES, QUERIES, load_all
from tests.test_survival import _table_hash

WALK_KEYS = (
    "ann_greedy_graph_search",
    "ann_beam_graph_search",
    "ann_hnsw_layered_search",
    "ann_hnsw_multilayer_search",
    "ann_beam_topk_quality",
    "ann_tombstone_search_recall",
    "ann_epoch_search_recall",
)
COLD_KEYS = (
    "ann_beam_topk_quality",
    "ann_tombstone_search_recall",
    "permanova_permutation_p",
    "anosim_permutation_p",
)
PERM_KEYS = ("anosim_permutation_p", "permanova_permutation_p")


@pytest.fixture()
def fresh_store(tmp_path, monkeypatch):
    from bpaotu_spark.ann import index_store

    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(tmp_path / "idx"))
    index_store._MEM.clear()
    yield
    index_store._MEM.clear()


def _count_spark_fetches(monkeypatch) -> dict:
    from bpaotu_spark.ann import walk

    n = {"fetch": 0}
    real = walk._fetch

    def counting(df, col, ids):
        n["fetch"] += 1
        return real(df, col, ids)

    monkeypatch.setattr(walk, "_fetch", counting)
    return n


@pytest.mark.parametrize("key", COLD_KEYS)
def test_cold_store_matches_oracle(spark, sf_dir, fresh_store, key):
    """On an empty store each op builds (and publishes) what it reads,
    then serves it — the walks through the Arrow path — and equals
    its DuckDB oracle."""
    load_all()
    sdf = QUERIES[key](spark, sf_dir)
    _assert_oracle_rows(key, sf_dir, [tuple(r) for r in sdf.collect()], sdf.columns)


def _assert_oracle_rows(key: str, sf_dir: str, got: list, columns: list) -> None:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(ORACLES[key])
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(columns) == sorted(cols)
    assert got and len(got) == len(want)
    table_hash = _table_hash()
    assert table_hash(got, columns) == table_hash(want, cols), (got, want)


@pytest.fixture(scope="module")
def arrow_rows(spark, sf_dir):
    """Rows of the 7 walk ops on the local store, every lookup through
    Arrow (no Spark fetch)."""
    load_all()
    with pytest.MonkeyPatch.context() as mp:
        n = _count_spark_fetches(mp)
        rows = {
            k: [tuple(r) for r in QUERIES[k](spark, sf_dir).collect()]
            for k in WALK_KEYS
        }
    assert n["fetch"] == 0
    return rows


def _no_path(real):
    return lambda *a, **k: None


def _files_gone(real, tmp_path):
    """The artifact's directory, resolved while it exists and removed
    before the walk reads it (as a concurrent prune would)."""

    def resolve(*a, **k):
        path = real(*a, **k)
        assert path is not None
        gone = str(tmp_path / os.path.basename(path))
        shutil.copytree(path, gone)
        shutil.rmtree(gone)
        return gone

    return resolve


def _count_frames(monkeypatch) -> dict:
    """Counts ``cached_frame`` calls: a :class:`walk.Stored` thunk
    serves its frame through one."""
    from bpaotu_spark.ann import index_store

    n = {"frames": 0}
    real = index_store.cached_frame

    def counting(*a, **k):
        n["frames"] += 1
        return real(*a, **k)

    monkeypatch.setattr(index_store, "cached_frame", counting)
    return n


@pytest.mark.parametrize("mode", ["no_path", "files_gone"])
@pytest.mark.parametrize("key", WALK_KEYS)
def test_spark_fallback_gives_arrow_rows(
    spark, sf_dir, arrow_rows, tmp_path, monkeypatch, mode, key
):
    """Without local files each input's thunk serves a Spark frame,
    whose fetches give the Arrow path's rows; a removed directory
    counts as a fallback."""
    from bpaotu_spark.ann import index_store, walk

    real = index_store.artifact_dir
    fake = _no_path(real) if mode == "no_path" else _files_gone(real, tmp_path)
    monkeypatch.setattr(index_store, "artifact_dir", fake)
    n = _count_spark_fetches(monkeypatch)
    frames = _count_frames(monkeypatch)
    before = walk.FALLBACKS.copy()
    got = [tuple(r) for r in QUERIES[key](spark, sf_dir).collect()]
    assert n["fetch"] > 0
    assert frames["frames"] > 0
    assert got == arrow_rows[key]
    counted = walk.FALLBACKS - before
    assert bool(counted) == (mode == "files_gone"), counted


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_beam_walk_runs_no_spark_job(spark, sf_dir):
    """On a local store the whole walk — query vectors, entry point,
    every hop, the truth rows — reads the published files: no Spark
    job. The same walk over unpublished frames (Spark fetches) runs jobs."""
    from bpaotu_spark.ann import walk
    from bpaotu_spark.ann.truthstore import grid_nn

    vecs = walk.store_vectors(spark, sf_dir)
    graph = walk.store_graph(spark, sf_dir)
    assert vecs.path and graph.path

    def run(g, v):
        qmap = walk.collect_qv(v, range(10))
        eid, ed2 = walk.entry_init(v, qmap)
        init = {q: [(ed2[q], eid)] for q in qmap}
        front = walk.beam_walk(spark, g, v, qmap, init, beam=12, hops=8)
        return front, grid_nn(spark, sf_dir, qmap)

    (front, truth), jobs = _jobs_in_group(
        spark, "test_store_lookup/arrow", lambda: run(graph, vecs)
    )
    assert front and truth
    assert jobs == []
    plain = (graph._replace(path=None), vecs._replace(path=None))
    again, jobs = _jobs_in_group(
        spark, "test_store_lookup/spark", lambda: run(*plain)[0]
    )
    assert again == front
    assert len(jobs) > 0


@pytest.fixture(scope="module")
def perm_rows(spark, sf_dir):
    """Rows of both permutation tests on the local store (published on
    first use, then read through Arrow); each equals its oracle."""
    load_all()
    rows = {}
    for key in PERM_KEYS:
        sdf = QUERIES[key](spark, sf_dir)
        rows[key] = [tuple(r) for r in sdf.collect()]
        _assert_oracle_rows(key, sf_dir, rows[key], sdf.columns)
    return rows


@pytest.mark.parametrize("key", PERM_KEYS)
def test_warm_permutation_build_runs_no_spark_job(spark, sf_dir, perm_rows, key):
    """On a warm local store the selection read, the ANOSIM histogram
    and the pair kernel all run in the driver: building the result
    starts no Spark job."""
    sdf, jobs = _jobs_in_group(
        spark, f"test_store_lookup/warm/{key}", lambda: QUERIES[key](spark, sf_dir)
    )
    assert jobs == []
    assert [tuple(r) for r in sdf.collect()] == perm_rows[key]


@pytest.mark.parametrize("mode", ["no_path", "files_gone"])
@pytest.mark.parametrize("key", PERM_KEYS)
def test_permutation_spark_fallback_gives_arrow_rows(
    spark, sf_dir, perm_rows, tmp_path, monkeypatch, mode, key
):
    """Without local files (no path, or a directory removed after it
    was resolved) both inputs are read by Spark, which gives the Arrow
    path's rows; a removed directory counts as a fallback."""
    from bpaotu_spark.ann import index_store, walk

    real = index_store.artifact_dir
    fake = _no_path(real) if mode == "no_path" else _files_gone(real, tmp_path)
    monkeypatch.setattr(index_store, "artifact_dir", fake)
    before = walk.FALLBACKS.copy()
    frames = _count_frames(monkeypatch)
    sdf, jobs = _jobs_in_group(
        spark, f"test_store_lookup/{mode}/{key}", lambda: QUERIES[key](spark, sf_dir)
    )
    assert len(jobs) > 0
    assert frames["frames"] > 0
    assert [tuple(r) for r in sdf.collect()] == perm_rows[key]
    counted = walk.FALLBACKS - before
    if mode == "files_gone":
        assert counted["anosim_sel"] == 1
        assert counted["bray_pairs_anosim"] >= 1
    else:
        assert not counted


FIRST_BUILD_KEYS = (*PERM_KEYS, "ann_beam_topk_quality")


@pytest.mark.parametrize("key", FIRST_BUILD_KEYS)
def test_first_build_on_warm_store_takes_no_frame(spark, sf_dir, monkeypatch, key):
    """A stand-in fresh process — a warm local store and an empty
    process tier: the first build reads every input by its directory.
    It runs no Spark job and never calls ``cached_frame``."""
    from bpaotu_spark.ann import index_store

    load_all()
    want = [tuple(r) for r in QUERIES[key](spark, sf_dir).collect()]  # warms the store
    index_store._MEM.clear()

    def no_frame(*a, **k):
        raise AssertionError("an Arrow reader took a cached_frame")

    monkeypatch.setattr(index_store, "cached_frame", no_frame)
    sdf, jobs = _jobs_in_group(
        spark, f"test_store_lookup/first/{key}", lambda: QUERIES[key](spark, sf_dir)
    )
    assert jobs == []
    assert [tuple(r) for r in sdf.collect()] == want


def test_unwritable_store_counts_publish_failure(spark, sf_dir, tmp_path, monkeypatch):
    """An unwritable store root publishes nothing: ``publish`` returns
    None, ``cached_frame`` serves the builder's rows, and each failed
    publish counts in ``FAILURES``."""
    from bpaotu_spark.ann import index_store

    blocker = tmp_path / "blocker"
    blocker.write_text("a file where the store root's parent should be")
    monkeypatch.setenv("BPAOTU_ANN_INDEX_DIR", str(blocker / "idx"))
    before = index_store.FAILURES.copy()
    assert index_store.publish(
        spark, sf_dir, "unwritable_probe", lambda: spark.range(3).toDF("id")
    ) is None
    df = index_store.cached_frame(
        spark, sf_dir, "unwritable_probe", lambda: spark.range(3).toDF("id")
    )
    assert sorted(r[0] for r in df.collect()) == [0, 1, 2]
    assert index_store.artifact_dir(sf_dir, "unwritable_probe") is None
    assert index_store.FAILURES - before == {"publish": 2}
    index_store._MEM.clear()


def test_batch_scoring_equals_the_python_loop():
    """The numpy candidate scorer equals ``d2_exact`` (the Python loop
    kept as the reference) and refuses coordinates whose d² sum could
    wrap int64."""
    from bpaotu_spark.ann import walk

    rng = np.random.default_rng(7)
    qv = rng.integers(-1000, 1000, 64).tolist()
    vecs = [rng.integers(-1000, 1000, 64).tolist() for _ in range(50)]
    assert walk._d2_batch(qv, vecs) == [walk.d2_exact(qv, v) for v in vecs]
    with pytest.raises(OverflowError):
        walk._d2_batch([0, 0], [[2**31, 0]])


def test_entry_init_on_empty_frame_is_named_error(spark, sf_dir):
    from bpaotu_spark.ann import walk

    vecs = walk.store_vectors(spark, sf_dir)
    none = walk.id_mod("vec_id", 1, 1)  # x % 1 is always 0
    for src in (vecs, vecs._replace(path=None)):
        with pytest.raises(walk.NoEntryPoint, match="vec_id"):
            walk.entry_init(src, {0: [0]}, none)
    with pytest.raises(ValueError):
        walk.entry_init(walk.Stored(lambda: vecs.df().limit(0), vecs.cols), {0: [0]})


def test_survivor_predicate_agrees_across_paths(spark, sf_dir):
    """The Arrow form of ``vec_id % 50 != 7`` keeps the rows Spark
    keeps."""
    import pyarrow.dataset as ds

    from bpaotu_spark.ann import walk
    from bpaotu_spark.dedup.lifecycle import DEAD_VECS

    vecs = walk.store_vectors(spark, sf_dir)
    surv = DEAD_VECS.where(member=False)
    arrow = ds.dataset(vecs.path).to_table(columns=["vec_id"], filter=surv.arrow)
    spark_ids = {r[0] for r in vecs.df().filter(surv.spark).select("vec_id").collect()}
    assert set(arrow.column("vec_id").to_pylist()) == spark_ids
    assert 7 not in spark_ids and 8 in spark_ids


def test_d_ppm_outside_bound_raises_named_error(spark):
    """d_ppm outside [0, 10⁶] or a batch past 9.2M rows could wrap the
    int64 d² sums: both raise PairSumBound, in the driver and from the
    kernel's Spark task."""
    from bpaotu_spark.ann import walk
    from bpaotu_spark.operators import permtest
    from bpaotu_spark.session import local_frame

    for bad in ([0, 10**6 + 1], [-1, 5]):
        with pytest.raises(permtest.PairSumBound):
            permtest._d_ppm_squared(np.array(bad, dtype=np.int64))
    rows = permtest._I64_MAX // permtest._D_PPM_MAX**2 + 1
    with pytest.raises(permtest.PairSumBound, match="batch"):
        permtest._d_ppm_squared(np.zeros(rows, dtype=np.int64))
    assert permtest._d_ppm_squared(np.array([10**6])).tolist() == [10**12]

    pairs = local_frame(
        spark, [(1, 2, 2 * 10**6)], "sample_a long, sample_b long, d_ppm long"
    )
    with pytest.raises(Exception, match="PairSumBound"):
        permtest._pair_sums(
            walk.Stored(lambda: pairs, tuple(pairs.columns)), {1: 0, 2: 1},
            permtest._permanova_slots, permtest._d_ppm_squared,
        )


def test_arrow_path_raises_pair_sum_bound(spark, tmp_path):
    """The driver-side kernel and the ANOSIM histogram raise
    PairSumBound themselves on published files whose d_ppm leaves
    [0, 10⁶]; the histogram does so on the Spark path as well."""
    from bpaotu_spark.ann import walk
    from bpaotu_spark.operators import permtest
    from bpaotu_spark.session import local_frame

    cols = ("sample_a", "sample_b", "d_ppm")
    path = tmp_path / "bray_pairs_anosim-0"
    path.mkdir()
    pq.write_table(
        pa.table({c: pa.array(v, pa.int64()) for c, v in zip(cols, ([1], [2], [2 * 10**6]))}),
        path / "part-0.parquet",
    )
    pairs = local_frame(spark, [(1, 2, 2 * 10**6)], "sample_a long, sample_b long, d_ppm long")
    src = walk.Stored(lambda: pairs, cols, str(path))
    with pytest.raises(permtest.PairSumBound, match="d_ppm"):
        permtest._pair_sums(
            src, {1: 0, 2: 1}, permtest._permanova_slots, permtest._d_ppm_squared
        )
    for s in (src, src._replace(path=None)):
        with pytest.raises(permtest.PairSumBound, match="d_ppm"):
            permtest._rank_milli(s)


def test_kernel_sums_match_python(spark):
    """Slot sums of the kernel equal a direct Python evaluation of the
    masks, and a pair with an unselected end is dropped."""
    from bpaotu_spark.ann import walk
    from bpaotu_spark.operators import permtest
    from bpaotu_spark.session import local_frame

    masks = {1: 0b101, 2: 0b011, 3: 0b110}
    rows = [(1, 2, 10), (1, 3, 20), (2, 3, 30), (3, 9, 40)]
    pairs = local_frame(
        spark, rows, "sample_a long, sample_b long, d_ppm long"
    )
    got = permtest._pair_sums(
        walk.Stored(lambda: pairs, tuple(pairs.columns)), masks,
        permtest._permanova_slots,
        permtest._d_ppm_squared,
    )
    want: dict[int, tuple[int, int]] = {}
    B = permtest._B_PERM
    for a, b, d in rows[:3]:
        ma, mb = masks[a], masks[b]
        slots = [0]
        slots += [1 + k for k in range(B + 1) if (ma & mb) >> k & 1]
        slots += [2 + B + k for k in range(B + 1) if not (ma | mb) >> k & 1]
        for s in slots:
            n0, s0 = want.get(s, (0, 0))
            want[s] = (n0 + 1, s0 + d * d)
    assert got == want


def test_rewritten_part_file_changes_store_key(spark, tmp_path, fresh_store):
    """A table stored as a directory: rewriting a part file in place
    changes the store key, and the old artifact is not served."""
    from bpaotu_spark.ann import index_store

    data = tmp_path / "data"
    table = data / "embeddings.parquet"
    table.mkdir(parents=True)
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"vec_id": pa.array([1, 2], pa.int64())}), part)

    def build():
        return spark.read.parquet(str(table))

    key = index_store._fingerprint(str(data))
    old = index_store.cached_frame(spark, str(data), "stamp_probe", build)
    assert sorted(r[0] for r in old.collect()) == [1, 2]
    pq.write_table(pa.table({"vec_id": pa.array([7, 8, 9], pa.int64())}), part)
    assert index_store._fingerprint(str(data)) != key
    new = index_store.cached_frame(spark, str(data), "stamp_probe", build)
    assert sorted(r[0] for r in new.collect()) == [7, 8, 9]


def test_process_tier_never_exceeds_cap(spark, sf_dir, fresh_store, monkeypatch):
    """The process tier holds at most MEM_CAP frames, oldest evicted
    first; an evicted key is read back from disk with identical rows
    (the builder is not called again)."""
    from bpaotu_spark.ann import index_store

    monkeypatch.setattr(index_store, "MEM_CAP", 2)
    first = None
    for i in range(5):
        df = index_store.cached_frame(
            spark, sf_dir, f"cap_probe{i}",
            lambda i=i: spark.range(i + 3).toDF("id"),
        )
        if i == 0:
            first = sorted(r[0] for r in df.collect())
        assert len(index_store._MEM) <= 2
    keys = [k for _, k in index_store._MEM]
    assert keys[0].startswith("cap_probe3") and keys[1].startswith("cap_probe4")

    def boom():
        raise AssertionError("an evicted key must be read from disk")

    again = index_store.cached_frame(spark, sf_dir, "cap_probe0", boom)
    assert sorted(r[0] for r in again.collect()) == first == [0, 1, 2]
    assert len(index_store._MEM) <= 2
