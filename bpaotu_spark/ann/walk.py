"""Driver-frontier graph walks (r16, VERDICT r15 item 3).

The walker family (greedy / beam / hnsw-layered / multilayer /
tombstone / epoch searches) paid a per-hop floor that r15 measured at
~150 ms+ and attributed to stage/scheduler latency. Profiling this
round decomposed it further: the latency is per-PLAN, not per-stage —
any freshly planned broadcast-hash-join collect costs ~0.35-0.5 s on
this host regardless of data size (a bare filtered collect is
~0.06-0.1 s; a warm re-collect of the same DataFrame object is
0.08 s), and every hop of the old loop planned 1-2 fresh BHJs plus an
eager ``localCheckpoint`` job and two bounded shuffles, then always
ran the full unrolled hop budget even after the frontier had stopped
moving.

This module replaces the per-hop BHJ chain with keyed lookups: per
hop, at most two fetches, one for the adjacency of not-yet-seen
frontier nodes and one for the quantized vectors of not-yet-seen
candidates, both cached for the remainder of the invocation. The
union / distinct / top-B merge and the exact integer scoring run in
the driver over those bounded rows.

Lookup path: the walk inputs are published store artifacts (the edge
lists ``conn_edges``, ``conn_edges_tomb``, ``conn_edges_rebuilt``,
``hnsw_l1``, the vectors ``qemb`` and the truth tables), written by
Spark. A caller passes each one as a :class:`Stored` — a thunk that
serves the Spark frame, the column names and, from
:func:`bpaotu_spark.ann.index_store.artifact_dir`, the local directory
of its files. :func:`stored` looks the directory up first and calls
the thunk only on a miss (which builds and publishes the artifact), so
a warm store serves a walk without any frame, ``cached_frame`` call or
Spark job. A fetch reads the files through ``pyarrow.dataset`` with an
``isin`` filter on the key: 1-2 ms and no Spark job, where a freshly
planned Spark collect costs 77-100 ms. Spark's ``_fetch`` over the
thunk's frame is the fallback, used when an input has no local path
(an ``hdfs://``/``s3a://`` store root, an unwritable cache, a frame
that is not a published artifact) or its files are gone (a concurrent
prune, counted in :data:`FALLBACKS`): one pushed-down ``col IN (...)``
collect per ``_IN_CHUNK`` ids, so no predicate grows with the
neighbourhood. Both paths return the same rows. :func:`read_stored`
makes that choice for every reader of the store, the permutation
tests' (:mod:`bpaotu_spark.operators.permtest`) included.

The report leaves the driver as a literal frame
(:func:`bpaotu_spark.session.local_frame`), planned as a
``LocalTableScan`` and emitted in query order: executing it is one job,
where a Python-list ``createDataFrame`` plus ``orderBy`` would plan an
RDD scan and a range-partition sort (3 jobs for a 10-row result).

Scale argument, stated carefully: the frontier was ALREADY
round-tripping through the driver every hop (``F.broadcast(frontier)``
collects it to build the hash relation), so driver-held walk state is
not new. What the driver now additionally holds is the walk's
TOUCHED NEIGHBOURHOOD: per hop ≤ |frontier| adjacency lists (≤
|queries|·beam·degree edge rows) and the vectors of the distinct
candidates (same bound) — exactly the rows the old per-hop broadcasts
shipped to every executor, fetched once per invocation instead of
re-joined every hop. The vectors and the edge table stay in the store
and are only ever probed by key — the index-serving access path
(fetch adjacency list, fetch candidate vectors, score the bounded
batch locally) that a graph-ANN serving node uses. Nothing here is
memoised across invocations: every cache below is a local variable
of one walk call.

Exactness: every decision is exact integer math — ``d2_exact`` is the
driver twin of ``grid_d2`` (sum((a_i-b_i)^2) over the quantized grid)
and the merge reproduces the removed Window/row_number ``(d2,
node_id)`` ordering. Early termination is exact because each hop is a
pure function of the frontier state: beam's frontier' =
topB(frontier ∪ neighbours(frontier)) makes an unchanged frontier a
fixed point of every remaining (oracle-unrolled) hop, and greedy's
cur moves only on a STRICT improvement, so an unimproved cur
reproduces its candidate set and never moves again. Per-query
tracking is exact because the walks are independent (candidates for q
derive only from q's rows).
"""

from __future__ import annotations

import os
import threading
from collections import Counter
from collections.abc import Callable, Iterable
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bpaotu_spark.session import local_frame

# Ids per ``IN`` predicate: a fetch whose id set is larger runs one
# filtered collect per chunk, so the parsed predicate stays bounded
# however wide the touched neighbourhood grows. Today's walks (10
# queries, beam 12) fetch at most ~600 ids at once at sf0.1: one chunk.
_IN_CHUNK = 1024


class Stored(NamedTuple):
    """A frame the walk reads rows of by key: ``df`` is a thunk that
    returns the Spark frame (the fallback path, called only when a
    reader needs Spark), ``cols`` the columns read, key column first,
    and ``path`` the local directory of the same rows as published
    store files, or None."""

    df: Callable[[], DataFrame]
    cols: tuple[str, ...]
    path: str | None = None


class Where(NamedTuple):
    """One row predicate for both access paths: ``spark`` filters the
    fallback frame, ``arrow`` (a ``pyarrow.compute.Expression``) the
    published files."""

    spark: Column
    arrow: Any


def stored(
    frame: Callable[[], DataFrame],
    sf_dir: str,
    name: str,
    cols: Iterable[str],
    table: str | tuple[str, ...] = "embeddings",
) -> Stored:
    """Artifact ``name`` as a :class:`Stored`: the local directory of
    its published files and ``frame``, the thunk that serves it
    through ``cached_frame``. ``frame`` runs here only on a miss,
    where it builds and publishes the artifact."""
    from bpaotu_spark.ann.index_store import artifact_dir

    path = artifact_dir(sf_dir, name, table)
    if path is None:
        df = frame()
        path = artifact_dir(sf_dir, name, table)
        frame = lambda: df  # noqa: E731
    return Stored(frame, tuple(cols), path)


def store_vectors(spark: SparkSession, sf_dir: str) -> Stored:
    """The published quantized vectors ``qemb``: (vec_id, q)."""
    from bpaotu_spark.ann.index_store import qemb_cached

    return stored(
        lambda: qemb_cached(spark, sf_dir), sf_dir, "qemb", ("vec_id", "q")
    )


def store_graph(spark: SparkSession, sf_dir: str) -> Stored:
    """The published connected kNN graph ``conn_edges``:
    (vec_id, neighbor_id)."""
    from bpaotu_spark.ann.index_store import connected_edges_cached

    return stored(
        lambda: connected_edges_cached(spark, sf_dir),
        sf_dir,
        "conn_edges",
        ("vec_id", "neighbor_id"),
    )


def id_mod(col: str, mod: int, res: int, *, equal: bool = True) -> Where:
    """``col % mod == res`` (``!=`` when not ``equal``). Arrow has no
    modulo kernel, so its form is ``col - (col / mod) * mod`` with
    integer division, which truncates toward zero as Spark's ``%``
    does."""
    import pyarrow.compute as pc

    c = pc.field(col)
    a_rem = c - (c / mod) * mod
    s_rem = F.col(col) % mod
    if equal:
        return Where(s_rem == res, a_rem == res)
    return Where(s_rem != res, a_rem != res)


# Arrow reads of published files that failed (the files were gone or
# unreadable) and were served by Spark instead, by artifact name (the
# directory name without its fingerprint): the read still succeeds,
# so this count is how the fallback shows. The names are the store's
# fixed artifact kinds, which bounds the counter.
FALLBACKS: Counter[str] = Counter()
_FALLBACKS_LOCK = threading.Lock()


def read_stored(src: Stored, arrow_read: Callable, spark_read: Callable):
    """``arrow_read(dataset)`` over ``src``'s published files, or
    ``spark_read`` of the frame ``src.df()`` serves when it has none or
    they are gone; a failed Arrow read counts in :data:`FALLBACKS`."""
    if src.path is not None:
        import pyarrow as pa
        import pyarrow.dataset as ds

        try:
            return arrow_read(ds.dataset(src.path, format="parquet"))
        except (OSError, pa.ArrowException):
            # files gone (a concurrent prune): Spark reads the same rows
            name = os.path.basename(src.path.rstrip("/")).rsplit("-", 1)[0]
            with _FALLBACKS_LOCK:
                FALLBACKS[name] += 1
    return spark_read(src.df())


def _pycol(col) -> list:
    """An Arrow column as a list of Python values; a list column's
    values come back as int64 numpy slices, which is several times
    faster than building Python lists."""
    import pyarrow as pa

    col = col.combine_chunks()
    if not pa.types.is_list(col.type):
        return col.to_pylist()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    off = col.offsets.to_numpy()
    off = off - off[0]
    return [flat[a:b] for a, b in zip(off[:-1], off[1:])]


def lookup(
    src: Stored, ids: Iterable[int], where: Where | None = None
) -> list[tuple]:
    """Rows (``src.cols``) of ``src`` whose key is in ``ids`` and that
    pass ``where``: an ``isin``-filtered Arrow read of the published
    files, or Spark's :func:`_fetch`. An array column's value is a
    sequence of ints on either path."""
    ids = {int(i) for i in ids}
    if not ids:
        return []
    key, cols = src.cols[0], list(src.cols)

    def arrow_read(dset) -> list[tuple]:
        import pyarrow.compute as pc

        filt = pc.field(key).isin(sorted(ids))
        if where is not None:
            filt = filt & where.arrow
        t = dset.to_table(columns=cols, filter=filt)
        return list(zip(*(_pycol(t.column(c)) for c in cols)))

    def spark_read(df: DataFrame) -> list[tuple]:
        if where is not None:
            df = df.filter(where.spark)
        return [tuple(r) for r in _fetch(df.select(*cols), key, ids)]

    return read_stored(src, arrow_read, spark_read)


def collect_qv(
    qs: Stored, ids: Iterable[int], where: Where | None = None
) -> dict[int, list[int]]:
    """The driver map (query_id -> qv) the walk helpers consume: the
    vectors of ``ids`` (passing ``where``) looked up in ``qs``.
    |queries| is bounded (the demo query set)."""
    return {int(r[0]): [int(x) for x in r[1]] for r in lookup(qs, ids, where)}


def d2_exact(a: list[int], b: list[int]) -> int:
    """Driver-side twin of :func:`grid_d2` — exact integer math, so
    the value is identical wherever it is computed."""
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _fetch(df: DataFrame, col: str, ids: set[int]) -> list:
    """Rows of ``df`` whose ``col`` is in ``ids``: one pushed-down
    ``IN`` collect per ``_IN_CHUNK`` ids, in sorted id order."""
    ordered = sorted(ids)
    rows = []
    for i in range(0, len(ordered), _IN_CHUNK):
        chunk = ",".join(str(int(x)) for x in ordered[i : i + _IN_CHUNK])
        rows.extend(df.filter(F.expr(f"{col} IN ({chunk})")).collect())
    return rows


def _d2_batch(qv: list[int], vecs: list[list[int]]) -> list[int]:
    """``[d2_exact(qv, v) for v in vecs]`` in one int64 numpy pass.
    Exact: raises OverflowError for coordinates large enough that a
    sum could pass 2**63 - 1."""
    import numpy as np

    q = np.asarray(qv, dtype=np.int64)
    m = np.asarray(vecs, dtype=np.int64)
    big = max(int(np.abs(q).max(initial=0)), int(np.abs(m).max(initial=0)))
    if 4 * big * big * q.size > 2**63 - 1:
        raise OverflowError(f"coordinate {big} overflows the int64 d2 sum")
    return ((m - q) ** 2).sum(axis=1).tolist()


class _WalkState:
    """Per-invocation fetch caches: adjacency lists and candidate
    vectors for the walk's touched neighbourhood (bounded by
    hops × |queries| × beam × degree), and each query's scored
    candidates. Never outlives the query call."""

    def __init__(self, edges: Stored, cq: Stored) -> None:
        self.edges = edges
        self.cq = cq
        self.adj: dict[int, list[int]] = {}
        self.vec: dict[int, list[int]] = {}
        self.d2: dict[int, dict[int, int]] = {}

    def fetch_adj(self, nodes: set[int]) -> None:
        need = nodes.difference(self.adj)
        if not need:
            return
        rows = lookup(self.edges, need)
        for n in need:
            self.adj[n] = []
        for r in rows:
            self.adj[int(r[0])].append(int(r[1]))

    def fetch_vec(self, ids: set[int]) -> None:
        need = ids.difference(self.vec)
        if not need:
            return
        for r in lookup(self.cq, need):
            self.vec[int(r[0])] = r[1]

    def candidates(
        self, qid: int, qv: list[int], nodes: list[int]
    ) -> set[tuple[int, int]]:
        """Exact-scored (d2, cand_id) set of the distinct neighbours
        of ``nodes``, excluding the query itself and ids absent from
        the corpus (the semantics of the removed inner joins). Each
        (query, candidate) pair is scored once per walk."""
        cands = {
            c
            for n in nodes
            for c in self.adj[n]
            if c != qid and c in self.vec
        }
        scored = self.d2.setdefault(qid, {})
        new = [c for c in cands if c not in scored]
        if new:
            scored.update(zip(new, _d2_batch(qv, [self.vec[c] for c in new])))
        return {(scored[c], c) for c in cands}


def beam_walk(
    spark: SparkSession,
    edges: Stored,
    cq: Stored,
    qmap: dict[int, list[int]],
    init: dict[int, list[tuple[int, int]]],
    *,
    beam: int,
    hops: int,
) -> dict[int, list[tuple[int, int]]]:
    """Beam walk with per-query early termination.

    ``init``/result: query_id -> sorted [(d2, node_id), ...], the
    exact (d2, node_id)-ordered frontier the checkpoint-loop form
    materialized per hop. The initial frontier is NOT truncated (the
    hierarchical ops seed with n_seeds rows and only cut to the beam
    after the first union, exactly like the loop they replace); every
    merge keeps top-``beam``. ``edges`` holds (node, neighbour) rows
    and ``cq`` (candidate, vector) rows, in the columns each names."""
    st = _WalkState(edges, cq)
    front = {q: sorted(v) for q, v in init.items()}
    active = sorted(front)
    for _ in range(hops):
        if not active:
            break
        st.fetch_adj({n for q in active for (_, n) in front[q]})
        st.fetch_vec(
            {
                c
                for q in active
                for (_, n) in front[q]
                for c in st.adj[n]
                if c != q
            }
        )
        nxt = []
        for q in active:
            cand = st.candidates(q, qmap[q], [n for (_, n) in front[q]])
            merged = sorted(set(front[q]) | cand)[:beam]
            if merged != front[q]:
                front[q] = merged
                nxt.append(q)
        active = nxt
    return front


def greedy_walk(
    spark: SparkSession,
    edges: Stored,
    cq: Stored,
    qmap: dict[int, list[int]],
    init: dict[int, tuple[int, int]],
    *,
    hops: int,
) -> dict[int, tuple[int, int]]:
    """Greedy walk: move to the best (d2, cand_id) neighbour only on a
    STRICT d2 improvement (ties keep the current node — the original
    CASE WHEN b_d2 < cur_d2 rule, which differs from a beam of width
    1). ``init``/result: query_id -> (cur_id, cur_d2)."""
    st = _WalkState(edges, cq)
    cur = dict(init)
    active = sorted(cur)
    for _ in range(hops):
        if not active:
            break
        st.fetch_adj({cur[q][0] for q in active})
        st.fetch_vec(
            {c for q in active for c in st.adj[cur[q][0]] if c != q}
        )
        nxt = []
        for q in active:
            cand = st.candidates(q, qmap[q], [cur[q][0]])
            if cand:
                b_d2, b_id = min(cand)
                if b_d2 < cur[q][1]:
                    cur[q] = (b_id, b_d2)
                    nxt.append(q)
        active = nxt
    return cur


class NoEntryPoint(ValueError):
    """The frame a walk takes its entry point from holds no row."""


def entry_init(
    src: Stored,
    qmap: dict[int, list[int]],
    where: Where | None = None,
) -> tuple[int, dict[int, int]]:
    """The max-id entry point and its exact d2 to every query: returns
    (entry_id, {query_id: d2}). ``src`` holds the (id, vector)
    rows the entry may come from, restricted to the rows passing
    ``where`` (the survivors, where the op requires it)."""
    key = src.cols[0]

    def arrow_read(dset) -> tuple | None:
        import pyarrow.compute as pc

        ids = dset.to_table(
            columns=[key], filter=None if where is None else where.arrow
        ).column(key)
        eid = pc.max(ids).as_py()
        return None if eid is None else lookup(src, {eid})[0]

    def spark_read(df: DataFrame) -> tuple | None:
        if where is not None:
            df = df.filter(where.spark)
        rows = df.orderBy(F.desc(key)).limit(1).select(*src.cols).collect()
        return tuple(rows[0]) if rows else None

    row = read_stored(src, arrow_read, spark_read)
    if row is None:
        raise NoEntryPoint(f"no {key} to enter the walk from: the frame is empty")
    eid = int(row[0])
    evec = [int(x) for x in row[1]]
    return eid, {q: d2_exact(v, evec) for q, v in qmap.items()}


def walk_report(
    spark: SparkSession,
    found: dict[int, tuple[int, int]],
    truth: dict[int, tuple[int, int]],
) -> DataFrame:
    """The walker report row set, computed in the driver with the
    identical integer arithmetic (`div` on non-negative BIGINTs ==
    Python // here) and returned as a literal frame
    (:func:`~bpaotu_spark.session.local_frame`): (query_id, found_id,
    found_d2, true_id, true_d2, exact_hit, dist_ratio_milli), emitted
    in query_id order, so no sort runs. A query with no truth row
    has no report row (the oracles inner-join found with truth)."""
    rows = []
    for q in sorted(found.keys() & truth.keys()):
        fid, fd2 = found[q]
        tid, td2 = truth[q]
        rows.append(
            (q, fid, fd2, tid, td2, fid == tid, fd2 * 1000 // max(td2, 1))
        )
    return local_frame(
        spark,
        rows,
        "query_id long, found_id long, found_d2 long, true_id long,"
        " true_d2 long, exact_hit boolean, dist_ratio_milli long",
    )


def collect_truth_nn(
    truth: Stored, ids: Iterable[int], where: Where | None = None
) -> dict[int, tuple[int, int]]:
    """query_id -> (true_id, true_d2) from the rows of query ``ids``
    (passing ``where``) of a (query_id, true_id, true_d2) truth table."""
    return {int(r[0]): (int(r[1]), int(r[2])) for r in lookup(truth, ids, where)}


def top1(front: dict[int, list[tuple[int, int]]]) -> dict[int, tuple[int, int]]:
    """(found_id, found_d2) of each query's final frontier head."""
    return {q: (v[0][1], v[0][0]) for q, v in front.items()}
