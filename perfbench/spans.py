"""In-memory spans, self time, layer wrappers and Spark job statistics.

A :class:`Tracer` records spans (name, start, end, parent, request id)
around each request, its phases and each wrapped public function of a
bpaotu_spark layer. Wrappers are installed from here, in the traced run
only; the program itself is not changed.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one thread (the Spark driver's main thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.rid: str | None = None
        self._stack: list[int] = []
        self.counts: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        s = Span(sid, name, time.time(), float("nan"), self._stack[-1] if self._stack else None, self.rid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "counts": self.counts}, f)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - union_length(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def patch_everywhere(module, attr: str, replacement) -> Callable[[], None]:
    """Replace ``module.attr`` and every loaded module's binding of the
    same object (``from x import f`` copies); returns an undo function."""
    original = getattr(module, attr)
    patched = [
        m for m in list(sys.modules.values())
        if m is not None and getattr(m, attr, None) is original
    ]
    for m in patched:
        setattr(m, attr, replacement)

    def undo() -> None:
        for m in patched:
            setattr(m, attr, original)

    return undo


def store_entries(index_dir: str) -> set[str]:
    """Published ``<artifact>-<fingerprint>`` entries of a store directory."""
    try:
        return {e for e in os.listdir(index_dir) if not e.startswith(".")}
    except FileNotFoundError:
        return set()


def install_layer_wrappers(tracer: Tracer, index_dir: str) -> list:
    """Wrap the public calls of each layer the benchmark reports on.

    Store hits and misses are told apart by whether a new
    ``<artifact>-<fingerprint>`` entry appears in ``index_dir`` during
    the ``cached_frame`` call.
    """
    from bpaotu_spark import catalog
    from bpaotu_spark.ann import index_store, walk

    cached_frame = index_store.cached_frame

    @functools.wraps(cached_frame)
    def counted_cached_frame(spark, sf_dir, name, *args, **kwargs):
        before = store_entries(index_dir)
        with tracer.span("store.cached_frame"):
            out = cached_frame(spark, sf_dir, name, *args, **kwargs)
        built = any(e.startswith(f"{name}-") for e in store_entries(index_dir) - before)
        tracer.count("store.artifacts_built" if built else "store.artifacts_read")
        return out

    return [
        patch_everywhere(catalog, "load_table", tracer.wrap("catalog.load_table", catalog.load_table)),
        patch_everywhere(walk, "beam_walk", tracer.wrap("ann.walk", walk.beam_walk)),
        patch_everywhere(walk, "greedy_walk", tracer.wrap("ann.walk", walk.greedy_walk)),
        patch_everywhere(index_store, "cached_frame", counted_cached_frame),
    ]


class JobStats:
    """Jobs and stages of a job group, read from the Spark status store.

    The store is filled by an asynchronous listener, so the listener bus
    is drained before every read.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def group(self, group: str) -> list[dict]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = []
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(job_id)
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                attempts = store.stageData(it.next(), False, None, False, None).iterator()
                while attempts.hasNext():
                    sd = attempts.next()
                    if str(sd.status()) == "SKIPPED":
                        continue
                    stages.append({
                        "tasks": sd.numTasks(),
                        "run_s": sd.executorRunTime() / 1e3,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "shuffle_read_b": sd.shuffleReadBytes(),
                        "shuffle_write_b": sd.shuffleWriteBytes(),
                        "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    })
            start = jd.submissionTime()
            end = jd.completionTime()
            jobs.append({
                "job_id": job_id,
                "start": start.get().getTime() / 1e3 if start.isDefined() else None,
                "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                "stages": stages,
            })
        return jobs
