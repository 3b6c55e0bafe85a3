"""The measured process of one benchmark run, started by ``run.py`` as
``python3 -m perfbench.workload`` with the repository root on
``PYTHONPATH``.

``prepare --out DIR`` writes the dataset and builds the persisted
stores once per source tree. ``run ...`` performs one run: set-up, one
untimed pass over every request kind whose outputs are checked against
DuckDB, then timed rounds, and with ``--trace 1`` as many traced
rounds and as many untimed ones again. The result is written as JSON to
``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

T_PROCESS = time.monotonic()

from perfbench import datagen, stats, workloads as rq  # noqa: E402
from perfbench.spans import (  # noqa: E402
    JobStats, Tracer, install_layer_wrappers, self_times, store_entries, union_length,
)

# Parquet inputs the three store builds read.
STORE_INPUTS = ("embeddings", "lineitem", "orders", "customer", "part", "documents")
EXPORT_SUFFIX = {"io.geojson": ".geojson"}
MB = 1024 * 1024

# Every run times at least this many whole rounds, so that each kind's
# median is taken over at least three calls: a kind's second call in a
# process, the first timed one, still runs up to 40 % slower than later.
MIN_TIMED_ROUNDS = 3


def _store_builds() -> tuple:
    """The three store build jobs, in the order a data drop runs them."""
    from bpaotu_spark.ann.index_store import build_ann_index
    from bpaotu_spark.dedup.sigstore import build_dedup_store
    from bpaotu_spark.operators.diststore import build_dist_store

    return (("ann", build_ann_index), ("dist", build_dist_store), ("dedup", build_dedup_store))


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    """Executes requests one at a time (a closed loop with one client)."""

    def __init__(self, spark, sf_dir: str, export_dir: str, index_dir: str, oracle=None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.index_dir = index_dir
        self.export_dir = export_dir
        self.oracle = oracle
        self.tracer: Tracer | None = None
        self.jobs = JobStats(spark)

    def _execute(self, req: rq.Request, df, collect: bool):
        """Run the built DataFrame; returns the rows when collecting and
        the file path for exports."""
        if req.kind in EXPORT_SUFFIX:
            from bpaotu_spark.io.geojson import write_geojson_points

            path = os.path.join(self.export_dir, req.rid + EXPORT_SUFFIX[req.kind])
            write_geojson_points(df, path, "bin_x", "bin_y", ("n_orders", "n_samples", "total_price"))
            return path
        if collect:
            return [tuple(r) for r in df.collect()]
        df.write.format("noop").mode("overwrite").save()
        return None

    def run(self, req: rq.Request, check: bool = False) -> dict:
        """One request: build, then execute (``noop`` write or export).

        With ``check`` the result is collected and compared with the
        oracle instead of being written to ``noop``, and the request
        fails with ``StoreMiss`` if it published a store artifact: checked
        requests run against a store already built for this code and
        data, so a miss there means set-up did not build what they read.
        """
        from perfbench.oracle import export_bytes, read_export

        sc = self.spark.sparkContext
        rec = {"rid": req.rid, "kind": req.kind, "request": req.describe(), "ok": True}
        tr = self.tracer
        if tr is not None:
            tr.rid = req.rid
        published = store_entries(self.index_dir) if check else set()
        try:
            with _maybe_span(tr, "request"):
                sc.setJobGroup(f"{req.rid}/build", req.kind)
                t0 = time.monotonic()
                with _maybe_span(tr, "build"):
                    df = rq.build(self.spark, self.sf_dir, req)
                t1 = time.monotonic()
                sc.setJobGroup(f"{req.rid}/execute", req.kind)
                if tr is not None:
                    with tr.span("catalyst"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.monotonic()
                with _maybe_span(tr, "execute"):
                    out = self._execute(req, df, collect=check)
                t3 = time.monotonic()
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, wall_s=t3 - t0)
            if req.kind in EXPORT_SUFFIX:
                rec["export_bytes"] = export_bytes(out)
            if check:
                sql = rq.oracle_sql(req)
                if req.kind in EXPORT_SUFFIX:
                    cols, rows = read_export(req.kind, out)
                    why = self.oracle.check(cols, rows, sql)
                else:
                    why = self.oracle.check(df.columns, out, sql, df.dtypes)
                if why is not None:
                    rec.update(ok=False, error="OutputMismatch", detail=why)
                elif new := sorted(store_entries(self.index_dir) - published):
                    rec.update(ok=False, error="StoreMiss", detail=f"published {new}")
        except Exception as ex:  # a failed op is counted, never fatal
            rec.update(ok=False, error=type(ex).__name__, detail=str(ex)[:500])
        finally:
            sc.setJobGroup("perfbench/idle", "")
            if tr is not None:
                tr.rid = None
        if tr is not None and rec["ok"]:
            rec["jobs"] = {ph: self.jobs.group(f"{req.rid}/{ph}") for ph in ("build", "execute")}
        return rec


def _maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _rounds(runner: Runner, workload: str, seed: int, first: int, pools, seconds: float | None, n_rounds: int | None):
    """Whole rounds until ``seconds`` have passed and at least
    ``MIN_TIMED_ROUNDS`` are done (or exactly ``n_rounds`` rounds)."""
    recs, rnd, t0 = [], first, time.monotonic()
    while True:
        for req in rq.round_requests(workload, seed, rnd, pools):
            recs.append(runner.run(req))
        rnd += 1
        done = rnd - first
        if n_rounds is not None:
            stop = done >= n_rounds
        else:
            stop = done >= MIN_TIMED_ROUNDS and time.monotonic() - t0 >= seconds
        if stop:
            return recs, time.monotonic() - t0, done


def _failures(recs: list[dict]) -> list[dict]:
    return [{k: r.get(k) for k in ("rid", "kind", "request", "error", "detail")} for r in recs if not r["ok"]]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _pools(sf_dir: str) -> rq.Pools:
    import pyarrow.parquet as pq

    def read(t):
        return pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))

    return rq.Pools.from_tables(read("customer"), read("nation"), read("region"), read("part"))


def _by_kind(recs: list[dict]) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for r in recs:
        if r["ok"]:
            by.setdefault(r["kind"], []).append(r["wall_s"])
    return dict(sorted(by.items()))


def _e2e(recs: list[dict], wall: float) -> dict:
    by = _by_kind(recs)
    lat = [v for vs in by.values() for v in vs]
    med = stats.median_round(by) if by else None
    return {
        "requests_per_s": med["requests_per_s"] if med else 0.0,
        "requests_per_s_wall": len(lat) / wall,
        "latency": stats.latency_report(lat) if lat else {},
        "latency_geomean": {"value": med["latency_s"], "n": med["n"]} if med else None,
        "timed_requests": len(recs),
        "timed_wall_s": wall,
    }


def _kind_p50(recs: list[dict]) -> dict:
    return {
        f"kind.{k}.p50_s": {"value": statistics.median(v), "n": len(v)}
        for k, v in _by_kind(recs).items()
    }


def _layers(tracer: Tracer, recs: list[dict], rounds: int, cores: int) -> dict:
    """Per-layer metrics of the traced rounds, per round."""
    # spans outside any request (the store builds of store_rebuild) are
    # reported by their own names
    spans = [s for s in tracer.spans if s.rid is not None]
    own = self_times(tracer.spans)
    by_name: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + own[s.sid]
        calls[s.name] = calls.get(s.name, 0) + 1
    phase = {(s.rid, s.name): s for s in spans if s.name in ("build", "execute", "request")}
    build = {"jobs": 0, "outside": 0.0}
    ex = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
          "sr": 0, "sw": 0, "spill": 0, "outside": 0.0, "wall": 0.0}
    export_s = export_b = 0.0
    for r in recs:
        if not r["ok"]:
            continue
        for ph in ("build", "execute"):
            s = phase[(r["rid"], ph)]
            jobs = r["jobs"][ph]
            spans_ = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
            outside = s.duration - union_length(spans_, s.start, s.end)
            if ph == "build":
                build["jobs"] += len(jobs)
                build["outside"] += outside
                continue
            ex["jobs"] += len(jobs)
            ex["outside"] += outside
            ex["wall"] += s.duration
            for j in jobs:
                for st in j["stages"]:
                    ex["stages"] += 1
                    ex["tasks"] += st["tasks"]
                    ex["run_s"] += st["run_s"]
                    ex["cpu_s"] += st["cpu_s"]
                    ex["sr"] += st["shuffle_read_b"]
                    ex["sw"] += st["shuffle_write_b"]
                    ex["spill"] += st["spill_b"]
        if r["kind"] in EXPORT_SUFFIX:
            export_s += phase[(r["rid"], "execute")].duration
            export_b += r["export_bytes"]
    n_req = sum(1 for r in recs if r["ok"])
    request_wall = sum(phase[(r["rid"], "request")].duration for r in recs if r["ok"])

    def per_round(v):
        return v / rounds

    out = {
        "catalog.load_table_calls": (per_round(calls.get("catalog.load_table", 0)), "count"),
        "catalog.load_table_s": (per_round(by_name.get("catalog.load_table", 0.0)), "s"),
        "catalog.load_table_calls_per_request": (calls.get("catalog.load_table", 0) / max(n_req, 1), "count"),
        "catalog.load_table_s_per_request": (by_name.get("catalog.load_table", 0.0) / max(n_req, 1), "s"),
        "operators.construct_s": (per_round(by_name.get("build", 0.0)), "s"),
        "operators.construct_jobs": (per_round(build["jobs"]), "count"),
        "operators.construct_outside_job_s": (per_round(build["outside"]), "s"),
        "catalyst.plan_s": (per_round(by_name.get("catalyst", 0.0)), "s"),
        "execute_s": (per_round(by_name.get("execute", 0.0)), "s"),
        "execute.jobs": (per_round(ex["jobs"]), "count"),
        "execute.stages": (per_round(ex["stages"]), "count"),
        "execute.tasks": (per_round(ex["tasks"]), "count"),
        "execute.executor_run_s": (per_round(ex["run_s"]), "s"),
        "execute.executor_cpu_s": (per_round(ex["cpu_s"]), "s"),
        "execute.shuffle_read_mb": (per_round(ex["sr"] / MB), "MB"),
        "execute.shuffle_write_mb": (per_round(ex["sw"] / MB), "MB"),
        "execute.spill_mb": (per_round(ex["spill"] / MB), "MB"),
        "execute.outside_job_s": (per_round(ex["outside"]), "s"),
        "execute.core_busy_ratio": (ex["run_s"] / (ex["wall"] * cores) if ex["wall"] else 0.0, "ratio"),
        "store.cached_frame_s": (per_round(by_name.get("store.cached_frame", 0.0)), "s"),
        "store.artifacts_built": (per_round(tracer.counts.get("store.artifacts_built", 0)), "count"),
        "store.artifacts_read": (per_round(tracer.counts.get("store.artifacts_read", 0)), "count"),
        "ann.walk_calls": (per_round(calls.get("ann.walk", 0)), "count"),
        "ann.walk_s": (per_round(by_name.get("ann.walk", 0.0)), "s"),
        "io.export_s": (per_round(export_s), "s"),
        "io.export_bytes": (per_round(export_b), "bytes"),
        "trace.request_wall_s": (per_round(request_wall), "s"),
        # request time outside every phase span (job-group calls, bookkeeping)
        "trace.unaccounted_s": (per_round(by_name.get("request", 0.0)), "s"),
    }
    return out


def run(args) -> dict:
    t_spawn = args.t_spawn
    out = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    t = time.monotonic()
    from bpaotu_spark import registry
    from bpaotu_spark.session import get_session

    t_import = time.monotonic()
    registry.load_all()
    t_load = time.monotonic()
    spark = get_session("perfbench")
    t_session = time.monotonic()
    cores = spark.sparkContext.defaultParallelism
    setup = {
        "process_start_s": T_PROCESS - t_spawn,
        "imports_s": t_import - t,
        "registry.load_all_s": t_load - t_import,
        "session.start_s": t_session - t_load,
    }
    out["setup"] = setup
    out["environment"] = {"spark": spark.version, "cores": cores, "sf_dir": os.path.basename(args.sf_dir)}
    index_dir = os.environ["BPAOTU_ANN_INDEX_DIR"]
    try:
        from perfbench.oracle import Oracle

        oracle = Oracle(args.sf_dir)
        try:
            runner = Runner(spark, args.sf_dir, args.export_dir, index_dir, oracle)
            if args.workload == "store_rebuild":
                out.update(_store_rebuild(args, runner, index_dir, setup, t_spawn, cores))
            else:
                out.update(_closed_loop(args, runner, index_dir, setup, t_spawn, cores))
        finally:
            oracle.close()
    finally:
        _stop(spark)
    return out


def _closed_loop(args, runner: Runner, index_dir: str, setup: dict, t_spawn: float, cores: int) -> dict:
    pools = _pools(args.sf_dir) if args.workload == "portal" else None
    t = time.monotonic()
    # the untimed round calls the kinds in one fixed order, so that every
    # run warms the JVM up the same way whatever its seed
    checked = [runner.run(req, check=True) for req in rq.round_requests(args.workload, args.seed, 0, pools, shuffled=False)]
    # the checked pass collects; load the noop write path before timing it
    runner.spark.range(1).write.format("noop").mode("overwrite").save()
    t_first = time.monotonic()
    setup["warm_check_pass_s"] = t_first - t
    setup["setup_s"] = t_first - t_spawn
    timed, wall, n_rounds = _rounds(runner, args.workload, args.seed, 1, pools, args.seconds, None)
    res = {"checks": checked, "timed": timed, "rounds": n_rounds}
    e2e = _e2e(timed, wall)
    res["end_to_end"] = e2e
    res["kinds"] = _kind_p50(timed)
    all_recs = checked + timed
    if args.trace:
        tracer = Tracer()
        runner.tracer = tracer
        undo = install_layer_wrappers(tracer, index_dir)
        size_before = _dir_bytes(index_dir)
        try:
            traced, twall, _ = _rounds(runner, args.workload, args.seed, 1 + n_rounds, pools, None, n_rounds)
        finally:
            for u in undo:
                u()
            runner.tracer = None
        # untraced rounds again after the traced ones: the JVM is still
        # warming up during the timed rounds, which alone would make
        # tracing look cheaper than it is
        after, wall_after, _ = _rounds(runner, args.workload, args.seed, 1 + 2 * n_rounds, pools, None, n_rounds)
        tracer.dump(args.trace_file)
        layers = _layers(tracer, traced, n_rounds, cores)
        layers["store.bytes_written_mb"] = ((_dir_bytes(index_dir) - size_before) / MB / n_rounds, "MB")
        layers["registry.load_all_s"] = (setup["registry.load_all_s"], "s")
        layers["session.start_s"] = (setup["session.start_s"], "s")
        layers["trace_overhead_ratio"] = (twall / ((wall + wall_after) / 2), "ratio")
        res["layers"] = layers
        all_recs += traced + after
    res["attempted"] = len(all_recs)
    res["failures"] = _failures(all_recs)
    return res


def _store_rebuild(args, runner: Runner, index_dir: str, setup: dict, t_spawn: float, cores: int) -> dict:
    spark, sf_dir = runner.spark, args.sf_dir
    tracer = Tracer() if args.trace else None
    undo = install_layer_wrappers(tracer, index_dir) if tracer else []
    runner.tracer = tracer
    setup["setup_s"] = time.monotonic() - t_spawn
    builds, failures = {}, []
    try:
        for name, fn in _store_builds():
            t = time.monotonic()
            try:
                with _maybe_span(tracer, f"store.build_{name}"):
                    fn(spark, sf_dir)
            except Exception as ex:  # counted as a failed op
                failures.append({"rid": f"build.{name}", "kind": fn.__name__,
                                 "error": type(ex).__name__, "detail": str(ex)[:500]})
            builds[name] = time.monotonic() - t
        t = time.monotonic()
        served = [runner.run(req) for req in rq.round_requests("store_rebuild", args.seed, 1, None)]
        wall = time.monotonic() - t
    finally:
        for u in undo:
            u()
        runner.tracer = None
    # the first serve of each consumer is the timed request; its output is
    # checked afterwards, from the now-warm store
    checks = [runner.run(rq.Request(r["rid"] + ".check", r["kind"]), check=True) for r in served if r["ok"]]
    store_bytes = _dir_bytes(index_dir)
    input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in STORE_INPUTS)
    res = {
        "store": {"build_s": builds, "store_bytes": store_bytes, "input_bytes": input_bytes},
        "end_to_end": _e2e(served, wall),
        "checks": checks,
        "timed": served,
        "kinds": _kind_p50(served),
    }
    res["end_to_end"]["store_build_s"] = sum(builds.values())
    res["end_to_end"]["store_bytes_per_input_byte"] = store_bytes / input_bytes
    if tracer is not None:
        tracer.dump(args.trace_file)
        res["layers"] = {
            **_layers(tracer, served, 1, cores),
            **{f"store.build_{n}_s": (v, "s") for n, v in builds.items()},
            "store.bytes_written_mb": (store_bytes / MB, "MB"),
            "registry.load_all_s": (setup["registry.load_all_s"], "s"),
            "session.start_s": (setup["session.start_s"], "s"),
        }
    all_recs = served + checks
    res["attempted"] = len(all_recs) + len(builds)
    res["failures"] = failures + _failures(all_recs)
    return res


def prepare(out_dir: str) -> dict:
    """Write the dataset into ``out_dir/data`` and build the stores the
    ``portal`` and ``analysis`` kinds read, by serving each kind once
    (the store-miss path persists every artifact it builds)."""
    sf_dir = os.path.join(out_dir, "data")
    t = time.monotonic()
    data_bytes = datagen.write(sf_dir)
    info = {"data_bytes": data_bytes, "datagen_s": time.monotonic() - t}
    from bpaotu_spark import registry
    from bpaotu_spark.session import get_session

    registry.load_all()
    spark = get_session("perfbench-prepare")
    try:
        t = time.monotonic()
        pools = _pools(sf_dir)
        for workload in ("portal", "analysis"):
            for req in rq.round_requests(workload, 0, 0, pools):
                rq.build(spark, sf_dir, req).write.format("noop").mode("overwrite").save()
        info["store_build_s"] = time.monotonic() - t
        info["store_entries"] = sorted(store_entries(os.environ["BPAOTU_ANN_INDEX_DIR"]))
    finally:
        _stop(spark)
    return info


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    pp = sub.add_parser("prepare")
    pp.add_argument("--out", required=True)
    pr = sub.add_parser("run")
    pr.add_argument("--workload", required=True, choices=sorted(rq.MIX))
    pr.add_argument("--seed", type=int, required=True)
    pr.add_argument("--seconds", type=float, required=True)
    pr.add_argument("--trace", type=int, choices=(0, 1), required=True)
    pr.add_argument("--sf-dir", required=True)
    pr.add_argument("--export-dir", required=True)
    pr.add_argument("--result", required=True)
    pr.add_argument("--trace-file", required=True)
    pr.add_argument("--t-spawn", type=float, required=True)
    a = p.parse_args(argv)
    if a.cmd == "prepare":
        info = prepare(a.out)
        with open(os.path.join(a.out, "prepared.json"), "w") as f:
            json.dump(info, f)
        return 0
    res = run(a)
    with open(a.result, "w") as f:
        json.dump(res, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
