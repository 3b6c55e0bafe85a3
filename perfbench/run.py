"""Benchmark entry point: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the repository root.

Prepares the dataset and the persisted stores once per source tree,
starts the measured process (``workload.py run``) in fresh temporary
directories, samples the resident memory of its process tree, and
removes everything it started and wrote except the prepared inputs and
the trace file. Prints a detail line (every metric with its unit and
sample count, the output checks, failures, the request list and the
environment), then the result line defined by ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "4g"
RUN_TIMEOUT_S = 175
MB = 1024 * 1024
PREPARE_TIMEOUT_S = 600


def source_hash() -> str:
    """Identity of the prepared inputs: the program, the data generator
    and the request kinds whose artifacts the store holds."""
    paths = [os.path.join(HERE, f) for f in ("datagen.py", "workloads.py", "workload.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "bpaotu_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def group_rss(pgid: int) -> dict[str, int]:
    """Resident bytes per command name, over every process in group ``pgid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        # fields[2] is pgrp, fields[21] is rss in pages (proc(5), after comm)
        if int(fields[2]) == pgid:
            name = comm.split("(", 1)[1]
            out[name] = out.get(name, 0) + int(fields[21]) * page
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def run_child(cmd: list[str], env: dict, cwd: str, timeout: float) -> tuple[int, dict]:
    """Run ``cmd`` in its own process group until it and every process it
    started have ended; returns (exit code, the group's RSS per command
    name at the moment its total peaked)."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    peak: dict[str, int] = {}
    stop = threading.Event()

    def sample() -> None:
        nonlocal peak
        while not stop.is_set():
            now = group_rss(proc.pid)
            if sum(now.values()) > sum(peak.values()):
                peak = now
            stop.wait(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        stop.set()
        sampler.join()
        deadline = time.monotonic() + 30
        sig = signal.SIGTERM if code != -1 else signal.SIGKILL
        while group_alive(proc.pid):
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
            if proc.poll() is None:
                try:
                    proc.wait(timeout=1)
                except subprocess.TimeoutExpired:
                    pass
    return code, peak


def base_env(tmp: str) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(tmp, "spark-local"),
        # in local mode this variable takes precedence over spark.local.dir
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        # keep JVM temp files (and no hsperfdata) inside the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
        "BPAOTU_ANN_INDEX_DIR": os.path.join(tmp, "index"),
    })
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    for k in ("spark-local", "tmp", "cwd"):
        os.makedirs(os.path.join(tmp, k), exist_ok=True)
    return env


def prepared_dir() -> str:
    """Dataset plus prebuilt stores for this source tree, built on first use.

    The stores are built against the data at its final path: the store
    keys each artifact on the real path of the data it was built from,
    so data moved after the build would never be served from the store.
    ``prepared.json`` is written last and marks a finished preparation.
    """
    path = os.path.join(WORK, f"prepared-{source_hash()}")
    if os.path.exists(os.path.join(path, "prepared.json")):
        return path
    os.makedirs(WORK, exist_ok=True)
    for old in os.listdir(WORK):
        if old.startswith("prepared-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    os.makedirs(path)
    tmp = tempfile.mkdtemp(prefix="prepare-", dir=WORK)
    try:
        env = base_env(tmp)
        env["BPAOTU_ANN_INDEX_DIR"] = os.path.join(path, "store")
        code, _ = run_child(
            [sys.executable, "-m", "perfbench.workload", "prepare", "--out", path],
            env, os.path.join(tmp, "cwd"), PREPARE_TIMEOUT_S,
        )
        if code != 0:
            raise RuntimeError(f"prepare failed with exit code {code}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def metric(value, unit: str, n: int | None = None) -> dict:
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    return m


def report(res: dict, peak_rss: dict, wanted: list[str]) -> tuple[dict, dict]:
    """(detail, result line) from the measured process's result."""
    e2e = res["end_to_end"]
    lat = e2e["latency"]
    failures = res["failures"]
    attempted = res["attempted"]
    mismatched = [f for f in failures if f["error"] == "OutputMismatch"]
    # store_rebuild serves a consumer that fails on a cold store on the
    # current code, and reports that failure; on the other workloads any
    # failed op makes the run incorrect
    correct = not mismatched if res["workload"] == "store_rebuild" else not failures
    detail_metrics = {
        "setup_s": metric(res["setup"]["setup_s"], "s"),
        "requests_per_s": metric(e2e["requests_per_s"], "1/s", e2e["timed_requests"]),
        "requests_per_s_wall": metric(e2e["requests_per_s_wall"], "1/s", e2e["timed_requests"]),
        "peak_rss_mb": metric(sum(peak_rss.values()) / MB, "MB"),
        "ops_failed_ratio": metric(len(failures) / attempted, "ratio", attempted),
    }
    if e2e["latency_geomean"] is not None:
        g = e2e["latency_geomean"]
        detail_metrics["latency_geomean_s"] = metric(g["value"], "s", g["n"])
    for q in ("p50", "p90", "p99"):
        if q in lat:
            detail_metrics[f"latency_{q}_s"] = metric(lat[q]["value"], "s", lat[q]["n"])
    for k in ("store_build_s", "store_bytes_per_input_byte"):
        if k in e2e:
            detail_metrics[k] = metric(e2e[k], "s" if k.endswith("_s") else "ratio")
    for k, v in res.get("kinds", {}).items():
        detail_metrics[k] = metric(v["value"], "s", v["n"])
    for k, (v, unit) in res.get("layers", {}).items():
        detail_metrics[k] = metric(v, unit)
    detail = {
        "workload": res["workload"],
        "seed": res["seed"],
        "metrics": detail_metrics,
        "latency_absent": lat.get("absent", {}),
        "setup": res["setup"],
        "peak_rss_mb_by_command": {k: v / MB for k, v in peak_rss.items()},
        "output_check": {
            "checked": len(res["checks"]),
            "passed": sum(1 for c in res["checks"] if c["ok"]),
            "mismatched": mismatched,
        },
        "failures": failures,
        "warm_pass": [[r["request"], r.get("wall_s")] for r in res["checks"]],
        "requests": [[r["request"], r.get("wall_s"), r.get("build_s"), r.get("exec_s")] for r in res["timed"]],
        "store": res.get("store"),
        "environment": res["environment"],
    }
    line_metrics = {k: {"value": detail_metrics[k]["value"], "unit": detail_metrics[k]["unit"]}
                    for k in wanted if k in detail_metrics}
    line = {
        "correct": correct,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": line_metrics,
    }
    return detail, line


def line_metric_names(trace: bool) -> list[str]:
    """The metrics ``BENCHMARK.json`` asks for: end-to-end or per-layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=("portal", "analysis", "store_rebuild"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bpaotu_spark")):
        print(f"perfbench: no bpaotu_spark package under {ROOT}", file=sys.stderr)
        return 2
    wanted = line_metric_names(bool(a.trace))
    prep = prepared_dir()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(WORK, "runs"))
    try:
        env = base_env(tmp)
        if a.workload != "store_rebuild":
            shutil.copytree(os.path.join(prep, "store"), env["BPAOTU_ANN_INDEX_DIR"])
        os.makedirs(os.path.join(tmp, "exports"))
        result = os.path.join(tmp, "result.json")
        t_spawn = time.monotonic()
        steal0, total0 = cpu_ticks()
        code, peak = run_child(
            [
                sys.executable, "-m", "perfbench.workload", "run",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--sf-dir", os.path.join(prep, "data"),
                "--export-dir", os.path.join(tmp, "exports"),
                "--result", result,
                "--trace-file", os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"),
                "--t-spawn", repr(t_spawn),
            ],
            env, os.path.join(tmp, "cwd"), RUN_TIMEOUT_S,
        )
        steal1, total1 = cpu_ticks()
        if code != 0:
            print(f"perfbench: measured process exited with {code}", file=sys.stderr)
            return 1
        with open(result) as f:
            res = json.load(f)
        with open(os.path.join(prep, "prepared.json")) as f:
            prepared = json.load(f)
        res["environment"].update(
            {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            python=sys.version.split()[0], prepared=prepared,
            # CPU time the hypervisor gave to other guests while this run
            # was measured: high values explain slow runs on a shared host
            host_steal_share=(steal1 - steal0) / max(total1 - total0, 1),
        )
        detail, line = report(res, peak, wanted)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
