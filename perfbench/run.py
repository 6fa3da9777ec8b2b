"""Repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload {refjob,iterative,pairs,relational} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The script

1. builds (once per checkout, under ``.bench_build/perfbench``) the base
   tables and the DuckDB oracle results for them;
2. writes this seed's inputs: a row-order permutation of every table the
   workload reads, or for ``refjob`` a seeded corpus directory, stopword file
   and centers file;
3. starts a fresh engine process (``worker.py``) at ``local[nproc]``, which
   sets up, runs one warm-up pass that is checked against the oracles, then
   times passes for ``--seconds``;
4. meanwhile samples the memory of that process tree and the host's speed
   (``calib.SpeedProbe``), stops the process, and prints a detail line
   followed by the result line ``{"correct", "attempted", "failed",
   "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones, their times in
reference seconds (wall seconds scaled by the host speed over the same
interval; the detail line keeps the wall times); with ``--trace 1`` the
per-layer ones from traced passes, in wall seconds. Results are comparable
only between runs with the same nproc, which the detail line records.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import workloads
from calib import SpeedProbe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: a run must end well inside 180 s
DEADLINE_S = 170.0

#: End-to-end metrics (tracing off) and their units.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "rows/s",
}

#: Per-layer metrics this script measures itself rather than the engine
#: process. The engine's peak memory is one: it follows the JVM's heap
#: sizing, which varies by a quarter from run to run on the same input, too
#: much for an end-to-end bound.
RUN_LAYERS = ("session.peak_rss_mb",)


def percentile(samples: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``q`` percentile, or ``None`` unless at least
    ``min_beyond`` samples rank above it."""
    n = len(samples)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(samples)[rank - 1]


def group_pids(pgid: int) -> list[int]:
    """Live processes of a process group."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def group_pss(pgid: int) -> int:
    """Resident bytes of a process group, each page shared between its
    processes (forked Python workers share most of theirs) counted once
    across them: the sum of every process's proportional set size."""
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; wait for all."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end and group_pids(pgid):
            time.sleep(0.1)


def environment() -> dict:
    """Cores and memory of this machine. The engine runs at ``local[nproc]``
    (its default is 32 cores) with a driver heap of a quarter of MemTotal,
    capped at the engine's 24g default, so the heap always fits the box."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap_gb = max(1, min(24, mem_kb // (4 * 1024 * 1024)))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024, "driver_memory": f"{heap_gb}g"}


def base_dir() -> str:
    """Base tables, keyed by the generator's source so a changed generator
    never reuses stale tables."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(WORK, f"base-{key}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        os.makedirs(tmp)
        for name, table in gen.base_tables().items():
            gen.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.replace(tmp, path)
    return path


def prepare(workload: str, seed: int, run_dir: str) -> dict:
    """Write this seed's inputs; return the worker's spec without timing fields."""
    import pyarrow.parquet as pq

    base = base_dir()
    in_dir = os.path.join(run_dir, "in")
    if workload == "refjob":
        docs = pq.read_table(os.path.join(base, "documents.parquet"))
        ref = gen.write_refjob_inputs(docs, workloads.REFJOB_DOCS, workloads.REFJOB_CENTERS, seed, in_dir)
        ref.update(out_dir=os.path.join(run_dir, "out"), n_docs=workloads.REFJOB_DOCS)
        sizes = ref.pop("sizes")
        return {"refjob": ref, "inputs": sizes, "rows_per_pass": sizes["rows"]}

    from oracle import query_oracles, table_refs

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    sql = {name: get_query(name).oracle for name in workloads.QUERIES[workload]}
    read = {t for s in sql.values() for t in table_refs(s)}
    tables = {name: pq.read_table(os.path.join(base, f"{name}.parquet")) for name in read}
    sizes = gen.write_permuted(tables, seed, in_dir)
    oracle = query_oracles(sql, in_dir, os.path.join(WORK, "oracles"))
    rows_per_pass = sum(sizes[t]["rows"] for s in sql.values() for t in table_refs(s))
    totals = {k: sum(v[k] for v in sizes.values()) for k in ("rows", "bytes", "files")}
    return {"tables_dir": in_dir, "oracle": oracle, "inputs": {**totals, "tables": sizes}, "rows_per_pass": rows_per_pass}


def run_worker(spec: dict, run_dir: str, deadline: float, probe: SpeedProbe) -> tuple[dict | None, float]:
    """Start the engine process and sample its tree's memory until it
    exits, with the host-speed probe running throughout; return its result
    (``None`` on failure or timeout) and the peak memory."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(spec["cores"]),
        SPARK_GRAFT_DRIVER_MEM=spec["driver_memory"],
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # keep the JVM's temp files and perf-data file out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the same string hashes in every run
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    spec_path = os.path.join(run_dir, "spec.json")
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    spec["t_spawn"] = time.monotonic()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    peak = 0
    probe.start()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), "--spec", spec_path, "--out", out_path],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                while proc.poll() is None:
                    peak = max(peak, group_pss(proc.pid))
                    if time.monotonic() > deadline:
                        print("perfbench: worker exceeded the run deadline", file=sys.stderr)
                        break
                    time.sleep(0.5)
            finally:
                stop_group(proc.pid)
                proc.wait()
    finally:
        probe.stop()
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None, peak
    with open(out_path) as fh:
        return json.load(fh), peak


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(workloads.QUERIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    for needed in ("hadoop_web_browsing_logs_spark/session.py", "tests/conftest.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found; run from a checkout of the engine", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    env = environment()
    env["loadavg_before"] = os.getloadavg()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        spec = prepare(args.workload, args.seed, run_dir)
        spec.update(
            workload=args.workload,
            seconds=args.seconds,
            trace=args.trace,
            cores=env["nproc"],
            driver_memory=env["driver_memory"],
            trace_path=os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
        )
        probe = SpeedProbe()
        result, peak = run_worker(spec, run_dir, t_start + DEADLINE_S, probe)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1
    env["loadavg_after"] = os.getloadavg()
    env.update(
        spark_local_dirs=os.path.relpath(os.path.join(run_dir, "local"), ROOT),
        driver_memory=result["driver_memory"],
        pyspark=result["pyspark_version"],
        java=result["java_version"],
    )

    # wall seconds -> reference seconds, at the host speed the probe saw
    # over the same interval
    setup_factor = probe.factor(spec["t_spawn"], result["t_setup"])
    factors = [probe.factor(p["t0"], p["t1"]) for p in result["passes"]]
    wall = [p["wall"] for p in result["passes"]]
    passes = [w * f for w, f in zip(wall, factors)]
    latencies: dict[str, list[float]] = {}
    for p, f in zip(result["passes"], factors):
        for name, seconds in p["steps"].items():
            latencies.setdefault(name, []).append(seconds * f)
    lat = [x for xs in latencies.values() for x in xs]
    failed = min(len(result["failures"]), result["attempted"])
    pass_s = statistics.median(passes)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "inputs": spec["inputs"],
        "rows_per_pass": spec["rows_per_pass"],
        "samples": {"passes": len(passes), "latencies": len(lat), "speed_probes": len(probe.cpu)},
        "passes_s": passes,
        "latency_p90_s": percentile(lat, 0.9),
        "step_latency_s": {name: statistics.median(xs) for name, xs in latencies.items()},
        "speed_factor": {"setup": setup_factor, "passes": factors},
        "wall": {"setup_s": result["setup_s"], "start_s": result["start_s"], "warmup_s": result["warmup_s"],
                 "passes_s": wall},
        "peak_rss_mb": peak / (1024.0 * 1024.0),
        "failed_frac": failed / result["attempted"],
        "failures": result["failures"][:5],
    }
    if args.trace:
        detail.update(trace_file=spec["trace_path"], steps=result["steps"], traced_passes=result["traced_passes"])
        layers = {**result["layers"], "session.peak_rss_mb": detail["peak_rss_mb"]}
        metrics = {name: {"value": value, "unit": layer_unit(name)} for name, value in layers.items()}
    else:
        values = {
            "setup_s": result["setup_s"] * setup_factor,
            "pass_s": pass_s,
            "latency_p50_s": statistics.median(lat) if lat else pass_s,
            "rows_per_s": spec["rows_per_pass"] / pass_s,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"], "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf == "core_util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
