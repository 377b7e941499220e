"""Benchmark of the data-quality engine, driven from outside the program.

    python3 perfbench/run.py --workload dq_gate --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its input tier from the
seed under ``.perfbench_work/``, pins the run environment, starts a fresh
process that imports the engine and builds its Spark session, runs one
workload as a closed loop (one client, one process), checks every op's
output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is a
JSON record of the run (environment, per-op series, check failures, and
the steady-state window's ``op_p50_s`` and ``cpu_s_per_op``, which are
recorded but not gated).

Workloads:
- ``dq_gate``: each op is ``dq_suite_report(spark, tier).collect()``,
  compared with the query's DuckDB oracle on the same tier.
- ``refresh_cycle``: each op runs the streaming DQ gate, a one-date
  incremental refresh of the events mart, and the validation DAG, and
  checks the DAG statuses, the refreshed partition and the stream totals.
  The mart is written with pyarrow before the worker starts, so the cold
  op is the session's first Spark work.

``--trace 0`` prints the ``end_to_end`` metrics of ``BENCHMARK.json``;
``--trace 1`` prints its ``per_layer`` metrics, and the info line names the
end-to-end metric and workload each one should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.datagen import generate, write_events_mart  # noqa: E402

PACKAGE = "enterprise_data_quality_platform_spark"
WORKLOADS = ("dq_gate", "refresh_cycle")
WORKER_TIMEOUT_S = 150


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole host so far, from ``/proc/stat``:
    busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def pinned_env(work: str) -> dict[str, str]:
    """Environment for the engine's processes: one Spark thread per usable
    core, a driver heap well below physical RAM, fresh scratch dirs inside
    the run's work dir."""
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        EDQP_DRIVER_MEMORY=f"{max(1, min(4, int(mem_gb // 4)))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def run_worker(args: list[str], env: dict, work: str) -> dict:
    """Start one worker in its own process group, wait for it and for every
    process it started, and return its JSON result."""
    out = os.path.join(work, "worker.json")
    log = open(os.path.join(work, "worker.log"), "w")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--out", out]
    launch = time.time()
    proc = subprocess.Popen(
        [*cmd, "--launch-ts", repr(launch)],
        cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        reap_group(proc.pid)
        log.close()
    wall_s = time.time() - launch
    if code != 0 or not os.path.exists(out):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with {code}")
    with open(out) as f:
        return {**json.load(f), "process_wall_s": wall_s}


def reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the group to end; kill what outlives the
    grace period."""
    deadline = time.time() + grace_s
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def percentile_tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it, and its
    value; (None, None) when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return None, None
    q = (n - 10) / n
    return round(100 * q, 1), sorted(xs)[n - 11]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"{PACKAGE} not found next to perfbench/; run from the repo root\n")
        return 2

    with open("/proc/loadavg") as f:
        launch_loadavg = f.read().split()[:3]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pinned_env(work)
        tier = os.path.join(work, "tier")
        t0 = time.perf_counter()
        manifest = generate(tier, args.seed)
        if args.workload == "refresh_cycle":
            manifest["mart_partitions"] = write_events_mart(tier, os.path.join(work, "mart"))
        datagen_s = time.perf_counter() - t0
        busy0, steal0 = host_cpu_ticks()
        res = run_worker(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--tier", tier, "--work", work],
            env, work,
        )
        busy1, steal1 = host_cpu_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tick = os.sysconf("SC_CLK_TCK")
    ops = res["ops"]
    window = [o for o in ops if o["phase"] == "window"]
    ok = [o for o in window if o["error"] is None]
    walls = [o["wall_s"] for o in ok]
    half = len(walls) // 2
    tail_pct, tail_s = percentile_tail(walls)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "EDQP_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")},
        "launch_loadavg": launch_loadavg,
        "cpu_steal_s": (steal1 - steal0) / tick,
        # CPU other processes on the host used while the worker ran
        "cotenant_cpu_s": (busy1 - busy0) / tick - res["tree_cpu_s"],
        "tier": manifest,
        "datagen_s": datagen_s,
        "process_wall_s": res["process_wall_s"],
        "prepare_s": res["prepare_s"],
        "ops_total": len(ops),
        "window_ops": len(window),
        "window_s": res["window_s"],
        "window_half_p50_s": [statistics.median(walls[:half]) if half else None,
                              statistics.median(walls[half:]) if walls else None],
        "op_tail": {"percentile": tail_pct, "s": tail_s},
        "op_wall_s": [round(o["wall_s"], 4) for o in ops],
        "op_cpu_s": [round(o["cpu_s"], 3) for o in ops],
        # steady-state latency and process-tree CPU per window op: recorded,
        # not gated, since on a shared 4-vCPU VM their run-to-run spread
        # follows the host's steal time and exceeded the 0.25 bound
        "op_p50_s": statistics.median(walls) if walls else None,
        "cpu_s_per_op": statistics.median(o["cpu_s"] for o in ok) if ok else None,
        "peak_rss_mb": res["peak_rss_mb"],
        "op_fail_share": sum(o["error"] is not None for o in ops) / len(ops),
        "errors": sorted({o["error"] for o in ops if o["error"]}),
        "disk_bytes_end": res["disk_bytes_end"],
    }
    if args.trace:
        metrics = layers.per_layer(res, window)
        info["targets"] = {name: layers.target(name) for name in metrics}
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "cold_op_s": ops[0]["wall_s"],
        }
    units = {m["name"]: m["unit"] for m in layers.declared(args.trace)}
    failed = sum(o["error"] is not None for o in ops)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": failed == 0 and bool(walls),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
