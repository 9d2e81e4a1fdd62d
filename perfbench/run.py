"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch6-sf0.001 --seed 1 --seconds 6 --trace 0

Builds the workload's tables from --seed (perfbench/datagen.py), pins the
deployment settings, and runs the measured process (perfbench/worker.py)
plus two set-up-only processes, one after the other, each in a fresh
interpreter and JVM.  Everything the run writes stays under
.perfbench_work/ in the checkout that holds this file.

The last line of standard output is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1).  The line before it is a fuller report: every end-to-end
metric with its unit (error_rate included), sample counts, the growth
counters after every pass, the deployment settings and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NPROC = len(os.sched_getaffinity(0))  # what nproc prints
DRIVER_MEM = "2g"
SETUP_PROCESSES = 3  # the measured process plus two set-up-only ones

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
}
ERROR_RATE_UNIT = "ratio"
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.all_queries_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "io.load_events_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.materialize_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_ms": "ms",
    "streams.run_to_memory_calls": "count",
    "streams.run_to_memory_s": "s",
    "rank.pins_released": "count",
    "streams.sink_tables": "count/pass",
    "scratch.bytes": "bytes/pass",
    "jvm.rss_mb": "MB",
    "pyworker.cpu_s": "s",
    "host.steal_jiffies": "jiffies",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _deployment(tmp: str, local: str, eventlog: str | None) -> dict[str, str]:
    """Environment of the measured processes: cores, heap, scratch and
    temp directories inside the checkout, and the checkout root on
    PYTHONPATH so Spark's Python workers import the engine from it
    whatever the current directory is."""
    env = dict(os.environ)
    # The heap is committed and touched once at start (-Xms equal to the
    # limit, AlwaysPreTouch), as a long-running deployment does, so peak
    # RSS is the fixed heap plus what grows outside it, not a record of
    # how far the collector happened to let eden fill.  Measured on a
    # 4-core host: quartile spread of peak RSS 0.19 unpinned (5 seeds),
    # 0.05 with -Xms alone (10 seeds, two warm passes), ~0.2 with -Xms
    # alone and one warm pass.
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if eventlog is not None:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
        }
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait until the process group a worker led (its JVM and Spark's
    Python workers) has ended, killing what is left after a grace period
    or at once if the worker itself timed out."""
    grace_end = time.monotonic() + (10 if proc.poll() is not None else 0)
    give_up = grace_end + 10
    while procstat.group_members(proc.pid) and time.monotonic() < give_up:
        if time.monotonic() >= grace_end:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.1)
    proc.wait()


def _run_process(args: list[str], env: dict[str, str], log_path: str, timeout_s: int) -> dict:
    """Run worker.py once in its own process group; return its JSON
    with the process's wall time added."""
    t0 = time.perf_counter()
    out_path = log_path + ".json"
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--spawn-time", repr(time.time()), "--out", out_path, *args]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        finally:
            _stop_group(proc)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}; log tail:\n{tail}")
    with open(out_path) as f:
        result = json.load(f)
    result["process_wall_s"] = time.perf_counter() - t0
    return result


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for needed in ("cobradb_spark/__init__.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2

    workload = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    run_dir = _fresh_dir(os.path.join(WORK, "run"))
    tmp = _fresh_dir(os.path.join(run_dir, "tmp"))
    local = _fresh_dir(os.path.join(run_dir, "local"))
    eventlog = _fresh_dir(os.path.join(run_dir, "eventlog")) if args.trace else None
    spans = os.path.join(WORK, f"spans-{workload.name}-seed{args.seed}.json") if args.trace else None

    data = os.path.join(WORK, "data", f"sf{workload.sf}-seed{args.seed}")
    if not os.path.isfile(os.path.join(data, "_DONE")):
        _fresh_dir(data)
        datagen.write(args.seed, workload.sf, data)
        open(os.path.join(data, "_DONE"), "w").close()

    env = _deployment(tmp, local, eventlog)
    settings = {
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "loadavg_start": procstat.loadavg(),
        "clients": 1,
        "loop": "closed",
    }
    steal0 = procstat.steal_jiffies()

    worker_args = ["--keys", *workload.keys, "--data", data, "--seconds", str(args.seconds)]
    if args.trace:
        worker_args += ["--eventlog-dir", eventlog, "--spans", spans]
    main_run = _run_process(worker_args, env, os.path.join(run_dir, "worker.log"), workload.timeout_s)
    setups = [main_run["setup"]["setup_s"]]
    walls = [main_run["process_wall_s"]]
    for i in range(1, SETUP_PROCESSES):
        probe = _run_process(["--setup-only"], env, os.path.join(run_dir, f"setup{i}.log"), workload.timeout_s)
        setups.append(probe["setup"]["setup_s"])
        walls.append(probe["process_wall_s"])

    warm = main_run["warm_query_s"]
    latencies = [s for p in warm for s in p.values()]
    warm_s = sum(latencies)
    oracle_failures = [v for v in main_run["oracle"] if v["status"] != "EXACT"]
    failed = len(main_run["errors"]) + len(oracle_failures)
    attempted = main_run["attempted"]
    end_to_end = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": main_run["cold_pass_s"],
        "queries_per_s": len(latencies) / warm_s,
        "query_p50_s": statistics.median(latencies),
        "query_p90_s": _quantile(latencies, 90),
        "peak_rss_mb": main_run["peak_rss_mb"],
    }
    settings["loadavg_end"] = procstat.loadavg()
    report = {
        "workload": workload.name,
        "seed": args.seed,
        "scale_factor": workload.sf,
        "keys": len(workload.keys),
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()},
        "error_rate": {"value": failed / attempted, "unit": ERROR_RATE_UNIT},
        "samples": {
            "setup_s": len(setups),
            "warm_queries": len(latencies),
            "warm_passes": len(warm),
        },
        "setup_runs_s": setups,
        "process_wall_s": walls,
        "cold_query_s": main_run["cold_query_s"],
        "warm_query_s": warm,
        "growth_after_each_pass": main_run["growth"],
        "settings": settings,
        "host.steal_jiffies": procstat.steal_jiffies() - steal0,
        "errors": main_run["errors"],
        "oracle_failures": oracle_failures,
    }
    if args.trace:
        layers = dict(main_run["layers"])
        layers["session.get_spark_s"] = main_run["setup"]["session.get_spark_s"]
        layers["registry.all_queries_s"] = main_run["setup"]["registry.all_queries_s"]
        layers["host.steal_jiffies"] = report["host.steal_jiffies"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        report["per_layer"] = metrics
        report["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        metrics = report["end_to_end"]
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
