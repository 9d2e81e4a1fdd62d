"""One measured process: set up the engine, run a workload, check it.

Started by run.py in a fresh interpreter, so its set-up time runs from
process start until `session.get_spark` and `registry.all_queries` have
returned.  Then, in one closed loop on one local[N] session:

1. cold pass: every key once in the fresh JVM, each result collected to
   the driver (as a one-shot job or a correctness check does);
2. warm passes: every key materialized through the noop sink, whole
   passes repeated until the measuring window has elapsed;
3. with --trace 1, one more warm pass with spans around each layer call
   and the Spark event log on;
4. outside all timed regions, each cold-pass result is compared with its
   DuckDB oracle at the same scale (tools/check.py's duck_connect and
   compare).

The growth counters (memory-sink views left in the session, scratch
bytes, JVM RSS) are read after every pass.  Results go to --out as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib.util
import json
import os
import signal
import sys
import tempfile
import time
import traceback

from procstat import alive, descendants, dir_bytes, rss_mb, tree_cpu_s, tree_peak_rss_mb
from tracing import Tracer, exec_counters, patched, read_event_log


def _setup(spawn_time: float):
    t0 = time.time()
    from cobradb_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.time()
    from cobradb_spark import registry

    queries = registry.all_queries()
    t2 = time.time()
    return spark, queries, {
        "setup_s": t2 - spawn_time,
        "session.get_spark_s": t1 - t0,
        "registry.all_queries_s": t2 - t1,
    }


def _shutdown(spark) -> None:
    """Stop the session and wait until the gateway JVM and Spark's Python
    daemons and workers (which run in process groups of their own) have
    exited; kill any daemon or worker still alive after a grace period."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pyworkers = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 10
    while any(alive(p) for p in pyworkers):
        if time.monotonic() > deadline:
            for p in pyworkers:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _catalyst_phases(df) -> dict[str, int]:
    """Force optimization and planning on the DataFrame's own query
    execution and read its phase tracker (analysis ran at build time)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        pair = it.next()
        out[pair._1()] = int(pair._2().durationMs())
    return out


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_module():
    spec = importlib.util.spec_from_file_location("perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    """State of one workload run inside the measured process."""

    def __init__(self, spark, queries, keys, data_dir: str) -> None:
        from cobradb_spark.operators.rank import release_rank_caches

        self.spark = spark
        self.fns = {k: queries[k].fn for k in keys}
        self.keys = keys
        self.data_dir = data_dir
        self.release = release_rank_caches
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.attempted = 0
        self.errors: list[dict] = []
        self.growth: list[dict] = []

    def _error(self, phase: str, key: str) -> None:
        self.errors.append({"phase": phase, "key": key, "error": traceback.format_exc(limit=3)})

    def snapshot(self, label: str) -> None:
        # The session catalog's own list: spark.catalog.listTables() took
        # ~0.3 s a call (1.8 s the first time) on a 4-core host, per pass.
        seq = self.spark._jsparkSession.sessionState().catalog().getTempViewNames()
        views = [v for v in (seq.apply(i) for i in range(seq.size())) if v.startswith("stream_sink_")]
        scratch_roots = glob.glob(os.path.join(tempfile.gettempdir(), "cobradb_scratch_*"))
        scratch = sum(dir_bytes(p) for p in scratch_roots)
        self.growth.append(
            {
                "after": label,
                "streams.sink_tables": len(views),
                "scratch.bytes": scratch,
                "jvm.rss_mb": round(rss_mb(self.jvm_pid), 1),
            }
        )

    def cold_pass(self) -> tuple[dict[str, float], dict]:
        """Seconds per key, and each key's collected result."""
        seconds, results = {}, {}
        for key in self.keys:
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                results[key] = self.fns[key](self.spark, self.data_dir).toPandas()
            except Exception:  # noqa: BLE001 — counted in error_rate
                self._error("cold", key)
            finally:
                self.release()
            seconds[key] = time.perf_counter() - q0
        return seconds, results

    def warm_pass(self) -> dict[str, float]:
        """Seconds per key that succeeded, materialized through the noop sink."""
        seconds = {}
        for key in self.keys:
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                _materialize(self.fns[key](self.spark, self.data_dir))
                seconds[key] = time.perf_counter() - q0
            except Exception:  # noqa: BLE001 — counted in error_rate
                self._error("warm", key)
            finally:
                self.release()
        return seconds

    def traced_pass(self, tracer: Tracer) -> dict:
        import cobradb_spark.io as cio
        import cobradb_spark.operators.streams as streams

        targets = {
            "io.load_table": (cio, "load_table"),
            "io.load_events": (cio, "load_events"),
            "streams.run_to_memory": (streams, "run_to_memory"),
        }
        phases = {"analysis": 0, "optimization": 0, "planning": 0}
        pins = 0
        cpu0 = tree_cpu_s(self.jvm_pid)
        with patched(tracer, targets), tracer.span("pass") as pass_span:
            for key in self.keys:
                tracer.qid = key
                self.attempted += 1
                try:
                    with tracer.span("query"):
                        with tracer.span("queries.build"):
                            df = self.fns[key](self.spark, self.data_dir)
                        with tracer.span("catalyst"):
                            for name, ms in _catalyst_phases(df).items():
                                phases[name] = phases.get(name, 0) + ms
                        with tracer.span("exec.materialize"):
                            _materialize(df)
                        with tracer.span("rank.release_rank_caches"):
                            pins += self.release()
                except Exception:  # noqa: BLE001 — counted in error_rate
                    self._error("traced", key)
                    self.release()
            tracer.qid = None
        return {
            "pass_s": pass_span.end - pass_span.start,
            "pass_window": (pass_span.start, pass_span.end),
            "phases": phases,
            "pins_released": pins,
            "pyworker_cpu_s": tree_cpu_s(self.jvm_pid) - cpu0,
        }

    def check(self, results: dict, queries, check_mod) -> list[dict]:
        """Compare each cold-pass result with its DuckDB oracle."""
        con = check_mod.duck_connect(self.data_dir)
        verdicts = []
        try:
            for key, spark_pd in results.items():
                try:
                    status, msg = check_mod.compare(spark_pd, con.execute(queries[key].oracle).df())
                except Exception:  # noqa: BLE001 — counted in error_rate
                    status, msg = "FAIL", traceback.format_exc(limit=3)
                verdicts.append({"key": key, "status": status, "detail": msg})
        finally:
            con.close()
        return verdicts


def _per_pass_increase(growth: list[dict], name: str) -> float:
    """Mean increase of a growth counter per pass."""
    if len(growth) < 2:
        return 0.0
    return (growth[-1][name] - growth[0][name]) / (len(growth) - 1)


def _layer_metrics(run: Run, tracer: Tracer, traced: dict, warm_passes: list[float], eventlog: str) -> dict:
    st, n = tracer.self_times(), tracer.counts()
    events = read_event_log(eventlog)
    ex = exec_counters(events, [traced["pass_window"]])
    build_windows = [(s.start, s.end) for s in tracer.spans if s.name == "queries.build"]
    return {
        "io.load_table_calls": n.get("io.load_table", 0),
        "io.load_table_s": st.get("io.load_table", 0.0),
        "io.load_events_s": st.get("io.load_events", 0.0),
        "queries.build_s": st.get("queries.build", 0.0),
        "queries.build_jobs": exec_counters(events, build_windows).jobs,
        "catalyst.analysis_ms": traced["phases"].get("analysis", 0),
        "catalyst.optimization_ms": traced["phases"].get("optimization", 0),
        "catalyst.planning_ms": traced["phases"].get("planning", 0),
        "exec.jobs": ex.jobs,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.materialize_s": st.get("exec.materialize", 0.0),
        "exec.shuffle_read_bytes": ex.shuffle_read_bytes,
        "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
        "exec.spill_bytes": ex.spill_bytes,
        "exec.gc_ms": ex.gc_ms,
        "streams.run_to_memory_calls": n.get("streams.run_to_memory", 0),
        "streams.run_to_memory_s": st.get("streams.run_to_memory", 0.0),
        "rank.pins_released": traced["pins_released"],
        "streams.sink_tables": _per_pass_increase(run.growth, "streams.sink_tables"),
        "scratch.bytes": _per_pass_increase(run.growth, "scratch.bytes"),
        "jvm.rss_mb": run.growth[-1]["jvm.rss_mb"],
        "pyworker.cpu_s": traced["pyworker_cpu_s"],
        "trace.pass_s": traced["pass_s"],
        # Against the last untraced pass: passes still speed up as the JIT
        # warms, so an earlier one would hide the overhead.
        "trace.overhead_s": traced["pass_s"] - warm_passes[-1],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--keys", nargs="*")
    ap.add_argument("--data")
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--eventlog-dir", help="traced run: the Spark event log directory")
    ap.add_argument("--spans", help="traced run: where to write the spans")
    args = ap.parse_args()

    spark, queries, setup = _setup(args.spawn_time)
    out: dict = {"setup": setup}
    if args.setup_only:
        _shutdown(spark)
        with open(args.out, "w") as f:
            json.dump(out, f)
        return 0

    run = Run(spark, queries, tuple(args.keys), args.data)
    run.snapshot("setup")
    cold_query_s, results = run.cold_pass()
    run.snapshot("cold")

    warm: list[dict[str, float]] = []
    window0 = time.perf_counter()
    while not warm or time.perf_counter() - window0 < args.seconds:
        warm.append(run.warm_pass())
        run.snapshot(f"warm{len(warm)}")

    traced = None
    tracer = Tracer()
    if args.spans:
        traced = run.traced_pass(tracer)
        run.snapshot("traced")
    peak_rss = tree_peak_rss_mb(os.getpid())
    _shutdown(spark)

    verdicts = run.check(results, queries, _load_check_module())
    out.update(
        {
            "cold_pass_s": sum(cold_query_s.values()),
            "cold_query_s": cold_query_s,
            "warm_query_s": warm,
            "peak_rss_mb": peak_rss,
            "attempted": run.attempted,
            "errors": run.errors,
            "oracle": verdicts,
            "growth": run.growth,
        }
    )
    if traced is not None:
        tracer.dump(args.spans)
        logs = glob.glob(os.path.join(args.eventlog_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {args.eventlog_dir}, found {logs}")
        warm_pass_s = [sum(p.values()) for p in warm]
        out["layers"] = _layer_metrics(run, tracer, traced, warm_pass_s, logs[0])
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
