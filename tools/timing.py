"""The timing core of bench.py, tools/bench_once.py, tools/op_sweep.py
and tools/scaling_probe.py: their key lists and time_key().

Imports nothing from cobradb_spark at import time: bench_once loads this
file by path, then puts the checkout under test first on sys.path, and
time_key must release the pins of that engine.
"""

from __future__ import annotations

import importlib.util
import os
import time

# Label -> registry key: the six queries matching the DuckDB-floor
# metrics in BASELINE.md §2.
HEADLINE = {
    "q_pricing_summary": "agg_basic",
    "q_join_topn": "join_topn_flagship",
    "q_window_rank": "win_rank_topk_pergroup",
    "q_sessionize": "stream_session_window",
    "q_cosine_topk": "sim_cosine_topk",
    "q_grouping_sets": "agg_grouping_sets",
}


def tpch_labels(qs) -> dict[str, str]:
    """Label -> registry key for the 22-shape TPC-H track: q1 is the
    agg_basic pricing summary, the other 21 are the sql_* keys of `qs`."""
    labels = {"q1": "agg_basic"}
    labels.update({n: n for n in sorted(qs) if n.startswith("sql_")})
    return labels


def materialize(df) -> None:
    """Execute the whole plan through the noop sink, with no collect or
    serialization cost."""
    df.write.format("noop").mode("overwrite").save()


def time_key(spark, fn, sf_dir: str, runs: int) -> list[float]:
    """One untimed warm-up (codegen, page cache), then `runs` timed
    builds and materializations of fn(spark, sf_dir).  The rank pins are
    released after each one, outside the timed region."""
    from cobradb_spark.operators.rank import release_rank_caches

    times = []
    for i in range(runs + 1):
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        elapsed = time.perf_counter() - t0
        release_rank_caches()
        if i:
            times.append(elapsed)
    return times


def _load_steal_reader():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "perfbench", "procstat.py")
    spec = importlib.util.spec_from_file_location("timing_procstat", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.steal_jiffies


# Cumulative host steal time, read by perfbench/procstat.py; the harnesses
# report its delta over their timed runs.
steal_jiffies = _load_steal_reader()
