"""Single-pass suite runner for bench.py's interleaved A/B.

Usage: python tools/bench_once.py <repo_root> <sf_dir> [query,query,...]

With the optional third argument, runs ONLY the named registry keys
(one untimed warmup + 3 timed runs each, median) and prints
{"queries": {name: sec}, "steal_jiffies": J} — the single-query
interleaved-A/B probe the q19 (r12) / q8 (r14) quiet re-reads use.

Imports the engine from <repo_root> (which may be a git worktree of an
older commit — the code under test), runs one untimed warmup and one
timed run of every key of the headline and TPC-H tracks, and prints one
JSON line {"headline": sec, "tpch": sec, "steal_jiffies": J}, each
track the sum of its keys' timed runs.  `steal_jiffies` is the host's
/proc/stat steal delta over the runs.  The runner and its timing core
(tools/timing.py, loaded by file path from this file's directory, so
the older checkout needs none) always ship from the checkout holding
this file; only the engine code is swapped, so an old commit needs no
bench-protocol compatibility beyond the stable registry API
(all_queries / release_rank_caches / get_spark — present since r1).

Why subprocess-per-pass: each A/B reading gets a fresh JVM, so JIT
state, GC history, and page cache from one variant cannot leak into the
other's timing — the alternation is the point (two consecutive rounds
of uniform ~10-25% drift on untouched queries motivated this; see
BASELINE.md round-7/8 notes).
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys


def _load_timing():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "timing.py")
    spec = importlib.util.spec_from_file_location("bench_timing", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    repo_root, sf_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    timing = _load_timing()
    sys.path.insert(0, repo_root)

    from cobradb_spark import registry
    from cobradb_spark.session import get_spark

    qs = registry.all_queries()
    spark = get_spark("bench-ab")
    steal0 = timing.steal_jiffies()

    if only:
        out = {
            "queries": {
                name: round(statistics.median(timing.time_key(spark, qs[name].fn, sf_dir, 3)), 4)
                for name in only
            }
        }
    else:
        out = {}
        for track, labels in (("headline", timing.HEADLINE), ("tpch", timing.tpch_labels(qs))):
            total = sum(timing.time_key(spark, qs[name].fn, sf_dir, 1)[0] for name in labels.values())
            out[track] = round(total, 4)
    out["steal_jiffies"] = timing.steal_jiffies() - steal0
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
