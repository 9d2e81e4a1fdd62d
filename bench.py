"""Headline benchmark — BASELINE.md protocol.

Runs the six headline queries (matching the DuckDB-floor metrics in
BASELINE.md §2) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
one shared local[$SPARK_GRAFT_CPUS] session.  Per query
(tools/timing.py's time_key): one untimed warmup (codegen/JIT), then 3
timed runs, median reported.  Results are materialized through the noop
sink so the full plan executes without collect/serialization cost.

A second track (r5 verdict item 8) covers the full 22-shape TPC-H-style
SQL suite (q1 = the agg_basic pricing summary + the 21 sql_* keys), so
regressions outside the six headline queries surface in the per-round
artifact too.  Same warmup + 3-run-median protocol per query; the suite
total lands in `tpch_suite_seconds` / per-query in `tpch_queries`.
`steal_jiffies` is the host's /proc/stat steal delta over both tracks'
runs: a reading taken while co-tenants steal CPU shows it.

A third artifact pins environmental drift, which made single absolute
readings untrustworthy as a regression signal (r7: uniform ~10-25%
slowdowns on untouched queries).  The `ab` block runs an INTERLEAVED A/B
of a reference commit (git worktree) against the working tree, in fresh
JVMs via tools/bench_once.py, so both sides see the same machine
conditions.  The reference is HEAD when `git status --porcelain --
cobradb_spark` is non-empty (the uncommitted engine work is the change
under test), otherwise HEAD~1.  One DISCARDED WARMUP PAIR runs first
(kept in `warmup_discarded`, excluded from the medians) so one-time
session costs (JIT profile seeding, OS page cache) are paid before any
measured run, and the measured pairs ALTERNATE side order (REF,HEAD then
HEAD,REF ...) so neither side systematically runs first (r13: the
excess of three headline > 1 readings sat entirely in each session's
first JVM).  Fail-soft: any git/subprocess problem degrades to
"ab": {"error": ...} without touching the primary numbers.

Knobs: SPARK_GRAFT_SF_DIR the data directory; SPARK_GRAFT_AB=0 disables
the A/B; SPARK_GRAFT_AB_REF overrides the reference commit;
SPARK_GRAFT_AB_PAIRS the measured pair count (default 4: an EVEN count
balances the alternation exactly).

Prints TWO JSON lines (last complete line wins): the primary payload
immediately —
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {...}, "sf": ...,
   "tpch_suite_seconds": M, "tpch_queries": {...}, "steal_jiffies": J}
— then (unless SPARK_GRAFT_AB=0) the SAME payload re-emitted with the
`ab` block added:
  {..., "ab": {"ref": sha, "ref_runs": [...], "head_runs": [...],
               "headline_ratio": r1, "tpch_ratio": r2}}
A consumer that reads only the first line gets complete primary numbers
(the A/B takes minutes and must not delay them); a consumer that reads
the last line also gets the A/B.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cobradb_spark import registry
from cobradb_spark.session import get_spark
from tools.timing import HEADLINE, steal_jiffies, time_key, tpch_labels


def _timed_suite(spark, qs, sf_dir, labels: dict[str, str]) -> dict[str, float]:
    return {
        label: round(statistics.median(time_key(spark, qs[name].fn, sf_dir, 3)), 4)
        for label, name in labels.items()
    }


_REPO = os.path.dirname(os.path.abspath(__file__))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", _REPO, *args], capture_output=True, text=True, timeout=30, check=True
    ).stdout.strip()


def _ab_ref() -> str:
    """HEAD when the engine has uncommitted changes (they are the change
    under test), otherwise HEAD~1; as a short sha."""
    dirty = _git("status", "--porcelain", "--", "cobradb_spark")
    return _git("rev-parse", "--short", "HEAD" if dirty else "HEAD~1")


def _bench_once(repo_root: str, sf_dir: str) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "bench_once.py"), repo_root, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def interleaved_ab(sf_dir: str) -> dict:
    """Fresh-JVM A/B: one discarded warmup pair, then `pairs` measured
    pairs with alternating side order; medians + ratio."""
    try:
        ref = os.environ.get("SPARK_GRAFT_AB_REF") or _ab_ref()
        pairs = int(os.environ.get("SPARK_GRAFT_AB_PAIRS", "4"))
        wt = f"/tmp/bench_ab_{ref}"
    except Exception as e:  # noqa: BLE001 — fail-soft by contract
        return {"error": f"ab config: {e}"}
    try:
        subprocess.run(
            ["git", "-C", _REPO, "worktree", "add", "--force", "--detach", wt, ref],
            capture_output=True,
            text=True,
            timeout=120,
            check=True,
        )
    except Exception as e:  # noqa: BLE001 — fail-soft by contract
        return {"error": f"worktree: {e}"}
    try:
        # discarded warmup pair: pays the session's one-time costs so
        # the FIRST measured JVM of each side starts warm (the r11-r13
        # headline>1 readings were dominated by each session's first run)
        warmup = {
            "ref": _bench_once(wt, sf_dir),
            "head": _bench_once(_REPO, sf_dir),
        }
        ref_runs, head_runs = [], []
        for i in range(pairs):
            if i % 2 == 0:
                ref_runs.append(_bench_once(wt, sf_dir))
                head_runs.append(_bench_once(_REPO, sf_dir))
            else:
                head_runs.append(_bench_once(_REPO, sf_dir))
                ref_runs.append(_bench_once(wt, sf_dir))
        med = lambda runs, k: statistics.median(r[k] for r in runs)  # noqa: E731
        return {
            "ref": ref,
            "pairs": pairs,
            "warmup_discarded": warmup,
            "ref_runs": ref_runs,
            "head_runs": head_runs,
            "headline_ratio": round(med(head_runs, "headline") / med(ref_runs, "headline"), 4),
            "tpch_ratio": round(med(head_runs, "tpch") / med(ref_runs, "tpch"), 4),
        }
    except Exception as e:  # noqa: BLE001
        return {"error": f"ab run: {e}"}
    finally:
        subprocess.run(
            ["git", "-C", _REPO, "worktree", "remove", "--force", wt],
            capture_output=True,
            timeout=60,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    qs = registry.all_queries()
    steal0 = steal_jiffies()
    results = _timed_suite(spark, qs, sf_dir, HEADLINE)
    tpch = _timed_suite(spark, qs, sf_dir, tpch_labels(qs))
    steal = steal_jiffies() - steal0
    spark.stop()  # free the JVM before the A/B subprocesses spin theirs
    payload = {
        "metric": "suite_seconds",
        "value": round(sum(results.values()), 4),
        "unit": "sec",
        "queries": results,
        "sf": float(sf),
        "tpch_suite_seconds": round(sum(tpch.values()), 4),
        "tpch_queries": tpch,
        "steal_jiffies": steal,
    }
    # Emit the primary numbers IMMEDIATELY (and flush): if a harness
    # timeout kills the slower A/B phase below, the last complete JSON
    # line still carries the whole primary benchmark.
    print(json.dumps(payload), flush=True)
    ab = (
        interleaved_ab(sf_dir)
        if os.environ.get("SPARK_GRAFT_AB", "1") != "0"
        else {"error": "disabled"}
    )
    payload["ab"] = ab
    print(json.dumps(payload), flush=True)


if __name__ == "__main__":
    main()
