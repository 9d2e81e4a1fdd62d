"""The bench harnesses' shared timing core (tools/timing.py)."""

from __future__ import annotations

import importlib.util
import os

from cobradb_spark.operators import rank

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TIMING = os.path.join(_ROOT, "tools", "timing.py")


def _load_timing():
    spec = importlib.util.spec_from_file_location("timing_under_test", _TIMING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_key_warms_up_once_and_releases_after_every_run(spark, monkeypatch):
    """runs=3 means one untimed warm-up plus three timed runs: four builds
    and four releases, three timings."""
    timing = _load_timing()
    calls = {"fn": 0, "release": 0}

    def fn(spark, sf_dir):
        calls["fn"] += 1
        return spark.range(10)

    def release():
        calls["release"] += 1
        return 0

    monkeypatch.setattr(rank, "release_rank_caches", release)
    times = timing.time_key(spark, fn, "unused", runs=3)
    assert len(times) == 3
    assert all(isinstance(t, float) and t >= 0 for t in times)
    assert calls == {"fn": 4, "release": 4}
