"""Full-registry timing sweep — one warmup + one timed noop run per key.

Usage: python tools/op_sweep.py [out.json] [keys...]

Times EVERY registry key (or the named subset) at $SPARK_GRAFT_SF_DIR
through the noop sink on one shared session, the same methodology as
bench.py but single-shot so a 450-key sweep stays under an hour.  The
output JSON {key: seconds} ranks operators for optimization triage
(guide §1: measure first).  Failures are recorded as {"error": ...}
instead of aborting the sweep.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cobradb_spark import registry
from cobradb_spark.session import get_spark
from tools.timing import time_key

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/op_sweep.json"
    qs = registry.all_queries()
    keys = sys.argv[2:] or sorted(qs)
    spark = get_spark("op-sweep")
    results: dict[str, object] = {}
    for i, key in enumerate(keys):
        spark.sparkContext.setJobDescription(f"sweep:{key}")
        try:
            results[key] = round(time_key(spark, qs[key].fn, SF, 1)[0], 3)
        except Exception as e:  # noqa: BLE001 — sweep must finish
            results[key] = {"error": str(e)[:200]}
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{len(keys)}", file=sys.stderr, flush=True)
            with open(out_path, "w") as f:
                json.dump(results, f, indent=1, sort_keys=True)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    timed = {k: v for k, v in results.items() if isinstance(v, float)}
    print(json.dumps({"n": len(results), "total_s": round(sum(timed.values()), 1),
                      "errors": sorted(k for k, v in results.items() if not isinstance(v, float))}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
