"""Time individual queries through the noop sink (min-of-N), matching
bench.py methodology, for optimization iteration.

Usage:
    python tools/time_queries.py [-n RUNS] query [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gotsdb_spark.operators import QUERIES  # noqa: E402
from gotsdb_spark.session import get_spark, release_blocks  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")
    spark.range(1000).count()  # warm codegen/session

    for name in args:
        spark.sparkContext.setJobDescription(name)
        best = float("inf")
        all_t = []
        try:
            for _ in range(runs):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                all_t.append(round(dt, 3))
                best = min(best, dt)
            print(f"TIME {name}: min={best:.3f}s runs={all_t}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {type(exc).__name__}: {exc}"[:300], flush=True)
        release_blocks(spark)
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
