"""Capture `.explain("formatted")` for checkpoint-INTERIOR subplans.

Some optimizations live inside localCheckpoint subtrees, so the
registered query's final plan (what tools/capture_plans.py dumps) shows
only `Scan ExistingRDD` where the change happened. This tool rebuilds
the interior stage by calling the operator's own helper and dumps ITS
plan:

- prefix_filter_candidates — the PPJoin candidate chain
  (dedup_prefix_filter_jaccard and both LSH-audit truth arms): shows
  the positional-filter predicate ahead of the distinct.

Usage: python tools/capture_interior_plans.py <tag> [name ...]
Writes plans/<round>/<name>_<tag>.txt (round dir from
SPARK_GRAFT_PLANS_ROUND, default r14).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gotsdb_spark.plans import formatted_plan  # noqa: E402
from gotsdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
)


def prefix_filter_candidates(spark):
    from gotsdb_spark.operators.dedup import (
        _prefix_filter_candidates,
        shingle_table,
    )

    return _prefix_filter_candidates(
        shingle_table(spark, SF_DIR).localCheckpoint(eager=False)
    )


BUILDERS = {
    "prefix_filter_candidates": prefix_filter_candidates,
}


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:] or list(BUILDERS)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture-interior-plans")
    rc = 0
    for name in names:
        try:
            plan = formatted_plan(BUILDERS[name](spark))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: {exc}")
            rc = 1
            continue
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('SortMergeJoin')} SMJ, "
              f"{plan.count('BroadcastHashJoin')} BHJ)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
