"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet fixtures, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
doubles rounded). Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from gotsdb_spark.operators import ORACLES, QUERIES  # noqa: E402
from gotsdb_spark.session import DEFAULT_CPUS, get_spark, release_blocks  # noqa: E402
from gotsdb_spark.sources.registry import TABLES  # noqa: E402

ROUND = 6


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(ROUND)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            # duckdb may hand back Decimal / date objects
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    return str(pd.util.hash_pandas_object(df.astype(str), index=False).sum())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    statuses: dict[str, str] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in ORACLES:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            statuses[name] = "rows-only"
            continue
        try:
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} duck={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            if value_hash(cs) != value_hash(co):
                neq = (cs != co) & ~(cs.isna() & co.isna())
                bad = neq.any(axis=1)
                problems.append(
                    f"value mismatch in {int(bad.sum())}/{len(cs)} rows; first:\n"
                    f"spark:\n{cs[bad].head(3)}\nduck:\n{co[bad].head(3)}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            statuses[name] = "pass"
        release_blocks(spark)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    # Committed sweep artifact: lets a round prove "every registered
    # query hash-matched locally on <date>" even for names outside the
    # driver's 50-per-round verification window.
    if not only:
        import json
        import os

        # sf0.01 keeps the historical artifact name; other scale factors
        # get their own file (sf0.1 → oracle_sweep_sf01.json) so a
        # volume sweep never clobbers the canonical one.
        base = os.path.basename(os.path.normpath(sf_dir))
        suffix = "" if base == "sf0.01" else "_" + base.replace(".", "")
        # A parallelism-invariance sweep (SPARK_GRAFT_CPUS set) gets its
        # own artifact instead of clobbering the canonical run (round 6
        # renamed by hand; now automatic).
        if os.environ.get("SPARK_GRAFT_CPUS"):
            suffix += f"_cpus{os.environ['SPARK_GRAFT_CPUS']}"
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), f"oracle_sweep{suffix}.json"
        )
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    # Shuffle-partition count the sweep ran under, so a
                    # parallelism-invariance sweep (SPARK_GRAFT_CPUS=7)
                    # is distinguishable from the canonical run. This is
                    # the value the session factory ACTUALLY used (env
                    # var else cpu count), not a hardcoded fallback —
                    # the provenance claim must match reality.
                    "cpus": str(DEFAULT_CPUS),
                    "swept_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "n_queries": len(QUERIES),
                    "n_pass": sum(1 for v in statuses.values() if v == "pass"),
                    "n_rows_only": sum(1 for v in statuses.values() if v == "rows-only"),
                    "failures": failures,
                    "statuses": statuses,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
