"""Regenerate the Totals line in COVERAGE.md from the live registry,
so the doc can't drift from the code (it did in round 1).

Usage: python tools/update_coverage.py
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gotsdb_spark.operators import ORACLES, QUERIES  # noqa: E402


def update_ledger() -> None:
    """Append newly registered query names to tools/verify_ledger.json.

    The ledger records the 'generation' each name first appeared in;
    __spark_entry__.queries() sorts unverified names oldest-generation-
    first so a burst of new operators can't starve longer-waiting
    queries out of the driver's 50-entry verification window. New names
    get max(existing generations) + 1; existing entries never change.
    """
    import json

    path = os.path.join(REPO, "tools", "verify_ledger.json")
    try:
        with open(path) as fh:
            ledger = {k: int(v) for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        ledger = {}
    gen = max(ledger.values(), default=0) + 1
    added = [n for n in QUERIES if n not in ledger]
    for n in added:
        ledger[n] = gen
    # drop names no longer registered
    ledger = {k: v for k, v in ledger.items() if k in QUERIES}
    with open(path, "w") as fh:
        json.dump(ledger, fh, indent=0, sort_keys=True)
    if added:
        print(f"ledger: +{len(added)} names at generation {gen}")


def main() -> None:
    update_ledger()
    collected = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout
    m = re.search(r"(\d+) tests collected", collected)
    n_tests = m.group(1) if m else "?"
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    rows_only_txt = (
        f" ({len(rows_only)} rows-only: {', '.join(rows_only)})" if rows_only else ""
    )
    totals = (
        f"Totals (generated by tools/update_coverage.py): {len(QUERIES)} `queries()` "
        f"entries, {len(ORACLES)} with DuckDB oracles{rows_only_txt}. "
        f"{n_tests} pytest tests. Plan-health regression tests in tests/test_plans.py."
    )
    path = os.path.join(REPO, "COVERAGE.md")
    with open(path) as fh:
        text = fh.read()
    # Absorb the old Totals line AND any trailing blank-line run so
    # regeneration is byte-stable (stray blank lines once accumulated
    # here and kept diffing — ADVICE r7).
    text = re.sub(
        r"Totals[^\n]*\n(\s*\n)*(\n[^\n#|]+)*", totals + "\n\n", text, count=1
    )
    with open(path, "w") as fh:
        fh.write(text)
    print(totals)


if __name__ == "__main__":
    main()
