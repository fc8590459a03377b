"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For every workload, at sf0.001 and a few cycles or files:
- an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and reports no failed check;
- a traced run prints every per-layer metric with its unit;
- a run with one deliberately wrong expected value reports it as a
  failed check.
No run may leave a process behind. Then a directory holding only
BENCHMARK.json and the benchmark's files (no program) must make the
benchmark exit non-zero without a result.
Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")

sys.path.insert(0, HERE)
from harness import become_subreaper, child_pids  # noqa: E402


def _left_running() -> list[str]:
    """Processes that outlived the run that started them, killed and
    reaped here. This process is their subreaper, so each one is a child
    of it now."""
    left = []
    for pid in child_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as cmd:
                left.append(cmd.read().replace(b"\0", b" ").decode()[:100] or f"{pid} (exited)")
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass
    return left


def _run(cwd: str, workload: str, *extra: str, problems: list[str]) -> tuple[int, dict | None]:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    left = _left_running()
    _expect(not left, f"{workload} {' '.join(extra)}: no process left running"
            + (f" (left: {left})" if left else ""), problems)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def _expect(cond: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        problems.append(what)


def _check_metrics(res: dict, declared: list[dict], what: str, problems: list[str]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    _expect(got == want, f"{what}: metric names and units", problems)
    finite = all(
        isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
        for v in res["metrics"].values()
    )
    _expect(finite, f"{what}: every value is a finite number", problems)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems: list[str] = []
    become_subreaper()
    for w in [x["name"] for x in bench["workloads"]]:
        rc, res = _run(ROOT, w, "--trace", "0", "--tiny", problems=problems)
        _expect(rc == 0 and res is not None, f"{w}: untraced run prints a result", problems)
        if res:
            _expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                    f"{w}: no failed check", problems)
            _check_metrics(res, bench["end_to_end"], f"{w} untraced", problems)
            _expect(all(v["value"] > 0 for v in res["metrics"].values()),
                    f"{w}: every end-to-end value is above 0", problems)
        rc, res = _run(ROOT, w, "--trace", "1", "--tiny", problems=problems)
        _expect(rc == 0 and res is not None, f"{w}: traced run prints a result", problems)
        if res:
            _check_metrics(res, bench["per_layer"], f"{w} traced", problems)
        rc, res = _run(ROOT, w, "--trace", "0", "--tiny", "--inject-fault", problems=problems)
        _expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
                f"{w}: a wrong expected value is reported as a failure", problems)

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = _run(bare, bench["workloads"][0]["name"], "--trace", "0", problems=problems)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(rc != 0 and res is None, "without the program: non-zero exit, no result", problems)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
