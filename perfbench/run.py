"""Benchmark entry point.

    python3 perfbench/run.py --workload {kv_lifecycle,query_mix,stream_drain}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Builds nothing: the
program is the ``gotsdb_spark`` package next to this directory. Every
file the run writes stays under ``perfbench/.work`` (deleted at exit)
and ``perfbench/results``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The full result, with run metadata, the workload's
layer numbers and, when traced, the spans, goes to
``perfbench/results/<workload>-seed<N>-trace<T>.json``.

Extra flags for the self-test only: ``--tiny`` (fixtures at sf0.001 and
a few cycles or files) and ``--inject-fault`` (one expected value is
made wrong, so the run must report a failed check).
"""

import os
import sys

if os.environ.get("PYTHONHASHSEED") != "0":
    # Fixed str/bytes hashing in this interpreter as well as in the
    # workers it starts: it can only be set before the interpreter starts.
    os.execve(sys.executable, [sys.executable, *sys.orig_argv[1:]],
              {**os.environ, "PYTHONHASHSEED": "0"})

import time  # noqa: E402

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_lifecycle", "query_mix", "stream_drain")
DRIVER_MEM = "2g"


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject-fault", action="store_true")
    return ap.parse_args()


def _pin_environment(work: str) -> None:
    """Fixed settings of every run; all scratch space inside ``work``.

    Set before pyspark is imported: the JVM inherits this environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Every JVM, spark-submit's launcher too: no /tmp/hsperfdata files.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = tmp


def _git_commit() -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _source_hash() -> str:
    """SHA-256 over the program's and the benchmark's Python sources:
    identifies the code a result was measured on, in a git checkout or
    not, committed or not."""
    h = hashlib.sha256()
    for top in ("gotsdb_spark", "perfbench"):
        for dirpath, dirnames, names in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            for f in sorted(names):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read() + b"\0")
    return h.hexdigest()


def _metadata(args: argparse.Namespace) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
        "source_hash": _source_hash(),
        "driver_memory": DRIVER_MEM,
    }


def _at_reference_speed(value: float, unit: str, host_factor: float) -> tuple[float, str]:
    """A timing or rate as it would read on the reference host.

    ``host_factor`` is this run's host probe over the reference probe
    (above 1: the host is slower now), so times shrink and rates grow by
    it. Counts are left alone."""
    if unit in ("s", "ms"):
        return value / host_factor, unit
    if unit == "1/s":
        return value * host_factor, unit
    return value, unit


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _terminate_on_sigterm() -> None:
    """A SIGTERM ends the run through the same clean-up as any other end."""

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)


def _reap_children(grace_s: float = 10.0) -> None:
    """End every process still left of this run and wait for each. This
    process is their subreaper, so orphans of the JVM are among them."""
    from harness import child_pids

    deadline = time.monotonic() + grace_s
    while kids := child_pids():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
                os.kill(pid, signal.SIGCONT)  # a stopped process cannot act on SIGTERM
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _earlier_results(results_dir: str, meta: dict, trace: int) -> list[dict]:
    """Earlier result records of the same workload, size and source code
    (``meta.source_hash``, which changes with the commit), oldest first."""
    names = [f for f in os.listdir(results_dir)
             if f.startswith(meta["workload"] + "-") and f.endswith(f"-trace{trace}.json")]
    names.sort(key=lambda f: os.path.getmtime(os.path.join(results_dir, f)))
    records = []
    for f in names:
        with open(os.path.join(results_dir, f)) as fh:
            rec = json.load(fh)
        m = rec["meta"]
        if m["tiny"] == meta["tiny"] and m.get("source_hash") == meta["source_hash"]:
            records.append(rec)
    return records


def _tracing_overhead(earlier_untraced: list[dict], seed: int, traced: dict) -> dict:
    """Traced end-to-end numbers minus those of an untraced run of the
    same code: of the same seed where there is one, else the latest."""
    if not earlier_untraced:
        return {}
    same_seed = [r for r in earlier_untraced if r["meta"]["seed"] == seed]
    base_rec = (same_seed or earlier_untraced)[-1]
    base = base_rec["end_to_end"]
    return {"untraced_seed": base_rec["meta"]["seed"],
            **{k: traced[k] - v for k, v in base.items() if k in traced}}


def _repeated_counts(earlier_traced: list[dict], counts: dict) -> list[str]:
    """Count metrics that read the same in every earlier traced run."""
    if not earlier_traced:
        return []
    return sorted(k for k in counts if all(r.get("counts", {}).get(k) == counts[k] for r in earlier_traced))


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "gotsdb_spark")):
        print(f"no gotsdb_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    sys.path[:0] = [HERE, ROOT]
    from harness import become_subreaper

    become_subreaper()
    _terminate_on_sigterm()
    results_dir = os.path.join(HERE, "results")
    os.makedirs(results_dir, exist_ok=True)
    spark = clock = None
    try:
        from harness import Ctx, HostClock, Tracer
        from gotsdb_spark.session import get_spark

        meta = _metadata(args)
        workload = importlib.import_module(args.workload)
        # The probe's worker pool starts before the JVM; that is not
        # part of set-up.
        t = time.perf_counter()
        clock = HostClock()
        t_start = T_START + (time.perf_counter() - t)
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("FATAL")
        session_s = time.perf_counter() - t
        clock.attach(spark)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(
            spark=spark, root=ROOT, seed=args.seed, seconds=args.seconds,
            tiny=args.tiny, inject_fault=args.inject_fault,
            work=work, fixtures=os.path.join(HERE, "fixtures"), tracer=tracer,
            clock=clock, t_start=t_start,
        )
        res = workload.run(ctx)
    except Exception:  # noqa: BLE001 — no result line on a broken set-up
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
            if clock is not None:
                clock.close()
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)

    raw = {"setup_s": (res.setup_s, "s"), **res.e2e}
    host_factor = clock.host_factor()
    e2e = {k: _at_reference_speed(v, u, host_factor) for k, (v, u) in raw.items()}
    metrics = {"session.start_s": (session_s, "s"), **res.per_layer} if args.trace else e2e
    record = {
        "meta": meta,
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "errors": res.errors,
        "timed_s": res.timed_s,
        "setup_s": res.setup_s,
        "session_start_s": session_s,
        "host_probe_s": clock.samples,
        "host_factor": host_factor,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "end_to_end_raw": {k: v for k, (v, _) in raw.items()},
        "per_layer": {k: v for k, (v, _) in metrics.items()} if args.trace else {},
        "layers": res.layers,
    }
    if args.trace:
        record["self_time_s"] = tracer.self_times()
        counts = {k: v for k, v in res.layers.items() if "jobs" in k or "batches" in k or "tasks" in k}
        counts.update({k: v for k, (v, u) in metrics.items() if u == "count"})
        record["counts"] = counts
        record["counts_repeated_exactly"] = _repeated_counts(_earlier_results(results_dir, meta, 1), counts)
        record["tracing_overhead"] = _tracing_overhead(
            _earlier_results(results_dir, meta, 0), args.seed, record["end_to_end"])
        record["spans"] = tracer.spans
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in res.errors:
        print(f"check failed: {e}", file=sys.stderr)
    print("meta " + json.dumps(meta))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
