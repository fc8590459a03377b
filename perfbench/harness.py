"""Shared pieces of the benchmark: run context, statistics, tracing.

Everything here runs in the benchmark process and touches the program
only through its public functions. Tracing is off unless ``--trace 1``:
then every call into a layer gets a span and its own Spark job group,
and the Spark work done under that group is read back from the status
tracker and the status store.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from statistics import median


@dataclass
class Ctx:
    """What a workload gets from the entry point."""

    spark: object
    root: str
    seed: int
    seconds: float
    tiny: bool
    inject_fault: bool
    work: str
    fixtures: str
    tracer: "Tracer"
    clock: "HostClock"
    t_start: float


@dataclass
class Outcome:
    """What a workload hands back to the entry point.

    ``e2e`` holds the end-to-end values and ``per_layer`` (traced runs
    only) the per-layer ones, name -> (value, unit). ``layers`` holds
    the detailed, workload-specific numbers written to the result file
    only.
    """

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0
    timed_s: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 50:
            self.errors.append(what)


def p90(xs: list[float]) -> float | None:
    """p90 only where at least 10 samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# -- host speed and the timed phase -----------------------------------------

# A fixed reference probe time, about what a 4-core Xeon host of the kind
# the benchmark was built on measures; normalised timings read as on a
# host whose probe takes exactly this long.
PROBE_REFERENCE_S = 0.12
_PROBE_LOOP = 1_500_000
_PROBE_REPS = 3
# A probe inside the timed phase whenever this much of it has passed
# since the last one: the host's speed moves within seconds.
PROBE_EVERY_S = 3.0


# A probe worker: times the loop once per line it reads, writes the
# seconds back, and exits when its standard input closes.
_PROBE_WORKER = f"""
import sys, time

def spin():
    t = time.perf_counter()
    x = 0
    for i in range({_PROBE_LOOP}):
        x += i * i
    return time.perf_counter() - t

for _ in sys.stdin:
    print(spin(), flush=True)
"""


# -- processes ----------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the subreaper of every process it starts: one
    whose parent exits before it becomes a child of this process."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids(pid: int | str = "self") -> list[int]:
    """The children of process ``pid``, exited but not yet reaped ones too."""
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
    except OSError:  # exited meanwhile
        pass
    return kids


def _process_tree(pid: int) -> list[int]:
    """``pid`` and every process it started, children before parents."""
    return [p for k in child_pids(pid) for p in _process_tree(k)] + [pid]


def _signal_all(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


class HostClock:
    """Host speed, probed while the program is paused, and the timed
    phase's clock, which leaves the probes out.

    A probe times a fixed pure-Python loop on every core at once (median
    over repetitions of the slowest core) in worker processes the
    benchmark starts before the program's JVM and waits for in
    ``close``. During a probe the JVM and every process it started are
    stopped (SIGSTOP, then SIGCONT), so nothing the program runs, in the
    foreground or the background, takes part in it: it measures only how
    fast the host is at that moment. On a shared host the same code runs
    up to twice as fast in one ten-minute window as in another, and
    within seconds the speed moves by a fifth, so the timed phase is
    probed at its start, every ``PROBE_EVERY_S`` between units of work,
    and at its end."""

    def __init__(self) -> None:
        self.n = len(os.sched_getaffinity(0))
        self._workers = [
            subprocess.Popen([sys.executable, "-c", _PROBE_WORKER],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(self.n)
        ]
        self._spin_all()  # workers up before any probe
        self._jvm_pid: int | None = None
        self.samples: list[float] = []
        self.paused_s = 0.0
        self._last = 0.0
        self._t0 = self._p0 = 0.0

    def attach(self, spark) -> None:
        self._jvm_pid = spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        for w in self._workers:
            w.stdin.close()
        for w in self._workers:
            try:
                w.wait(timeout=30)
            except subprocess.TimeoutExpired:
                w.kill()
                w.wait()
            w.stdout.close()

    def _spin_all(self) -> float:
        """One loop on every worker at once; the slowest one's seconds."""
        for w in self._workers:
            w.stdin.write("\n")
            w.stdin.flush()
        return max(float(w.stdout.readline()) for w in self._workers)

    def probe(self) -> None:
        t = time.perf_counter()
        pids = _process_tree(self._jvm_pid)
        _signal_all(pids, signal.SIGSTOP)
        try:
            reps = [self._spin_all() for _ in range(_PROBE_REPS)]
        finally:
            _signal_all(pids, signal.SIGCONT)
        self.samples.append(statistics.median(reps))
        self._last = time.perf_counter()
        self.paused_s += self._last - t

    def host_factor(self) -> float:
        """Probe time over the reference (above 1: the host is slower now)."""
        return statistics.mean(self.samples) / PROBE_REFERENCE_S

    # The timed phase.

    def start(self) -> None:
        self.probe()
        self._t0, self._p0 = time.perf_counter(), self.paused_s

    def elapsed(self) -> float:
        """Seconds of the timed phase so far, probes left out."""
        return time.perf_counter() - self._t0 - (self.paused_s - self._p0)

    def between_units(self) -> None:
        if time.perf_counter() - self._last >= PROBE_EVERY_S:
            self.probe()

    def keep_going(self, window: float, last_unit: float, done: int, min_units: int) -> bool:
        """Closed-loop pacing: start another unit only while it is
        expected to finish inside the timed window (and always run
        ``min_units``)."""
        return done < min_units or self.elapsed() + last_unit <= window

    def stop(self) -> float:
        """End the timed phase; returns its length, probes left out."""
        timed = self.elapsed()
        self.probe()
        return timed


# -- tracing ---------------------------------------------------------------

_COUNT_KEYS = (
    "jobs", "stages", "tasks", "executor_ms", "max_task_ms",
    "shuffle_bytes", "input_bytes", "scan_tasks",
)


def zero_counts() -> dict[str, float]:
    return {k: 0.0 for k in _COUNT_KEYS}


class SparkCounts:
    """Spark work done under one job group, read after the call returns.

    Jobs and stages come from ``statusTracker()``; task run time,
    shuffle and input bytes from the status store, which works with the
    UI off. The listener bus is drained first so the store has seen
    every event of the finished jobs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._q_max = gw.new_array(gw.jvm.double, 1)
        self._q_max[0] = 1.0

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def for_group(self, group: str) -> dict[str, float]:
        self.drain()
        st = self.sc.statusTracker()
        out = zero_counts()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            out["jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: dict[str, float], sid: int) -> None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted from the store
            return
        done = sd.numCompleteTasks()
        if done == 0:  # skipped stage: its shuffle output was reused
            return
        out["stages"] += 1
        out["tasks"] += done
        out["executor_ms"] += sd.executorRunTime()
        out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        out["input_bytes"] += sd.inputBytes()
        if sd.inputBytes() > 0:
            out["scan_tasks"] += done
        summary = self._store.taskSummary(sid, sd.attemptId(), self._q_max)
        if summary.isDefined():
            out["max_task_ms"] = max(
                out["max_task_ms"], summary.get().executorRunTime().apply(0)
            )


class Tracer:
    """Spans around calls into the program's layers.

    Each span has a name, start, end, parent and request id and is kept
    in memory; ``counted`` spans also get their own job group and the
    Spark counts of the work run under it. With tracing off ``span`` is
    a no-op context."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counts = SparkCounts(spark) if enabled else None
        self._sc = spark.sparkContext
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, req: str | int | None = None, counted: bool = False):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "req": req,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        group = None
        if counted:
            self._groups += 1
            group = f"pb-{self._groups}"
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                rec["counts"] = self._counts.for_group(group)

    def group_counts(self, group: str) -> dict[str, float]:
        return self._counts.for_group(group)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its child spans cover (children never overlap: one client)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return {k: round(v, 6) for k, v in out.items()}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def span_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


# -- per-layer metrics shared by every workload ------------------------------


def slot_metrics(slot: str, samples: list[dict]) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of one operation class from its traced samples.

    Each sample is {"wall_ms": ..., **counts}. Values are medians over
    the samples (a class of several queries passes its per-query
    medians already summed, as one sample)."""
    def med(key: str) -> float:
        return median([s[key] for s in samples])

    return {
        f"{slot}.wall_ms": (med("wall_ms"), "ms"),
        f"{slot}.jobs": (med("jobs"), "count"),
        f"{slot}.stages": (med("stages"), "count"),
        f"{slot}.tasks": (med("tasks"), "count"),
        f"{slot}.executor_ms": (med("executor_ms"), "ms"),
        f"{slot}.max_task_ms": (med("max_task_ms"), "ms"),
        f"{slot}.serial_share": (
            median([s["max_task_ms"] / s["wall_ms"] if s["wall_ms"] else 0.0 for s in samples]),
            "ratio",
        ),
        f"{slot}.shuffle_kb": (med("shuffle_bytes") / 1024.0, "KiB"),
        f"{slot}.input_kb": (med("input_bytes") / 1024.0, "KiB"),
    }


def span_sample(s: dict) -> dict:
    return {"wall_ms": span_ms(s), **s["counts"]}


def sum_samples(samples: list[dict]) -> dict:
    """Add per-query samples into one class sample."""
    out = {"wall_ms": 0.0, **zero_counts()}
    for s in samples:
        for k in out:
            if k == "max_task_ms":
                out[k] = max(out[k], s[k])
            else:
                out[k] += s[k]
    return out
