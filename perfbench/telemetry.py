"""Measurement helpers: process CPU from /proc, in-memory spans, and
Spark job/stage counters read from outside the program.

Nothing here changes what the program does. Spans wrap calls into the
program's public functions; job counts come from ``setJobGroup`` plus
``statusTracker()``; stage shuffle/spill/task-time numbers come from the
UI REST API, which only the traced run enables.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import signal
import statistics
import threading
import time
import urllib.request
import uuid

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process CPU ---------------------------------------------------------------
def _procs() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds), from /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended meanwhile
            continue
        # the command name may contain spaces; the fields after it are fixed
        fields = raw[raw.rindex(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), sum(int(fields[i]) for i in (11, 12, 13, 14)) / _CLK_TCK)
    return out


def descendants(root: int, procs: dict[int, tuple[int, float]] | None = None) -> list[int]:
    """Live processes below ``root`` (not ``root`` itself)."""
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; kill what is left at the timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not pids:
            return
        time.sleep(0.05)
    for p in pids:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


class ProcCpu:
    """CPU seconds of the JVM and of the Python processes (the driver and
    the JVM's Python workers).

    A process's ``cutime``/``cstime`` hold its reaped children, so live
    descendants plus their parents' reaped totals count every CPU second
    once."""

    def __init__(self, jvm_pid: int | None) -> None:
        self.jvm_pid = jvm_pid
        self.py_pid = os.getpid()

    def read(self) -> dict[str, float]:
        procs = _procs()
        jvm = procs.get(self.jvm_pid, (0, 0.0))[1]
        workers = sum(procs[p][1] for p in descendants(self.jvm_pid, procs)) if jvm else 0.0
        driver = procs.get(self.py_pid, (0, 0.0))[1]
        return {"jvm_cpu_s": jvm, "python_cpu_s": driver + workers}


class HostSteal:
    """The share of this VM's wanted CPU time that the hypervisor gave to
    other guests ("steal"), from the first line of /proc/stat, sampled
    every ``period_s`` by a background thread while in use.

    Steal only accrues while a vCPU wants to run, so the share is steal
    over (busy + steal), not over all time."""

    def __init__(self, period_s: float = 0.05) -> None:
        self.period_s = period_s
        self.samples: list[tuple[float, int, int]] = []  # (time, busy, steal)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="host-steal", daemon=True)

    @staticmethod
    def read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal ...
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7]

    def _run(self) -> None:
        while True:
            self.samples.append((time.time(), *self.read()))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "HostSteal":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append((time.time(), *self.read()))

    def share(self, t0: float, t1: float) -> float:
        """Steal share between the last sample at or before ``t0`` and the
        first at or after ``t1``."""
        before = [x for x in self.samples if x[0] <= t0] or self.samples[:1]
        after = [x for x in self.samples if x[0] >= t1] or self.samples[-1:]
        busy, steal = after[0][1] - before[-1][1], after[0][2] - before[-1][2]
        return steal / (busy + steal) if busy + steal > 0 else 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# -- spans ---------------------------------------------------------------------
class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; written
    once at the end. ``enabled=False`` makes every span a no-op so the
    untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()  # a parent stack per thread
        self._lock = threading.Lock()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (for patching a module
        attribute the program looks up at call time)."""

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patched(module, attr: str, replacement):
    orig = getattr(module, attr)
    setattr(module, attr, replacement)
    try:
        yield orig
    finally:
        setattr(module, attr, orig)


# -- Spark jobs and stages -----------------------------------------------------
class SparkStages:
    """Per job-group job/task counts (statusTracker) and, when the UI is
    on, per-stage shuffle/spill/task-time numbers (REST)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.url = self.sc.uiWebUrl
        self.app = self.sc.applicationId

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        st = self.sc.statusTracker()
        out: list[int] = []
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def _get(self, path: str):
        with urllib.request.urlopen(
            f"{self.url}/api/v1/applications/{self.app}/{path}", timeout=10
        ) as r:
            return json.load(r)

    def _settle(self) -> None:
        # the REST store is fed by the async listener bus
        from py4j.protocol import Py4JError

        with contextlib.suppress(Py4JError):
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_metrics(self, stage_ids: list[int]) -> dict[str, float]:
        """Summed over completed stage attempts; skipped stages ran no tasks."""
        tot = {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "max_task_ms": 0.0}
        if not self.url or not stage_ids:
            return tot
        self._settle()
        for sid in stage_ids:
            try:
                attempts = self._get(f"stages/{sid}")
            except OSError:
                continue
            for a in attempts:
                if a.get("status") == "SKIPPED":
                    continue
                tot["tasks"] += a.get("numCompleteTasks", 0)
                tot["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
                tot["spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
                try:
                    q = self._get(f"stages/{sid}/{a['attemptId']}/taskSummary?quantiles=1.0")
                    tot["max_task_ms"] = max(tot["max_task_ms"], float(q["executorRunTime"][0]))
                except (OSError, KeyError, IndexError):
                    pass
        return tot


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return float(xs[k])
