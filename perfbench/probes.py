"""Measurement probes the benchmark reads from outside the engine.

- ``ProcTree``: the benchmark process, its JVM and the PySpark Python
  workers, read from ``/proc``.  Python-worker CPU is read here because
  Spark's own counters cannot see it: ``executorCpuTime`` is JVM thread
  time, and an Arrow-batched UDF spends its time in the worker process.
- ``RssSampler``: peak summed RSS of that tree, sampled in one thread.
- ``SparkJobs``: per-stage figures for every job whose id falls inside a
  span, from the status store (works with the UI off).  Jobs are attributed
  by job-id range, not job group: the runner's pooled threads set none.
- ``Tracer``: in-memory spans with parent links, written out at exit.
- ``cpu_steal`` / ``busy_probe``: host-noise records kept beside each op.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from typing import Any

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "(comm)": state is field 3 of stat(5), index 0 here
    return s[s.rfind(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """The processes this benchmark started, found by parent links."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()
        # pid -> start time, so a reused pid is never mistaken for ours
        self.seen: dict[int, str] = {}

    def pids(self) -> list[int]:
        stat: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                f = _stat_fields(int(d))
                if f is not None:
                    stat[int(d)] = f
        out, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, f in stat.items() if int(f[1]) in frontier]
            out += frontier
        for p in out:
            if p in stat:
                self.seen.setdefault(p, stat[p][19])
        return out

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total

    def pyworker_cpu_s(self) -> float:
        """utime+stime of the PySpark daemon and its forked workers, plus
        the reaped workers' time the daemon holds as cutime+cstime."""
        ticks = 0
        for pid in self.pids():
            if "pyspark.daemon" not in _cmdline(pid):
                continue
            f = _stat_fields(pid)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _TICK

    def wait_gone(self, timeout: float) -> list[int]:
        """Wait for every process seen so far (except this one) to end;
        returns those still alive at *timeout*."""
        deadline = time.monotonic() + timeout
        alive = [p for p in self.seen if p != self.root]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if self._alive(p)]
        return alive

    def _alive(self, pid: int) -> bool:
        f = _stat_fields(pid)
        return f is not None and f[0] != "Z" and f[19] == self.seen[pid]


class RssSampler:
    """Peak summed RSS of a ``ProcTree`` while ``running()`` is entered."""

    def __init__(self, tree: ProcTree, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self.peak = 0

    @contextmanager
    def running(self):
        stop = threading.Event()

        def loop() -> None:
            while not stop.is_set():
                self.peak = max(self.peak, self.tree.rss_bytes())
                stop.wait(self.interval)

        t = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        t.start()
        try:
            yield self
        finally:
            stop.set()
            t.join()


class SparkJobs:
    """Stage figures of the jobs submitted between ``mark()`` and
    ``since(mark)``, read from the driver's status store."""

    FIELDS = (
        "jobs",
        "tasks",
        "executor_run_s",
        "jvm_cpu_s",
        "input_mb",
        "shuffle_read_mb",
        "shuffle_write_mb",
        "spill_mb",
    )

    def __init__(self, spark):
        from py4j.protocol import Py4JJavaError

        self._missing = Py4JJavaError
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def mark(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def since(self, mark: int) -> dict[str, float]:
        jobs = self.store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if int(job.jobId()) <= mark:
                break
            n_jobs += 1
            sids = job.stageIds()
            stage_ids.update(int(sids.apply(k)) for k in range(sids.size()))
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = float(n_jobs)
        mb = 1024.0 * 1024.0
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except self._missing:  # stage evicted or never submitted
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_mb"] += sd.inputBytes() / mb
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
        return out


class Tracer:
    """Spans kept in memory: name, start, end, parent, attributes."""

    def __init__(self):
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.monotonic(),
            "t1": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["t1"] = time.monotonic()

    def add(self, name: str, t0: float, t1: float, parent: int, **attrs: Any) -> None:
        """Record a finished child span measured elsewhere (report phases)."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "t0": t0, "t1": t1, "attrs": dict(attrs)}
        )

    def coverage(self, span_id: int) -> float:
        """Share of a span's wall covered by its children."""
        sp = self.spans[span_id]
        return _covered(sp, self._children(span_id)) / max(sp["t1"] - sp["t0"], 1e-9)

    def _children(self, span_id: int) -> list[dict[str, Any]]:
        return [c for c in self.spans if c["parent"] == span_id]

    def export(self) -> list[dict[str, Any]]:
        """Spans relative to the first start, each with its self time."""
        base = min((s["t0"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            wall = s["t1"] - s["t0"]
            out.append(
                {
                    "id": s["id"],
                    "name": s["name"],
                    "parent": s["parent"],
                    "start_s": s["t0"] - base,
                    "wall_s": wall,
                    "self_s": wall - _covered(s, self._children(s["id"])),
                    "attrs": s["attrs"],
                }
            )
        return out


class LayerProbe:
    """Spans that also carry the Spark-job and Python-worker figures of
    their interval.  Figures are read after the span closes, so reading
    them costs no span time."""

    def __init__(self, spark, tree: ProcTree, tracer: Tracer):
        self.jobs = SparkJobs(spark)
        self.tree = tree
        self.tracer = tracer
        self.overhead_s = 0.0  # wall spent in the probe's own reads

    @contextmanager
    def layer(self, name: str, **attrs: Any):
        t = time.monotonic()
        mark = self.jobs.mark()
        cpu0 = self.tree.pyworker_cpu_s()
        self.overhead_s += time.monotonic() - t
        with self.tracer.span(name, **attrs) as sp:
            yield sp
        t = time.monotonic()
        sp["attrs"].update(self.jobs.since(mark))
        sp["attrs"]["pyworker_cpu_s"] = self.tree.pyworker_cpu_s() - cpu0
        sp["attrs"]["wall_s"] = sp["t1"] - sp["t0"]
        self.overhead_s += time.monotonic() - t


@contextmanager
def counting_calls(cls: type, attr: str):
    """Count calls of ``cls.attr`` while entered (a probe, not a change:
    the original method runs unchanged and is restored on exit)."""
    orig = getattr(cls, attr)
    calls = [0]

    def wrapped(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    setattr(cls, attr, wrapped)
    try:
        yield calls
    finally:
        setattr(cls, attr, orig)


def _covered(sp: dict[str, Any], children: list[dict[str, Any]]) -> float:
    """Length of the union of *children* clipped to *sp*'s interval."""
    ivs = sorted(
        (max(c["t0"], sp["t0"]), min(c["t1"], sp["t1"])) for c in children
    )
    total, end = 0.0, sp["t0"]
    for a, b in ivs:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def busy_probe(n: int = 1_000_000) -> float:
    """Wall of a fixed single-thread busy loop: a host-pressure canary."""
    t0 = time.monotonic()
    x = 0
    for i in range(n):
        x += i
    return time.monotonic() - t0
