"""Measurement helpers that observe the program from outside.

- :class:`Tracer`: spans around calls into the program's layers (name,
  start, end, parent, run id), kept in memory and written at the end.
  Each span tags the Spark jobs it starts with ``setJobGroup`` so the
  event log's task metrics can be attributed to it.
- :class:`ProcTree`: resident memory and CPU time of the driver JVM and
  its Python worker processes, read from ``/proc``.
- :class:`PeakRss`: a sampling thread that records the peak resident
  memory of a :class:`ProcTree` while a region runs.
- :func:`task_metrics_by_span`: per-span executor run, CPU and GC time,
  shuffle and spill bytes and task skew from a Spark event log.

Nothing here is imported by the program; the program is not
instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """A root process (the driver JVM) and all of its descendants."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def python_pids(self) -> list[int]:
        """Descendants running Python (the PySpark daemon and workers),
        by executable name: the JVM's own arguments name ``pyspark``."""
        out = []
        for pid in self.pids():
            if pid == self.root:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            if b"python" in os.path.basename(cmd.split(b"\0", 1)[0]):
                out.append(pid)
        return out

    @staticmethod
    def rss_mb(pids: list[int]) -> float:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except OSError:
                continue
        return total * _PAGE / 1e6

    @staticmethod
    def cpu_s(pids: list[int]) -> float:
        """utime + stime of the processes plus that of their reaped
        children (a worker that exits is billed to the daemon)."""
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    def python_cpu_s(self) -> float:
        return self.cpu_s(self.python_pids())


class PeakRss:
    """Sample the resident memory of the driver JVM and its Python
    processes every ``INTERVAL_S`` between :meth:`reset` and
    :meth:`peak`; look for new worker processes every ``RESCAN_EVERY``
    samples.  Other descendants are left out: the JVM starts helper
    processes by vfork, and until its exec such a child reports the
    whole JVM's resident set as its own."""

    INTERVAL_S = 0.05
    RESCAN_EVERY = 10

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            if n % self.RESCAN_EVERY == 0:
                pids = self._pids()
            n += 1
            rss = self.tree.rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def _pids(self) -> list[int]:
        return [self.tree.root, *self.tree.python_pids()]

    def reset(self) -> None:
        with self._lock:
            self._peak = self.tree.rss_mb(self._pids())

    def peak(self) -> float:
        with self._lock:
            return self._peak


class Tracer:
    """Spans around layer calls.  A disabled tracer records nothing and
    touches neither Spark nor ``/proc``, so untraced runs pay nothing."""

    def __init__(self, spark=None, run_id: str = "run", tree: ProcTree | None = None,
                 enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.run_id = run_id
        self.tree = tree
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _job_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{span['id']}", span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.spark is not None:
            self._job_group(rec)
        cpu0 = self.tree.python_cpu_s() if self.tree else 0.0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.tree:
                rec["py_cpu_s"] = self.tree.python_cpu_s() - cpu0
            self._stack.pop()
            if self.spark is not None:
                self._job_group(self._stack[-1] if self._stack else None)

    def self_times(self) -> None:
        """Fill ``dur_s`` and ``self_s`` (duration minus the union of
        the child spans' intervals) on every span."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            covered, reach = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            s["self_s"] = s["dur_s"] - covered

    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


# ------------------------------------------------------------ event log


def _read_events(log_dir: str):
    """Events of every (rolled) event-log file under ``log_dir``."""
    for root, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    yield json.loads(line)


def task_metrics_by_span(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Executor task metrics per span id.

    A task belongs to the span whose job group started its stage's job;
    a task of a job outside any span group (a broadcast, say) belongs to
    the innermost span whose interval holds its launch time.
    """
    stage_group: dict[int, str] = {}
    tasks = []
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append(ev)

    by_group = {f"span-{s['id']}": s["id"] for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1

    def by_time(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or depth[s["id"]] > depth[best]):
                best = s["id"]
        return best

    out: dict[int, dict] = {}
    for ev in tasks:
        sid = ev["Stage ID"]
        span_id = by_group.get(stage_group.get(sid))
        if span_id is None:
            span_id = by_time(ev["Task Info"]["Launch Time"])
        if span_id is None:
            continue
        m = ev["Task Metrics"]
        acc = out.setdefault(
            span_id,
            {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stage_task_s": {}},
        )
        run_s = m.get("Executor Run Time", 0) / 1e3
        acc["tasks"] += 1
        acc["run_s"] += run_s
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_write_mb"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
        )
        acc["spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 1e6
        acc["stage_task_s"].setdefault(sid, []).append(run_s)
    return out


def combine(metrics: list[dict]) -> dict:
    """Sum per-span task metrics; derive fractions and task skew (max
    over median task run time in the stage with the most task time)."""
    tot = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    stages: dict[int, list[float]] = {}
    for m in metrics:
        for k in tot:
            tot[k] += m[k]
        for sid, ts in m["stage_task_s"].items():
            stages.setdefault(sid, []).extend(ts)
    run = tot["run_s"] or float("nan")
    skew = 1.0
    if stages:
        heavy = max(stages.values(), key=sum)
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    return {
        **tot,
        "jvm_cpu_frac": tot["cpu_s"] / run,
        "gc_frac": tot["gc_s"] / run,
        "task_skew": skew,
    }
