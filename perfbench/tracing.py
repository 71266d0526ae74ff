"""Spans around the engine's public calls, recorded from outside the engine.

Every call the benchmark times goes through :meth:`Tracer.span`.  With
detail off (the measuring mode) a span costs two ``perf_counter`` reads
and only its wall time is kept.  With detail on, each top-level span also
records:

- ``self_s``: wall time minus the nested spans it directly contains;
- ``driver_cpu_s``: ``time.process_time`` of this Python process;
- ``jvm_cpu_s``: utime + stime of the driver JVM from ``/proc``;
- ``pyworker_cpu_s``: utime + stime + cutime + cstime of the pyspark
  daemons, plus utime + stime of their live workers (UDF cost, apart
  from the engine's JVM cost);
- ``jvm_gc_s``: collection time of the JVM's GarbageCollector MXBeans;
- ``py_gc_s``: time inside CPython collections, from ``gc.callbacks``;
- ``shuffle_mb``: shuffle bytes written by the span's Spark jobs, read
  afterwards from the event log (each span sets its own job group).

Nested spans come from wrapping engine class methods and module functions
in this process (:meth:`Tracer.wrap`); they record calls and wall time
only, and only inside a detailed top-level span.
"""

from __future__ import annotations

import functools
import gc
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

TOP_STATS = (
    "wall_s", "self_s", "driver_cpu_s", "jvm_cpu_s", "pyworker_cpu_s",
    "jvm_gc_s", "py_gc_s", "shuffle_mb",
)


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (index 0 is
    the state, 1 the ppid, 11..14 utime, stime, cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def proc_cpu_s(pid: int) -> float:
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / CLK_TCK if f else 0.0


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python children: each daemon with its reaped
    workers (cutime/cstime), plus the workers still alive."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                parent[int(d)] = int(f[1])
                fields[int(d)] = f
    total = 0
    for pid, f in fields.items():
        if parent[pid] == jvm_pid:  # a daemon (or a non-daemon worker)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        elif parent.get(parent[pid]) == jvm_pid:  # a live forked worker
            total += int(f[11]) + int(f[12])
    return total / CLK_TCK


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def percentile_tail(samples: list[float]) -> float | None:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, or None below 11 samples."""
    if len(samples) < 11:
        return None
    return sorted(samples)[-11]


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.detailed = False
        self.span_total = 0.0  # wall time of the engine's top-level spans so far
        self.bench_total = 0.0  # wall time of the benchmark's own spans so far
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.nested: dict[str, list[float]] = defaultdict(list)
        self._nest = False  # inside an engine (not benchmark-side) span
        self._depth = 0  # nested-span depth inside the current top-level span
        self._child_s = 0.0  # time covered by direct nested children
        self._seq = 0
        self._py_gc_s = 0.0
        self._gc_t0 = 0.0
        self._gc_beans = None

    # -- probes ----------------------------------------------------------
    def _on_gc(self, phase: str, _info: dict) -> None:
        if phase == "start":
            self._gc_t0 = time.perf_counter()
        else:
            self._py_gc_s += time.perf_counter() - self._gc_t0

    def _jvm_gc_s(self) -> float:
        if self._gc_beans is None:
            mf = self.sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _probe(self) -> dict:
        return {
            "driver_cpu_s": time.process_time(),
            "jvm_cpu_s": proc_cpu_s(self.jvm_pid),
            "pyworker_cpu_s": pyworker_cpu_s(self.jvm_pid),
            "jvm_gc_s": self._jvm_gc_s(),
            "py_gc_s": self._py_gc_s,
        }

    def enable_detail(self) -> None:
        """Install the probes that detailed spans read; :attr:`detailed`
        then switches them per step."""
        gc.callbacks.append(self._on_gc)

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """A top-level span: one timed call into a layer."""
        rec: dict = {"traced": self.detailed}
        if not self.detailed:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                self._add_total(name, rec["wall_s"])
                self.calls[name].append(rec)
            return
        self._seq += 1
        self._nest = not name.startswith("bench.")
        group = f"span-{self._seq}"
        self.sc.setJobGroup(group, name)
        self._child_s = 0.0
        t_outer = time.perf_counter()
        before = self._probe()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            self._nest = False
            after = self._probe()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec.update({k: after[k] - before[k] for k in after})
            rec.update(wall_s=wall, self_s=wall - self._child_s, group=group)
            self._add_total(name, time.perf_counter() - t_outer)  # probes included
            self.calls[name].append(rec)

    def _add_total(self, name: str, wall: float) -> None:
        if name.startswith("bench."):
            self.bench_total += wall
        else:
            self.span_total += wall

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a nested span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not (tracer.detailed and tracer._nest):
                return fn(*a, **kw)
            tracer._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                tracer._depth -= 1
                if tracer._depth == 0:
                    tracer._child_s += dt
                tracer.nested[name].append(dt)

        setattr(owner, attr, traced)

    # -- results ---------------------------------------------------------
    def reset(self) -> None:
        """Start a fresh record of spans."""
        self.calls, self.nested = defaultdict(list), defaultdict(list)


def shuffle_mb_by_group(event_dir: str) -> dict[str, float]:
    """Shuffle bytes written per job group, from an uncompressed Spark
    event log (every file under ``event_dir``)."""
    stage_group: dict[int, str] = {}
    out: dict[str, float] = defaultdict(float)
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    if g:
                        out[g] += w / 1e6
    return out
