"""In-memory spans, Spark job-group counters and a process-tree
resource sampler, all recorded from outside the program.

A span is (id, name, trace id, parent id, start, end, attrs).  Spans of
one micro-batch or one HTTP request share a trace id.  A span opened
with ``spark=True`` runs its calls under its own Spark job group; the
jobs, tasks and failed tasks of that group are read back from
``sparkContext.statusTracker()`` when the run finishes.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # context for spans opened on threads with no open span of their
        # own (the HTTP handler threads serving a traced request)
        self.ambient: tuple[str, int | None] | None = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             spark: bool = False, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
            trace_id = trace_id or parent["trace"]
            parent_id = parent["id"]
        elif self.ambient is not None:
            trace_id = trace_id or self.ambient[0]
            parent_id = self.ambient[1]
        else:
            parent_id = None
        sp = {"id": next(self._ids), "name": name, "trace": trace_id,
              "parent": parent_id, "attrs": dict(attrs)}
        group = f"perfbench-{sp['id']}" if spark and self.sc else None
        if group:
            sp["group"] = group
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if group:
                outer = next((s.get("group") for s in reversed(stack)
                              if s.get("group")), None)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def resolve_counters(self) -> None:
        """Fill jobs/tasks/failed_tasks of every span that ran under a
        job group (after letting the listener bus catch up)."""
        if self.sc is None:
            return
        time.sleep(0.5)
        st = self.sc.statusTracker()
        for sp in self.spans:
            if "group" not in sp:
                continue
            jobs = tasks = failed = 0
            for jid in st.getJobIdsForGroup(sp["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            sp["attrs"].update(jobs=jobs, tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover."""
        children: dict[int, list] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cursor = 0.0, sp["start"]
            for ch in sorted(children.get(sp["id"], ()),
                             key=lambda c: c["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp["id"]] = sp["end"] - sp["start"] - covered
        return out

    def per_trace(self) -> dict[str, dict[str, dict]]:
        """trace id -> layer name -> summed self time and summed attrs
        over that trace's spans of the layer."""
        selft = self.self_times()
        out: dict[str, dict[str, dict]] = {}
        for sp in self.spans:
            agg = out.setdefault(sp["trace"], {}).setdefault(
                sp["name"], {"time": 0.0})
            agg["time"] += selft[sp["id"]]
            for k, v in sp["attrs"].items():
                if isinstance(v, (int, float)):
                    agg[k] = agg.get(k, 0) + v
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in sp.items() if k not in ("start", "end")}
                rec["start_s"] = round(sp["start"] - t0, 6)
                rec["end_s"] = round(sp["end"] - t0, 6)
                f.write(json.dumps(rec) + "\n")


def layer_median(traces: dict[str, dict[str, dict]], layer: str,
                 key: str = "time") -> float:
    """Median over the traces that ran ``layer`` of its per-trace value."""
    vals = [t[layer][key] for t in traces.values()
            if layer in t and key in t[layer]]
    return float(statistics.median(vals)) if vals else 0.0


# HotSpot JIT compiler thread names (run.py keeps these threads alive for
# the whole run, so their CPU never folds back into the process total)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcSampler:
    """Resource use of this process and all its descendants (the Spark
    JVM and its Python workers), polled from /proc: peak summed RSS, and
    CPU seconds on demand.  The sampler thread's own CPU is excluded."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._own_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _tree() -> dict[int, list[str]]:
        """pid -> /proc/<pid>/stat fields after the command name, for
        this process and its descendants."""
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
        root = os.getpid()
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for pid, fields in stats.items():
                if int(fields[1]) == p and pid not in tree:
                    tree.add(pid)
                    frontier.append(pid)
        return {pid: stats[pid] for pid in tree if pid in stats}

    def cpu_s(self) -> float:
        """User + system CPU seconds of the tree so far, children reaped
        inside the tree included, minus the JVM's JIT compiler threads:
        in runs this short, compiling is mostly warm-up, and it would
        otherwise be half of the JVM's CPU."""
        ticks = 0
        for pid, fields in self._tree().items():
            ticks += sum(int(x) for x in fields[11:15])
            ticks -= self._jit_ticks(pid)
        return ticks / self._tick - self._own_cpu

    @staticmethod
    def _jit_ticks(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    return 0
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return 0
        ticks = 0
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(JIT_THREADS):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(fields[11]) + int(fields[12])
        return ticks

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            rss = sum(int(f[21]) for f in self._tree().values())
            self.peak_kb = max(self.peak_kb, rss * self._page_kb)
            self._own_cpu += time.thread_time() - t0
            self._stop.wait(self.interval)

    def reset_peak(self) -> None:
        """Start a new peak window (the measured part of a run)."""
        self.peak_kb = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
