"""In-memory spans around public-layer calls, with Spark counters attached.

A span is (name, phase, parent, start, end). When tracing is on, every span
opened with ``spark=True`` runs under its own Spark job group; on exit the
tracer reads the group's jobs from ``statusTracker().getJobIdsForGroup`` and
each job's stages from the session's ``AppStatusStore``, and stores the
summed counters on the span. When tracing is off, ``span`` only yields, so
the untraced run sets no job groups and reads no status store.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "job_s", "run_s", "exec_cpu_s", "gc_s",
            "input_bytes", "shuffle_bytes")


@dataclass
class Span:
    name: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent reading counters and keeping spans
        self.phase = "setup"  # setup | warmup | timed | probe, stamped on each span
        self.sc = None

    def bind(self, spark) -> None:
        """Attach to the current session (re-bound after every restart)."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        sp = Span(name, self.phase, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        group = f"perfbench-{sid}" if spark and self.sc is not None else None
        if group:
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        self.self_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                # Spark spans never nest, so there is no outer group to restore
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.counters = self._counters(group)
            self.self_s += time.perf_counter() - sp.end

    def _counters(self, group: str) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # stages of the jobs that just finished are visible
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty_list = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        c = dict.fromkeys(COUNTERS, 0)
        intervals = []
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for stage_id in _seq(job.stageIds()):
                for st in _seq(store.stageData(stage_id, False, empty_list, False, no_quantiles)):
                    if st.numCompleteTasks() == 0:
                        continue  # skipped stage: its output was reused
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["run_s"] += st.executorRunTime() / 1e3
                    c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
        c["job_s"] = _union_ms(intervals) / 1e3
        return c

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (reads /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out
