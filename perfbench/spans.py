"""Spans and counts recorded at layer boundaries, from the benchmark's
own calls into the engine. Nothing here reaches inside
``search_engine_spark``.

A span has a name, start, end, parent span and the id of the operation
it belongs to. A span opened with ``group=True`` runs its Spark jobs
under a job group of its own, so on exit it reads, for exactly the jobs
it caused, the job and stage counts and the per-stage bytes and task
times from Spark's status store (served with the UI off). Jobs started
by a child span with its own group are the child's, not the parent's.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # name: (StageData accessor, scale to the reported unit)
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "jvm_cpu_s": ("executorCpuTime", 1e-9),
}


def spark_counts(sc, group: str) -> Dict[str, float]:
    """Jobs, stages and stage metrics of every job run under ``group``.
    Stages skipped because their shuffle output was reused have no
    attempt in the store and count for nothing."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, **{k: 0.0 for k in STAGE_FIELDS}}
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for sid in (info.stageIds if info else ()):
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never attempted
                continue
            if str(data.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for k, (acc, scale) in STAGE_FIELDS.items():
                out[k] += getattr(data, acc)() * scale
    return out


def all_job_ids(sc) -> set:
    """Every job id the status store holds, whatever its group — the
    stream thread's jobs carry no group the driver set."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    return {j.jobId() for j in conv.asJava(jobs)}


# -- the process tree (driver, JVM, Python workers), read from /proc ------

_CLK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> List[int]:
    """``root`` and its descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process's live tree."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident memory
    (VmHWM). Read once, at the end of a run: no sampling to miss a
    peak, and an upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f
                                 if ln.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


class Tracer:
    """In-memory span recorder. ``Tracer(None)`` records nothing and
    costs one attribute test per boundary: it is the untraced run.
    ``cost_s`` sums the time the tracer itself spends at boundaries
    (status store and /proc reads), the direct part of its overhead."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: List[dict] = []
        self.cost_s = 0.0
        self._stack: List[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: Optional[int] = None, group: bool = False):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"pb{sid}:{name}" if group else None,
            "counts": {},
        }
        if rec["group"]:
            self.sc.setJobGroup(rec["group"], name)
        cpu0 = tree_cpu_s()
        self._stack.append(rec)
        self.cost_s += time.perf_counter() - c0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            c0 = time.perf_counter()
            self._stack.pop()
            rec["counts"]["proc_cpu_s"] = tree_cpu_s() - cpu0
            if rec["group"]:
                rec["counts"].update(spark_counts(self.sc, rec["group"]))
                owner = next((s for s in reversed(self._stack)
                              if s["group"]), None)
                if owner:
                    self.sc.setJobGroup(owner["group"], owner["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.cost_s += time.perf_counter() - c0

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> Dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children of one span do not overlap here)."""
        child_s: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: Dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "tracer_cost_s": self.cost_s, **extra},
                      f, indent=1, default=str)
