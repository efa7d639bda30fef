"""Tracing for the benchmark's traced run, all from outside the program.

- ``Tracer`` records spans (name, start, end, parent, op id) around the
  benchmark's own calls into each layer and keeps them in memory.
- ``patch_checkpoints`` wraps ``DataFrame.localCheckpoint``/``checkpoint``
  and ``lineage.truncate_lineage`` so lineage cuts made while a gate
  function builds its DataFrame show up as spans.
- ``tree_snapshot`` reads ``/proc`` for the resident memory of this
  process and all its descendants (the JVM and its Python workers), the
  CPU time of the Python workers and how many there are.
- ``parse_event_log`` reads Spark's uncompressed event log, single file or
  Spark 4's rolling ``eventlog_v2_*/events_N_*`` directory, into per-job
  and per-stage records keyed by job group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def self_times(spans: list[Span]) -> dict[tuple[str, str], float]:
    """Self time per (op id, span name): each span's duration minus the
    part its direct children cover (children of one span never overlap,
    since the benchmark is one thread)."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    out: dict[tuple[str, str], float] = {}
    for i, s in enumerate(spans):
        key = (s.op, s.name)
        out[key] = out.get(key, 0.0) + (s.end - s.start) - child_time[i]
    return out


def patch_checkpoints(tracer: Tracer) -> None:
    """Wrap the lineage cuts in spans: ``lineage.checkpoint`` around
    ``DataFrame.localCheckpoint``/``checkpoint``, ``lineage.truncate``
    around ``lineage.truncate_lineage``."""
    import sys

    # the classic (non-Connect) DataFrame overrides both methods
    from pyspark.sql.classic.dataframe import DataFrame

    import data_table_spark.lineage as lineage

    def wrap(fn, name):
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        traced.__wrapped__ = fn
        return traced

    for meth in ("localCheckpoint", "checkpoint"):
        setattr(DataFrame, meth, wrap(getattr(DataFrame, meth), "lineage.checkpoint"))
    orig = lineage.truncate_lineage
    traced = wrap(orig, "lineage.truncate")
    # modules bound the function by name at import time; rebind each copy
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("data_table_spark") and \
                getattr(mod, "truncate_lineage", None) is orig:
            mod.truncate_lineage = traced


# ------------------------------------------------------------------ /proc

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, cpu ticks incl. reaped children, rss pages)"""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, rest = f.read().rsplit(")", 1)
    except OSError:
        return None
    fields = rest.split()
    comm = head.split("(", 1)[1]
    cpu = sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    return comm, cpu, int(fields[21])


def tree_snapshot(root: int) -> tuple[float, float, int]:
    """(rss MB of root + descendants, Python-worker CPU s, Python workers)

    Python workers are the python processes below the JVM; a worker that
    exits is reaped by the pyspark daemon, so its CPU time moves into the
    daemon's cumulative-children counters and is still counted."""
    rss = cpu = workers = 0
    me = _stat(root)
    if me:
        rss += me[2]
    for pid in descendants(root):
        st = _stat(pid)
        if not st:
            continue
        rss += st[2]
        if st[0].startswith("python"):
            cpu += st[1]
            workers += 1
    return rss * _PAGE / 2**20, cpu / _TICK, max(0, workers - 1)


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot
    (the steal column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# ------------------------------------------------------------------ JVM

def jvm_memory(spark) -> tuple[float, float]:
    """(cumulative GC seconds, heap used MB) from the JVM's MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    used = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return gc_ms / 1000.0, used / 2**20


def plan_stats(df) -> dict[str, float]:
    """Catalyst phase times and plan-shape counts of an executed query."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"plan.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()     # the final plan, not the initial one
    # one node per line, its name first after the tree-drawing prefix
    nodes = [re.sub(r"^[\s:+\-*|]*(\(\d+\)\s*)?", "", line).split(" ", 1)[0]
             for line in plan.toString().splitlines()]
    out["plan.exchanges"] = sum("Exchange" in n for n in nodes)
    out["plan.python_nodes"] = sum(
        bool(re.search(r"Python|InPandas|InArrow", n)) for n in nodes)
    return out


# ------------------------------------------------------------------ event log

@dataclass
class StageRec:
    stage_id: int
    tasks: int = 0
    wall_s: float = 0.0
    is_scan: bool = False
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class JobRec:
    job_id: int
    group: str
    start_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)


def event_log_files(log_dir: str) -> list[str]:
    """Event files in write order: the rolling ``eventlog_v2_*`` layout
    (``events_<N>_<app>`` parts) or plain single-file logs."""
    rolled = []
    for d in glob.glob(os.path.join(log_dir, "eventlog_v2_*")):
        for p in glob.glob(os.path.join(d, "events_*")):
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            if m:
                rolled.append((int(m.group(1)), p))
    if rolled:
        return [p for _, p in sorted(rolled)]
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not p.endswith(".inprogress"))


def parse_event_log(log_dir: str) -> tuple[dict[int, JobRec], dict[int, StageRec]]:
    jobs: dict[int, JobRec] = {}
    stages: dict[int, StageRec] = {}
    mb = 2.0**20
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                head = line[:60]   # each line starts with its event name
                if "TaskEnd" not in head and "Job" not in head \
                        and "StageCompleted" not in head:
                    continue
                ev = json.loads(line)
                e = ev["Event"]
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobRec(
                        ev["Job ID"], props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"], stage_ids=list(ev["Stage IDs"]),
                    )
                elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif e == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageRec(info["Stage ID"]))
                    st.tasks = info["Number of Tasks"]
                    st.wall_s = (info.get("Completion Time", 0)
                                 - info.get("Submission Time", 0)) / 1000.0
                    st.is_scan = any(
                        r.get("Name") == "FileScanRDD"
                        or "Scan" in (r.get("Scope") or "")
                        for r in info.get("RDD Info", [])
                    )
                elif e == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], StageRec(ev["Stage ID"]))
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)) / mb
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
                    st.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / mb
    return jobs, stages


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def exec_by_group(jobs: dict[int, JobRec], stages: dict[int, StageRec],
                  nproc: int) -> dict[str, dict[str, float]]:
    """Execution metrics per job group: wall time of the group's jobs
    (interval union), jobs, run stages, tasks and the task metrics."""
    groups: dict[str, list[JobRec]] = {}
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        groups.setdefault(jobs[jid].group, []).append(jobs[jid])
        # a stage reused by a later job is listed there too but ran once
        for s in jobs[jid].stage_ids:
            owner.setdefault(s, jid)
    out = {}
    for g, js in groups.items():
        sts = [stages[s] for j in js for s in j.stage_ids
               if s in stages and owner[s] == j.job_id]
        wall = _union_s([(j.start_ms, j.end_ms or j.start_ms) for j in js])
        run_s = sum(s.run_s for s in sts)
        out[g] = {
            "exec.s": wall,
            "exec.jobs": len(js),
            "exec.stages": len(sts),
            "exec.tasks": sum(s.tasks for s in sts),
            "exec.max_stage_tasks": max((s.tasks for s in sts), default=0),
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": sum(s.cpu_s for s in sts),
            "exec.gc_s": sum(s.gc_s for s in sts),
            "exec.shuffle_read_mb": sum(s.shuffle_read_mb for s in sts),
            "exec.shuffle_write_mb": sum(s.shuffle_write_mb for s in sts),
            "exec.spill_mb": sum(s.spill_mb for s in sts),
            "exec.narrow_stage_s": sum(s.wall_s for s in sts if s.tasks < nproc),
            "registry.scan_tasks": sum(s.tasks for s in sts if s.is_scan),
        }
    return out
