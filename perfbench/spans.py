"""Layer tracing from outside the program.

A traced run replaces the public functions of each layer, at the module
attributes the pipelines call them through, with wrappers that

- record a span (name, start, end, parent) and the py4j round trips
  made while it was open,
- set a Spark job group naming the span, so every job the call launches
  from the driver thread can be attributed to it from Spark's event log,
- optionally materialize the layer's DataFrame output (an eager
  ``localCheckpoint``) in a child ``<name>.exec`` span, so execution is
  timed apart from plan construction.

Nothing in the program changes; the wrappers are removed again with
:meth:`Tracer.unpatch_all`. Job and task numbers come from the event log
(``spark.eventLog.enabled``), parsed with stdlib ``json`` after the
session has stopped and flushed it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    py4j: int = 0


@dataclass
class JobStats:
    group: str | None
    t0: float
    t1: float
    tasks: int = 0
    empty_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's send."""

    def __init__(self, spark):
        self.n = 0
        self._cls = type(spark.sparkContext._gateway._gateway_client)
        self._orig = self._cls.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            counter.n += 1
            return counter._orig(client, *args, **kwargs)

        self._cls.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._materialized: list = []
        self.active = False  # spans are recorded only inside traced passes

    # -- spans ------------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        p0 = self.py4j.n
        try:
            yield s
        finally:
            s.py4j = self.py4j.n - p0
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)

    def materialize(self, name: str, df):
        """Compute ``df`` into local checkpoint blocks in a ``<name>.exec``
        span; the checkpointed frame is what the program reads next.

        Not ``persist`` + ``count``: building the columnar cache of the
        wide nested FI-Admin frames cost more than computing them (a
        traced dg_nightly pass took 46 s against 18 s untraced; with
        local checkpoints the two are within a few seconds). The blocks
        are freed by Spark's context cleaner once :meth:`release` drops
        the last reference and the JVM collects it."""
        with self.span(name + ".exec"):
            df = df.localCheckpoint(eager=True)
        self._materialized.append(df)
        return df

    def release(self) -> None:
        self._materialized.clear()

    # -- wrapping ---------------------------------------------------------
    def patch(self, module, attr: str, name: str, materialize: bool = False) -> None:
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if materialize and hasattr(out, "localCheckpoint"):
                out = tracer.materialize(name, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unpatch_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()
        self.py4j.close()

    # -- analysis ---------------------------------------------------------
    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # spans are appended in start order
            if s.parent in out:
                out.add(s.sid)
        return out


def read_event_log(log_dir: str) -> list[JobStats]:
    """Jobs with their group and the task metrics of the stages they ran.

    A stage is charged to the job group its submission carried (the
    ``spark.jobGroup.id`` property), which is the group of the job that
    ran it."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".crc")]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    t = ev["Submission Time"] / 1000.0
                    jobs[jid] = JobStats(props.get("spark.jobGroup.id"), t, t)
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for stage, m in tasks:
        j = jobs.get(stage_job.get(stage, -1))
        if j is None:
            continue
        j.tasks += 1
        inp = (m.get("Input Metrics") or {}).get("Records Read", 0)
        shr = m.get("Shuffle Read Metrics") or {}
        read = inp + shr.get("Total Records Read", 0) + shr.get("Remote Records Read", 0)
        if read == 0:
            j.empty_tasks += 1
        j.run_s += m.get("Executor Run Time", 0) / 1000.0
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1000.0
        j.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        j.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.t0)


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class PassTrace:
    """One traced pass: its span and the jobs that started inside it."""

    span: Span
    jobs: list[JobStats]
    spans: list[Span] = field(default_factory=list)


def split_passes(tracer: Tracer, jobs: list[JobStats], pass_name: str = "pass") -> list[PassTrace]:
    out = []
    for s in tracer.spans:
        if s.name != pass_name:
            continue
        inside = [j for j in jobs if s.t0 <= j.t0 <= s.t1]
        sids = tracer.descendants(s.sid)
        out.append(PassTrace(s, inside, [tracer.spans[i] for i in sorted(sids)]))
    return out


def pass_metrics(pt: PassTrace) -> dict[str, float]:
    wall = pt.span.t1 - pt.span.t0
    job_s = union_s([(j.t0, j.t1) for j in pt.jobs])
    top = [s for s in pt.spans if s.parent == pt.span.sid]
    groups = {f"pb-{s.sid}" for s in pt.spans}
    return {
        "pass.wall_s": wall,
        "pass.job_s": job_s,
        "pass.no_job_s": max(0.0, wall - job_s),
        "pass.py4j_calls": pt.span.py4j,
        "pass.jobs": len(pt.jobs),
        "pass.tasks": sum(j.tasks for j in pt.jobs),
        "pass.empty_tasks": sum(j.empty_tasks for j in pt.jobs),
        "pass.task_cpu_s": sum(j.cpu_s for j in pt.jobs),
        "pass.task_run_s": sum(j.run_s for j in pt.jobs),
        "pass.gc_s": sum(j.gc_s for j in pt.jobs),
        "pass.shuffle_write_mb": sum(j.shuffle_write_b for j in pt.jobs) / 1e6,
        "pass.spill_mb": sum(j.spill_b for j in pt.jobs) / 1e6,
        "unattributed.jobs": sum(1 for j in pt.jobs if j.group not in groups),
        "trace.uncovered_s": max(0.0, wall - union_s([(s.t0, s.t1) for s in top])),
    }


def layer_stats(pt: PassTrace, names: set[str], inclusive: bool = True) -> dict[str, float]:
    """Wall, py4j and job/task totals over the spans named ``names``
    (outermost occurrences only). ``inclusive`` charges jobs of nested
    spans too; otherwise only jobs whose group is the span itself."""
    by_id = {s.sid: s for s in pt.spans}
    chosen = []
    for s in pt.spans:
        if s.name not in names:
            continue
        p, nested = s.parent, False
        while p is not None and p in by_id:
            if by_id[p].name in names:
                nested = True
                break
            p = by_id[p].parent
        if not nested:
            chosen.append(s)
    groups: set[str] = set()
    for s in chosen:
        if inclusive:
            sids = {s.sid}
            for t in pt.spans:
                if t.parent in sids:
                    sids.add(t.sid)
            groups |= {f"pb-{i}" for i in sids}
        else:
            groups.add(f"pb-{s.sid}")
    jobs = [j for j in pt.jobs if j.group in groups]
    return {
        "wall_s": sum(s.t1 - s.t0 for s in chosen),
        "py4j": sum(s.py4j for s in chosen),
        "jobs": len(jobs),
        "job_s": sum(j.t1 - j.t0 for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / 1e6,
    }
