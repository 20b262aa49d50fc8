# -*- coding: utf-8 -*-
"""Call recorder for the benchmark: wall time, attempts and failures
for every public call, and, in a traced run, spans with the Spark jobs
and stages each call ran.

Nothing here instruments ``webstruct_spark``.  Spark work is read
after each call from the JVM status store (``statusStore().jobsList`` /
``stageList``) and attributed to the call by job-id range, because job
descriptions set on this thread do not reach ``build_kg``'s pool
threads.  Python worker CPU comes from ``/proc``, since a stage's
``executorCpuTime`` counts JVM threads only.
"""
from __future__ import annotations

import gc
import json
import os
import time
import traceback
from typing import Callable, Dict, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _opt_ms(opt) -> Optional[int]:
    """Epoch ms of a Scala ``Option[java.util.Date]``, or None."""
    return int(opt.get().getTime()) if opt.isDefined() else None


def _proc_stat(pid: str):
    """(ppid, comm, cpu ticks incl. reaped children) of one process."""
    with open("/proc/%s/stat" % pid) as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are 14..17 (1-based)
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of every python process below the JVM: the PySpark
    daemon and its forked workers, including workers already reaped."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            procs[int(pid)] = _proc_stat(pid)
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _comm, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total = 0
    stack = list(children.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        _ppid, comm, ticks = procs[pid]
        if comm.startswith("python"):
            total += ticks
        stack.extend(children.get(pid, []))
    return total / _CLK_TCK


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open("/proc/%s/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for pid %s" % pid)


class Call:
    """One public call: its wall time and, when traced, its Spark work."""

    def __init__(self, kind: str, start_ns: int):
        self.kind = kind
        self.start_ns = start_ns
        self.end_ns = start_ns
        self.ok = True
        self.error: Optional[str] = None
        self.jobs: List[dict] = []
        self.stages: List[dict] = []
        self.python_cpu_s = 0.0
        self.attrs: dict = {}

    @property
    def wall_s(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


class Recorder:
    """Runs and records the public calls of one benchmark run.

    ``call`` times the function, counts it as attempted, and counts it
    failed if it raised; ``fail`` marks a call whose output check
    failed.  When ``traced`` it also reads the status store after the
    call and keeps spans in memory until :meth:`write_spans`."""

    def __init__(self, spark, traced: bool, run_id: str):
        self.spark = spark
        self.traced = traced
        self.run_id = run_id
        self.calls: List[Call] = []
        self.extra_spans: List[dict] = []
        # seconds spent on tracing itself, between the calls
        self.trace_s = 0.0
        self.start_ns = time.time_ns()
        if traced:
            jsc = spark.sparkContext._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._gw = spark.sparkContext._gateway
            self.jvm_pid = int(
                spark._jvm.java.lang.ProcessHandle.current().pid()
            )
            self._last_job = self._max_job_id()

    # -- status store ----------------------------------------------------

    def _drain(self) -> None:
        # job-end events reach the store asynchronously
        self._bus.waitUntilEmpty(30000)

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def _jobs_after(self, job_id: int) -> List[dict]:
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            sids = j.stageIds()
            out.append(dict(
                job_id=int(j.jobId()),
                start_ms=_opt_ms(j.submissionTime()),
                end_ms=_opt_ms(j.completionTime()),
                stage_ids=[int(sids.apply(k)) for k in range(sids.size())],
                status=str(j.status()),
            ))
        return sorted(out, key=lambda d: d["job_id"])

    def _stages(self, stage_ids) -> List[dict]:
        wanted = set(stage_ids)
        if not wanted:
            return []
        arr = self._gw.new_array(self._gw.jvm.double, 0)
        stages = self._store.stageList(None, False, False, arr, None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = int(s.stageId())
            if sid not in wanted or str(s.status()) == "SKIPPED":
                continue
            out.append(dict(
                stage_id=sid,
                attempt=int(s.attemptId()),
                num_tasks=int(s.numTasks()),
                start_ms=_opt_ms(s.submissionTime()),
                end_ms=_opt_ms(s.completionTime()),
                run_ms=int(s.executorRunTime()),
                cpu_ns=int(s.executorCpuTime()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                shuffle_read_bytes=int(s.shuffleReadBytes()),
                spill_bytes=int(s.memoryBytesSpilled())
                + int(s.diskBytesSpilled()),
            ))
        return out

    def task_durations_ms(self, stage: dict) -> List[int]:
        tasks = self._store.taskList(stage["stage_id"], stage["attempt"],
                                     stage["num_tasks"])
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out

    # -- calls -----------------------------------------------------------

    def call(self, kind: str, fn: Callable, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` as one recorded call; returns
        (result or None, Call).  Both heaps are collected first, so
        garbage left by earlier calls is not collected inside this one."""
        gc.collect()
        self.spark._jvm.System.gc()
        t = time.perf_counter()
        cpu0 = python_worker_cpu_s(self.jvm_pid) if self.traced else 0.0
        self.trace_s += time.perf_counter() - t
        c = Call(kind, time.time_ns())
        result = None
        try:
            result = fn(*args, **kwargs)
        except Exception:
            c.ok = False
            c.error = traceback.format_exc(limit=8)
        c.end_ns = time.time_ns()
        if self.traced:
            t = time.perf_counter()
            c.python_cpu_s = python_worker_cpu_s(self.jvm_pid) - cpu0
            c.jobs = self._jobs_after(self._last_job)
            if c.jobs:
                self._last_job = c.jobs[-1]["job_id"]
            c.stages = self._stages(
                sid for j in c.jobs for sid in j["stage_ids"]
            )
            self.trace_s += time.perf_counter() - t
        self.calls.append(c)
        return result, c

    def fail(self, c: Call, why: str) -> None:
        c.ok = False
        c.error = (c.error or "") + why

    def add_span(self, parent: Call, name: str, start_ns: int,
                 end_ns: int, **attrs) -> None:
        """A child span under ``parent`` measured outside the status
        store (a manifest stage commit)."""
        if self.traced:
            self.extra_spans.append(dict(
                parent=id(parent), name=name, start_ns=start_ns,
                end_ns=end_ns, attrs=attrs,
            ))

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(1 for c in self.calls if not c.ok)

    # -- spans -----------------------------------------------------------

    def spans(self) -> List[dict]:
        """Root span, one child per call, and below each call its jobs
        (with their stages) and manifest commits; every span carries the
        run id and its self time (duration minus the part its children
        cover)."""
        out: List[dict] = []

        def add(name, start_ns, end_ns, parent, **attrs):
            sid = len(out)
            out.append(dict(
                span_id=sid, parent_id=parent, run_id=self.run_id,
                name=name, start_ns=start_ns, end_ns=end_ns, attrs=attrs,
            ))
            return sid

        end = max([c.end_ns for c in self.calls] + [time.time_ns()])
        root = add("run", self.start_ns, end, None)
        for c in self.calls:
            cid = add(c.kind, c.start_ns, c.end_ns, root, ok=c.ok,
                      python_cpu_s=c.python_cpu_s, **c.attrs)
            by_stage = {s["stage_id"]: s for s in c.stages}
            for j in c.jobs:
                if j["start_ms"] is None or j["end_ms"] is None:
                    continue
                jid = add("job", j["start_ms"] * 1000000,
                          j["end_ms"] * 1000000, cid, job_id=j["job_id"])
                for sid in j["stage_ids"]:
                    s = by_stage.pop(sid, None)
                    if s is None or s["start_ms"] is None \
                            or s["end_ms"] is None:
                        continue
                    add("stage", s["start_ms"] * 1000000,
                        s["end_ms"] * 1000000, jid,
                        **{k: v for k, v in s.items()
                           if k not in ("start_ms", "end_ms")})
            for e in self.extra_spans:
                if e["parent"] == id(c):
                    add(e["name"], e["start_ns"], e["end_ns"], cid,
                        **e["attrs"])
        kids: Dict[int, List[dict]] = {}
        for s in out:
            if s["parent_id"] is not None:
                kids.setdefault(s["parent_id"], []).append(s)
        for s in out:
            covered = covered_ns(
                [(k["start_ns"], k["end_ns"])
                 for k in kids.get(s["span_id"], [])],
                s["start_ns"], s["end_ns"],
            )
            s["self_ns"] = s["end_ns"] - s["start_ns"] - covered
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans():
                f.write(json.dumps(s) + "\n")


def covered_ns(intervals, lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
