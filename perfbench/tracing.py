"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all read from outside the program:

- **Spans** recorded by the benchmark around calls into each layer
  (name, start, end, parent, op id), kept in memory and written out
  at the end. Self time = duration minus the time child spans cover.
- **Job counts** from Spark's ``statusTracker``: each batch-side
  operation runs under its own job group.
- **The event log** (uncompressed, not rolling; turned on at submit
  time for the traced run only): per-task CPU, run, GC, shuffle and
  spill figures, and the start time of every job, which attributes
  stream jobs (they run on the stream thread, outside any job group)
  to micro-batches by time.

With tracing off the :class:`Tracer` records nothing and sets no job
groups, so the untraced runs measure the program alone.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"  # setup | timed | check
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = None
        self.groups: dict[str, dict] = {}  # job group -> counts
        self.notes: dict[str, list] = {}  # kind -> [(phase, value)]
        # spans opened on other threads (the stream's foreachBatch) with
        # no parent of their own nest under the main thread's open span
        self._main_stack = self._stack()

    def note(self, kind: str, value) -> None:
        """Record one measured value of ``kind`` in the current phase."""
        if self.enabled:
            self.notes.setdefault(kind, []).append((self.phase, value))

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        if op is None and parent is not None:
            op = parent["op"]
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "op": op, "phase": self.phase, "thread": threading.current_thread().name,
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (traced
        run only). Used on the program's public layer functions."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapped)

    # -- job groups ----------------------------------------------------
    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def op(self, name: str, op_id: str):
        """A batch-side operation: a span plus its own job group, whose
        job and task counts are read from the status tracker after it
        finishes."""
        if not self.enabled:
            yield
            return
        sc = self._sc
        sc.setJobGroup(op_id, name)
        try:
            with self.span(name, op=op_id):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.groups[op_id] = {"name": name, **job_counts(sc, op_id)}

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start_ms": round((s["start"] - t0) * 1e3, 3),
             "end_ms": round((s["end"] - t0) * 1e3, 3)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        for s in spans:
            del s["start"], s["end"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s": self_times(self.spans),
                       "job_groups": self.groups, **extra}, f, indent=1, sort_keys=True,
                      default=str)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per span name: each span's duration minus the part
    of it that its children among ``spans`` cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _union_len(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_counts(sc, group: str) -> dict:
    """Jobs and completed tasks of one job group, from the status
    tracker (skipped stages complete no tasks, so they count zero)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "tasks": tasks}


# --------------------------------------------------------------------------
# event log


def eventlog_confs(log_dir: str) -> list[str]:
    """Submit-time ``--conf`` arguments for an uncompressed,
    single-file event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def read_eventlog(log_dir: str, app_id: str) -> dict:
    """Reduce one application's event log to per-job records:
    ``{job_id: {group, batch, submit_ms, end_ms, tasks, cpu_s, run_s,
    gc_s, shuffle_read, shuffle_write, spill}}``. A stream's jobs carry
    the query's run id as their job group and, when Spark sets it, the
    micro-batch id."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "batch": props.get("streaming.sql.batchId"),
                             "submit_ms": ev.get("Submission Time"), "end_ms": None,
                             "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                             "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs
