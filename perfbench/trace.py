"""Traced-run instrumentation, all of it outside the engine.

- ``Tracer`` keeps spans in memory: one per call into a layer, each run
  under its own Spark job group so the event log can be split by span.
- ``CallMeter`` times calls into a module's public functions (used for
  ``hadoop_fs``, whose calls are metadata-only and start no Spark job).
- ``fold_event_log`` reads Spark's own uncompressed event log and folds
  jobs, stages and tasks into per-span counters.

Jobs submitted from worker threads (the ingest gate overlaps store
writes on a thread pool) carry no job group; they are attributed to the
innermost span open at their submission time. Spans are opened only by
the benchmark's single client thread, so open spans always nest.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Accumulable names Spark gives stages that ran Python (Arrow/Pandas) workers.
_PYTHON_ACCUMS = ("data sent to Python workers", "time to run Python workers")


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With a SparkContext, every span sets its
    id as the job group so its jobs can be found in the event log."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(
            f"perfbench-{len(self.spans)}",
            name,
            parent.id if parent else None,
            op,
            time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh, indent=1)


class CallMeter:
    """Counts and times calls into named functions of a module by
    rebinding every reference the package holds to them. Nested calls
    (one metered function calling another) count once, per thread."""

    def __init__(self):
        self.calls = 0
        self.busy_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, fn):
        def metered(*args, **kwargs):
            depth = getattr(self._local, "depth", 0)
            self._local.depth = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.depth = depth
                if depth == 0:
                    with self._lock:
                        self.calls += 1
                        self.busy_s += time.perf_counter() - t0

        metered.__wrapped__ = fn
        return metered

    def install(self, module, package: str, names: tuple[str, ...]) -> None:
        for name in names:
            orig = getattr(module, name)
            wrapped = self._wrap(orig)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(package):
                    continue
                if getattr(mod, name, None) is orig:
                    setattr(mod, name, wrapped)
                    self._patched.append((mod, name, orig))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()


# ---------------------------------------------------------------------------
# Event-log folding
# ---------------------------------------------------------------------------


def event_files(log_dir: str) -> list[str]:
    """Event files of the applications logged under ``log_dir``, in part
    order: Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory per application."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        out.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
    if not out:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
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


def _stage_record(info: dict) -> dict:
    acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}

    def num(name):
        try:
            return float(acc.get(name) or 0)
        except (TypeError, ValueError):
            return 0.0

    scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", []))
    return {
        "start": info.get("Submission Time", 0) / 1000.0,
        "end": info.get("Completion Time", 0) / 1000.0,
        "tasks": info.get("Number of Tasks", 0),
        "task_s": num("internal.metrics.executorRunTime") / 1000.0,
        "shuffle_write_mb": num("internal.metrics.shuffle.write.bytesWritten") / 1e6,
        "spill_mb": num("internal.metrics.diskBytesSpilled") / 1e6,
        "python": any(n in acc for n in _PYTHON_ACCUMS)
        or "InPandas" in scopes
        or "InArrow" in scopes
        or "Python" in scopes,
        "failed_tasks": 0,
    }


def fold_event_log(log_dir: str, spans: list[Span]) -> None:
    """Fold the event log into ``span.counters`` for every span:
    ``jobs, stages, tasks, task_s, python_task_s, shuffle_write_mb,
    spill_mb, failed_tasks, active_s, driver_gap_s``. Counters are
    inclusive of child spans; ``driver_gap_s`` is the span's wall time
    minus the union of its stages' active intervals."""
    by_id = {s.id: s for s in spans}
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    failed: dict[tuple[int, int], int] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = _stage_record(info)
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                failed[key] = failed.get(key, 0) + 1
    for key, n in failed.items():
        if key in stages:
            stages[key]["failed_tasks"] = n

    # a stage runs once, in the first job that lists it
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)

    ordered = sorted(spans, key=lambda s: s.start)

    def owner(job: dict) -> Span | None:
        if job["group"] in by_id:
            return by_id[job["group"]]
        inner = None
        for s in ordered:  # latest-starting span that contains the submit
            if s.start > job["submit"]:
                break
            if s.end >= job["submit"]:
                inner = s
        return inner

    direct: dict[str, dict] = {s.id: {"jobs": 0, "stages": []} for s in spans}
    for jid, job in jobs.items():
        s = owner(job)
        if s is not None:
            direct[s.id]["jobs"] += 1
            job["span"] = s.id
    for (sid, _attempt), rec in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and "span" in jobs[jid]:
            direct[jobs[jid]["span"]]["stages"].append(rec)

    children: dict[str, list[str]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent in children:
            children[s.parent].append(s.id)

    def inclusive(sid: str) -> tuple[int, list[dict]]:
        n, recs = direct[sid]["jobs"], list(direct[sid]["stages"])
        for c in children[sid]:
            cn, crecs = inclusive(c)
            n += cn
            recs += crecs
        return n, recs

    for s in spans:
        n_jobs, recs = inclusive(s.id)
        active = _union_s([(r["start"], r["end"]) for r in recs], s.start, s.end)
        s.counters.update(
            jobs=n_jobs,
            stages=len(recs),
            tasks=sum(r["tasks"] for r in recs),
            task_s=sum(r["task_s"] for r in recs),
            python_task_s=sum(r["task_s"] for r in recs if r["python"]),
            shuffle_write_mb=sum(r["shuffle_write_mb"] for r in recs),
            spill_mb=sum(r["spill_mb"] for r in recs),
            failed_tasks=sum(r["failed_tasks"] for r in recs),
            active_s=active,
            driver_gap_s=max(0.0, s.wall_s - active),
        )
