"""Spans recorded by the benchmark, and Spark's event log folded onto them.

Spans nest run → pass → op → phase.  Each records its name, kind, start
and end (epoch seconds), parent and run id, and lives in memory until the
benchmark writes the ledger at the end.  Entering a phase tags every
Spark job submitted inside it with ``setJobGroup("<workload>/<pass>/<op>",
"<phase>")``; jobs outside a phase (output checks, clean-up) carry the
``harness`` group and are left out of every layer.

With the event log enabled (uncompressed, not rolling), ``fold_event_log``
reads its ``SparkListenerJobStart`` / ``JobEnd`` / ``StageCompleted`` /
``TaskEnd`` records and sums the task metrics per (pass, op, phase).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

HARNESS = "harness"
# SQL metric names of Spark's PythonSQLMetrics, as they appear among a
# task's accumulables.
_PY_TOTAL = "time to run Python workers"
_PY_DATA = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._offset = time.time() - time.perf_counter()
        self.sc = None  # SparkContext that job groups are set on

    def now(self) -> float:
        return self._offset + time.perf_counter()

    @contextmanager
    def span(self, kind: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans), "run": self.run_id, "kind": kind,
            "name": name, "parent": parent["id"] if parent else None,
            "start": self.now(), "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        if kind == "phase" and self.sc is not None:
            self.sc.setJobGroup(self.group(), name)
        try:
            yield s
        finally:
            s["end"] = self.now()
            self._stack.pop()
            if kind == "phase" and self.sc is not None:
                self.sc.setJobGroup(HARNESS, HARNESS)

    def group(self) -> str:
        """Job group of the innermost pass/op: ``<workload>/<pass>/<op>``."""
        names = {s["kind"]: s["name"] for s in self._stack}
        return f"{self.workload}/{names.get('pass', '-')}/{names.get('op', '-')}"

    def children(self, span: dict, kind: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]
                and (kind is None or s["kind"] == kind)]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its children cover."""
        kids = self.children(span)
        return (span["end"] - span["start"]) - covered(
            [(k["start"], k["end"]) for k in kids], span["start"], span["end"])


def covered(intervals, lo: float, hi: float) -> float:
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


def _new_stats() -> dict:
    return defaultdict(float)


def fold_event_log(path: str) -> tuple[dict, dict]:
    """Fold one uncompressed event log into per-(group, phase) sums.

    Returns ``(stats, jobs)``: ``stats[(group, phase)]`` holds jobs,
    stages, tasks, failed tasks, executor run/CPU/GC seconds, shuffle
    bytes and Python-worker time and bytes; ``jobs[(group,
    phase)]`` lists each job's ``(submit, end)`` epoch seconds.
    """
    job_key: dict[int, tuple[str, str]] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stats: dict = defaultdict(_new_stats)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id", HARNESS),
                       props.get("spark.job.description", HARNESS))
                jid = ev["Job ID"]
                job_key[jid] = key
                job_span[jid] = [ev["Submission Time"] / 1000, None]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                stats[key]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stats[job_key[stage_job[sid]]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                st = stats[job_key[stage_job[sid]]]
                info = ev.get("Task Info", {})
                st["tasks"] += 1
                if info.get("Failed") or info.get("Killed") or info.get("Attempt", 0) > 0:
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_TOTAL:
                        st["python_total_s"] += float(upd) / 1e3
                    elif name in _PY_DATA:
                        st["python_data_bytes"] += float(upd)
    jobs: dict = defaultdict(list)
    for jid, key in job_key.items():
        s, e = job_span[jid]
        jobs[key].append((s, e if e is not None else s))
    return dict(stats), dict(jobs)

