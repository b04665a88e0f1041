"""Spans around the program's layers, joined with Spark's event log.

The traced run patches the public functions each workload calls, from
outside: every call opens a span (name, layer, parent, start, end) and
tags the Spark jobs it launches with ``setJobGroup("pb<span id>")``.
Spans stay in memory; when the run ends the session is stopped, the
uncompressed event log is parsed, and each job, with its stages' tasks,
is attributed to its span. A job launched from another thread (a
streaming micro-batch, an overlap thread) does not carry the group; it
goes to the innermost span open when it was submitted.

Per span this gives self time (wall minus child spans), jobs, tasks,
task CPU, shuffle bytes written, disk spill, bytes and files written,
and driver time: self time not covered by any of the span's own job
intervals.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, layer: str, name: str, **counts):
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            **counts,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def current_layer(self) -> str | None:
        return self._stack[-1]["layer"] if self._stack else None

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until
        ``unwrap``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()


# ---------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, submit/complete seconds, stage ids), task metrics per
    stage, and files written per job, from an uncompressed (possibly
    rolling) event log directory."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}
    exec_jobs: dict[int, list[int]] = {}
    written_file_accums: set[int] = set()
    exec_files: dict[int, int] = {}
    # a rolling log is a directory of events_* parts in write order, next
    # to an empty appstatus marker; a plain log is one file
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_jobs.setdefault(int(ex), []).append(jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = stage_tasks.setdefault(
                        ev["Stage ID"], {"tasks": 0, "cpu_s": 0.0, "shuffle": 0, "spill": 0, "out_bytes": 0}
                    )
                    acc["tasks"] += 1
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["spill"] += m.get("Disk Bytes Spilled", 0)
                    acc["out_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _collect_accums(ev.get("sparkPlanInfo") or {}, written_file_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = ev["executionId"]
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in written_file_accums:
                            exec_files[ex] = exec_files.get(ex, 0) + int(value)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job.update(tasks=0, cpu_s=0.0, shuffle=0, spill=0, out_bytes=0, files=0)
    for sid, acc in stage_tasks.items():
        if sid in owner:
            job = jobs[owner[sid]]
            for k, v in acc.items():
                job[k] += v
    for ex, n in exec_files.items():
        if exec_jobs.get(ex):
            jobs[exec_jobs[ex][0]]["files"] += n
    return jobs


def _collect_accums(plan: dict, out: set[int]) -> None:
    for metric in plan.get("metrics", []):
        if metric.get("name") == "number of written files":
            out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _collect_accums(child, out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: dict[int, dict]) -> list[dict]:
    """Fill each span with its own jobs' counters, self time and
    driver time. Returns the spans; ``spans[i]["by_time"]`` counts jobs
    attributed by submission time rather than by group."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update(jobs=0, tasks=0, cpu_s=0.0, shuffle=0, spill=0, out_bytes=0, files=0, by_time=0, _iv=[])
        s["wall"] = s["end"] - s["start"]
        s["child_wall"] = 0.0
    for s in spans:
        if s["parent"] is not None:
            by_id[s["parent"]]["child_wall"] += s["wall"]
    starts = sorted((s["start"], s["id"]) for s in spans)
    keys = [t for t, _ in starts]
    for job in jobs.values():
        group = job["group"] or ""
        target = None
        if group.startswith(GROUP_PREFIX) and group[len(GROUP_PREFIX):].isdigit():
            target = by_id.get(int(group[len(GROUP_PREFIX):]))
        if target is None:
            # innermost span open at submission: the latest-starting one
            i = bisect.bisect_right(keys, job["submit"]) - 1
            while i >= 0:
                cand = by_id[starts[i][1]]
                if cand["end"] >= job["submit"]:
                    target = cand
                    target["by_time"] += 1
                    break
                i -= 1
        if target is None:
            continue
        target["jobs"] += 1
        for k in ("tasks", "cpu_s", "shuffle", "spill", "out_bytes", "files"):
            target[k] += job[k]
        end = job["end"] if job["end"] is not None else target["end"]
        target["_iv"].append((max(job["submit"], target["start"]), min(end, target["end"])))
    for s in spans:
        s["self"] = max(0.0, s["wall"] - s["child_wall"])
        s["driver"] = max(0.0, s["self"] - _union_length([iv for iv in s.pop("_iv") if iv[1] > iv[0]]))
    return spans
