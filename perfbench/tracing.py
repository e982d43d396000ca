"""Spans, self time and the Spark event-log parser.

Spans are kept in memory and written out once, at the end of a run.
Each has a name, start, end, parent and run id. The benchmark records
them around its own calls into the package; in a traced run it also
wraps the per-epoch calls the pipeline makes (model load, scoring, the
sink closure) in this process. Nothing is recorded inside the package.

A span's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> dict:
        """Record a span measured elsewhere, such as a micro-batch taken
        from the query's progress report."""
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "start": start,
            "end": end,
            **attrs,
        }
        with self._lock:
            self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per span name: duration minus the union of
    the children's intervals, clipped to the parent."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        inner = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["name"]] += (s["end"] - s["start"]) - _covered(inner)
    return dict(out)


# --- Spark event log -------------------------------------------------------

PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def _zero() -> dict[str, float]:
    return defaultdict(float)


def read_event_log(log_dir: str) -> dict:
    """Parse the one application log in ``log_dir``. Returns per job id:
    its job group ("job_group", None when unset), its submission time in
    seconds ("job_time"), its task totals ("per_job") and the number of
    stages it ran ("stages_run"). ``phase_of_job`` files jobs under
    phases; ``totals`` sums a set of them."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_time: dict[int, float] = {}
    per_job = defaultdict(_zero)
    stages_run: dict[int, int] = defaultdict(int)
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id")
                job_time[jid] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageSubmitted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    stages_run[jid] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                acc = per_job[jid]
                acc["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                acc["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update") or 0)
    return {
        "job_group": job_group,
        "job_time": job_time,
        "per_job": per_job,
        "stages_run": stages_run,
    }


def phase_of_job(log: dict, spans: list[dict], phases: set[str]) -> dict[int, str]:
    """Map each job to a phase: its job group when that names a phase,
    otherwise the innermost phase span whose window holds the job's
    submission time (jobs started from streaming threads carry the
    stream's own group)."""
    windows = sorted(
        (s for s in spans if s["name"] in phases),
        key=lambda s: s["end"] - s["start"],
    )
    out = {}
    for jid, group in log["job_group"].items():
        if group in phases:
            out[jid] = group
            continue
        t = log["job_time"][jid]
        for s in windows:
            if s["start"] <= t <= s["end"]:
                out[jid] = s["name"]
                break
    return out


def totals(log: dict, jobs) -> dict[str, float]:
    acc = _zero()
    for jid in jobs:
        for k, v in log["per_job"].get(jid, {}).items():
            acc[k] += v
    return acc
