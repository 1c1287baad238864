"""Tracing for ``--trace 1`` runs: call spans and the Spark event log.

``Tracer`` wraps public names at the attribute callers look them up
through (``yaetos_spark.job.save_output``, a job module's imported
``bpe_train``, ``Registry.job_params`` ...) and records one span per
call — name, start, end, parent, op id — in memory.  The wrappers are
installed only in traced runs; ``enabled`` switches recording off for
the untraced comparison passes of the same run.

``rollup_event_log`` reads the Spark event log that ``get_spark``
writes when the run passes ``event_log_conf`` and sums the
``SparkListenerTaskEnd`` metrics per job group (the benchmark sets one
job group per operation).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op = None
        self.pass_no = None
        self._stack: list[int] = []

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "pass": self.pass_no,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper.  ``owner`` is
        a module, a module path or a class.  ``after(rec, args,
        kwargs, result)`` may add fields to the span."""
        if isinstance(owner, str):
            owner = importlib.import_module(owner)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            n = len(tracer.spans)
            out = tracer.span(name, orig, *args, **kwargs)
            if after is not None:
                after(tracer.spans[n], args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def _select(self, name: str, passes) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and s["pass"] in passes
        ]

    def total(self, name: str, passes) -> float:
        return sum(s["end"] - s["start"] for s in self._select(name, passes))

    def count(self, name: str, passes) -> int:
        return len(self._select(name, passes))

    def field_sum(self, name: str, field: str, passes) -> float:
        return sum(s.get(field, 0) for s in self._select(name, passes))

    def intervals(self, name: str, passes) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self._select(name, passes)]


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _event_files(log_dir: str) -> list[str]:
    """Event files of the one application logged in ``log_dir`` —
    plain, ``.inprogress`` or Spark 4's rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` parts."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            files += parts
        elif not entry.endswith(".crc"):
            files.append(entry)
    return files


def _python_metric_ids(plan: dict, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "time to run Python workers":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


EMPTY_GROUP = {
    "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
    "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
    "input_bytes": 0, "output_bytes": 0,
    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
    "spill_bytes": 0, "python_s": 0.0,
}


def rollup_event_log(log_dir: str) -> tuple[dict[str, dict], list[tuple[int, str | None]]]:
    """Per job group: task-metric sums.  Also returns every job start
    as (submission time in ms, group) so callers can attribute jobs to
    spans by time."""
    stage_group: dict[int, str | None] = {}
    job_starts: list[tuple[int, str | None]] = []
    python_ids: set = set()
    groups: dict[str | None, dict] = defaultdict(lambda: dict(EMPTY_GROUP))
    stages_seen: dict[str | None, set] = defaultdict(set)
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    job_starts.append((e.get("Submission Time", 0), g))
                    groups[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_metric_ids(e.get("sparkPlanInfo") or {}, python_ids)
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e.get("Stage ID"))
                    acc = groups[g]
                    stages_seen[g].add(e.get("Stage ID"))
                    acc["tasks"] += 1
                    info = e.get("Task Info") or {}
                    reason = (e.get("Task End Reason") or {}).get("Reason")
                    if info.get("Failed") or reason not in (None, "Success"):
                        acc["failed_tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for a in info.get("Accumulables", []):
                        if a.get("ID") in python_ids:
                            acc["python_s"] += float(a.get("Update") or 0) / 1e3
    for g, ids in stages_seen.items():
        groups[g]["stages"] = len(ids)
    return dict(groups), job_starts


def jobs_in(job_starts, intervals) -> int:
    """Spark jobs submitted inside any of the (start, end) intervals
    (seconds since the epoch; the event log stamps milliseconds)."""
    return sum(
        1 for t_ms, _g in job_starts
        if any(a * 1e3 <= t_ms <= b * 1e3 for a, b in intervals)
    )
