"""Spans recorded around calls into driftspark, and Spark jobs assigned to them.

A span is (name, start, end, parent) in driver wall-clock seconds.  Spark's
event log (enabled only for the traced run) gives every job's submission
time and every task's metrics; a job belongs to the innermost span that was
open when it was submitted.  Job groups are not used: Spark 4 runs in
pinned-thread mode, so local properties do not reach the thread pools inside
``runner``, ``verdicts`` and ``stats``, while submission times always do.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, List, Optional

# the per-span stats reported for spans marked as Spark-heavy, with their units
SPARK_STATS = {
    "jobs": "count",
    "run_s": "s",
    "task_skew": "ratio",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "python_s": "s",
}
_MB = float(1 << 20)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[str]


class Tracer:
    """Keeps spans in memory; the metrics are computed from them when the run ends."""

    def __init__(self):
        self.spans: List[Span] = []
        self._open: List[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), parent))
            self._open.pop()

    def wall_s(self, name: str) -> float:
        """Median duration of the spans called ``name`` (0 if none ran)."""
        durations = [s.end - s.start for s in self.spans if s.name == name]
        return statistics.median(durations) if durations else 0.0


@dataclass
class _Job:
    submitted: float  # seconds since the epoch
    stages: List[int]


def _read_event_log(log_dir: str):
    """(jobs, tasks by stage) from an uncompressed event log directory."""
    jobs: List[_Job] = []
    tasks: Dict[int, list] = {}
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(_Job(ev["Submission Time"] / 1000.0, ev["Stage IDs"]))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    python_ms = sum(
                        float(a.get("Update") or 0)
                        for a in ev["Task Info"].get("Accumulables", [])
                        if a.get("Name") == "time to run Python workers"
                    )
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (
                            m.get("Executor Run Time", 0),
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                            m.get("Disk Bytes Spilled", 0),
                            python_ms,
                        )
                    )
    return jobs, tasks


def _stats(jobs: List[_Job], tasks: Dict[int, list]) -> Dict[str, float]:
    rows = [t for j in jobs for s in j.stages for t in tasks.get(s, [])]
    run_ms = [r[0] for r in rows]
    return {
        "jobs": float(len(jobs)),
        "run_s": sum(run_ms) / 1000.0,
        # a median of 0 ms (tasks that finish within the clock tick) counts as 1 ms
        "task_skew": max(run_ms) / max(statistics.median(run_ms), 1.0) if run_ms else 0.0,
        "shuffle_write_mb": sum(r[1] for r in rows) / _MB,
        "spill_mb": sum(r[2] for r in rows) / _MB,
        "python_s": sum(r[3] for r in rows) / 1000.0,
    }


def attribute(tracer: Tracer, log_dir: str, root: str) -> Dict[str, Dict[str, float]]:
    """Per-span-name Spark stats (median over occurrences of the name), plus
    the executor run time of jobs that fell in no span other than ``root``
    under the key ``"unattributed"``.

    Read the log only after the SparkContext has stopped: the listener bus
    is asynchronous and the log is complete only once it is closed."""
    jobs, tasks = _read_event_log(log_dir)
    leaves = [s for s in tracer.spans if s.name != root]
    by_span: Dict[int, List[_Job]] = {}
    loose: List[_Job] = []
    for job in jobs:
        inside = [i for i, s in enumerate(leaves) if s.start <= job.submitted <= s.end]
        if inside:
            # innermost = the span that opened last
            by_span.setdefault(max(inside, key=lambda i: leaves[i].start), []).append(job)
        else:
            loose.append(job)
    per_name: Dict[str, List[Dict[str, float]]] = {}
    for i, s in enumerate(leaves):
        per_name.setdefault(s.name, []).append(_stats(by_span.get(i, []), tasks))
    out = {
        name: {k: statistics.median(o[k] for o in occ) for k in SPARK_STATS}
        for name, occ in per_name.items()
    }
    out["unattributed"] = {"run_s": _stats(loose, tasks)["run_s"]}
    return out
