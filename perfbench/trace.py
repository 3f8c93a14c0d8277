"""Spans, Spark job counts and event-log reduction for traced runs.

Spans are recorded from the benchmark's own files around calls into
the engine's public functions; the engine is not changed. Each span
carries a Spark job group (``setJobGroup``), so every job it launches
can be attributed to it:

- jobs, stages and tasks come from ``SparkContext.statusTracker()``
  right after the span ends;
- bytes read, shuffled and spilled, GC time and binaryFile scans come
  from Spark's event log, which the run enables through launch confs
  (uncompressed, not rolling) and reduces per job group once the
  session has stopped.

Spans stay in memory and are written out as JSON when the run ends.
With tracing off, ``span`` only times the call: no job group is set
and nothing is recorded.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _blank(groups: dict, name: str) -> dict:
    return groups.setdefault(name, {
        "scan_jobs": 0, "bytes_read": 0, "shuffle_bytes": 0,
        "spill_bytes": 0, "gc_ms": 0, "task_ms": 0, "failed_tasks": 0})


class Tracer:
    def __init__(self, trace_dir: str | None) -> None:
        self.trace_dir = trace_dir
        self.on = trace_dir is not None
        self.spans: list[Span] = []
        self.groups: dict[str, dict] = {}
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        """Time one call; spans do not nest."""
        sp = Span(name, f"s{len(self.spans):05d}", 0.0)
        if self.on:
            self.spans.append(sp)
            self.sc.setJobGroup(sp.id, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.on:
                self.sc._jsc.clearJobGroup()
                self._count(sp)

    def _count(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp.id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None and s.numTasks:
                    sp.stages += 1
                    sp.tasks += s.numTasks

    # ---- event log ----------------------------------------------------------
    def reduce_event_log(self) -> None:
        """Per job group: binaryFile-scan jobs, failed tasks and task
        metric sums (input bytes, shuffle bytes read + written, spill, GC
        ms, executor run time ms). Call after the session has stopped,
        so the log is complete."""
        job_group: dict[int, str] = {}
        started: list[tuple[int, set[int]]] = []  # (job, its stage ids), in start order
        stage_job: dict[int, int] = {}
        scan_jobs: set[int] = set()
        groups: dict[str, dict] = {}

        for path in glob.glob(os.path.join(self.trace_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind.endswith("SparkListenerJobStart"):
                        grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        started.append((ev["Job ID"], set(ev.get("Stage IDs", []))))
                        if grp:
                            job_group[ev["Job ID"]] = grp
                    elif kind.endswith("SparkListenerStageSubmitted"):
                        # a stage runs in the latest started job listing it;
                        # earlier jobs that list it only skipped it
                        info = ev["Stage Info"]
                        sid = info["Stage ID"]
                        job = next((j for j, s in reversed(started) if sid in s), None)
                        if job is None:
                            continue
                        stage_job[sid] = job
                        if any("Scan binaryFile" in (r.get("Scope") or "")
                               for r in info.get("RDD Info", [])):
                            scan_jobs.add(job)
                    elif kind.endswith("SparkListenerTaskEnd"):
                        grp = job_group.get(stage_job.get(ev["Stage ID"], -1))
                        if grp is None:
                            continue
                        a = _blank(groups, grp)
                        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                            a["failed_tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        a["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        a["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                               + sr.get("Local Bytes Read", 0)
                                               + sw.get("Shuffle Bytes Written", 0))
                        a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
                        a["gc_ms"] += m.get("JVM GC Time", 0)
                        a["task_ms"] += m.get("Executor Run Time", 0)
        for job in scan_jobs:
            if job in job_group:
                _blank(groups, job_group[job])["scan_jobs"] += 1
        self.groups = groups

    def group(self, span_id: str) -> dict:
        return self.groups.get(span_id) or _blank({}, span_id)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) | {"event_log": self.group(s.id)}
                                 for s in self.spans]}, f)
