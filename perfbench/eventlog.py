"""Per-job-group counters from a Spark event log.

The traced run enables Spark's own event log (uncompressed, not rolled)
and sets a job group around each benchmark call.  This reader folds the
log's job, stage and task events into one :class:`Counters` record per
job group; jobs submitted outside any group land under :data:`UNGROUPED`.

Counts are keyed by job group only.  Each job's call site (for example
``toPandas at .../lda/train.py:389``) is kept for the report, but its
line number moves whenever the program is edited, so no count depends
on it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field, fields

__all__ = ["Counters", "UNGROUPED", "read_counters", "per_unit"]

UNGROUPED = "<none>"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    job_s: float = 0.0           # wall time covered by the group's jobs
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    python_sent_bytes: int = 0
    python_returned_bytes: int = 0
    # Input bytes of tasks whose stage runs a PythonRDD (plain RDD
    # lambdas): Spark meters no Python byte counts for those, so the
    # bytes they read stand in for the bytes that crossed into Python.
    python_rdd_input_bytes: int = 0
    call_sites: dict = field(default_factory=dict)  # call site -> jobs; report only

    @property
    def python_bytes(self) -> int:
        return self.python_sent_bytes + self.python_returned_bytes + self.python_rdd_input_bytes

    def _combine(self, other: "Counters", sign: int) -> "Counters":
        out = Counters(**{
            f.name: getattr(self, f.name) + sign * getattr(other, f.name)
            for f in fields(self) if f.name != "call_sites"
        })
        out.call_sites = dict(self.call_sites)
        for site, n in other.call_sites.items():
            out.call_sites[site] = out.call_sites.get(site, 0) + sign * n
        return out

    def __add__(self, other: "Counters") -> "Counters":
        return self._combine(other, 1)

    def __sub__(self, other: "Counters") -> "Counters":
        return self._combine(other, -1)


def per_unit(total: Counters, base: Counters, units: int) -> dict[str, float]:
    """The difference method: ``(total - base) / units`` for every count.

    Run a call at N units of work (``total``) and at one unit
    (``base``); the difference holds N - 1 units and none of the fixed
    cost, so pass ``units = N - 1``."""
    diff = total - base
    return {f.name: getattr(diff, f.name) / units
            for f in fields(diff) if f.name != "call_sites"}


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of ``(start_ms, end_ms)`` intervals."""
    covered, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            covered += end - start
            reach = end
        elif end > reach:
            covered += end - reach
            reach = end
    return covered / 1e3


def read_counters(path: str) -> dict[str, Counters]:
    """``{job group: Counters}`` for one application's event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    python_stages: set[int] = set()
    out: dict[str, Counters] = defaultdict(Counters)
    with open(path, encoding="utf-8") as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or UNGROUPED
                c = out[group]
                c.jobs += 1
                site = props.get("callSite.short") or _first_stage_name(event)
                c.call_sites[site] = c.call_sites.get(site, 0) + 1
                job_group[event["Job ID"]] = group
                job_start[event["Job ID"]] = event.get("Submission Time", 0)
                for sid in event["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                for info in event.get("Stage Infos", []):
                    if any(r.get("Name") == "PythonRDD" for r in info.get("RDD Info", [])):
                        python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerJobEnd":
                jid = event["Job ID"]
                if jid in job_group:
                    intervals[job_group[jid]].append(
                        (job_start[jid], event.get("Completion Time", job_start[jid])))
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                c = out[stage_group.get(info["Stage ID"], UNGROUPED)]
                c.stages += 1
                if info["Number of Tasks"] == 1:
                    c.single_task_stages += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(out[stage_group.get(event["Stage ID"], UNGROUPED)], event,
                          event["Stage ID"] in python_stages)
    for group, spans in intervals.items():
        out[group].job_s = _union_s(spans)
    return dict(out)


def _first_stage_name(event: dict) -> str:
    infos = event.get("Stage Infos") or [{}]
    return max(infos, key=lambda i: i.get("Stage ID", -1)).get("Stage Name", "?")


def _add_task(c: Counters, event: dict, python_rdd: bool) -> None:
    m = event.get("Task Metrics") or {}
    c.tasks += 1
    c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
    c.gc_s += m.get("JVM GC Time", 0) / 1e3
    c.result_bytes += m.get("Result Size", 0)
    c.spill_bytes += m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics") or {}
    c.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    if python_rdd:
        c.python_rdd_input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            c.python_sent_bytes += int(acc.get("Update", 0))
        elif name == _PY_RETURNED:
            c.python_returned_bytes += int(acc.get("Update", 0))
