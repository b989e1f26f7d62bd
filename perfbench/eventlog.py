"""Offline reader for an uncompressed Spark event log.

Turns one application's log into per-stage executor totals so the traced run
can attribute work to layers without touching the engine:

- jobs carry their job group (``setJobGroup``) and submission time, so a
  query's jobs are the ones tagged with its name or submitted inside its
  wall-clock window;
- stages carry their call site (``collect at .../bloom.py:167``), which names
  the engine module that triggered them;
- the SQL plans name the ``MapInPandas`` node, whose metric accumulators mark
  the tasks that ran the crawl's fetch stage.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_MODULE_RE = re.compile(r"hdx_metadata_crawler_spark/(?:\w+/)*(\w+)\.py:\d+")
_PYTHON_MAP_NODES = ("MapInPandas", "PythonMapInArrow")


@dataclass
class Stage:
    name: str = ""
    task_run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_map_tasks: int = 0

    @property
    def module(self) -> str | None:
        m = _MODULE_RE.search(self.name)
        return m.group(1) if m else None


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=lambda: defaultdict(Stage))

    def jobs_for(self, group: str | None = None, window_ms: tuple[int, int] | None = None) -> list[int]:
        """Jobs tagged with ``group``, plus untagged jobs submitted inside
        ``window_ms`` (jobs started from helper threads carry no group)."""
        out = []
        for jid, job in self.jobs.items():
            if group is not None and job["group"] == group:
                out.append(jid)
            elif window_ms and job["group"] is None and window_ms[0] <= job["submit_ms"] <= window_ms[1]:
                out.append(jid)
        return sorted(out)

    def stages_of(self, job_ids: list[int] | None = None) -> list[Stage]:
        if job_ids is None:
            return list(self.stages.values())
        ids = {s for j in job_ids for s in self.jobs[j]["stage_ids"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def totals(self, job_ids: list[int] | None = None) -> dict[str, float]:
        stages = [s for s in self.stages_of(job_ids) if s.task_run_ms]
        return {
            "jobs": len(self.jobs) if job_ids is None else len(job_ids),
            "stages": len(stages),
            "tasks": sum(len(s.task_run_ms) for s in stages),
            "exec_run_s": sum(sum(s.task_run_ms) for s in stages) / 1e3,
            "exec_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "gc_s": sum(s.gc_ms for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 2**20,
            "spill_mb": sum(s.spill_bytes for s in stages) / 2**20,
        }

    def exec_s_by_module(self, modules: tuple[str, ...]) -> dict[str, float]:
        """Executor run time of stages whose call site names one of
        ``modules``; ``other`` for stages naming another engine module,
        ``unattributed`` for stages whose call site names none (count,
        parquet and saveAsTable jobs)."""
        out = dict.fromkeys((*modules, "other", "unattributed"), 0.0)
        for s in self.stages.values():
            mod = s.module
            key = mod if mod in modules else ("other" if mod else "unattributed")
            out[key] += sum(s.task_run_ms) / 1e3
        return out

    def python_map_task_skew(self) -> float:
        """max / mean task run time of the heaviest MapInPandas stage."""
        fetch = [s for s in self.stages.values() if s.python_map_tasks and s.task_run_ms]
        if not fetch:
            return 0.0
        s = max(fetch, key=lambda st: sum(st.task_run_ms))
        mean = sum(s.task_run_ms) / len(s.task_run_ms)
        return max(s.task_run_ms) / mean if mean else 0.0


def _python_map_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith(_PYTHON_MAP_NODES):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for child in plan.get("children", []):
        _python_map_accumulators(child, out)


def load(path: str) -> EventLog:
    log = EventLog()
    map_accums: set[int] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "submit_ms": ev["Submission Time"],
                    "stage_ids": ev["Stage IDs"],
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                log.stages[info["Stage ID"]].name = info["Stage Name"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_map_accumulators(ev.get("sparkPlanInfo", {}), map_accums)
    for ev in tasks:
        m = ev.get("Task Metrics")
        if not m:
            continue
        s = log.stages[ev["Stage ID"]]
        s.task_run_ms.append(m["Executor Run Time"])
        s.cpu_ns += m["Executor CPU Time"]
        s.gc_ms += m["JVM GC Time"]
        s.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        s.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        accs = ev["Task Info"].get("Accumulables", [])
        if any(a["ID"] in map_accums for a in accs):
            s.python_map_tasks += 1
    return log
