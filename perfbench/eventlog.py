"""Spark event-log parser: per-stage task metrics for labelled passes.

The traced run starts Spark with ``spark.eventLog.enabled`` and tags
every pass with ``SparkContext.setJobDescription(label)``. Adaptive
query execution submits each query stage as its own job, so one pass
is every job carrying the pass's label; its stages are the stages of
those jobs that ran at least one task. A pass repeated under one label
sums every repetition, so repetitions that are read one at a time carry
their own label (``rep_label``).
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field


def rep_label(label: str, rep: int) -> str:
    """The job label of repetition *rep* of the pass *label*."""
    return f"{label}#{rep}"


@dataclass
class Task:
    duration_s: float  # launch to finish, as the scheduler saw it
    gc_s: float
    shuffle_write_bytes: int
    input_bytes: int


@dataclass
class EventLog:
    job_label: dict[int, str] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stage_tasks: dict[int, list[Task]] = field(default_factory=dict)

    def stages_for(self, label: str) -> list[int]:
        """Stage ids (ascending) that ran tasks for the pass *label*."""
        ids = {
            sid
            for job, lab in self.job_label.items()
            if lab == label
            for sid in self.job_stages.get(job, [])
            if self.stage_tasks.get(sid)
        }
        return sorted(ids)


def parse_events(lines: Iterable[str]) -> EventLog:
    """Build an :class:`EventLog` from event-log JSON lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            log.job_label[job] = props.get("spark.job.description", "")
            log.job_stages[job] = list(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            shuffle = metrics.get("Shuffle Write Metrics") or {}
            inp = metrics.get("Input Metrics") or {}
            log.stage_tasks.setdefault(ev["Stage ID"], []).append(
                Task(
                    duration_s=(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0,
                    gc_s=metrics.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_bytes=int(shuffle.get("Shuffle Bytes Written", 0)),
                    input_bytes=int(inp.get("Bytes Read", 0)),
                )
            )
    return log


def read_event_log(path: str) -> EventLog:
    with open(path) as fh:
        return parse_events(fh)


def stage_summary(tasks: list[Task]) -> dict:
    durs = [t.duration_s for t in tasks]
    return {
        "n_tasks": len(tasks),
        "task_s_p50": statistics.median(durs) if durs else 0.0,
        "task_s_max": max(durs) if durs else 0.0,
        "task_s_sum": sum(durs),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
    }


def pass_summary(log: EventLog, label: str) -> dict:
    """Per-stage summaries of one pass, plus pass-wide totals.

    ``main_stage`` is the stage with the most task time: for an
    extraction pass, the stage that runs the Python kernel.
    """
    stages = {sid: stage_summary(log.stage_tasks[sid]) for sid in log.stages_for(label)}
    main = max(stages, key=lambda s: stages[s]["task_s_sum"]) if stages else None
    return {
        "stages": stages,
        "main_stage": main,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages.values()),
        "input_bytes": sum(s["input_bytes"] for s in stages.values()),
        "gc_s": sum(s["gc_s"] for s in stages.values()),
    }
