"""Spark event-log parsing and per-layer attribution.

The parser reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled``; it keeps jobs (with their job group), the
stages that actually ran, and task metrics summed per stage. Jobs are tied
to the benchmark's spans in two ways:

- a job whose group is ``pb/<query id>/<span name>`` belongs to that span;
- any other job (streaming micro-batches run under the stream's own
  group) belongs to the innermost span whose interval holds its
  submission time.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

#: Prefix of the job groups the benchmark sets around its spans.
GROUP_PREFIX = "pb/"


def group_for(qid: str, span: str) -> str:
    return f"{GROUP_PREFIX}{qid}/{span}"


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    deser_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: stages that ran to completion, keyed by (stage id, attempt)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)


@dataclass
class Span:
    name: str
    qid: str
    start_ms: float
    end_ms: float


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"], ev["Stage IDs"]
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = _stage(log, info["Stage ID"], info["Stage Attempt ID"])
            st.submit_ms = info["Submission Time"]
            st.complete_ms = info["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = _stage(log, ev["Stage ID"], ev["Stage Attempt ID"])
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.deser_ms += tm.get("Executor Deserialize Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
    return log


def _stage(log: EventLog, stage_id: int, attempt: int) -> Stage:
    return log.stages.setdefault((stage_id, attempt), Stage(stage_id))


def attribute(log: EventLog, spans: list[Span]) -> dict[int, Span]:
    """job id -> the span it ran under (jobs outside every span are left out)."""
    by_group = {group_for(s.qid, s.name): s for s in spans}
    out: dict[int, Span] = {}
    for job in log.jobs.values():
        span = by_group.get(job.group or "")
        if span is None:
            holding = [s for s in spans if s.start_ms <= job.submit_ms <= s.end_ms]
            if holding:
                span = min(holding, key=lambda s: s.end_ms - s.start_ms)
        if span is not None:
            out[job.job_id] = span
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def layer_metrics(log: EventLog, spans: list[Span], start_ms: float, end_ms: float) -> dict[str, float]:
    """Per-layer numbers for one pass that ran from ``start_ms`` to ``end_ms``.

    ``spans`` holds the pass's ``sources.load_table``, ``operators.build``
    and ``execute.action`` spans.
    """
    owner = attribute(log, spans)
    jobs_in = {name: [j for j, s in owner.items() if s.name == name] for name in
               ("sources.load_table", "operators.build", "execute.action")}
    # a stage that several jobs list ran under the first of them
    stage_job: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.job_id)
    ran = [st for st in log.stages.values() if st.submit_ms and start_ms <= st.submit_ms <= end_ms]
    action_jobs = set(jobs_in["execute.action"])
    action_stages = [st for st in ran if stage_job.get(st.stage_id) in action_jobs]
    active_s = _union_s([(st.submit_ms, st.complete_ms) for st in ran])
    n_tasks = sum(st.tasks for st in ran)
    return {
        "sources.load_table_jobs": len(jobs_in["sources.load_table"]),
        "operators.build_jobs": len(jobs_in["operators.build"]),
        "execute.jobs": len(action_jobs),
        "execute.stages": len(action_stages),
        "execute.tasks": sum(st.tasks for st in action_stages),
        "spark.stage_active_s": active_s,
        "spark.outside_stage_s": (end_ms - start_ms) / 1000.0 - active_s,
        "spark.tasks_per_stage": n_tasks / len(ran) if ran else 0.0,
        "spark.task_run_s": sum(st.run_ms for st in ran) / 1000.0,
        "spark.task_cpu_s": sum(st.cpu_ns for st in ran) / 1e9,
        "spark.task_deser_s": sum(st.deser_ms for st in ran) / 1000.0,
        "spark.task_gc_s": sum(st.gc_ms for st in ran) / 1000.0,
        "spark.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in ran),
        "spark.spill_bytes": sum(st.spill_bytes for st in ran),
    }


def read_compressed(jvm, path: str) -> list[str]:
    """Lines of a (possibly compressed) event log, decompressed by Spark's
    own codec through the driver JVM."""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jvm.org.apache.hadoop.conf.Configuration())
    stream = jvm.org.apache.spark.deploy.history.EventLogFileReader.openEventLog(hpath, fs)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return data.decode("utf-8").splitlines()
