"""Per-layer ledger from a Spark event log.

The benchmark labels every job it causes with ``sc.setJobGroup(<workload>.
<job>, <phase>)``, where the phase is ``build`` (the call that returns the
lazy result; eager size gates and writes inside builders run here) or
``action`` (the call that runs it), and with the local property
``perfbench.pass``. Spark copies both into each ``SparkListenerJobStart``.
This module reads an uncompressed, non-rolling event log, attaches every
``SparkListenerTaskEnd`` to its job through the stage, and sums the task
metrics per pass or per job, lined up with the benchmark's own wall-clock
segments. The layer names follow the package's modules; the columns follow
the primitive costing of scan, shuffle, aggregate and write.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

MB = 1e6

# name -> unit of every per-layer metric reported by a traced run
METRICS = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "operators.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "driver.idle_s": "s",
    "driver.peak_rss_mb": "MB",
    "exec.core_busy_ratio": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.peak_exec_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_records": "count",
    "sources.scan_tasks": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "shuffle.skew": "ratio",
    "sinks.output_mb": "MB",
    "sinks.output_files": "count",
    "sinks.write_s": "s",
    "mapreduce.save_s": "s",
    "mapreduce.df_wordcount_s": "s",
    "trace.overhead_ratio": "ratio",
}

# a stage's median task is floored at this many ms when computing skew, so
# stages of near-empty tasks do not report huge ratios
SKEW_FLOOR_MS = 10.0


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    peak_mem: float
    in_bytes: float
    in_records: float
    out_bytes: float
    sw_bytes: float
    sw_ns: float
    sr_bytes: float
    fetch_wait_ms: float
    spill_bytes: float


@dataclass
class JobRec:
    job_id: int
    group: str | None
    phase: str | None
    pass_id: str | None
    start_ms: float
    end_ms: float | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def name(self) -> str | None:
        """The benchmark job name: the group id without the workload."""
        return self.group.split(".", 1)[1] if self.group and "." in self.group else None


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    i = m.get("Input Metrics") or {}
    o = m.get("Output Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        peak_mem=m.get("Peak Execution Memory", 0),
        in_bytes=i.get("Bytes Read", 0),
        in_records=i.get("Records Read", 0),
        out_bytes=o.get("Bytes Written", 0),
        sw_bytes=sw.get("Shuffle Bytes Written", 0),
        sw_ns=sw.get("Shuffle Write Time", 0),
        sr_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    )


def read_jobs(path: str) -> list[JobRec]:
    """All jobs of one event log, each with the tasks of the stages it ran."""
    jobs: dict[int, JobRec] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = JobRec(
                    jid,
                    props.get("spark.jobGroup.id"),
                    props.get("spark.job.description"),
                    props.get("perfbench.pass"),
                    ev["Submission Time"],
                )
                # a stage runs under the first job that lists it; later
                # jobs list it again only as skipped
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None:
                    jobs[jid].tasks.append(_task(ev))
    return list(jobs.values())


def _covered_ms(jobs: list[JobRec], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    spans = sorted(
        (max(j.start_ms, lo), min(j.end_ms, hi))
        for j in jobs
        if j.end_ms is not None and j.end_ms > lo and j.start_ms < hi
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _skew(tasks: list[Task]) -> float:
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    worst = 1.0
    for runs in by_stage.values():
        if len(runs) > 1:
            worst = max(worst, max(runs) / max(statistics.median(runs), SKEW_FLOOR_MS))
    return worst


def summarize(jobs: list[JobRec], segments: list, cores: int,
              facade_metric: dict[str, str | None]) -> dict[str, float]:
    """Layer metrics of a set of jobs and the benchmark segments (objects
    with ``job``, ``phase``, ``start_ms``, ``end_ms``) they ran in."""
    build = [j for j in jobs if j.phase == "build"]
    action = [j for j in jobs if j.phase == "action"]
    tasks = [t for j in jobs for t in j.tasks]
    act_tasks = [t for j in action for t in j.tasks]
    wall_ms = sum(s.end_ms - s.start_ms for s in segments)
    build_ms = sum(s.end_ms - s.start_ms for s in segments if s.phase == "build")
    build_job_ms = sum(
        _covered_ms([j for j in build if j.name == s.job], s.start_ms, s.end_ms)
        for s in segments if s.phase == "build"
    )
    covered_ms = sum(
        _covered_ms([j for j in jobs if j.name == s.job], s.start_ms, s.end_ms)
        for s in segments
    )
    run_s = sum(t.run_ms for t in tasks) / 1000.0
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    writers = [t for t in tasks if t.out_bytes > 0]
    out = {
        "operators.build_s": build_ms / 1000.0,
        "operators.build_jobs": len(build),
        "operators.build_job_s": build_job_ms / 1000.0,
        "operators.plan_s": (build_ms - build_job_ms) / 1000.0,
        "exec.s": (wall_ms - build_ms) / 1000.0,
        "exec.jobs": len(action),
        "exec.stages": len({t.stage for t in act_tasks}),
        "exec.tasks": len(act_tasks),
        "driver.idle_s": (wall_ms - covered_ms) / 1000.0,
        "exec.core_busy_ratio": run_s / (cores * wall_ms / 1000.0) if wall_ms else 0.0,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": cpu_s,
        "exec.offcpu_s": run_s - cpu_s,
        "exec.gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "exec.peak_exec_mb": max((t.peak_mem for t in tasks), default=0) / MB,
        "sources.input_mb": sum(t.in_bytes for t in tasks) / MB,
        "sources.input_records": sum(t.in_records for t in tasks),
        "sources.scan_tasks": sum(1 for t in tasks if t.in_bytes > 0),
        "shuffle.write_mb": sum(t.sw_bytes for t in tasks) / MB,
        "shuffle.read_mb": sum(t.sr_bytes for t in tasks) / MB,
        "shuffle.write_s": sum(t.sw_ns for t in tasks) / 1e9,
        "shuffle.fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1000.0,
        "shuffle.spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "shuffle.skew": _skew([t for t in tasks if t.sr_bytes > 0]),
        "sinks.output_mb": sum(t.out_bytes for t in writers) / MB,
        "sinks.output_files": len(writers),
        "sinks.write_s": sum(t.run_ms for t in writers) / 1000.0,
    }
    for metric in ("mapreduce.save_s", "mapreduce.df_wordcount_s"):
        out[metric] = sum(
            s.end_ms - s.start_ms for s in segments if facade_metric.get(s.job) == metric
        ) / 1000.0
    return out


def pass_metrics(jobs: list[JobRec], pass_id: int, segments: list, cores: int,
                 facade_metric: dict[str, str | None]) -> dict[str, float]:
    """Layer metrics of one pass."""
    mine = [j for j in jobs if j.pass_id == str(pass_id)]
    return summarize(mine, segments, cores, facade_metric)


def query_rows(jobs: list[JobRec], pass_id: int, segments: list,
               cores: int) -> list[dict]:
    """One diagnostic row per benchmark job of one pass."""
    mine = [j for j in jobs if j.pass_id == str(pass_id)]
    rows = []
    for name in dict.fromkeys(s.job for s in segments):
        row = summarize(
            [j for j in mine if j.name == name],
            [s for s in segments if s.job == name],
            cores,
            {},
        )
        rows.append({"job": name, **{
            k: round(v, 4) for k, v in row.items() if not k.startswith("mapreduce.")
        }})
    return rows
