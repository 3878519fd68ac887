"""Reduce a Spark event log to per-span job, stage and task metrics.

The benchmark records spans (name, start, end, parent) around its calls into
the engine.  Spark writes an event log (JSON lines) when the session is started
with ``spark.eventLog.enabled=true``.  This module joins the two from outside
the engine:

* a job belongs to the innermost span whose [start, end] holds its submission
  time.  Job groups are not used: jobs submitted from the engine's writer
  threads carry none;
* a job's Python call site (``collect at .../engine.py:796``) is resolved to
  the function that encloses that line by parsing the module source, so the
  attribution survives line shifts.  A job without a call site has no Python
  caller on the stack, which is the case for the snapshot writes the engine
  submits from its thread pool;
* inside a crawl epoch, each job is put in one engine stage by the function
  it was called from: *select*, *delta* or *write* (``stage_of``).
"""
from __future__ import annotations

import ast
import json
import re
from dataclasses import dataclass, field
from functools import lru_cache

_CALLSITE_RE = re.compile(r"^\S+ at (?P<path>.+\.py):(?P<line>\d+)$")
# the SQL UI events are most of the log's bytes and carry nothing used here
_SKIP_PREFIX = '{"Event":"org.apache.spark.sql.execution.ui.'


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    callsite: str | None = None
    succeeded: bool = True


@dataclass
class StageAgg:
    tasks: int = 0
    task_failures: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> Job
    stages: dict = field(default_factory=dict)  # (stage id, attempt) -> StageAgg
    stage_job: dict = field(default_factory=dict)  # stage id -> job id


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith(_SKIP_PREFIX):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"],
                          stage_ids=list(ev.get("Stage IDs", [])),
                          callsite=props.get("callSite.short"))
                log.jobs[job.job_id] = job
                # a stage runs in the first job that lists it; later jobs
                # list it again only as skipped (reused shuffle output)
                for sid in job.stage_ids:
                    log.stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
                    job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                agg = log.stages.setdefault(key, StageAgg())
                agg.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    agg.task_failures += 1
                m = ev.get("Task Metrics") or {}
                agg.executor_run_ms += m.get("Executor Run Time", 0)
                agg.executor_cpu_ns += m.get("Executor CPU Time", 0)
                agg.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                agg.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                agg.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                agg.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
    return log


@lru_cache(maxsize=None)
def _function_spans(path: str) -> tuple:
    """(first line, last line, qualified name) of every function in a module."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    out.append((child.lineno, child.end_lineno, name))
                visit(child, name + ".")
            else:
                visit(child, prefix)

    visit(tree, "")
    return tuple(out)


def resolve_callsite(callsite: str | None) -> tuple[str, str] | None:
    """``"collect at /x/pkg/engine.py:796"`` -> ``("engine.py", qualname)``.

    The qualified name is that of the innermost function enclosing the line
    (``"<module>"`` at top level).  None when the job has no Python call site
    or the file cannot be read."""
    if not callsite:
        return None
    m = _CALLSITE_RE.match(callsite.strip())
    if m is None:
        return None
    path, line = m.group("path"), int(m.group("line"))
    try:
        spans = _function_spans(path)
    except (OSError, SyntaxError):
        return None
    best = None
    for first, last, name in spans:
        if first <= line <= last and (best is None or first >= best[0]):
            best = (first, name)
    return path.rsplit("/", 1)[-1], best[1] if best else "<module>"


@dataclass
class Span:
    span_id: int
    name: str
    start_ms: float
    end_ms: float
    parent: int | None = None


def assign_jobs(spans: list[Span], jobs) -> dict[int, list]:
    """Map span id -> jobs submitted inside it (innermost span wins)."""
    out: dict[int, list] = {s.span_id: [] for s in spans}
    for job in jobs:
        owner = None
        for s in spans:
            if s.start_ms <= job.submit_ms <= s.end_ms and (
                    owner is None or s.start_ms >= owner.start_ms):
                owner = s
        if owner is not None:
            out[owner.span_id].append(job)
    return out


def covered_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


def clipped(jobs, span: Span) -> list[tuple[float, float]]:
    return [(max(j.submit_ms, span.start_ms), min(j.end_ms or span.end_ms,
                                                    span.end_ms))
            for j in jobs]


def job_totals(log: EventLog, jobs) -> dict[str, float]:
    """Stage and task totals over a set of jobs; units as the metric names."""
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_failures": 0,
         "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    ids = {j.job_id for j in jobs}
    for (sid, _attempt), agg in log.stages.items():
        if log.stage_job.get(sid) not in ids:
            continue
        t["stages"] += 1  # stages skipped by reuse run no task: not counted
        t["tasks"] += agg.tasks
        t["task_failures"] += agg.task_failures
        t["executor_run_s"] += agg.executor_run_ms / 1e3
        t["executor_cpu_s"] += agg.executor_cpu_ns / 1e9
        t["gc_s"] += agg.gc_ms / 1e3
        t["shuffle_read_mb"] += agg.shuffle_read_bytes / 2**20
        t["shuffle_write_mb"] += agg.shuffle_write_bytes / 2**20
        t["spill_mb"] += agg.spill_bytes / 2**20
    return t


# engine functions whose jobs pick the epoch's fetch set; every other engine
# job inside an epoch builds the delta (fetch, parse, canonicalize, robots,
# cuckoo cogroup, frontier merge) and jobs with no Python caller, or called
# from the tables module, are snapshot writes
SELECT_FUNCS = frozenset({"run_epoch", "_politeness_select",
                          "_assign_global_seq", "read_frontier"})
STAGES = ("select", "delta", "write")


def stage_of(job: Job) -> str:
    where = resolve_callsite(job.callsite)
    if where is None or where[0] == "tables.py":
        return "write"
    return "select" if where[1] in SELECT_FUNCS else "delta"


def epoch_breakdown(log: EventLog, span: Span, jobs) -> dict[str, float]:
    """One epoch span and the jobs submitted inside it -> its wall time, the
    part of it covered by no job (driver time), job/stage/task counts and
    the wall time covered by each stage's jobs (stages may overlap: the
    writes run on the engine's writer threads)."""
    wall = (span.end_ms - span.start_ms) / 1e3
    t = job_totals(log, jobs)
    out = {"epoch_s": wall,
           "driver_s": wall - covered_ms(clipped(jobs, span)) / 1e3,
           "jobs": t["jobs"], "stages": t["stages"], "tasks": t["tasks"]}
    for stage in STAGES:
        mine = [j for j in jobs if stage_of(j) == stage]
        out[f"{stage}_s"] = covered_ms(clipped(mine, span)) / 1e3
    return out
