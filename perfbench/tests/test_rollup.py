"""Tests of the event-log rollup: time-window attribution, call-site to
function resolution and per-span sums.

``data/crawl_epoch_eventlog.jsonl`` is an event log recorded from this repo
(a 4-host crawl, seed + one epoch, at local[4]), cut down to the events and
fields the rollup reads, with the checkout path in call sites replaced by
``/checkout``; ``data/crawl_epoch_spans.jsonl`` holds the spans the benchmark
recorded in the same run.

Run with:  python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from rollup import (  # noqa: E402
    SELECT_FUNCS, Job, Span, _function_spans, assign_jobs, clipped,
    covered_ms, epoch_breakdown, job_totals, parse_event_log,
    resolve_callsite, stage_of,
)

LOG = os.path.join(HERE, "data", "crawl_epoch_eventlog.jsonl")
SPANS = os.path.join(HERE, "data", "crawl_epoch_spans.jsonl")
ENGINE = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                      "mlscraper_spark", "crawl", "engine.py")
RECORDED_PATH = "/checkout/mlscraper_spark/crawl/engine.py"
# the engine function at each call-site line of the recorded log, as the
# engine source read when the log was recorded
RECORDED_FUNCS = {509: "seed_crawl", 796: "_assign_global_seq",
                  1288: "_run_epoch_body"}


def _spans():
    with open(SPANS) as f:
        return [Span(r["id"], r["name"], r["start_ms"], r["end_ms"], r["parent"])
                for r in map(json.loads, f)]


def _raw_events(kind):
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


# --------------------------------------------------------------------------
# time-window attribution
# --------------------------------------------------------------------------

def test_innermost_span_wins():
    spans = [Span(0, "outer", 0, 100), Span(1, "inner", 10, 20, parent=0),
             Span(2, "later", 50, 60, parent=0)]
    jobs = [Job(1, 5), Job(2, 15), Job(3, 55), Job(4, 20), Job(5, 150)]
    got = {k: [j.job_id for j in v] for k, v in assign_jobs(spans, jobs).items()}
    # a job submitted at a span's end still belongs to it; one outside every
    # span belongs to none
    assert got == {0: [1], 1: [2, 4], 2: [3]}


def test_recorded_jobs_fall_in_their_steps():
    log = parse_event_log(LOG)
    spans = _spans()
    owned = assign_jobs(spans, log.jobs.values())
    assert sum(map(len, owned.values())) == len(log.jobs)
    by_name = {s.name: s for s in spans}
    seed_jobs = owned[by_name["engine.seed"].span_id]
    epoch_jobs = owned[by_name["engine.epoch"].span_id]
    assert seed_jobs and epoch_jobs
    assert max(j.submit_ms for j in seed_jobs) < min(j.submit_ms for j in epoch_jobs)


# --------------------------------------------------------------------------
# call site -> enclosing function
# --------------------------------------------------------------------------

def test_callsite_resolves_to_innermost_function(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "X = 1\n"                      # 1
        "def outer():\n"               # 2
        "    a = 1\n"                  # 3
        "    def inner():\n"           # 4
        "        return 2\n"           # 5
        "    return inner\n"           # 6
        "class K:\n"                   # 7
        "    def meth(self):\n"        # 8
        "        return 3\n"           # 9
    )
    at = f"collect at {src}:"
    assert resolve_callsite(at + "3") == ("mod.py", "outer")
    assert resolve_callsite(at + "5") == ("mod.py", "outer.inner")
    assert resolve_callsite(at + "6") == ("mod.py", "outer")
    assert resolve_callsite(at + "9") == ("mod.py", "K.meth")
    assert resolve_callsite(at + "1") == ("mod.py", "<module>")


def test_callsite_without_python_caller():
    assert resolve_callsite(None) is None
    assert resolve_callsite("") is None
    assert resolve_callsite("run at ThreadPoolExecutor.java:1136") is None
    assert resolve_callsite("collect at /no/such/file.py:3") is None


def _stand_in_engine(tmp_path, funcs: dict) -> str:
    """An ``engine.py`` whose function ``funcs[line]`` spans each line."""
    src = tmp_path / "engine.py"
    body, cur = [], 1
    for line, name in sorted(funcs.items()):
        body += ["pass"] * (line - 1 - cur) + [f"def {name}():", "    x = 1"]
        cur = line + 1
    src.write_text("\n".join(body) + "\n")
    return str(src)


def _recorded_log_against(path: str):
    log = parse_event_log(LOG)
    for job in log.jobs.values():
        if job.callsite:
            job.callsite = job.callsite.replace(RECORDED_PATH, path)
    return log


def test_recorded_callsites_resolve(tmp_path):
    """The recorded call sites name the engine module; resolved against a
    stand-in module whose functions cover those lines, each lands in the
    function that spans it."""
    sites = {j.callsite for j in parse_event_log(LOG).jobs.values()}
    # the writer-thread snapshot jobs carry no call site
    assert None in sites
    assert all(s.startswith(f"collect at {RECORDED_PATH}:")
               for s in sites if s)
    assert {int(s.rsplit(":", 1)[1]) for s in sites if s} == set(RECORDED_FUNCS)
    funcs = {line: f"f{i}" for i, line in enumerate(sorted(RECORDED_FUNCS))}
    log = _recorded_log_against(_stand_in_engine(tmp_path, funcs))
    for job in log.jobs.values():
        if job.callsite:
            line = int(job.callsite.rsplit(":", 1)[1])
            assert resolve_callsite(job.callsite) == ("engine.py", funcs[line])


# --------------------------------------------------------------------------
# call site -> engine stage
# --------------------------------------------------------------------------

def test_select_functions_exist_in_engine():
    """A renamed engine function would silently move its jobs from select
    to delta; the stage split names functions the engine still has."""
    names = {name for _, _, name in _function_spans(ENGINE)}
    assert SELECT_FUNCS <= names, sorted(SELECT_FUNCS - names)


def test_stage_of_by_caller(tmp_path):
    path = _stand_in_engine(tmp_path, {3: "_politeness_select",
                                       6: "_run_epoch_body"})
    tables = tmp_path / "tables.py"
    tables.write_text("def write():\n    x = 1\n")
    assert stage_of(Job(1, 0, callsite=f"collect at {path}:3")) == "select"
    assert stage_of(Job(2, 0, callsite=f"collect at {path}:6")) == "delta"
    assert stage_of(Job(3, 0, callsite=f"save at {tables}:2")) == "write"
    assert stage_of(Job(4, 0)) == "write"


def test_recorded_epoch_breakdown(tmp_path):
    """The recorded epoch: 4 jobs number the fetch set (select), the one
    dirty-bucket collect runs as 15 jobs (delta), and the 12 jobs of the
    writer threads have no call site (write)."""
    log = _recorded_log_against(_stand_in_engine(tmp_path, RECORDED_FUNCS))
    spans = _spans()
    epoch = next(s for s in spans if s.name == "engine.epoch")
    jobs = assign_jobs(spans, log.jobs.values())[epoch.span_id]
    counts = {st: sum(stage_of(j) == st for j in jobs)
              for st in ("select", "delta", "write")}
    assert counts == {"select": 4, "delta": 15, "write": 12}
    b = epoch_breakdown(log, epoch, jobs)
    assert b["epoch_s"] == pytest.approx((epoch.end_ms - epoch.start_ms) / 1e3)
    assert b["jobs"] == len(jobs) == 31
    assert b["tasks"] == job_totals(log, jobs)["tasks"] > 0
    covered = covered_ms(clipped(jobs, epoch)) / 1e3
    assert b["driver_s"] == pytest.approx(b["epoch_s"] - covered)
    assert 0 < b["driver_s"] < b["epoch_s"]
    for st in ("select", "delta", "write"):
        assert 0 < b[f"{st}_s"] <= covered + 1e-9
    # the stages together cover what the epoch's jobs cover
    assert b["select_s"] + b["delta_s"] + b["write_s"] >= covered - 1e-9


# --------------------------------------------------------------------------
# per-span sums
# --------------------------------------------------------------------------

def test_per_span_sums_equal_log_totals():
    log = parse_event_log(LOG)
    spans = _spans()
    owned = assign_jobs(spans, log.jobs.values())
    per_span = [job_totals(log, jobs) for jobs in owned.values()]
    tasks = _raw_events("SparkListenerTaskEnd")
    assert sum(t["tasks"] for t in per_span) == len(tasks)
    assert sum(t["jobs"] for t in per_span) == len(log.jobs)
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in tasks)
    assert sum(t["executor_run_s"] for t in per_span) == pytest.approx(run_ms / 1e3)
    written = sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                  for e in tasks)
    assert sum(t["shuffle_write_mb"] for t in per_span) == pytest.approx(
        written / 2**20)
    assert all(t["task_failures"] == 0 for t in per_span)


def test_covered_time_merges_overlaps():
    assert covered_ms([]) == 0
    assert covered_ms([(0, 10), (5, 20), (30, 40)]) == 30
    span = Span(0, "s", 10, 35)
    jobs = [Job(1, 0, end_ms=15), Job(2, 30, end_ms=50)]
    assert clipped(jobs, span) == [(10, 15), (30, 35)]
    assert covered_ms(clipped(jobs, span)) == 10
