"""Tests of the benchmark's own logic: the event-log ledger on a tiny recorded
log, and the correctness tally (including a negative control).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tests")]

import ledger  # noqa: E402
import run  # noqa: E402

# Recorded from a local[2] session: pass "7", group "tiny.agg" runs two
# build-phase jobs (a count) and two action jobs (an aggregate; the second
# lists the first's map stage again as skipped), group "tiny.save" one job
# that writes two text files.
LOG = os.path.join(HERE, "fixtures", "tiny_eventlog.json")


def _events(kind):
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


def _segments(jobs):
    """Benchmark-side segments that enclose the recorded jobs with gaps."""
    by_id = {j.job_id: j for j in jobs}
    seg = lambda job, phase, a, b, pad: SimpleNamespace(  # noqa: E731
        job=job, phase=phase,
        start_ms=by_id[a].start_ms - pad, end_ms=by_id[b].end_ms + pad,
    )
    return [
        seg("agg", "build", 0, 1, 50),
        seg("agg", "action", 2, 3, 20),
        seg("save", "action", 4, 4, 5),
    ]


def test_read_jobs_attaches_tasks_and_labels():
    jobs = ledger.read_jobs(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4]
    assert [(j.name, j.phase, j.pass_id) for j in jobs] == [
        ("agg", "build", "7"), ("agg", "build", "7"),
        ("agg", "action", "7"), ("agg", "action", "7"),
        ("save", "action", "7"),
    ]
    assert [len(j.tasks) for j in jobs] == [2, 1, 2, 1, 2]
    assert all(j.end_ms >= j.start_ms for j in jobs)


def test_pass_metrics_match_raw_task_sums():
    jobs = ledger.read_jobs(LOG)
    segs = _segments(jobs)
    m = ledger.pass_metrics(jobs, 7, segs, cores=2,
                            facade_metric={"save": "mapreduce.save_s"})
    tasks = [e["Task Metrics"] for e in _events("SparkListenerTaskEnd")]
    run_s = sum(t["Executor Run Time"] for t in tasks) / 1000
    assert m["exec.task_run_s"] == run_s
    assert m["exec.task_cpu_s"] == sum(t["Executor CPU Time"] for t in tasks) / 1e9
    assert m["exec.offcpu_s"] == m["exec.task_run_s"] - m["exec.task_cpu_s"]
    assert m["shuffle.write_mb"] == sum(
        t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks) / 1e6
    assert m["sinks.output_files"] == 2
    assert m["sinks.output_mb"] == 408 / 1e6
    assert m["operators.build_jobs"] == 2
    assert (m["exec.jobs"], m["exec.tasks"]) == (3, 5)
    # the segments add 2*50 + 2*20 + 2*5 ms around the jobs; the build
    # segment holds two jobs with a gap between them
    j = {x.job_id: x for x in jobs}
    wall = sum(s.end_ms - s.start_ms for s in segs)
    build_wall = segs[0].end_ms - segs[0].start_ms
    build_jobs = (j[0].end_ms - j[0].start_ms) + (j[1].end_ms - j[1].start_ms)
    assert m["operators.build_s"] == build_wall / 1000
    assert abs(m["operators.build_job_s"] - build_jobs / 1000) < 1e-9
    assert abs(m["operators.plan_s"] - (build_wall - build_jobs) / 1000) < 1e-9
    assert m["exec.s"] == (wall - build_wall) / 1000
    covered = sum(x.end_ms - x.start_ms for x in jobs)  # no overlaps here
    assert abs(m["driver.idle_s"] - (wall - covered) / 1000) < 1e-9
    assert abs(m["exec.core_busy_ratio"] - run_s / (2 * wall / 1000)) < 1e-9
    assert m["mapreduce.save_s"] == (segs[2].end_ms - segs[2].start_ms) / 1000
    assert m["mapreduce.df_wordcount_s"] == 0
    assert ledger.pass_metrics(jobs, 8, [], 2, {})["exec.jobs"] == 0


def test_query_rows_split_the_pass():
    jobs = ledger.read_jobs(LOG)
    rows = ledger.query_rows(jobs, 7, _segments(jobs), cores=2)
    assert [r["job"] for r in rows] == ["agg", "save"]
    assert [r["exec.jobs"] for r in rows] == [2, 1]
    assert rows[0]["operators.build_jobs"] == 2


def test_result_hash_is_order_insensitive():
    a = run.result_hash(["w", "n"], [("x", 1), ("y", 2)])
    assert a == run.result_hash(["n", "w"], [(2, "y"), (1, "x")])
    assert a != run.result_hash(["w", "n"], [("x", 1), ("y", 3)])


def test_wrong_expected_hash_counts_as_mismatch():
    """Negative control: a result checked against a wrong expected hash
    shows up in result_mismatches, and the run is not correct."""
    good = run.result_hash(["k"], [("a",)])
    tally = run.Tally(attempted=2)
    tally.check("q", good, good)
    tally.check("q", good, "0" * 64)
    assert tally.result_mismatches == 1
    assert tally.mismatches == {"q": 1}
    assert tally.failed_ratio == 0
