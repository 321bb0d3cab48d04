"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from spans import Span, Tracer, counters, covered_length, parse_event_log, self_times
from stats import MIN_BEYOND, Outcomes, percentile, samples_beyond, tail_percentile

DATA = Path(__file__).resolve().parent / "data"
HERE = Path(__file__).resolve().parents[1]


# -- percentile rule --------------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(40, 75) == 10
    assert samples_beyond(20, 50) == 10


@pytest.mark.parametrize(
    "n, q",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    xs = [float(i) for i in range(n)]
    got = tail_percentile(xs)
    if q is None:
        assert got is None
    else:
        assert got[0] == q
        assert sum(x > got[1] for x in xs) >= MIN_BEYOND


# -- failure accounting -------------------------------------------------------------


def test_outcomes_count_raises_and_failed_checks():
    o = Outcomes()
    assert o.run("ok", lambda: 1, lambda r: [[]]) == 1

    def boom():
        raise RuntimeError("x")

    assert o.run("raise", boom, lambda r: [[]]) is None
    o.run("bad", lambda: 2, lambda r: [["wrong value"]])
    o.run("multi", lambda: 3, lambda r: [[], ["miss"], []])

    def crash(_r):
        raise KeyError("k")

    o.run("crash", lambda: 4, crash)
    assert o.attempted == 1 + 1 + 1 + 3 + 1
    assert o.failed == 4
    assert o.failed_frac == pytest.approx(4 / 7)
    assert any(p.startswith("bad: wrong value") for p in o.problems)


def test_outcomes_empty_fraction_is_zero():
    assert Outcomes().failed_frac == 0.0


# -- spans and self time ------------------------------------------------------------


def _span(sid, start, end, parent=None):
    return Span(sid, sid, start, end, parent, "r")


def test_covered_length_merges_overlaps():
    assert covered_length([]) == 0
    assert covered_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert covered_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_union_of_children_only():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, "root"),
        _span("b", 3.0, 6.0, "root"),  # overlaps a
        _span("a1", 1.5, 2.5, "a"),  # grandchild: counts against a, not root
        _span("c", 9.0, 12.0, "root"),  # runs past the root: clipped
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["a1"] == pytest.approx(1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(3.0)


def test_tracer_nests_and_tags_job_groups():
    groups = []
    tr = Tracer("run", set_group=groups.append)
    with tr.span("outer") as o:
        with tr.span("inner", rows=3) as i:
            pass
    assert i.parent == o.span_id and o.parent is None
    assert i.attrs == {"rows": 3}
    assert groups == [o.span_id, i.span_id, o.span_id, None]
    assert [s.name for s in tr.spans] == ["inner", "outer"]
    assert all(s.run_id == "run" for s in tr.spans)


def test_disabled_tracer_records_nothing():
    groups = []
    tr = Tracer("run", set_group=groups.append, enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == [] and groups == []


# -- event log ----------------------------------------------------------------------


def _tasks():
    with open(DATA / "eventlog_small.jsonl") as f:
        return parse_event_log(f)


def test_event_log_tasks_carry_their_job_group():
    tasks = _tasks()
    by_group = {}
    for t in tasks:
        by_group.setdefault(t.group, []).append(t)
    assert set(by_group) == {"run/0", "run/1", None}
    # run/0: a two-stage shuffle job; run/1: a Python UDF job
    assert {t.stage for t in by_group["run/0"]} == {0, 1}
    assert all(t.python_bytes_sent == 0 for t in by_group["run/0"])
    assert sum(t.python_bytes_sent for t in by_group["run/1"]) > 0


def test_event_log_counters_sum_shuffle_and_skew():
    tasks = _tasks()
    c = counters(tasks, {"run/0"})
    # groupBy(id % 10) over 1000 rows in 2 partitions: 2 map + 2 reduce tasks,
    # and each map task's partial aggregate ships its 10 keys
    assert c.tasks == 4
    assert c.input_records == 1000
    assert c.shuffle_read_records == 20
    assert c.shuffle_write_bytes == c.shuffle_read_bytes == 364
    assert c.tasks_failed == 0
    # the longest stage is the map stage: tasks of 501 and 484 ms
    assert c.task_skew == pytest.approx(501 / 492.5)
    assert counters(tasks, {"run/1"}).python_bytes_sent == 2 * 4304
    assert counters(tasks, {"nope"}).tasks == 0


def test_event_log_failed_task_is_counted():
    lines = [
        '{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":7},"Properties":{"spark.jobGroup.id":"g"}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":7,"Task Info":{"Launch Time":0,"Finish Time":5,"Failed":true}}',
        "",
    ]
    (t,) = parse_event_log(lines)
    assert t.group == "g" and t.failed and t.duration_ms == 5
    assert counters([t], {"g"}).tasks_failed == 1


# -- child processes --------------------------------------------------------------

# Runs in its own interpreter, since becoming a subreaper changes the whole
# process. The shell exits at once and orphans its background sleep, which
# only the subreaper can then wait for; prints whether the sleep survived.
ORPHAN = """
import os, subprocess, sys, time
sys.path.insert(0, {here!r})
from stats import become_subreaper, reap_children
become_subreaper()
out = subprocess.run(["sh", "-c", "sleep {sleep} >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True).stdout
pid = int(out)
t = time.monotonic()
reap_children({timeout})
print(os.path.exists(f"/proc/{{pid}}"), round(time.monotonic() - t, 1))
"""


def _orphan(sleep: float, timeout: float) -> tuple[str, float]:
    code = ORPHAN.format(here=str(HERE), sleep=sleep, timeout=timeout)
    alive, waited = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True, timeout=30
    ).stdout.split()
    return alive, float(waited)


def test_reap_children_waits_for_an_orphaned_grandchild():
    alive, waited = _orphan(sleep=0.5, timeout=10)
    assert alive == "False"
    assert 0.3 <= waited < 5


def test_reap_children_kills_what_outlives_the_timeout():
    alive, waited = _orphan(sleep=60, timeout=0.3)
    assert alive == "False"
    assert waited < 5
