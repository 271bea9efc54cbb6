"""Spark-free tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    attribute_jobs,
    jobs_under,
    percentile,
    read_event_log,
    self_times,
    tail_percentile,
)

# the charsets BENCHMARK.json allows for metric/workload names and units
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


@pytest.mark.parametrize(
    "n, p",
    [(53, 80.0), (50, 80.0), (49, 75.0), (40, 75.0), (39, 50.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9), (20, 50.0), (19, None),
     (0, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        # the rule itself: at least 10 samples lie strictly above the rank
        import math

        assert n - math.ceil(n * p / 100 - 1e-9) >= 10


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 54)]  # 1..53
    assert percentile(xs, 50) == 27.0
    assert percentile(xs, 80) == 43.0  # 10 samples (44..53) beyond it
    assert percentile([3.0], 99) == 3.0


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),   # overlaps a: [1, 5] covered once
        Span(3, "c", 8.0, 12.0, parent=0),  # clipped to [8, 10]
        Span(4, "a.x", 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1)


def test_tracer_nests_and_disabled_is_noop():
    tr = Tracer()
    f = tr.wrap("outer", lambda: tr.wrap("inner", lambda: 7)())
    assert f() == 7
    outer, inner = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    off = Tracer(enabled=False)
    assert off.wrap("x", lambda: 1)() == 1 and off.spans == []


def _ev(**kw):
    return json.dumps(kw)


CANNED = [
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1500, "Stage IDs": [0, 1]}),
    _ev(Event="SparkListenerTaskEnd", **{
        "Stage ID": 0,
        "Task Info": {"Accumulables": [
            {"Name": "data sent to Python workers", "Update": "100"},
            {"Name": "number of output rows", "Update": "5"},
        ]},
        "Task Metrics": {
            "Executor Run Time": 250, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        },
    }),
    _ev(Event="SparkListenerTaskEnd", **{
        "Stage ID": 1, "Task Info": {"Accumulables": []},
        "Task Metrics": {
            "Executor Run Time": 750,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 30},
        },
    }),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2600}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 4200, "Stage IDs": [2]}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 9000, "Stage IDs": [3]}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 20000, "Stage IDs": [4]}),
    "",
]


def test_event_log_totals_per_job():
    jobs = read_event_log(CANNED)
    j = jobs[0]
    assert (j.submit, j.end, j.tasks) == (1.5, 2.6, 2)
    assert j.task_s == pytest.approx(1.0)
    assert (j.shuffle_write, j.shuffle_read, j.spill, j.python_bytes) == (40, 40, 10, 100)
    assert jobs[1].tasks == 0 and jobs[1].end is None


def test_jobs_go_to_innermost_covering_span():
    spans = [
        Span(0, "round", 1.0, 10.0),
        Span(1, "commit_many", 4.0, 5.0, parent=0),
        Span(2, "commit", 4.1, 4.5, parent=1),
        Span(3, "other", 12.0, 13.0),
    ]
    owned = attribute_jobs(spans, read_event_log(CANNED))
    assert owned == {0: [0, 2], 2: [1], -1: [3]}
    assert sorted(jobs_under(spans, owned, 0)) == [0, 1, 2]
    assert jobs_under(spans, owned, 1) == [1]


def test_benchmark_json_names_units_and_layout():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names), [n for n in names if not valid_name(n)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert valid_unit(m["unit"]) and m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    # the runner emits exactly the declared metrics with the declared units
    assert {w["name"] for w in spec["workloads"]} == set(run.SPEC["workloads"])
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS


def test_name_charset_rejects_bad_names():
    assert valid_name("catalog.commit.url_seen_s")
    assert not valid_name("_leading")
    assert not valid_name("has space")
    assert not valid_name("x" * 65)
    assert valid_unit("1/s") and valid_unit("%") and not valid_unit("m s")
