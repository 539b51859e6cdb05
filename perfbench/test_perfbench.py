"""The benchmark's own tests.

    python -m pytest perfbench -q

``test_smoke`` runs every workload end to end at a tiny size, traced and
untraced (about two minutes on a 4-core host)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spans import Tracer, parse_event_log  # noqa: E402


class FakeContext:
    """Records the job group each Spark job would carry."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, _description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_spans_tag_jobs_and_nest():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        assert sc.group == "span-0"
        tr.phase("a")
        assert sc.group == "span-1"
        with tr.span("inner"):
            assert sc.group == "span-2"
        assert sc.group == "span-1"
        tr.phase("b")
        assert sc.group == "span-3"
    assert sc.group is None
    names = {s.id: (s.name, s.parent) for s in tr.spans}
    assert names == {0: ("outer", None), 1: ("a", 0), 2: ("inner", 1), 3: ("b", 0)}
    outer = tr.spans[0]
    assert tr.spans[1].end <= tr.spans[3].start
    assert 0 <= tr.self_time(outer) <= outer.wall


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("x"):
        tr.phase("y")
    assert tr.spans == [] and tr.cost_s == 0.0


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    for stage, kind, run in [(0, "ShuffleMapTask", 10), (0, "ShuffleMapTask", 30),
                             (1, "ResultTask", 5), (2, "ResultTask", 99)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": "7"}]},
            "Task Metrics": {"Executor Run Time": run, "JVM GC Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                             "Input Metrics": {"Records Read": 3}},
        })
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    stats = parse_event_log(str(path))
    assert set(stats) == {4}
    s = stats[4]
    assert s.exchanges == 1
    assert s.shuffle_write_bytes == 300
    assert s.records_read == 9
    assert s.py_sent == 21
    assert s.task_skew == 30 / 20
    assert s.gc_share == 3 / 45


def test_smoke():
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    proc = subprocess.run([sys.executable, run, "--smoke"], capture_output=True,
                          text=True, timeout=1800)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
