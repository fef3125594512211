"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
from pointops import GraphModel, OpStream, SESSION_OPS  # noqa: E402


# -- percentile rule -----------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 1000)]  # 999 samples: 9 beyond p99
    assert stats.beyond(len(samples), 99.0) == 9
    assert stats.reportable(samples, 99.0) is None
    samples.append(1000.0)  # 1000 samples: 10 beyond p99
    assert stats.beyond(len(samples), 99.0) == 10
    assert stats.reportable(samples, 99.0) == 990.0


# -- event-log fold --------------------------------------------------------------


def _task(stage, ok=True, cpu_ns=2_000_000_000, py=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {
            "Accumulables": [{"Name": "data sent to Python workers", "Update": str(py)}] if py else []
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 500,
            "Memory Bytes Spilled": 1,
            "Disk Bytes Spilled": 2,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
        },
    }


def _synthetic_log():
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q|a"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        _task(0), _task(1, ok=False, py=300), _task(1),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1300,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "q|a"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        _task(2),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000,
         "Stage IDs": [3], "Properties": {}},
        _task(3),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2100},
    ]


def test_fold_sums_work_per_job_group():
    folded = eventlog.fold_events(_synthetic_log())
    a = folded["q|a"]
    assert (a.jobs, a.stages, a.tasks, a.task_failures) == (2, 3, 4, 1)
    assert a.executor_cpu_s == 8.0 and a.gc_s == 2.0
    assert (a.shuffle_read_bytes, a.shuffle_write_bytes, a.spill_bytes) == (120, 160, 12)
    assert a.python_bytes == 300
    assert sorted(a.job_intervals_ms) == [(1000, 1400), (1300, 1600)]
    assert folded[""].jobs == 1 and folded[""].tasks == 1


def test_driver_gap_is_wall_minus_union_of_jobs():
    # wall 900..1800 ms, jobs cover 1000..1600 with an overlap: gap 0.3 s
    assert abs(eventlog.driver_gap_s(900, 1800, [(1000, 1400), (1300, 1600)]) - 0.3) < 1e-9
    assert eventlog.driver_gap_s(0, 1000, []) == 1.0


def test_fold_dir_reads_rolling_logs_and_drops_untagged(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in _synthetic_log()]
    (app / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(lines[6:]) + "\n")
    folded = eventlog.fold_dir(str(tmp_path))
    assert set(folded) == {"q|a"} and folded["q|a"].jobs == 2


# -- point-op model ---------------------------------------------------------------


def _model():
    nodes = {k: {"key": k, "index": i, "name": k, "age": 0, "score": 0.0}
             for i, k in enumerate(["P1", "P2", "P3", "S1", "S2"])}
    return GraphModel(nodes, {("S1", "P1"): 0.1, ("S1", "P2"): 0.2, ("S2", "P3"): 0.3})


def test_model_reads_see_the_sessions_writes():
    m = _model()
    assert m.expect("neighbors", ("S1",)) == ["P1", "P2"]
    m.add_edge("S1", "P3", 0.5)
    m.remove_edge("S1", "P1")
    assert m.expect("neighbors", ("S1",)) == ["P2", "P3"]
    assert m.expect("out_degree", ("S1",)) == 2
    assert m.expect("edge", ("S1", "P3")) == {"src": "S1", "dst": "P3", "type": 0, "weight": 0.5}
    assert m.expect("edge", ("S1", "P1")) is None
    assert m.expect("has_edge", ("S1", "P1")) is False
    # re-adding a removed stored edge, then removing an added one
    m.add_edge("S1", "P1", 0.9)
    m.remove_edge("S1", "P3")
    assert m.expect("neighbors", ("S1",)) == ["P1", "P2"]
    assert m.weight("S1", "P1") == 0.9
    m.reset()
    assert m.weight("S1", "P1") == 0.1 and not m.has_edge("S1", "P3")


def test_stream_is_seeded_and_targets_valid_keys():
    def run(seed):
        m = _model()
        stream = OpStream(m, seed)
        out = []
        for _ in range(3):
            m.reset()
            for op, args, raw in stream.session():
                if op in ("edge", "remove_edge"):
                    assert m.has_edge(*args[:2])
                out.append((op, args, raw))
                if op == "add_edge":
                    m.add_edge(args[0], args[1], args[2]["weight"])
                elif op == "remove_edge":
                    m.remove_edge(*args)
        return out

    ops = run(5)
    assert ops == run(5)
    assert len(ops) == 3 * SESSION_OPS
    assert sum(raw for _, _, raw in ops) == 3  # one read-after-write probe per session
    assert sum(op in ("add_edge", "remove_edge") for op, _, _ in ops) / len(ops) == 0.2


# -- input generator ---------------------------------------------------------------


def test_tables_are_seeded():
    a, b = datagen.make_tables(3, 0.001), datagen.make_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.make_tables(4, 0.001)["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


def test_zipf_prefers_low_ranks():
    from pointops import Zipf

    rng = random.Random(0)
    z = Zipf(range(1000), rng)
    draws = [z.draw(rng) for _ in range(5000)]
    top = z.items[0]
    assert draws.count(top) > 5000 / 20


def test_descendants_finds_grandchildren():
    import signal
    import subprocess

    import run

    child = subprocess.Popen(["sh", "-c", "sleep 30 & wait"], start_new_session=True)
    try:
        for _ in range(50):
            found = run.descendants(os.getpid())
            if len(found) >= 2:
                break
            time.sleep(0.1)
        assert child.pid in found and len(found) >= 2
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=10)


def test_proc_cpu_counts_busy_time():
    import run

    before = run.proc_cpu_s(os.getpid())
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert run.proc_cpu_s(os.getpid()) - before >= 0.2
    assert run.proc_cpu_s(2**22 + 1) == 0.0  # no such process
