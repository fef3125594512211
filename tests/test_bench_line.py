"""bench.py's final stdout line must fit the 2000-char tail it is parsed
from, and a name the size guard drops from ``queries`` must still appear on
the line, in ``trimmed`` (the reported set is add-only). The harness's
trace fold and JVM-counter columns, names mode and name check run here
without Spark."""

from __future__ import annotations

import importlib
import json
import os
from types import SimpleNamespace

import pytest


@pytest.fixture
def bench(monkeypatch):
    # importing bench.py defaults KB_CACHE_TABLES to "1" (resident tables);
    # pin it here so teardown restores the caller's environment
    monkeypatch.setenv("KB_CACHE_TABLES", "0")
    return importlib.import_module("bench")


def _timings(bench, seconds: float) -> dict[str, float]:
    names = bench.REPORTED + [f"x_extra_{i}" for i in range(20)]
    return {n: seconds + i * 0.01 for i, n in enumerate(names)}


def test_line_untrimmed_at_normal_timings(bench):
    timings = _timings(bench, 1.0)
    line = bench.stdout_line(timings, round(sum(timings.values()), 3), 0.1)
    obj = json.loads(line)
    assert len(line) <= 1950
    assert "trimmed" not in obj
    assert set(bench.REPORTED) <= set(obj["queries"])


def test_guard_marks_trimmed_names(bench):
    timings = _timings(bench, 10000.0)  # inflated: the full line overflows
    line = bench.stdout_line(timings, round(sum(timings.values()), 3), 0.1)
    obj = json.loads(line)
    assert len(line) <= 1950
    trimmed = obj["trimmed"]
    assert trimmed and not set(trimmed) & set(obj["queries"])
    # no name leaves the line: every reported name is timed or trimmed
    assert set(bench.REPORTED) <= set(obj["queries"]) | set(trimmed)
    # the slowest 8 are never trimmed; trimming goes fastest-first
    slowest8 = sorted(timings, key=lambda n: -timings[n])[:8]
    assert set(slowest8) <= set(obj["queries"])
    assert trimmed == sorted(trimmed, key=timings.get)
    kept = [n for n in obj["queries"] if n not in slowest8]
    assert max(timings[n] for n in trimmed) < min(timings[n] for n in kept)


def _job(job_id, group, stage, submit, done):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit,
         "Stage IDs": [stage], "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 2 * 10**9, "JVM GC Time": 500,
                          "Shuffle Read Metrics": {"Local Bytes Read": 2**20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
                          "Memory Bytes Spilled": 2**20},
         "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": "7"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": done},
    ]


def test_trace_columns_fold_two_job_groups(bench, tmp_path):
    """Two tagged runs of one query, plus untagged warm-up work, folded
    from an event log on disk into the per-run columns."""
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    events = (
        _job(0, None, 0, 0, 50)  # untagged warm-up
        + _job(1, "qa|cold", 1, 1_100, 1_600)
        + _job(2, "qa|cold", 2, 1_700, 1_900)
        + _job(3, "qa|warm", 3, 3_000, 3_400)
    )
    (app / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events))
    spans = {"qa|cold": (1_000.0, 1.0), "qa|warm": (3_000.0, 0.5)}  # (start ms, s)
    cols = bench.run_columns(spans, bench.fold_dir(str(tmp_path)))
    assert set(cols) == {"qa"} and set(cols["qa"]) == {"cold", "warm"}
    cold, warm = cols["qa"]["cold"], cols["qa"]["warm"]
    assert cold == {
        "wall_s": 1.0, "jobs": 2, "stages": 2, "tasks": 2, "task_failures": 0,
        "executor_cpu_s": 4.0, "gc_s": 1.0, "shuffle_read_mb": 2.0,
        "shuffle_write_mb": 4.0, "spill_mb": 2.0, "python_bytes": 14,
        # 1000 ms span, jobs cover 500 + 200 ms
        "driver_gap_s": 0.3,
    }
    assert (warm["jobs"], warm["tasks"], warm["wall_s"], warm["driver_gap_s"]) == (1, 1, 0.5, 0.1)


@pytest.fixture
def fake_engine(bench, monkeypatch, tmp_path):
    """bench.py with the engine stubbed out: no Spark, and BENCH_DETAIL.json
    redirected into ``tmp_path``."""
    ran = []
    monkeypatch.setattr(bench, "get_spark", lambda **kw: object())
    monkeypatch.setattr(bench, "load_tables", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "_force", lambda df: None)
    monkeypatch.setattr(
        bench, "QUERIES",
        {n: (lambda spark, sf, n=n: ran.append(n)) for n in
         ["q1_pricing_summary", "g_counts", "g_kcore", "x_extra"]},
    )
    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "BENCH_DETAIL.json"))
    return ran


def test_names_mode_never_writes_detail(bench, fake_engine, capsys):
    bench.main(["x_extra", "g_kcore"])
    assert not os.path.exists(bench.DETAIL_PATH)
    lines = [json.loads(s) for s in capsys.readouterr().out.splitlines()]
    assert [r["query"] for r in lines] == ["x_extra", "g_kcore"]
    assert all(set(r) == {"query", "best_s", "cold", "warm"} for r in lines)
    # same warm-up, then two runs per name
    assert fake_engine == ["q1_pricing_summary", "g_counts"] + ["x_extra"] * 2 + ["g_kcore"] * 2
    # the headline mode, by contrast, writes it
    bench.main([])
    with open(bench.DETAIL_PATH) as fh:
        assert set(json.load(fh)["queries"]) == {"q1_pricing_summary", "g_kcore"}


def test_trace_adds_compile_and_jit_deltas(bench, fake_engine, monkeypatch, tmp_path):
    """Under a trace each run's span carries its change in the JVM
    counters, and both land in that run's columns; the untagged warm-up
    reads no counter."""

    context = SimpleNamespace(setJobGroup=lambda *a: None, setLocalProperty=lambda *a: None)
    session = SimpleNamespace(sparkContext=context, stop=lambda: None)
    # cumulative (compiles, JIT s), read before and after each tagged run
    reads = iter([(100, 5.0), (130, 7.5), (130, 7.5), (131, 7.75)])
    monkeypatch.setattr(bench, "get_spark", lambda **kw: session)
    monkeypatch.setattr(bench, "jvm_counters", lambda spark: next(reads))
    cols = bench.measure(["x_extra"], str(tmp_path))
    cold, warm = cols["x_extra"]["cold"], cols["x_extra"]["warm"]
    assert (cold["codegen_compiles"], cold["jit_s"]) == (30, 2.5)
    assert (warm["codegen_compiles"], warm["jit_s"]) == (1, 0.25)
    assert cold["jobs"] == 0  # an empty event log folds to no work
    assert next(reads, None) is None
    # untraced runs carry wall time only
    assert set(bench.measure(["x_extra"], None)["x_extra"]["warm"]) == {"wall_s"}


def test_unknown_name_fails_clearly(bench, fake_engine, capsys, monkeypatch):
    def no_spark(**kw):
        raise AssertionError("Spark must not start for a bad name")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(["g_kcore", "no_such_query"])
    assert exc.value.code == 2
    assert "unknown query name(s): no_such_query" in capsys.readouterr().err


def test_event_log_appends_to_submit_args(bench, monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 2g pyspark-shell")
    log_dir = bench.enable_event_log()
    try:
        args = os.environ["PYSPARK_SUBMIT_ARGS"]
        assert args.startswith("--driver-memory 2g --conf spark.eventLog.enabled=true")
        assert f"spark.eventLog.dir=file://{log_dir}" in args
        assert "spark.eventLog.compress=false" in args
        assert args.endswith(" pyspark-shell") and args.count("pyspark-shell") == 1
    finally:
        os.rmdir(log_dir)
