"""bench.py's final stdout line must fit the 2000-char tail it is parsed
from, and a name the size guard drops from ``queries`` must still appear on
the line, in ``trimmed`` (the reported set is add-only)."""

from __future__ import annotations

import importlib
import json

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
