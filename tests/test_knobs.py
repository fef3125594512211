"""KB_* knobs: a value that is not an integer (integer knobs) or not 0/1
(flag knobs) fails at the site that reads the knob with a typed error
naming the variable and the value."""

from __future__ import annotations

import importlib

import pytest

from kinbaku_spark.exceptions import BadKnob, KinbakuSparkError


def _module(name):
    return importlib.import_module(f"kinbaku_spark.{name}")


def _duplicate_clusters(spark, sf_dir):
    pairs = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    _module("operators.dedup").duplicate_clusters(docs, pairs)


READERS = {
    "KB_BROADCAST_BOUND": lambda spark, sf_dir: _module("plans.hints").broadcast_bound(),
    "KB_CACHE_TABLES": lambda spark, sf_dir: _module("sources.tables").load_table(
        spark, sf_dir, "nation"
    ),
    "KB_RELIABLE_CHECKPOINT": lambda spark, sf_dir: _module("plans.checkpoints").reliable_enabled(),
    "KB_CC_LOCAL_THRESHOLD": _duplicate_clusters,
    "KB_TRI_BLOCKS": lambda spark, sf_dir: importlib.reload(_module("operators.triangles")),
    "KB_WEDGE_SAMPLE_PPM": lambda spark, sf_dir: _module(
        "queries.graphmetrics_ext"
    ).g_transitivity(spark, sf_dir),
}


@pytest.mark.parametrize("name", sorted(READERS))
def test_non_integer_knob_raises_typed_error(name, spark, sf_dir, monkeypatch):
    monkeypatch.setenv(name, "12x")
    try:
        with pytest.raises(BadKnob, match=f"{name}.*'12x'") as err:
            READERS[name](spark, sf_dir)
    finally:
        monkeypatch.delenv(name)
        if name == "KB_TRI_BLOCKS":
            READERS[name](spark, sf_dir)  # restore the module-level default
    assert isinstance(err.value, KinbakuSparkError) and isinstance(err.value, ValueError)


@pytest.mark.parametrize("raw, on", [(None, False), ("", False), ("0", False), ("1", True)])
def test_flag_knob_values(raw, on, monkeypatch):
    from kinbaku_spark.knobs import env_flag

    if raw is None:
        monkeypatch.delenv("KB_SOME_FLAG", raising=False)
    else:
        monkeypatch.setenv("KB_SOME_FLAG", raw)
    assert env_flag("KB_SOME_FLAG") is on
