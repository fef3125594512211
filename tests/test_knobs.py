"""Integer KB_* knobs: a non-integer value fails at the site that reads
the knob with a typed error naming the variable and the value."""

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
