"""The graph_point_ops benchmark's own checker, run in the default tier:
OpStream sessions over a small resident supplier→part graph written by
perfbench's generator, every answer checked against pointops.GraphModel the
way perfbench/run.py checks it. Covers the per-key path (a ``cache_len``
below both tables' row counts) and the default, under which the first
session holds both tables at their first miss, one whole fetch each, and
every later session holds their shared snapshot and runs no job. Each case
persists tables of its own, so no case shares another's snapshot."""

from __future__ import annotations

import pytest

from kinbaku_spark.graph import Graph
from kinbaku_spark.sources import tables
from perfbench import datagen, expected
from perfbench import run as bench
from perfbench.pointops import OpStream
from test_point_blocks import _jobs

SESSIONS = 3


@pytest.fixture(scope="module")
def point_data(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("pointops"))
    datagen.write_tables(data, seed=3, sf=0.001)
    return data, expected.graph_edges(data)


@pytest.fixture
def point_graph(spark, point_data):
    """The supplier→part tables of ``point_data``, resident for one test."""
    data, weights = point_data
    edges = tables.supplier_part_edges(spark, data).persist()
    nodes = tables.supplier_part_nodes(spark, data).persist()
    rows = min(edges.count(), nodes.count())
    yield nodes, edges, weights, rows
    nodes.unpersist()
    edges.unpersist()


@pytest.mark.parametrize("per_key", [True, False], ids=["per-key", "default"])
def test_opstream_sessions_match_graph_model(spark, point_graph, per_key):
    nodes, edges, weights, rows = point_graph
    kw = {"cache_len": rows - 1} if per_key else {}
    model = bench.graph_model(weights)
    stream = OpStream(model, seed=7)
    wrong, held, jobs = [], [], []

    def session(g):
        for op, args, _ in stream.session():
            want = model.expect(op, args)
            got = bench.POINT_CALLS[op](g, args)
            if not bench.same_answer(got, want):
                wrong.append((op, args, got, want))
            if op == "add_edge":
                model.add_edge(args[0], args[1], args[2]["weight"])
            elif op == "remove_edge":
                model.remove_edge(*args)

    for _ in range(SESSIONS):
        g = Graph(spark, nodes=nodes, edges=edges, **kw)
        model.reset()
        jobs.append(_jobs(spark, lambda: session(g))[1])
        held.append((g._node_recs.held, g._edge_recs.held))
    assert wrong == []
    assert held == [(not per_key, not per_key)] * SESSIONS
    if per_key:
        assert min(jobs) > 0
    else:
        assert jobs == [2] + [0] * (SESSIONS - 1)
