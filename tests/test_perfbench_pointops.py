"""The graph_point_ops benchmark's own checker, run in the default tier:
OpStream sessions over a small resident supplier→part graph written by
perfbench's generator, every answer checked against pointops.GraphModel the
way perfbench/run.py checks it. Covers the per-key path (ROWS_PER_MISS = 0)
and the ski-rental default, under which the sessions buy both tables."""

from __future__ import annotations

import pytest

from kinbaku_spark import graph as graph_mod
from kinbaku_spark.graph import Graph
from kinbaku_spark.sources import tables
from perfbench import datagen, expected
from perfbench import run as bench
from perfbench.pointops import OpStream

SESSIONS = 3


@pytest.fixture(scope="module")
def point_graph(spark, tmp_path_factory):
    data = str(tmp_path_factory.mktemp("pointops"))
    datagen.write_tables(data, seed=3, sf=0.001)
    edges = tables.supplier_part_edges(spark, data).persist()
    nodes = tables.supplier_part_nodes(spark, data).persist()
    edges.count()
    nodes.count()
    yield nodes, edges, expected.graph_edges(data)
    nodes.unpersist()
    edges.unpersist()


@pytest.mark.parametrize("price", [0, None], ids=["per-key", "default"])
def test_opstream_sessions_match_graph_model(spark, point_graph, monkeypatch, price):
    nodes, edges, weights = point_graph
    if price is not None:
        monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", price)
    model = bench.graph_model(weights)
    stream = OpStream(model, seed=7)
    wrong, held = [], []
    for _ in range(SESSIONS):
        g = Graph(spark, nodes=nodes, edges=edges)
        model.reset()
        for op, args, _ in stream.session():
            want = model.expect(op, args)
            got = bench.POINT_CALLS[op](g, args)
            if not bench.same_answer(got, want):
                wrong.append((op, args, got, want))
            if op == "add_edge":
                model.add_edge(args[0], args[1], args[2]["weight"])
            elif op == "remove_edge":
                model.remove_edge(*args)
        held.append((g._nodes_complete, g._edges_complete))
    assert wrong == []
    assert held == [(price is None, price is None)] * SESSIONS
