"""The engine-state registry (kinbaku_spark/state.py): derived state lives
in one place, is rebuilt when the parquet it read is rewritten, and is
built once however many threads ask for it."""

from __future__ import annotations

import ast
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from kinbaku_spark import state
from kinbaku_spark.sources.tables import load_table

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kinbaku_spark")
# _DHT_CACHE is keyed by the Huffman table's own bytes (no DataFrames);
# _PINNED is a per-call FIFO of pins, not keyed state
ALLOWED = {"state.py", "operators/jpeg.py:_DHT_CACHE", "operators/rank.py:_PINNED"}


def _tree(rel):
    with open(os.path.join(PKG, rel)) as fh:
        return ast.parse(fh.read())


def test_no_module_level_caches_outside_state():
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), PKG)
            if not f.endswith(".py") or rel in ALLOWED:
                continue
            for node in _tree(rel).body:
                if not isinstance(getattr(node, "value", None), (ast.Dict, ast.List)):
                    continue
                for t in getattr(node, "targets", [getattr(node, "target", None)]):
                    name = f"{rel}:{getattr(t, 'id', '')}"
                    if re.search(r"(_CACHE|_STATE|:_RESIDENT)$", name) and name not in ALLOWED:
                        found.append(name)
    assert found == []
    for rel in ("queries/dedup_state.py", "queries/kmeans_state.py", "queries/dedup.py"):
        defs = {n.name for n in _tree(rel).body if isinstance(n, ast.FunctionDef)}
        assert not defs & {"reset", "clear_corpus_count_cache"}, rel


def _write_embeddings(path, rows):
    ids, vecs = zip(*rows)
    vecs = pa.array(vecs, pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": vecs}), path)


def test_rewritten_table_rebuilds_resident_and_derived_state(spark, tmp_path, monkeypatch):
    from kinbaku_spark.queries.similarity import _query_vec

    monkeypatch.setenv("KB_CACHE_TABLES", "1")
    sf_dir, path = str(tmp_path), str(tmp_path / "embeddings.parquet")

    def resident_ids():
        return sorted(r.vec_id for r in load_table(spark, sf_dir, "embeddings").collect())

    _write_embeddings(path, [(0, [1.0, 2.0]), (1, [3.0, 4.0])])
    assert resident_ids() == [0, 1]
    assert _query_vec(spark, sf_dir) == [1.0, 2.0]

    later = os.stat(path).st_mtime_ns + 10**9
    _write_embeddings(path, [(0, [5.0, 6.0]), (7, [7.0, 8.0]), (9, [9.0, 1.0])])
    os.utime(path, ns=(later, later))
    assert resident_ids() == [0, 7, 9]
    assert _query_vec(spark, sf_dir) == [5.0, 6.0]


def test_concurrent_callers_share_one_build(spark, run_threads):
    builds, got = [], [None] * 16

    def build():
        builds.append(1)
        return object()

    def call(i):
        got[i] = state.shared(spark, "/no/such/sf", "threaded", build, ["documents"])

    run_threads(16, call)
    assert len(builds) == 1 and all(v is got[0] for v in got)


def test_reset_unpersists_dataframes_inside_tuples(spark):
    df = spark.range(3).persist()
    state.shared(spark, "/no/such/sf", "tuple", lambda: (df, 3), [])
    state.reset()
    assert not df.is_cached
