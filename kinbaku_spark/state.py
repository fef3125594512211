"""One registry for the engine's derived session state.

Resident base tables, the stored graph and its derived tables, the dedup
indexes, the k-means assignment and memoized scalars are built once and
shared by every query. An entry is keyed by (Spark application id, sf_dir,
name) and stores the fingerprint of the parquet tables its build read; when
one of them is rewritten, the next :func:`shared` call unpersists the old
value and rebuilds it. One reentrant lock is held during builds, so a value
is built once however many threads ask for it, and a build may itself call
:func:`shared` (``dup_cluster_labels`` → ``shingle_state``).

Beside it, under the same lock, one read-only record snapshot per resident
table and store column: the entries a ``graph._Records`` fetched whole, keyed
by (Spark application id, RDD id of the table's cached column buffers,
column). Every record store over the same resident table holds them with no
job (:func:`snapshot`). An entry lives only while its RDD is persisted: once
the table is unpersisted, the next lookup drops it.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Sequence

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.RLock()
_REGISTRY: dict[tuple[str, str, str], tuple[tuple, Any]] = {}
# (application id, cached column buffers' RDD id, store column) -> the
# snapshot a record store published; never mutated once published
_SNAPSHOTS: dict[tuple[str, int, str], Any] = {}


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    """(sf_dir, table, latest parquet mtime_ns), -1 when the file is missing."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            mt = max(
                (e.stat().st_mtime_ns for e in os.scandir(path)),
                default=0,
            )
        else:
            mt = os.stat(path).st_mtime_ns
    except OSError:
        mt = -1
    return (sf_dir, table, mt)


def fingerprint(sf_dir: str, tables: Sequence[str]) -> tuple:
    return tuple(_table_fingerprint(sf_dir, t) for t in tables)


def shared(spark: SparkSession, sf_dir: str, name: str, build: Callable, inputs: Sequence[str]):
    """Entry ``name`` of sf_dir: ``build()`` on first use, and again once
    any of the ``inputs`` tables has been rewritten."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    fp = fingerprint(sf_dir, inputs)
    with _LOCK:
        hit = _REGISTRY.get(key)
        if hit is not None and hit[0] == fp:
            return hit[1]
        if hit is not None:
            # unpersist before the rebuild: Spark's cache manager would
            # otherwise serve the stale cached plan to a re-read of the path
            del _REGISTRY[key]
            _release(hit[1])
        value = build()
        _REGISTRY[key] = (fp, value)
        return value


def reset() -> None:
    """Unpersist every DataFrame in the registry (tuple members too) and
    empty it and the record snapshots."""
    with _LOCK:
        for _, value in _REGISTRY.values():
            _release(value)
        _REGISTRY.clear()
        _SNAPSHOTS.clear()


def resident_buffers(sc: SparkContext, plan) -> list[int] | None:
    """The RDD ids of the cached column buffers that the JVM logical
    ``plan`` reads, one per ``InMemoryRelation`` leaf (a resident table's
    own plan is that one leaf), read with no job; None once any of them is
    not materialized or no longer persisted. A Dataset keeps the plan it
    was optimized with, so after ``unpersist()`` its plan still reads the
    released buffers: only this check tells."""
    persisted = sc._jsc.sc().getPersistentRDDs()
    leaves = plan.collectLeaves()
    ids = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "InMemoryRelation":
            continue
        cache = leaf.cacheBuilder()
        # checked first: cachedColumnBuffers() of a released cache builds
        # and persists new buffers
        if not cache.isCachedColumnBuffersLoaded():
            return None
        rdd = cache.cachedColumnBuffers().id()
        if not persisted.contains(rdd):
            return None
        ids.append(rdd)
    return ids


def _live_snapshots(sc: SparkContext) -> str:
    """Drop the snapshots of other applications and of RDDs no longer
    persisted; return this application's id. Called under ``_LOCK``."""
    app = sc.applicationId
    persisted = sc._jsc.sc().getPersistentRDDs()
    for key in [k for k in _SNAPSHOTS if k[0] != app or not persisted.contains(k[1])]:
        del _SNAPSHOTS[key]
    return app


def snapshot(sc: SparkContext, rdd: int | None, col: str):
    """The snapshot published for column ``col`` of the resident table
    whose cached column buffers are RDD ``rdd``, or None (always for
    ``rdd`` None: no resident table). Every lookup first drops the
    snapshots of released tables."""
    with _LOCK:
        return _SNAPSHOTS.get((_live_snapshots(sc), rdd, col))


def publish(sc: SparkContext, rdd: int, col: str, value) -> None:
    """Make ``value`` the snapshot of column ``col`` of the resident table
    whose cached column buffers are RDD ``rdd``. Readers share it, so it
    must never be mutated."""
    with _LOCK:
        _SNAPSHOTS[(_live_snapshots(sc), rdd, col)] = value


def drop_snapshots() -> None:
    """Forget every record snapshot; the tables stay persisted."""
    with _LOCK:
        _SNAPSHOTS.clear()


def _release(value: Any) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            try:
                df.unpersist()  # a pinned (checkpointed) value frees with its RDD
            except Exception:
                pass
