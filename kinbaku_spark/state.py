"""One registry for the engine's derived session state.

Resident base tables, the stored graph and its derived tables, the dedup
indexes, the k-means assignment and memoized scalars are built once and
shared by every query. An entry is keyed by (Spark application id, sf_dir,
name) and stores the fingerprint of the parquet tables its build read; when
one of them is rewritten, the next :func:`shared` call unpersists the old
value and rebuilds it. One reentrant lock is held during builds, so a value
is built once however many threads ask for it, and a build may itself call
:func:`shared` (``dup_cluster_labels`` → ``shingle_state``).
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.RLock()
_REGISTRY: dict[tuple[str, str, str], tuple[tuple, Any]] = {}


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
    """Unpersist every DataFrame in the registry (tuple members too) and empty it."""
    with _LOCK:
        for _, value in _REGISTRY.values():
            _release(value)
        _REGISTRY.clear()


def _release(value: Any) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            try:
                df.unpersist()  # a pinned (checkpointed) value frees with its RDD
            except Exception:
                pass
