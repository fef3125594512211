"""Incremental connected components over a stream of edge batches.

The batch operator the reference cannot express at all: its graph is a
single-process mmap (kinbaku graph.py), so component maintenance means
re-walking the BSTs; here the labels are a parquet state table and every
micro-batch pays work proportional to the BATCH, not the graph.

Algorithm (textbook incremental CC by label contraction):

1. Load the label state (key → component label, a fixpoint: label = min
   key of the component) if it exists.
2. The batch's endpoints resolve their current labels; unseen endpoints
   label themselves.
3. Every batch edge becomes a CONTRACTION edge between two labels. The
   contraction graph is at most batch-sized — min-label propagation runs
   to fixpoint on it (operators/cc_kernel.min_label_fixpoint via
   operators/dedup.duplicate_clusters, the shared convergent kernel:
   pointer-doubling shortcutting, O(log diameter) rounds, raises rather
   than return unconverged labels), producing an (old_label → new_label)
   map.
4. The full label table remaps through that map with a size-gated
   broadcast join (map-side, no shuffle of the state table) and commits a
   NEW state version.

Invariant after every batch: labels equal the batch-mode
``Graph.connected_components`` of the union of all edges ingested so far —
locked by tests/test_streaming_cc.py across arbitrary batch splits,
including a single batch carrying a multi-hundred-hop contraction chain
(the adversarial shape the round-4 bounded kernel silently truncated).

Crash safety (ADVICE r04): the state is VERSIONED — each batch writes
``state_v{n}/`` under the state root, then atomically swings the
``_CURRENT`` pointer file (write-temp + ``os.replace``, atomic on POSIX).
A crash mid-write leaves ``_CURRENT`` on the previous complete version, so
a replayed batch re-merges against intact prior state (re-merge is
idempotent); GC runs only after the pointer swing and keeps ONE superseded
version as a grace window for lazy ``cc_read_state`` handles.
At 100 TB the state is a Delta table and this becomes MERGE INTO + the
transaction log — the pointer file is the single-file-system stand-in for
that log, same pattern as the MinHash band index (streaming/windows.py).

Scale: step 3 is the whole trick — merges happen on the label-contraction
graph (≤ |batch| nodes), never on the accumulated graph. Step 4's remap is
the one full-state pass. Broadcast hints on the batch-sized tables are
size-gated (plans/hints.size_hint) on the measured batch-edge count: an
availableNow drain with no maxFilesPerTrigger makes one micro-batch as
large as the whole input, exactly the shape an unconditional hint would
OOM on (ADVICE r04).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from kinbaku_spark.graph import endpoint_keys
from kinbaku_spark.plans.hints import size_hint

_POINTER = "_CURRENT"


def _current_state_path(labels_dir: str) -> str | None:
    """Directory of the newest COMMITTED state version, or None.

    Raises on a LEGACY layout (parquet files directly in ``labels_dir``
    with no pointer — the pre-versioning format): treating it as empty
    would silently discard the accumulated labels, exactly the
    silent-wrongness class the versioned format exists to eliminate."""
    ptr = os.path.join(labels_dir, _POINTER)
    if not os.path.isfile(ptr):
        if os.path.isdir(labels_dir) and any(
            f.endswith(".parquet") for f in os.listdir(labels_dir)
        ):
            raise ValueError(
                f"{labels_dir} holds a legacy flat-parquet CC state (no"
                f" {_POINTER} pointer); migrate it by moving the parquet"
                f" files into {labels_dir}/state_v000000/ and writing"
                f" 'state_v000000' to {labels_dir}/{_POINTER}"
            )
        return None
    with open(ptr) as f:
        name = f.read().strip()
    path = os.path.join(labels_dir, name)
    if not os.path.isdir(path):
        # A pointer naming a missing directory is corruption, not an empty
        # state: treating it as empty would let the next _commit_state
        # (prev=None) GC every surviving state_v* directory — the same
        # silent-reset class the legacy-layout guard above raises on.
        raise ValueError(
            f"{ptr} names {name!r} but {path} does not exist; the CC state"
            f" is corrupt (pointer without its target). Restore the"
            f" directory or repoint {_POINTER} at a surviving state_v*"
        )
    return path


def cc_read_state(spark: SparkSession, labels_dir: str) -> DataFrame | None:
    """Read the committed label state (key string, label string); None if
    no batch has committed yet.

    The returned DataFrame is LAZY and bound to the version directory
    current at call time; commits keep one superseded version as a grace
    window, so the handle survives exactly ONE subsequent
    ``cc_ingest_batch`` — pin it (``localCheckpoint``) or collect before
    ingesting further batches."""
    path = _current_state_path(labels_dir)
    return None if path is None else spark.read.parquet(path)


def _commit_state(
    merged: DataFrame, labels_dir: str, retain_versions: int = 1
) -> None:
    """Write ``merged`` as a new state version and atomically swing the
    pointer; GC versions older than the ``retain_versions`` most recently
    superseded ones (the grace window for lazy cc_read_state handles) only
    after the swing. A reader lagging more than ``retain_versions`` commits
    fails loudly at collect time (its parquet directory is gone), never
    silently reads stale-then-missing data."""
    if retain_versions < 0:
        raise ValueError(f"retain_versions must be >= 0, got {retain_versions}")
    os.makedirs(labels_dir, exist_ok=True)
    prev = _current_state_path(labels_dir)
    ver = (
        0
        if prev is None
        else int(os.path.basename(prev).rsplit("_v", 1)[1]) + 1
    )
    new_name = f"state_v{ver:06d}"
    # writing to a NEW directory: the plan may read the previous version
    # while writing — no read-own-overwrite hazard, no staging checkpoint
    merged.write.mode("overwrite").parquet(os.path.join(labels_dir, new_name))
    tmp = os.path.join(labels_dir, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, os.path.join(labels_dir, _POINTER))
    # keep the new version plus the retain_versions highest-numbered
    # versions BELOW it; anything above it is a crashed batch's orphan
    # partial output (never pointed at) and is GC'd too
    # compare NUMERIC versions, matching how ver is derived: name-string
    # order breaks past 6 digits ('state_v1000000' < 'state_v0999999'
    # lexicographically), which would GC the real grace-window version as
    # a crashed-batch orphan (ADVICE r06 #4)
    def _vnum(name: str) -> int:
        return int(name.rsplit("_v", 1)[1])

    below = sorted(
        (
            e
            for e in os.listdir(labels_dir)
            if e.startswith("state_v") and _vnum(e) < ver
        ),
        key=_vnum,
    )
    keep = {new_name}
    if retain_versions:
        keep.update(below[-retain_versions:])
    for entry in os.listdir(labels_dir):
        if entry.startswith("state_v") and entry not in keep:
            shutil.rmtree(os.path.join(labels_dir, entry), ignore_errors=True)


def cc_ingest_batch(
    batch_df: DataFrame, labels_dir: str, retain_versions: int = 1
) -> None:
    """One incremental-CC step: merge a batch of (src, dst) edges into the
    versioned label state at ``labels_dir`` (parquet, schema ``key string,
    label string``). Isolated new nodes (self-loop-only or endpoint-only
    rows) still enter the state with their own key as label.

    ``retain_versions`` is the grace window for concurrent lazy readers: a
    cc_read_state handle survives exactly that many subsequent ingests
    (default 1); a reader lagging further fails loudly at collect."""
    from kinbaku_spark.operators.dedup import duplicate_clusters

    spark = batch_df.sparkSession
    # LAZY checkpoint + count (r08, the merged materialize-and-probe
    # pattern): the count both materializes the batch pin and answers the
    # empty-batch early-out / broadcast bound — one job where the eager
    # form paid a checkpoint job AND a count job per batch
    edges = batch_df.select("src", "dst").localCheckpoint(eager=False)
    n_edges = edges.count()
    if n_edges == 0:
        return
    hint = size_hint(2 * n_edges)
    endpoints = endpoint_keys(edges)
    labels = cc_read_state(spark, labels_dir)
    if labels is None:
        labels = spark.createDataFrame([], "key string, label string")
    # resolve batch endpoints to current labels; unseen endpoints start as
    # their own component (label = key, matching connected_components')
    resolved = endpoints.join(labels, "key", "left").select(
        "key", F.coalesce("label", F.col("key")).alias("label")
    ).localCheckpoint(eager=True)
    # contraction graph: one edge between the two endpoint LABELS, pinned
    # because duplicate_clusters reads it as pairs and (through cnodes) as
    # docs, each more than once
    lmap = hint(resolved.withColumnRenamed("key", "k"))
    contraction = (
        edges.join(lmap.select(F.col("k").alias("src"), F.col("label").alias("la")), "src")
        .join(lmap.select(F.col("k").alias("dst"), F.col("label").alias("lb")), "dst")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("lab_a"), F.col("lb").alias("lab_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cnodes = contraction.select(F.col("lab_a").alias("lab")).union(
        contraction.select("lab_b")
    ).distinct()
    # min-label FIXPOINT on the (batch-sized) contraction graph — the
    # shared convergent CC kernel (raises rather than truncate)
    relabel = duplicate_clusters(cnodes, contraction, id_col="lab").select(
        F.col("lab").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    merged = (
        labels.unionByName(resolved.join(labels.select("key"), "key", "left_anti"))
        .join(hint(relabel), F.col("label") == F.col("old_label"), "left")
        .select("key", F.coalesce("new_label", "label").alias("label"))
    )
    _commit_state(merged, labels_dir, retain_versions)


def cc_ingest_to_parquet(
    edge_stream: DataFrame,
    labels_dir: str,
    checkpoint_dir: str | None = None,
    retain_versions: int = 1,
):
    """Streaming wrapper: foreachBatch over an edge stream, availableNow
    trigger (drain-then-stop, same cadence as heavy_hitters_to_parquet).
    Returns the StreamingQuery."""

    def step(bdf: DataFrame, _bid: int) -> None:
        cc_ingest_batch(bdf, labels_dir, retain_versions)

    writer = edge_stream.writeStream.foreachBatch(step).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
