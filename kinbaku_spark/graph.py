"""Directed-graph facade over a pair of DataFrames — the Spark-native
re-expression of the reference's single-file graph database.

Data model (SURVEY.md §1.4):
    nodes(key string, ...attrs)            -- key unique, non-null
    edges(src string, dst string, type int, ...attrs)
                                           -- (src,dst,type) unique; self-loops OK

Reference parity map (each method cites the reference implementation it
re-expresses; the reference walks hand-rolled BSTs inside an mmap'd file —
here every bulk read is declarative DataFrame algebra that Catalyst turns
into pruned, pushed-down parquet scans, and point reads of a source go
through its cached out-edge block):

    node/has_node                 graph.py:999-1099   -> node record cache
    edge/has_edge                 graph.py:999-1099   -> out-edge block
    neighbors                     graph.py:856-884    -> out-edge block
    predecessors                  graph.py:856-884    -> stored in-edges + pending ops
    neighbors_from/..._from       graph.py:928-957    -> one shuffle join
    common_neighbors/preds        graph.py:959-983    -> intersect of point reads
    out_degree                    graph.py:985-997    -> out-edge block
    in_degree                     graph.py:985-997    -> stored in-edges + pending ops
    out_degrees/in_degrees        (extension)         -> groupBy
    nodes/edges iteration         graph.py:152-171    -> full scan
    batch_get_nodes/edges         graph.py:1101-1186  -> keyset pagination
    adjacency_matrix/subgraph     graph.py:1188-1265  -> join to dense id map
    add_node/add_edge             graph.py:1353-1524  -> delta-buffer upsert
    remove_edge/remove_node       graph.py:1526-1563  -> delta-buffer delete
    set_neighbors/predecessors    graph.py:886-926    -> set-diff + upsert

Mutation design: the reference mutates records in place and keeps counters in
a header (graph.py:258-276) plus 4 LRU caches (graph.py:100-106). DataFrames
are immutable, so point mutations buffer in a driver-side delta — a dict of
last-op-per-entity — and materialize as ONE anti-join + union per flush
(lineage stays O(flushes), not O(ops)). Reads lay the pending ops over the
stored records, so no point read flushes.

Record stores: the reference answers edge/has_edge/neighbors/out_degree by
walking one node's out-edge tree (graph.py:472-492). Point reads here go
through one store of STORED records per table (``_Records``): nodes by key,
and per-source out-edge blocks by src, each bounded by ``cache_len`` (a
block weighs its rows; one over ``cache_len`` is answered but not kept). A
miss fetches one key with one job: a point read on a hub transfers all of
the hub's out-edges once, and an absent node is remembered as absent. Every
fetch a store pays for (``_fetch``) comes back through Arrow as dicts equal to
``collect()``'s rows, with no per-row pickling or ``Row`` objects. Each
store counts its misses and, by the ski-rental rule (Karlin et al., 1988),
fetches its table whole instead at the miss where ``misses so far ×
ROWS_PER_MISS`` reaches the row count N: ``N / ROWS_PER_MISS`` misses set
the buy point, and ``ROWS_PER_MISS`` is the CPU of one miss over the per-row
CPU of a whole fetch. From then on the table is held complete —
unbounded, and a miss means "absent" with no job. N is read from the plan
statistics without a job, so only a resident (persisted, materialized)
table of at most ``cache_len`` rows is ever bought; buying costs at most
about twice the better fixed choice. A table is resident only while the
cached column buffers its plan reads are persisted: an unpersisted
DataFrame keeps its old plan and statistics, but its N is unknown. Pending
ops of the entity are laid over the stored record at read time, so reads
see the session's own writes. Every table rewrite (flush, remove_node,
set_neighbors/set_predecessors) applies the same change to the stores, so
they stay warm; bulk mutations clear them and end the held state.
``preload()`` is the reference's ``preload=True`` (graph.py:31,59,304-306):
both tables held complete now, by the same whole-table fetch.

Shared snapshots: the reference opens every handle over one mmap'd file, so
a new handle on a warm file reads the shared page cache. Here a whole fetch
of a resident table publishes its entries in the session registry
(``state.publish``), keyed by the RDD id of the table's cached column
buffers, and every later store over the same resident table holds them at
its first miss with no job, as if it had bought the table (unless the
session's binary type has changed since the fetch). The entries are shared
read-only: a store copies the outer map before its first write and
a block before it edits it, so one Graph's writes never reach another. A
snapshot goes with its table: once the buffers are unpersisted, the next
lookup drops it.

Scale notes: the record stores are for the reference's point-op API, which
is inherently driver-bound; at 100 TB you use the batch API (`add_edges`,
`remove_edges`, `add_nodes`, `remove_nodes`) — pure join/union transforms with
no driver state — and partition `edges` by `src` (plus a `dst`-bucketed copy
for predecessor-heavy workloads, mirroring the reference's dual out/in trees).
"""

from __future__ import annotations

import math
from collections import OrderedDict
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion, LocalDataToArrowConversion
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from kinbaku_spark import state
from kinbaku_spark.exceptions import BadArgument, EdgeNotFound, NodeNotFound

EDGE_KEY = ("src", "dst", "type")

# Flush the delta buffer into the DataFrames once it holds this many entries;
# each flush is one union + anti-join, so lineage depth stays bounded.
DEFAULT_FLUSH_EVERY = 50_000
# point-read LRU capacity (reference cache_len default, graph.py:29)
DEFAULT_CACHE_LEN = 1_000_000
# Rows a whole-table fetch transfers for the CPU of one per-key miss: the
# per-key job's CPU over the per-row CPU of a whole fetch, the ski-rental
# price ratio. scripts/point_fetch_cost.py measures both; two runs at sf 0.01
# on a 4-core host (local[4]), both fetches through Arrow: a miss on the
# 51,677-row edge table 128/135 ms, a whole fetch 450/450 ms (320/280 ms of
# it Python, 150/130 ms JVM; 6.2/6.1 µs a row), 20,493/22,147 rows per miss.
# Seven runs spread from 13,007 to 26,537 with a median of 20,493, which
# buys that table at its 4th miss.
ROWS_PER_MISS = 20_000

# localCheckpoint() every N flushes to truncate lineage for long op-logs.
CHECKPOINT_EVERY_FLUSHES = 8


def _resident(df: DataFrame) -> tuple[int | None, int | None]:
    """``df``'s row count from its optimized plan's statistics, and the RDD
    id of its cached column buffers when ``df`` is a resident table itself
    (the key of its record snapshots, ``state.snapshot``); both read with
    no job. The count is exact for a resident (persisted, materialized)
    table, an upper bound after an anti-join of one, and None when Spark
    does not know it (createDataFrame, parquet scans, unions, filters) or
    once a cached table the plan reads has been unpersisted."""
    plan = df._jdf.queryExecution().optimizedPlan()
    buffers = state.resident_buffers(df.sparkSession.sparkContext, plan)
    if buffers is None:
        return None, None
    n = plan.stats().rowCount()
    rdd = buffers[0] if plan.nodeName() == "InMemoryRelation" else None
    return (int(str(n.get())) if n.isDefined() else None), rdd


def _binary_as_bytes(spark: SparkSession) -> bool:
    """Whether ``collect()`` returns a binary value as ``bytes`` (else
    ``bytearray``): the session's
    ``spark.sql.execution.pyspark.binaryAsBytes``."""
    return spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true").lower() == "true"


def _fetch(df: DataFrame) -> list[dict]:
    """The rows of ``df`` as dicts equal, in value and Python type, to
    ``collect()``'s ``asDict()`` rows (a nested struct is a ``Row``, a
    binary value ``bytes`` or ``bytearray`` as the session's
    ``spark.sql.execution.pyspark.binaryAsBytes`` says). One job, like
    ``collect()``, but the rows travel as Arrow batches: no per-row pickling
    in the JVM and no ``Row`` per record in Python."""
    schema = df.schema
    rows = ArrowTableToRowsConversion.convert(
        df.toArrow(), schema, return_as_tuples=True, binary_as_bytes=_binary_as_bytes(df.sparkSession)
    )
    names = schema.names
    return [dict(zip(names, r)) for r in rows]


def _nullable(schema: StructType, keep: set[str]) -> StructType:
    """Schema copy with every non-identity field nullable (delta upserts may
    omit attributes; the reference fills dataclass defaults, we fill NULL)."""
    return StructType(
        [
            StructField(f.name, f.dataType, f.name not in keep or f.nullable)
            for f in schema
        ]
    )


def _default_nodes_schema() -> StructType:
    return StructType([StructField("key", StringType(), False)])


def _default_edges_schema() -> StructType:
    return StructType(
        [
            StructField("src", StringType(), False),
            StructField("dst", StringType(), False),
            StructField("type", IntegerType(), False),
        ]
    )


def endpoint_keys(edges: DataFrame) -> DataFrame:
    """The distinct endpoints of an edge table as one ``key`` column: the
    node key set of every graph derived from its edges."""
    return edges.select(F.col("src").alias("key")).union(edges.select("dst")).distinct()


def _record(schema: StructType, ident: dict, attrs: dict | None) -> dict:
    """A record of ``schema``, in field order: the identity columns from
    ``ident``, every other field from ``attrs``, NULL where missing (an
    upsert replaces the whole record; an auto-created one is all NULL)."""
    attrs = attrs or {}
    return {f.name: ident[f.name] if f.name in ident else attrs.get(f.name) for f in schema}


# the entry of a key a _Records does not hold (a node entry may be None: a
# key known to be absent)
_UNCACHED = object()


class _Records:
    """The point-read cache of one stored table, keyed by column ``col``:
    an LRU whose entry for a key is ``value(rows)`` of the key's STORED
    rows and weighs ``weigh(entry)`` against the bound ``cap``.

    A miss fetches one key with one job and counts. By the ski-rental rule
    (Karlin et al., 1988) the miss where ``misses so far × ROWS_PER_MISS``
    reaches the table's row count N fetches the table whole instead, and
    from then on it is held: unbounded, and a key with no entry has no
    stored rows. N is read from the plan statistics without a job; a table
    whose N is unknown, or over ``cap``, is never bought.

    A whole fetch of a resident table publishes its entries as the table's
    snapshot (``state.publish``), and a later store over the same table
    holds that snapshot at its first miss, with no job (``adopt``). The
    entries are then shared: a store copies them before its first write
    (``_own``) and ``edit`` copies a block before changing it."""

    def __init__(self, col: str, value, weigh, cap: int) -> None:
        self.col, self.value, self.weigh, self.cap = col, value, weigh, cap
        self.entries: OrderedDict = OrderedDict()
        self.size = 0
        self.held = False
        self.shared = False  # entries is a published snapshot
        self.misses = 0

    def get(self, key, table: DataFrame):
        """The entry of ``key`` in the stored ``table``; a miss is one job,
        or none while the table is held."""
        v = self.entries.get(key, _UNCACHED)
        if v is not _UNCACHED:
            if not self.held:  # a held store is unbounded: its order is unused
                self.entries.move_to_end(key)
            return v
        if self.holds(table):  # possibly adopted or bought just now
            return self.entries[key] if key in self.entries else self.value([])
        self.misses += 1
        v = self.value(_fetch(table.filter(F.col(self.col) == key)))
        self.put(key, v)
        return v

    def holds(self, table: DataFrame) -> bool:
        """Whether the table is held, adopting its snapshot or buying it
        first if the misses so far have paid for it. Called at a miss."""
        if not self.held:
            n, rdd = _resident(table)
            if self.adopt(table, rdd):
                return True
            if n is not None and n <= self.cap and self.misses * ROWS_PER_MISS >= n:
                self.hold(table, rdd)
        return self.held

    def adopt(self, table: DataFrame, rdd: int | None) -> bool:
        """Hold the snapshot published for ``table``, the resident table
        whose cached column buffers are RDD ``rdd`` (None: not resident), if
        there is one of at most ``cap`` rows, as a buy would, fetched with
        the session's binary type; no job."""
        spark = table.sparkSession
        snap = state.snapshot(spark.sparkContext, rdd, self.col)
        if snap is None or snap[0] > self.cap or snap[3] != _binary_as_bytes(spark):
            return False
        _, self.size, self.entries, _ = snap
        self.held = self.shared = True
        return True

    def hold(self, table: DataFrame, rdd: int | None) -> None:
        """Fetch ``table`` whole (one job) and hold it: the buy, and the
        fill ``Graph.preload()`` uses. The entries of a resident table
        (``rdd`` as for ``adopt``) are published as its snapshot."""
        rows: dict = {}
        fetched = _fetch(table)
        for r in fetched:
            rows.setdefault(r[self.col], []).append(r)
        self.entries = OrderedDict((k, self.value(rs)) for k, rs in rows.items())
        self.size = sum(map(self.weigh, self.entries.values()))
        self.held = True
        self.shared = rdd is not None
        if self.shared:
            spark = table.sparkSession
            snap = (len(fetched), self.size, self.entries, _binary_as_bytes(spark))
            state.publish(spark.sparkContext, rdd, self.col, snap)

    def _own(self) -> None:
        """Copy shared entries before a write changes them."""
        if self.shared:
            self.entries = OrderedDict(self.entries)
            self.shared = False

    def put(self, key, v) -> None:
        """Make ``v`` the entry of ``key`` unless it alone exceeds the
        bound; least recently used entries are evicted down to it."""
        self.discard(key)
        w, bound = self.weigh(v), math.inf if self.held else self.cap
        if w > bound:
            return
        self.entries[key] = v
        self.size += w
        while self.size > bound:
            _, old = self.entries.popitem(last=False)
            self.size -= self.weigh(old)

    def discard(self, key):
        """Drop the entry of ``key`` and return it (_UNCACHED if none)."""
        self._own()
        v = self.entries.pop(key, _UNCACHED)
        if v is not _UNCACHED:
            self.size -= self.weigh(v)
        return v

    def edit(self, changes: dict) -> None:
        """Apply materialized changes to dict entries: per key, {inner key:
        stored record, or None for a removal}. A key with no entry is
        skipped, unless the table is held, where its entry starts empty.
        An entry is copied before it changes: it may be shared."""
        for key, edits in changes.items():
            v = self.discard(key)
            if v is _UNCACHED:
                if not self.held:
                    continue
                v = self.value([])
            v = dict(v)
            for k, rec in edits.items():
                if rec is None:
                    v.pop(k, None)
                else:
                    v[k] = rec
            self.put(key, v)

    def clear(self) -> None:
        """Forget every entry, end the held state and restart the misses."""
        self.entries = OrderedDict()
        self.size = self.misses = 0
        self.held = self.shared = False


class Graph:
    """A directed graph backed by two DataFrames.

    Self-loops are allowed; parallel edges only via distinct ``type``
    (reference: graph.py:1-4).
    """

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame | None = None,
        edges: DataFrame | None = None,
        preload: bool = False,
        flush_every: int = DEFAULT_FLUSH_EVERY,
        cache_len: int = DEFAULT_CACHE_LEN,
    ) -> None:
        self.spark = spark
        self._nodes = nodes if nodes is not None else spark.createDataFrame([], _default_nodes_schema())
        self._edges = edges if edges is not None else spark.createDataFrame([], _default_edges_schema())
        if "key" not in self._nodes.columns:
            raise BadArgument("nodes DataFrame must have a 'key' column")
        for c in EDGE_KEY:
            if c not in self._edges.columns:
                raise BadArgument(f"edges DataFrame must have a '{c}' column")
        # delta buffers: node -> ("upsert", attrs) | ("ensure", {}),
        # edge -> ("upsert", attrs) | ("delete", None)
        self._node_ops: dict[str, tuple[str, dict | None]] = {}
        self._edge_ops: dict[tuple[str, str, int], tuple[str, dict | None]] = {}
        self._flush_every = flush_every
        self._flushes = 0
        # KV front for point reads (reference cache semantics,
        # graph.py:100-106 cache_pos_to_node + preload): one record store
        # per table, both holding STORED records; reads lay the entity's
        # pending ops over them, so a read never flushes. Point lookups are
        # the one workload where a distributed scan is the wrong shape
        # (~300 ms/job vs ~ms in the reference); the stores answer repeat
        # reads at dict speed while every bulk/analytic path stays
        # distributed. Nodes by key: the record, or None for an absent key,
        # weighing 1. Out-edge blocks by src (the reference's per-node
        # out-edge tree): {(dst, type): record}, weighing its rows (an empty
        # block 1). ``cache_len`` bounds each store's weight.
        self._node_recs = _Records(
            "key", lambda rows: rows[0] if rows else None, lambda rec: 1, cache_len
        )
        self._edge_recs = _Records(
            "src",
            lambda rows: {(r["dst"], r["type"]): r for r in rows},
            lambda blk: max(1, len(blk)),
            cache_len,
        )
        self._id_map: DataFrame | None = None
        self._id_map_count: int | None = None
        if preload:
            self.preload()

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_edges(cls, edges: DataFrame, preload: bool = False) -> "Graph":
        """Build a graph from an edge DataFrame, deriving the node table from
        the endpoints (the reference auto-creates endpoint nodes on add_edge,
        graph.py:1446-1453)."""
        if "type" not in edges.columns:
            edges = edges.withColumn("type", F.lit(0))
        return cls(edges.sparkSession, nodes=endpoint_keys(edges), edges=edges, preload=preload)

    @classmethod
    def with_schema(
        cls,
        spark: SparkSession,
        node_class: type | None = None,
        edge_class: type | None = None,
        **kw: Any,
    ) -> "Graph":
        """Empty graph with schemas declared as dataclasses — the reference's
        ``Graph(node_class=..., edge_class=...)`` constructor pattern
        (graph.py:112-119, README.md:58-90)."""
        from kinbaku_spark.structure import Edge, Node, edge_schema, node_schema

        nodes = spark.createDataFrame([], node_schema(node_class or Node))
        edges = spark.createDataFrame([], edge_schema(edge_class or Edge))
        return cls(spark, nodes=nodes, edges=edges, **kw)

    @classmethod
    def from_kinbaku_file(
        cls,
        spark: SparkSession,
        path: str,
        node_attrs: list | None = None,
        edge_attrs: list | None = None,
        **kw: Any,
    ) -> "Graph":
        """Import a graph from the reference's native binary file format —
        the migration path for existing kinbaku databases (decoder in
        sources/kinbaku_file.py; custom attribute schemas are declared as
        (name, kind) lists mirroring the reference's dataclass fields)."""
        from kinbaku_spark.sources.kinbaku_file import read_kinbaku_file

        nodes, edges = read_kinbaku_file(
            spark, path, node_attrs=node_attrs, edge_attrs=edge_attrs
        )
        return cls(spark, nodes=nodes, edges=edges, **kw)

    def to_kinbaku_file(
        self,
        path: str,
        node_attrs: list | None = None,
        edge_attrs: list | None = None,
        hash_func=None,
        **kw: Any,
    ) -> None:
        """Export this graph INTO the reference's binary file format so the
        reference library can open it directly (pass the same hash_func on
        both sides; defaults to crc32). Collects to the driver by design —
        the target is the reference's single-file model."""
        from kinbaku_spark.sources.kinbaku_file import (
            crc32_hash,
            write_kinbaku_file,
        )

        self._flush()
        attr_names = [n for n, _ in (node_attrs or [])]
        node_rows = [
            (r["key"], {a: r[a] for a in attr_names})
            for r in self._nodes.select("key", *attr_names)
            .orderBy("key")
            .collect()
        ]
        eattr_names = [n for n, _ in (edge_attrs or [])]
        edge_rows = [
            (r["src"], r["dst"], r["type"], {a: r[a] for a in eattr_names})
            for r in self._edges.select("src", "dst", "type", *eattr_names)
            .orderBy("src", "dst", "type")
            .collect()
        ]
        write_kinbaku_file(
            path,
            node_rows,
            edge_rows,
            node_attrs=node_attrs,
            edge_attrs=edge_attrs,
            hash_func=hash_func or crc32_hash,
            **kw,
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str, **kw: Any) -> "Graph":
        nodes = spark.read.parquet(f"{path}/nodes")
        edges = spark.read.parquet(f"{path}/edges")
        return cls(spark, nodes=nodes, edges=edges, **kw)

    def save(self, path: str, partition_edges_by_src: bool = True) -> None:
        """Persist as Parquet. Edges are written bucketed-by-src ordering so a
        reload colocates each node's out-edges (the moral equivalent of the
        reference's per-node out-edge tree, graph.py:472-492)."""
        self._flush()
        self._nodes.write.mode("overwrite").parquet(f"{path}/nodes")
        ew = self._edges.sortWithinPartitions("src") if partition_edges_by_src else self._edges
        ew.write.mode("overwrite").parquet(f"{path}/edges")

    def compact(self, path: str, target_partitions: int | None = None) -> "Graph":
        """Rewrite storage into few, sorted files — the immutable-storage
        analog of the reference's tombstone reclamation (graph.py:390-407,
        recycled slots) and of Delta OPTIMIZE. Mutation-heavy facades
        accumulate small files / long lineage; compaction range-partitions
        nodes by key and edges by (src, dst) and sorts within partitions,
        so reloads get tight min/max stats (point lookups prune to one
        file) and co-located per-node edge runs. Returns the compacted,
        reloaded Graph.
        """
        self._flush()
        n = target_partitions or max(1, self._nodes.rdd.getNumPartitions() // 8)
        nodes = (
            self._nodes.repartitionByRange(n, "key").sortWithinPartitions("key")
        )
        edges = (
            self._edges.repartitionByRange(n, "src", "dst")
            .sortWithinPartitions("src", "dst", "type")
        )
        nodes.write.mode("overwrite").parquet(f"{path}/nodes")
        edges.write.mode("overwrite").parquet(f"{path}/edges")
        return Graph.load(self.spark, path)

    # -- delta machinery -----------------------------------------------------

    def preload(self) -> None:
        """Hold both tables complete now — the reference's ``preload=True``
        semantics (graph.py:31,59,304-306: all node attributes loaded at
        open, served from the record stores).

        Each table not yet held adopts the snapshot another Graph published
        for it (no job), or is fetched whole (one job each) into its store
        by ``_Records.hold``, the same fill the ski-rental rule buys with:
        both stores hold every stored record, the ``cache_len`` bound
        is lifted, and a miss means "absent". Every point read
        (``node``/``edge``/``has_node``/``has_edge``/``neighbors``/
        ``predecessors``/degrees, ``n_nodes``/``n_edges``) then answers
        from driver memory with NO Spark job, pending ops laid over the
        stored records as always. Point mutations keep the stores exact;
        bulk mutations (add_edges/remove_nodes/...) and ``empty_cache``
        drop them and end the held state. Operating envelope: the record
        set fits one process — the reference's own envelope (its entire
        graph is one local file)."""
        for recs, table in ((self._node_recs, self._nodes), (self._edge_recs, self._edges)):
            if not recs.held:
                rdd = _resident(table)[1]
                if not recs.adopt(table, rdd):
                    recs.hold(table, rdd)

    # -- read-through stored records ------------------------------------------

    def _stored_node(self, key: str) -> dict | None:
        """The stored record of ``key`` (pending ops NOT applied), or None."""
        return self._node_recs.get(key, self._nodes)

    def _block(self, src: str) -> dict[tuple[str, int], dict]:
        """The stored out-edges of ``src`` as {(dst, type): record}, pending
        ops NOT applied."""
        return self._edge_recs.get(src, self._edges)

    def _pending_over(self, keys: set, key: str, end: int) -> set[tuple[str, int]]:
        """``keys``, the (other endpoint, type) pairs of the stored edges
        whose endpoint ``end`` (0 = src, 1 = dst) is ``key``, with the
        pending edge ops at that endpoint laid over them."""
        for triple, (kind, _) in self._edge_ops.items():
            if triple[end] == key:
                other = (triple[1 - end], triple[2])
                if kind == "delete":
                    keys.discard(other)
                else:
                    keys.add(other)
        return keys

    def _out_keys(self, src: str) -> set[tuple[str, int]]:
        """(dst, type) of every out-edge of ``src``: its block with the
        source's pending edge ops laid over it."""
        return self._pending_over(set(self._block(src)), src, 0)

    def _in_keys(self, dst: str) -> set[tuple[str, int]]:
        """(src, type) of every in-edge of ``dst`` with pending ops laid
        over: a scan of the blocks while the edge table is held, else one
        filter job on the stored edges (an edge miss)."""
        if self._edge_recs.holds(self._edges):
            keys = {(s, t) for s, blk in self._edge_recs.entries.items() for d, t in blk if d == dst}
        else:
            self._edge_recs.misses += 1
            rows = _fetch(self._edges.filter(F.col("dst") == dst).select("src", "type"))
            keys = {(r["src"], r["type"]) for r in rows}
        return self._pending_over(keys, dst, 1)

    def _node_exists(self, key: str) -> bool:
        # every pending node op ("upsert" or "ensure") leaves the node present
        return key in self._node_ops or self._stored_node(key) is not None

    def _edge_exists(self, triple: tuple[str, str, int]) -> bool:
        op = self._edge_ops.get(triple)
        if op is not None:
            return op[0] != "delete"
        src, dst, type_ = triple
        return (dst, type_) in self._block(src)

    def _dirty(self) -> bool:
        return bool(self._node_ops or self._edge_ops)

    def _maybe_flush(self) -> None:
        if len(self._node_ops) + len(self._edge_ops) >= self._flush_every:
            self._flush()

    def _flush(self) -> None:
        """Materialize the delta: one anti-join + union per table. The
        flushed records are applied to the stores, which stay warm."""
        if not self._dirty():
            return
        spark = self.spark
        if self._node_ops:
            # key set changes -> dense key-ordered ids change; the memoized
            # |V| must go with the map or adjacency_coo gates its broadcast
            # on a stale count (ADVICE r03)
            self._drop_id_map()
            schema = _nullable(self._nodes.schema, keep={"key"})
            # upserts REPLACE the whole record, so they evict the stored
            # row; "ensure" (edge-endpoint auto-create) keeps the stored row
            # and inserts only when absent
            upserts = [
                _record(schema, {"key": k}, attrs)
                for k, (op, attrs) in self._node_ops.items()
                if op == "upsert"
            ]
            ensures = [k for k, (op, _) in self._node_ops.items() if op == "ensure"]
            base = self._nodes
            if upserts:
                touched_df = spark.createDataFrame([(r["key"],) for r in upserts], "key string")
                base = base.join(F.broadcast(touched_df), on="key", how="left_anti")
            inserts = []
            if ensures:
                # insert-if-absent: one probe job finds the ensure keys that
                # are stored, so the new plan references the stored table
                # once (an anti-join against it here doubled the node plan
                # on every flush)
                ensure_df = spark.createDataFrame([(k,) for k in ensures], "key string")
                present = {
                    r[0]
                    for r in self._nodes.select("key")
                    .join(F.broadcast(ensure_df), on="key", how="left_semi")
                    .collect()
                }
                inserts = [_record(schema, {"key": k}, None) for k in ensures if k not in present]
            if upserts or inserts:
                base = base.unionByName(self._rows_df(upserts + inserts, schema))
            self._nodes = base
            self._node_ops = {}
            for r in upserts + inserts:
                self._node_recs.put(r["key"], r)
        if self._edge_ops:
            schema = _nullable(self._edges.schema, keep=set(EDGE_KEY))
            upserts = {
                t: _record(schema, dict(zip(EDGE_KEY, t)), attrs)
                for t, (op, attrs) in self._edge_ops.items()
                if op == "upsert"
            }
            touched_df = spark.createDataFrame(
                list(self._edge_ops), "src string, dst string, type int"
            )
            base = self._edges.join(
                F.broadcast(touched_df), on=list(EDGE_KEY), how="left_anti"
            )
            if upserts:
                base = base.unionByName(self._rows_df(list(upserts.values()), schema))
            self._edges = base
            changes: dict[str, dict] = {}
            for t in self._edge_ops:
                changes.setdefault(t[0], {})[t[1:]] = upserts.get(t)
            self._edge_recs.edit(changes)
            self._edge_ops = {}
        self._count_rewrite()

    def _count_rewrite(self) -> None:
        """Count one rewrite of the stored tables; every
        CHECKPOINT_EVERY_FLUSHES-th lazily localCheckpoints both tables to
        truncate the lineage of long op-logs."""
        self._flushes += 1
        if self._flushes % CHECKPOINT_EVERY_FLUSHES == 0:
            self._nodes = self._nodes.localCheckpoint(eager=False)
            self._edges = self._edges.localCheckpoint(eager=False)

    def _rows_df(self, rows: list[dict], schema: StructType) -> DataFrame:
        """Driver records (``_record``) as a ONE-partition DataFrame, the
        write twin of ``_fetch``: the rows become an Arrow table in
        ``schema`` and a local relation, so no later scan of the stored
        table runs a Python task. A rewrite unions a few rows onto a stored
        table, and createDataFrame would spread them over several mostly
        empty partitions (tasks per scan) on every rewrite."""
        table = LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
        return self.spark.createDataFrame(table, schema).coalesce(1)

    # -- counts (reference header counters, graph.py:133-149) ----------------

    @property
    def n_nodes(self) -> int:
        recs = self._node_recs
        if recs.held:
            # every pending node op adds its key unless it is stored
            return len(recs.entries) + sum(k not in recs.entries for k in self._node_ops)
        self._flush()
        return self._nodes.count()

    @property
    def n_edges(self) -> int:
        blocks = self._edge_recs.entries
        if self._edge_recs.held:
            n = sum(len(b) for b in blocks.values())
            for (s, d, t), (kind, _) in self._edge_ops.items():
                n += (kind != "delete") - ((d, t) in blocks.get(s, ()))
            return n
        self._flush()
        return self._edges.count()

    # -- DataFrame accessors --------------------------------------------------

    @property
    def nodes_df(self) -> DataFrame:
        self._flush()
        return self._nodes

    @property
    def edges_df(self) -> DataFrame:
        self._flush()
        return self._edges

    # -- SQL facade (extension; the reference has no SQL surface at all,
    #    SURVEY.md §2.4) ------------------------------------------------------

    def register_views(
        self, nodes_view: str = "g_nodes", edges_view: str = "g_edges"
    ) -> None:
        """Expose the graph as temp views so any ANSI SQL runs against it
        via ``spark.sql`` (Catalyst plans it like the DataFrame API)."""
        self.nodes_df.createOrReplaceTempView(nodes_view)
        self.edges_df.createOrReplaceTempView(edges_view)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against this graph's registered views (sugar: registers
        the default view names first)."""
        self.register_views()
        return self.spark.sql(query)

    def find(self, pattern: str) -> DataFrame:
        """GraphFrames-style motif finding (extension — the reference has
        no multi-hop query surface, SURVEY.md §2.4). The pattern is a
        ';'-separated list of edge terms ``(a)-[]->(b)`` or, with a NAMED
        edge, ``(a)-[e]->(b)``; a leading ``!`` negates a term (the edge
        must NOT exist; negated terms cannot name their edge — there is
        no edge to expose). Vertex names are free identifiers; the result
        has one string column per named vertex PLUS one STRUCT column per
        named edge carrying every edge attribute except the endpoints
        (``type`` and any extra attrs — GraphFrames motif parity), one
        row per binding, duplicates removed. Attribute predicates are
        plain filters on the struct:

            g.find("(a)-[e]->(b); (b)-[]->(c); !(a)-[]->(c)")
             .filter("e.type = 2")

        Compiles to a chain of joins over the edge table (one aliased
        self-join per positive term, a left-anti join per negated term) —
        Catalyst plans/reorders them like any relational query, and a
        struct-field predicate prunes/pushes down to the edge scan like
        any column filter, so the same pattern scales to a cluster-sized
        edge table; every join is keyed on vertex columns (hash-shuffle
        or broadcast as sizes dictate).
        """
        import re as _re

        term_re = _re.compile(
            r"^\s*(!?)\s*\((\w+)\)\s*-\s*\[\s*(\w*)\s*\]\s*->\s*\((\w+)\)\s*$"
        )
        terms = []
        for raw in pattern.split(";"):
            if not raw.strip():
                continue
            m = term_re.match(raw)
            if m is None:
                raise BadArgument(f"unparseable motif term: {raw!r}")
            terms.append(
                (m.group(1) == "!", m.group(2), m.group(4), m.group(3))
            )
        if not terms or terms[0][0]:
            raise BadArgument("pattern needs a positive first term")

        attr_cols = [c for c in self.edges_df.columns if c not in ("src", "dst")]
        edges = self.edges_df
        vnames = {a for _, a, b, _ in terms} | {b for _, a, b, _ in terms}
        enames = [en for _, _, _, en in terms if en]
        if len(enames) != len(set(enames)):
            raise BadArgument("edge names must be unique across terms")
        clash = set(enames) & vnames
        if clash:
            raise BadArgument(f"edge names clash with vertex names: {clash}")

        result: DataFrame | None = None
        bound: set[str] = set()
        # positive terms first (negation is a filter, not a generator)
        for neg, a, b, ename in sorted(terms, key=lambda t: t[0]):
            if a == b:
                raise BadArgument(f"self-loop term ({a})->({b}) not supported")
            cols = [F.col("src").alias(a), F.col("dst").alias(b)]
            if ename:
                if neg:
                    raise BadArgument(
                        f"negated term cannot name its edge: [{ename}]"
                    )
                cols.append(F.struct(*attr_cols).alias(ename))
            e = edges.select(*cols)
            if result is None:
                result = e
                bound |= {a, b}
                continue
            on = [c for c in (a, b) if c in bound]
            if neg:
                if len(on) != 2:
                    raise BadArgument(
                        f"negated term !({a})->({b}) must use bound vertices"
                    )
                result = result.join(e, on=on, how="left_anti")
            else:
                if not on:
                    raise BadArgument(
                        f"term ({a})->({b}) is disconnected from the pattern"
                    )
                result = result.join(e, on=on)
                bound |= {a, b}
        out_cols = sorted(bound) + sorted(enames)
        return result.select(*out_cols).distinct()

    # -- iteration (reference graph.py:152-171; order is canonicalized to key
    #    order — the reference's DFS/file order is a storage artifact,
    #    FIXTURES.md §5) ------------------------------------------------------

    @property
    def nodes(self) -> Iterator[str]:
        for row in self.nodes_df.select("key").orderBy("key").toLocalIterator():
            yield row[0]

    @property
    def edges(self) -> Iterator[tuple[str, str]]:
        it = self.edges_df.select("src", "dst").orderBy("src", "dst").toLocalIterator()
        for row in it:
            yield (row[0], row[1])

    # -- point reads (reference graph.py:999-1099) ---------------------------

    def node(self, key: str) -> dict:
        if not isinstance(key, str):
            raise BadArgument("node key must be a string")
        op = self._node_ops.get(key)
        if op is not None and op[0] == "upsert":
            # read-your-writes: same shape as a materialized row
            return _record(self._nodes.schema, {"key": key}, op[1])
        rec = self._stored_node(key)
        if rec is not None:
            return dict(rec)
        if op is None:
            raise NodeNotFound(key)
        # a pending "ensure" is insert-if-absent: a stored record keeps its
        # attrs (reference add_edge auto-create never clobbers,
        # graph.py:1446-1453), an absent node reads back as the blank
        # auto-created row
        return _record(self._nodes.schema, {"key": key}, None)

    def edge(self, src: str, dst: str, type: int = 0) -> dict:
        triple = (src, dst, type)
        op = self._edge_ops.get(triple)
        if op is not None:
            kind, attrs = op
            if kind == "delete":
                raise EdgeNotFound(triple)
            return _record(self._edges.schema, dict(zip(EDGE_KEY, triple)), attrs)
        rec = self._block(src).get((dst, type))
        if rec is None:
            raise EdgeNotFound(triple)
        return dict(rec)

    def has_node(self, key: str) -> bool:
        return self._node_exists(key)

    def has_edge(self, src: str, dst: str, type: int = 0) -> bool:
        return self._edge_exists((src, dst, type))

    # -- traversal (reference graph.py:856-983) -------------------------------

    def neighbors_df(self, key: str) -> DataFrame:
        return (
            self.edges_df.filter(F.col("src") == key)
            .select(F.col("dst").alias("key"))
            .distinct()
        )

    def predecessors_df(self, key: str) -> DataFrame:
        return (
            self.edges_df.filter(F.col("dst") == key)
            .select(F.col("src").alias("key"))
            .distinct()
        )

    def neighbors(self, key: str) -> Iterator[str]:
        yield from sorted({dst for dst, _ in self._out_keys(key)})

    def predecessors(self, key: str) -> Iterator[str]:
        yield from sorted({src for src, _ in self._in_keys(key)})

    def neighbors_from(self, keys: list[str]) -> DataFrame:
        """Batch neighbors: one broadcast join replaces N point lookups
        (reference loops sequentially, graph.py:928-940)."""
        keys_df = self.spark.createDataFrame([(k,) for k in keys], "key string")
        return (
            self.edges_df.join(
                F.broadcast(keys_df), F.col("src") == F.col("key"), "inner"
            )
            .select("key", "dst")
            .distinct()
        )

    def predecessors_from(self, keys: list[str]) -> DataFrame:
        keys_df = self.spark.createDataFrame([(k,) for k in keys], "key string")
        return (
            self.edges_df.join(
                F.broadcast(keys_df), F.col("dst") == F.col("key"), "inner"
            )
            .select("key", "src")
            .distinct()
        )

    def common_neighbors(self, u: str, v: str) -> set[str]:
        return set(self.neighbors(u)) & set(self.neighbors(v))

    def common_predecessors(self, u: str, v: str) -> set[str]:
        return set(self.predecessors(u)) & set(self.predecessors(v))

    # -- degrees (reference graph.py:985-997; counts EDGES, so parallel types
    #    count separately — matches `SELECT count(*) ... WHERE src=?`) --------

    def out_degree(self, key: str) -> int:
        return len(self._out_keys(key))

    def in_degree(self, key: str) -> int:
        return len(self._in_keys(key))

    def out_degrees(self) -> DataFrame:
        """Bulk degree table — the scale path: one shuffle for every node's
        degree instead of N point queries."""
        return self.edges_df.groupBy(F.col("src").alias("key")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges_df.groupBy(F.col("dst").alias("key")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    # -- pagination (reference graph.py:1101-1186). The reference pages by
    #    file position; we page by key order (keyset pagination — no global
    #    sort, the predicate pushes down to the parquet scan). Cursor None
    #    starts; returned cursor -1 signals the end (parity contract). -------

    def batch_get_nodes(
        self, batch_size: int = 100, cursor: str | None = None
    ) -> tuple[list[dict], Any]:
        df = self.nodes_df
        if cursor is not None and cursor != 0:
            df = df.filter(F.col("key") > cursor)
        rows = df.orderBy("key").limit(batch_size + 1).collect()
        batch = [r.asDict() for r in rows[:batch_size]]
        next_cursor = batch[-1]["key"] if len(rows) > batch_size else -1
        return batch, next_cursor

    def batch_get_edges(
        self, batch_size: int = 100, cursor: tuple | None = None
    ) -> tuple[list[tuple[str, str]], Any]:
        df = self.edges_df
        if cursor is not None and cursor != 0:
            cs, cd, ct = cursor
            df = df.filter(
                (F.col("src") > cs)
                | ((F.col("src") == cs) & (F.col("dst") > cd))
                | ((F.col("src") == cs) & (F.col("dst") == cd) & (F.col("type") > ct))
            )
        rows = df.orderBy("src", "dst", "type").limit(batch_size + 1).collect()
        batch = [(r["src"], r["dst"]) for r in rows[:batch_size]]
        next_cursor = (
            (rows[batch_size - 1]["src"], rows[batch_size - 1]["dst"], rows[batch_size - 1]["type"])
            if len(rows) > batch_size
            else -1
        )
        return batch, next_cursor

    # -- linear algebra export (reference graph.py:1188-1265). Dense ids are
    #    assigned by key order (canonical deviation from first-seen order,
    #    SURVEY.md §4.3b). ----------------------------------------------------

    def node_id_map(self) -> DataFrame:
        from kinbaku_spark.operators.ids import ordered_zero_ids

        # Two-phase range ids (operators/ids.py): same deterministic
        # key-ordered mapping as row_number() OVER (ORDER BY key), without
        # the single-task sort. Materialized once per Graph (the id map is
        # engine state, like the reference's node index) so consumers that
        # reference it repeatedly — adjacency joins use it twice — read one
        # cached table instead of replicating the ranking subplan.
        if self._id_map is None:
            m = ordered_zero_ids(self.nodes_df.select("key").distinct())
            # eager localCheckpoint: materialize once AND truncate lineage,
            # so double references (adjacency joins ids for src and dst)
            # scan the stored map instead of replicating the ranking plan
            self._id_map = m.localCheckpoint(eager=True)
        return self._id_map

    def adjacency_coo(self, weight: str | None = None) -> DataFrame:
        """COO triplets (sid, tid, w) — the distributed form of the
        reference's scipy CSR export. Two joins against the |V|-sized id
        map, broadcast only while |V| is under the size gate
        (plans/hints.py) — past it they fall back to shuffle joins."""
        from kinbaku_spark.plans.hints import size_hint

        ids_df = self.node_id_map()
        if self._id_map_count is None:
            # one cheap count over the materialized (localCheckpointed) map,
            # memoized per Graph — NOT self.n_nodes, which would add a
            # full nodes-table scan job to every adjacency export
            self._id_map_count = ids_df.count()
        return self._coo(size_hint(self._id_map_count)(ids_df), weight)

    def _coo(self, ids: DataFrame, weight: str | None) -> DataFrame:
        """The edges as (sid, tid, w) through the key -> id map ``ids``: one
        join per endpoint; w is ``weight``'s column, or 1.0."""
        w = F.col(weight) if weight else F.lit(1.0)
        return (
            self.edges_df.select("src", "dst", w.alias("w"))
            .join(ids.withColumnRenamed("key", "src").withColumnRenamed("id", "sid"), "src")
            .join(ids.withColumnRenamed("key", "dst").withColumnRenamed("id", "tid"), "dst")
            .select("sid", "tid", "w")
        )

    @staticmethod
    def _sparse(ids: dict, coo: DataFrame):
        """``coo``'s triplets as an n × n CSR matrix (n = len(ids)), with
        ``ids``: the reference return shape; a dict of arrays when scipy is
        absent."""
        trips = coo.collect()
        n = len(ids)
        rows = [r["sid"] for r in trips]
        cols = [r["tid"] for r in trips]
        vals = [r["w"] for r in trips]
        try:
            from scipy.sparse import csr_matrix

            return csr_matrix((vals, (rows, cols)), shape=(n, n)), ids
        except ImportError:
            return {"shape": (n, n), "rows": rows, "cols": cols, "vals": vals}, ids

    def adjacency_matrix(self, weight: str | None = None):
        """Driver-side sparse matrix + key->id dict, parity with the reference
        return shape."""
        ids = {r["key"]: r["id"] for r in self.node_id_map().collect()}
        return self._sparse(ids, self.adjacency_coo(weight))

    def subgraph(self, keys: list[str], weight: str | None = None):
        """Induced-subgraph sparse matrix + key->id dict — reference return
        shape (graph.py:1231-1265)."""
        ids = {k: i for i, k in enumerate(sorted(set(keys)))}
        return self._sparse(ids, self.subgraph_coo(keys, weight))

    def subgraph_coo(self, keys: list[str], weight: str | None = None) -> DataFrame:
        """Induced subgraph as COO (reference graph.py:1231-1265): double
        broadcast semi-join on the key list, then dense ids over the list."""
        # the key list is caller-supplied (already on the driver): enumerate
        # it in Python rather than planning a window over a 1-row-per-key
        # single partition — same ids, no WindowExec in the plan
        ids = self.spark.createDataFrame(
            [(k, i) for i, k in enumerate(sorted(set(keys)))], "key string, id long"
        )
        return self._coo(F.broadcast(ids), weight)

    # -- point mutations (reference graph.py:1353-1563). Upsert REPLACES the
    #    whole attribute record (graph.py:1385-1405 — "attention" note in the
    #    reference docs: writes never merge). ---------------------------------

    def add_node(self, key: str, attr: dict | None = None) -> dict:
        if not isinstance(key, str):
            raise BadArgument("node key must be a string")
        self._node_ops[key] = ("upsert", dict(attr or {}))
        self._maybe_flush()
        return {"key": key, **(attr or {})}

    def add_edge(
        self, src: str, dst: str, attr: dict | None = None, type: int = 0
    ) -> dict:
        # auto-create missing endpoints (graph.py:1446-1453); existing nodes
        # keep their attributes. "ensure" ops insert-if-absent at flush time
        # (one probe of the stored table), so no existence check is needed
        # here. A pending upsert for the same key wins (setdefault),
        # preserving op order.
        for k in (src, dst):
            self._node_ops.setdefault(k, ("ensure", {}))
        self._edge_ops[(src, dst, type)] = ("upsert", dict(attr or {}))
        self._maybe_flush()
        return {"src": src, "dst": dst, "type": type, **(attr or {})}

    def remove_edge(self, src: str, dst: str, type: int = 0) -> None:
        triple = (src, dst, type)
        if not self._edge_exists(triple):
            raise EdgeNotFound(triple)
        self._edge_ops[triple] = ("delete", None)
        self._maybe_flush()

    def remove_node(self, key: str) -> None:
        """Remove a node and ALL incident edges (graph.py:1543-1563).

        The cascade is DISTRIBUTED: pending ops flush first (preserving op
        order), then incident edges drop via a lazy filter on the edge
        table — no enumeration of incident edges on the driver, so the op
        works at any degree. The cached records drop the node and its
        incident edges."""
        if not self._node_exists(key):
            raise NodeNotFound(key)
        self._flush()
        self._edges = self._edges.filter(
            (F.col("src") != key) & (F.col("dst") != key)
        )
        self._nodes = self._nodes.filter(F.col("key") != key)
        self._drop_id_map()
        self._node_recs.discard(key)
        gone = {
            s: {(d, t): None for d, t in blk if key in (s, d)}
            for s, blk in self._edge_recs.entries.items()
        }
        self._edge_recs.edit({s: edits for s, edits in gone.items() if edits})
        self._count_rewrite()

    def _set_adjacent(
        self, key: str, others: list[str], type: int, direction: str
    ) -> None:
        """Shared set_neighbors/set_predecessors core (graph.py:886-905):
        make the out- (in-) neighbor set of ``key`` exactly ``others``.
        Existing edges to surviving targets keep their attributes; removed
        targets drop; new targets are created empty, endpoints auto-created.
        The targets already stored are found on the driver (the out-edge
        block of ``key``, or one probe job bounded by the target count), so
        the new plan is one filter of the stored table plus the new rows."""
        self._flush()
        this_col, other_col = ("src", "dst") if direction == "out" else ("dst", "src")
        target = sorted(set(others))
        keep = set(target)
        # nodes: ensure key + all targets exist (insert-if-absent)
        for k in [key] + target:
            self._node_ops.setdefault(k, ("ensure", {}))
        changes: dict[str, dict] = {}
        if direction == "out":
            stored = {d for d, t in self._block(key) if t == type}
            changes[key] = {(d, type): None for d in stored - keep}
        else:
            stored = set()
            if target:
                probe = self._edges.filter(
                    (F.col("dst") == key) & (F.col("type") == type) & F.col("src").isin(target)
                )
                stored = {r[0] for r in probe.select("src").collect()}
            changes = {
                s: {(key, type): None}
                for s, blk in self._edge_recs.entries.items()
                if (key, type) in blk and s not in keep
            }
        # edges: drop (key, v) of this type where v no longer targeted
        mine = (F.col(this_col) == key) & (F.col("type") == type)
        survives = F.col(other_col).isin(target) if target else F.lit(False)
        self._edges = self._edges.filter(~mine | survives)
        # add rows for targets not already stored (attrs NULL), same as the
        # reference's add-side of the set diff
        schema = _nullable(self._edges.schema, keep=set(EDGE_KEY))
        ends = [(key, v) if direction == "out" else (v, key) for v in target if v not in stored]
        rows = [_record(schema, {"src": s, "dst": d, "type": type}, None) for s, d in ends]
        for r in rows:
            changes.setdefault(r["src"], {})[(r["dst"], type)] = r
        if rows:
            self._edges = self._edges.unionByName(self._rows_df(rows, schema))
        self._edge_recs.edit(changes)
        self._count_rewrite()

    def set_neighbors(self, key: str, neighbors: list[str], type: int = 0) -> None:
        """Make the out-neighbor set exactly ``neighbors`` (graph.py:886-905)."""
        self._set_adjacent(key, neighbors, type, "out")

    def set_predecessors(self, key: str, predecessors: list[str], type: int = 0) -> None:
        self._set_adjacent(key, predecessors, type, "in")

    # -- batch mutations (the scale path; no driver-side state needed) --------

    def add_edges(self, new_edges: DataFrame) -> None:
        """Bulk upsert on (src,dst,type): anti-join + union, endpoints
        auto-created by one full outer join of the stored node table with
        the distinct endpoints (stored rows keep their attrs, new keys are
        blank). Each stored table is referenced once, so repeated calls grow
        the plans linearly; Delta-MERGE-shaped."""
        self._flush()
        self._drop_caches()
        if "type" not in new_edges.columns:
            new_edges = new_edges.withColumn("type", F.lit(0).cast("int"))
        for c in self._edges.columns:
            if c not in new_edges.columns:
                new_edges = new_edges.withColumn(c, F.lit(None).cast(self._edges.schema[c].dataType))
        new_edges = new_edges.select(self._edges.columns).dropDuplicates(list(EDGE_KEY))
        self._edges = self._edges.join(
            new_edges.select(*EDGE_KEY), on=list(EDGE_KEY), how="left_anti"
        ).unionByName(new_edges)
        self._nodes = self._nodes.join(endpoint_keys(new_edges), "key", "full_outer").select(
            self._nodes.columns
        )

    def remove_edges(self, triples: DataFrame) -> None:
        self._flush()
        self._drop_caches()
        if "type" not in triples.columns:
            triples = triples.withColumn("type", F.lit(0).cast("int"))
        self._edges = self._edges.join(
            triples.select(*EDGE_KEY), on=list(EDGE_KEY), how="left_anti"
        )

    def add_nodes(self, new_nodes: DataFrame) -> None:
        self._flush()
        self._drop_caches()
        for c in self._nodes.columns:
            if c not in new_nodes.columns:
                new_nodes = new_nodes.withColumn(c, F.lit(None).cast(self._nodes.schema[c].dataType))
        new_nodes = new_nodes.select(self._nodes.columns).dropDuplicates(["key"])
        self._nodes = self._nodes.join(
            new_nodes.select("key"), on="key", how="left_anti"
        ).unionByName(new_nodes)

    def remove_nodes(self, keys: DataFrame, cascade: bool = True) -> None:
        """Bulk node removal; cascade drops incident edges (two anti-joins
        replace the reference's 250-line BST unlink, SURVEY.md §3.4)."""
        self._flush()
        self._drop_caches()
        k = keys.select("key")
        self._nodes = self._nodes.join(k, "key", "left_anti")
        if cascade:
            self._edges = self._edges.join(
                k.withColumnRenamed("key", "src"), "src", "left_anti"
            ).join(k.withColumnRenamed("key", "dst"), "dst", "left_anti").select(
                *[c for c in self._edges.columns]
            )

    def _drop_caches(self) -> None:
        """Forget every cached record, end the held state of both tables and
        restart their miss counts: bulk mutations are set algebra the caches
        cannot follow row by row."""
        self._node_recs.clear()
        self._edge_recs.clear()
        self._drop_id_map()

    def _drop_id_map(self) -> None:
        if self._id_map is not None:
            try:
                self._id_map.unpersist()
            except Exception:
                pass
            self._id_map = None
        self._id_map_count = None

    # -- lifecycle / maintenance parity (reference graph.py:383-407, 852) -----

    def empty_cache(self) -> None:
        """Drop cached/persisted state (reference empty_cache drops its four
        LRU caches, graph.py:383-388)."""
        self._drop_caches()
        for df in (self._nodes, self._edges):
            try:
                df.unpersist()
            except Exception:
                pass

    def find_tombstones(self) -> list:
        """Reference rebuilds its free-list by scanning for blanked records
        (graph.py:390-407). Immutable storage has no tombstones: deletes are
        anti-joins that produce new files. Returns [] for API parity;
        storage reclamation is the writer's compaction (rewrite/OPTIMIZE)."""
        return []

    def close(self) -> None:
        """Release resources (reference unmaps the file, graph.py:852-854).
        The SparkSession is shared and NOT stopped here."""
        self._flush()
        self.empty_cache()

    # -- graph algorithms (extension surface; the reference has none) ---------

    def connected_components(self, max_iter: int = 64) -> DataFrame:
        """Weakly-connected components: (key, component) with component =
        min key in the component (lexicographic). Min-label propagation with
        pointer-doubling shortcutting, run to FIXPOINT in O(log diameter)
        rounds (operators/cc_kernel.py — the shared kernel with
        duplicate_clusters and the streaming CC). ``max_iter`` is a runaway
        guard: exhausting it raises CCConvergenceError rather than silently
        returning unconverged labels."""
        from kinbaku_spark.operators.cc_kernel import min_label_fixpoint

        und = (
            self.edges_df.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(self.edges_df.select(F.col("dst"), F.col("src")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        labels = self.nodes_df.select(F.col("key").alias("u"), F.col("key").alias("label"))
        labels = min_label_fixpoint(labels, und, max_rounds=max_iter)
        return labels.select(F.col("u").alias("key"), F.col("label").alias("component"))

    def scc_bounded(self, prop_rounds: int = 3, peels: int = 2) -> DataFrame:
        """Strongly connected components via bounded FW-BW min-label
        peeling (operators/components.py): (key, comp, peel) — certified
        groups are provably inside one true SCC; to-convergence budgets
        (prop_rounds, peels ≥ |V|) yield the exact partition. The
        reference has no component queries at all (SURVEY.md §2.4)."""
        from kinbaku_spark.operators.components import scc_bounded

        return scc_bounded(self.edges_df, prop_rounds=prop_rounds, peels=peels)

    def scc(
        self,
        max_iters: int = 30,
        max_rounds: int = 256,
        local_threshold: int = 100_000,
    ) -> DataFrame:
        """Strongly connected components TO CONVERGENCE (key, comp) — comp
        is the min key of the node's true SCC, including isolated nodes
        (comp = own key). Multi-pivot FW-BW with hashed labels and
        argmin-label shortcutting plus the Multistep serial tail
        (operators/components.scc); budgets exhaust into
        SCCConvergenceError, never silently-bounded labels — the directed
        twin of connected_components' convergence contract. scc_bounded
        remains the fixed-budget form (sound per-group containment)."""
        from kinbaku_spark.operators.components import scc

        labelled = scc(
            self.edges_df,
            max_iters=max_iters,
            max_rounds=max_rounds,
            local_threshold=local_threshold,
        )
        isolated = (
            self.nodes_df.select("key")
            .join(labelled.select("key"), "key", "left_anti")
            .select("key", F.col("key").alias("comp"))
        )
        return labelled.unionByName(isolated)

    def katz_centrality(self, rounds: int = 3, scale: int = 8) -> DataFrame:
        """Katz centrality (α = 1/scale, β = 1) over the symmetrized edge
        set, integer-exact bounded power iteration
        (operators/components.py): (key, katz_scaled, katz)."""
        from kinbaku_spark.operators.components import katz_scores

        return katz_scores(self.edges_df, rounds=rounds, scale=scale)

    def eigenvector_walks(self, rounds: int = 3) -> DataFrame:
        """Exact length-``rounds`` walk counts (un-normalized eigenvector
        power iteration) over the symmetrized edge set: (key, walks)."""
        from kinbaku_spark.operators.components import walk_counts

        return walk_counts(self.edges_df, rounds=rounds)

    def densest_subgraph(self, peel_rounds: int = 5) -> DataFrame:
        """Charikar ε-peel density trace over the edge set: (round,
        n_nodes, n_edges, density_ppm) — the max row 2(1+ε)-approximates
        the densest subgraph."""
        from kinbaku_spark.operators.components import densest_subgraph_trace

        return densest_subgraph_trace(self.edges_df, peel_rounds=peel_rounds)

    # -- dunder sugar (reference graph.py:1271-1306, 1565-1577) ---------------

    def __getitem__(self, item):
        if isinstance(item, str):
            return self.node(item)
        if isinstance(item, tuple) and len(item) in (2, 3):
            return self.edge(*item)
        raise BadArgument(f"bad graph subscript: {item!r}")

    def __setitem__(self, item, attr):
        if isinstance(item, str):
            self.add_node(item, attr)
        elif isinstance(item, tuple) and len(item) in (2, 3):
            if len(item) == 2:
                self.add_edge(item[0], item[1], attr)
            else:
                self.add_edge(item[0], item[1], attr, type=item[2])
        else:
            raise BadArgument(f"bad graph subscript: {item!r}")

    def __contains__(self, item) -> bool:
        if isinstance(item, str):
            return self.has_node(item)
        if isinstance(item, tuple) and len(item) in (2, 3):
            return self.has_edge(*item)
        raise BadArgument(f"bad membership probe: {item!r}")

    def __repr__(self) -> str:
        return f"Graph(n_nodes={self.n_nodes}, n_edges={self.n_edges})"
