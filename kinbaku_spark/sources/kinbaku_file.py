"""Reader for the reference's native binary graph file — the migration path
for existing kinbaku databases into this engine.

Layout decoded here (studied from the reference, not ported):
- Header: 6 native longs ``n_nodes, n_edges, node_id, next_table_position,
  table_size, class_length`` (reference ``structure.py:4-12``,
  ``graph.py:258-276``).
- Slot table: fixed-width records, slot unit = EDGE_SIZE bytes; a node
  occupies ``ceil(NODE_SIZE/EDGE_SIZE)`` consecutive slots
  (``graph.py:246-250``). Record formats are ``struct`` NATIVE mode (with
  native alignment padding), derived from the node/edge dataclass fields
  exactly as ``graph.py:177-202`` does: ``hash``->uint32, ``int``->native
  long, ``bool``->'?', ``float``->'f' (float32), ``key``->max_key_len
  int16 chars, ``str``->max_str_len int16 chars, ``text(n)``->n int16
  chars; strings decode by dropping NUL int16s (``utils.py:65-66``).
- Scan protocol (``graph.py:413-433, 1101-1186``): walk positions 0..
  next_table_position inclusive; ``(is_node, exists)`` prefix decides the
  stride (node stride = NODE_TO_EDGE_RATIO, edge stride = 1); skip
  tombstones (exists=False), the root sentinel (position 0), and per-node
  ``is_edge_start`` dummy edges. Edges store node POSITIONS, not keys.

Spark-first design: the byte decode is an embarrassingly parallel map over
slot ranges (the file is fixed-width, so ranges are byte offsets) run via
``mapInPandas``; the reference's position->key pointer chase
(``graph.py:868-869``) becomes two broadcast hash joins against the decoded
node table. With default record classes a node fits one slot
(NODE_SIZE 86 <= EDGE_SIZE 96), so any slot range decodes standalone; with
multi-slot custom nodes (ratio > 1) a mid-record range start is ambiguous
and the reader falls back to a single-range scan (documented limitation —
a migration is one-time ETL).

The file must be visible to executors (local FS in local mode, shared/DFS
storage on a cluster); only slot-range byte reads are performed per task.
"""

from __future__ import annotations

import math
import os
import struct
from collections.abc import Iterator
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# Base dataclass field orders of the reference's Node/Edge
# (reference structure.py:14-75); custom attribute fields follow these.
_NODE_BASE = [
    ("is_node", "bool"),
    ("exists", "bool"),
    ("hash", "hash"),
    ("left", "int"),
    ("right", "int"),
    ("index", "int"),
    ("position", "int"),
    ("parent", "int"),
    ("edge_start", "int"),
    ("key", "key"),
]
_EDGE_BASE = [
    ("is_node", "bool"),
    ("exists", "bool"),
    ("is_edge_start", "bool"),
    ("position", "int"),
    ("source_position", "int"),
    ("target_position", "int"),
    ("hash", "hash"),
    ("out_edge_left", "int"),
    ("out_edge_right", "int"),
    ("out_edge_parent", "int"),
    ("in_edge_left", "int"),
    ("in_edge_right", "int"),
    ("in_edge_parent", "int"),
    ("type", "int"),
]

_SPARK_TYPES = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "str": T.StringType(),
}


class KinbakuLayout:
    """Binary layout derived from record field specs, mirroring the
    reference's reflection rules (graph.py:177-202) without importing it.

    ``node_attrs``/``edge_attrs``: extra attribute fields of a custom
    Node/Edge subclass, in declaration order, as (name, kind) with kind in
    {"int", "float", "bool", "str"} or ("text", length).
    """

    def __init__(
        self,
        node_attrs: Optional[list] = None,
        edge_attrs: Optional[list] = None,
        max_str_len: int = 15,
        max_key_len: int = 15,
        int_format: str = "l",
        char_format: str = "h",
        bool_format: str = "?",
        hash_format: str = "I",
    ) -> None:
        self.max_str_len = max_str_len
        self.max_key_len = max_key_len
        self.formats = {
            "int": int_format,
            "bool": bool_format,
            "hash": hash_format,
            "float": "f",
        }
        self.char_format = char_format
        self.node_fields = _NODE_BASE + list(node_attrs or [])
        self.edge_fields = _EDGE_BASE + list(edge_attrs or [])
        self.node_format, self.node_widths = self._build(self.node_fields)
        self.edge_format, self.edge_widths = self._build(self.edge_fields)
        self.header_format = int_format * 6
        self.header_size = struct.calcsize(self.header_format)
        self.node_size = struct.calcsize(self.node_format)
        self.edge_size = struct.calcsize(self.edge_format)
        self.ratio = math.ceil(self.node_size / self.edge_size)
        self._bool_format = bool_format
        self._compile()

    def _compile(self) -> None:
        self._node_struct = struct.Struct(self.node_format)
        self._edge_struct = struct.Struct(self.edge_format)
        self._prefix = struct.Struct(self._bool_format * 2)

    # compiled Structs aren't picklable; rebuild them on the executor side
    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        for k in ("_node_struct", "_edge_struct", "_prefix"):
            state.pop(k, None)
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._compile()

    def _build(self, fields: list) -> tuple[str, list]:
        fmt = ""
        widths = []  # scalars consumed per field when unpacking
        for name, kind in fields:
            if name == "hash":
                fmt += self.formats["hash"]
                widths.append(1)
            elif isinstance(kind, tuple) and kind[0] == "text":
                fmt += kind[1] * self.char_format
                widths.append(kind[1])
            elif kind == "int":
                fmt += self.formats["int"]
                widths.append(1)
            elif name == "key":
                fmt += self.max_key_len * self.char_format
                widths.append(self.max_key_len)
            elif kind == "str":
                fmt += self.max_str_len * self.char_format
                widths.append(self.max_str_len)
            elif kind == "bool":
                fmt += self.formats["bool"]
                widths.append(1)
            elif kind == "float":
                fmt += "f"
                widths.append(1)
            else:
                raise ValueError(f"unsupported field kind: {name}: {kind}")
        return fmt, widths

    def _record(self, fields, widths, raw) -> dict:
        out, i = {}, 0
        for (name, kind), w in zip(fields, widths):
            if w == 1:
                out[name] = raw[i]
            else:  # int16-char string: drop NULs (utils.py:65-66)
                out[name] = "".join(chr(c) for c in raw[i : i + w] if c != 0)
            i += w
        return out

    def read_header(self, buf: bytes) -> dict:
        names = (
            "n_nodes", "n_edges", "node_id",
            "next_table_position", "table_size", "class_length",
        )
        return dict(zip(names, struct.unpack_from(self.header_format, buf, 0)))

    def scan(
        self,
        mm,
        start_pos: int,
        end_pos: int,
        buf_start_pos: int = 0,
        has_header: bool = True,
    ) -> Iterator[tuple[str, dict]]:
        """Yield ("node"|"edge", record) for real records whose slot START
        lies in [start_pos, end_pos); strides follow the reference's scan
        protocol. ``mm`` is a buffer whose byte 0 is slot ``buf_start_pos``
        (preceded by the header iff ``has_header``)."""
        base = self.header_size if has_header else 0
        pos = start_pos
        while pos < end_pos:
            off = base + (pos - buf_start_pos) * self.edge_size
            is_node, exists = self._prefix.unpack_from(mm, off)
            if is_node:
                if exists and pos != 0:  # skip tombstones + root sentinel
                    raw = self._node_struct.unpack_from(mm, off)
                    yield "node", self._record(
                        self.node_fields, self.node_widths, raw
                    )
                pos += self.ratio
            else:
                if exists:
                    raw = self._edge_struct.unpack_from(mm, off)
                    rec = self._record(self.edge_fields, self.edge_widths, raw)
                    if not rec["is_edge_start"]:
                        yield "edge", rec
                pos += 1


def _attr_spark_type(kind) -> T.DataType:
    if isinstance(kind, tuple) and kind[0] == "text":
        return T.StringType()
    return _SPARK_TYPES[kind]


def read_kinbaku_file(
    spark: SparkSession,
    path: str,
    node_attrs: Optional[list] = None,
    edge_attrs: Optional[list] = None,
    slots_per_task: int = 100_000,
    **layout_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Decode a reference-format graph file into (nodes_df, edges_df).

    nodes_df: (key string, index long, position long, ...attrs)
    edges_df: (src string, dst string, type int, ...attrs)

    The slot table is split into ranges decoded in parallel via
    ``mapInPandas`` (ratio==1 layouts only — see module docstring); edge
    endpoint POSITIONS are resolved to keys with two broadcast joins.
    """
    layout = KinbakuLayout(node_attrs, edge_attrs, **layout_kwargs)
    with open(path, "rb") as f:
        header = layout.read_header(f.read(layout.header_size))
    n_slots = header["next_table_position"] + 1  # inclusive bound, as the reference scans

    node_struct_fields = [
        T.StructField("key", T.StringType()),
        T.StructField("index", T.LongType()),
        T.StructField("position", T.LongType()),
    ] + [
        T.StructField(n, _attr_spark_type(k))
        for n, k in (node_attrs or [])
    ]
    edge_struct_fields = [
        T.StructField("source_position", T.LongType()),
        T.StructField("target_position", T.LongType()),
        T.StructField("type", T.IntegerType()),
    ] + [
        T.StructField(n, _attr_spark_type(k))
        for n, k in (edge_attrs or [])
    ]
    node_schema = T.StructType(node_struct_fields)
    edge_raw_schema = T.StructType(edge_struct_fields)

    node_attr_names = [n for n, _ in (node_attrs or [])]
    edge_attr_names = [n for n, _ in (edge_attrs or [])]

    def node_row(rec: dict) -> tuple:
        return (rec["key"], rec["index"], rec["position"]) + tuple(
            rec[n] for n in node_attr_names
        )

    def edge_row(rec: dict) -> tuple:
        return (
            rec["source_position"], rec["target_position"], rec["type"],
        ) + tuple(rec[n] for n in edge_attr_names)

    if layout.ratio == 1 and n_slots > slots_per_task:
        # distributed decode over slot ranges
        import pandas as pd

        ranges = [
            (s, min(s + slots_per_task, n_slots))
            for s in range(0, n_slots, slots_per_task)
        ]
        rng_df = spark.createDataFrame(ranges, "start long, stop long")
        lay = layout

        def decode(kind: str, schema: T.StructType, row_fn):
            cols = [f.name for f in schema.fields]

            def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                with open(path, "rb") as f:
                    for b in batches:
                        rows = []
                        for start, stop in zip(b["start"], b["stop"]):
                            start, stop = int(start), int(stop)
                            f.seek(lay.header_size + start * lay.edge_size)
                            data = f.read((stop - start) * lay.edge_size)
                            for rk, rec in lay.scan(
                                data, start, stop,
                                buf_start_pos=start, has_header=False,
                            ):
                                if rk == kind:
                                    rows.append(row_fn(rec))
                        yield pd.DataFrame(rows, columns=cols)

            return rng_df.mapInPandas(run, schema)

        nodes = decode("node", node_schema, node_row)
        edges_raw = decode("edge", edge_raw_schema, edge_row)
    else:
        # sequential driver-side scan (multi-slot nodes, or tiny files)
        with open(path, "rb") as f:
            data = f.read()
        node_rows, edge_rows = [], []
        for rk, rec in layout.scan(data, 0, n_slots):
            (node_rows if rk == "node" else edge_rows).append(
                node_row(rec) if rk == "node" else edge_row(rec)
            )
        nodes = spark.createDataFrame(node_rows, node_schema)
        edges_raw = spark.createDataFrame(edge_rows, edge_raw_schema)

    # pointer chase -> two broadcast joins (the node table is the small side)
    pos_key = F.broadcast(nodes.select(
        F.col("position").alias("__p"), F.col("key").alias("__k")
    ))
    edges = (
        edges_raw.join(pos_key, F.col("source_position") == F.col("__p"))
        .withColumnRenamed("__k", "src").drop("__p")
        .join(pos_key, F.col("target_position") == F.col("__p"))
        .withColumnRenamed("__k", "dst").drop("__p")
        .select("src", "dst", F.col("type").cast("int").alias("type"), *edge_attr_names)
    )
    return nodes.drop("position"), edges


# ---------------------------------------------------------------------------
# Writer: export a graph INTO the reference's binary format
# ---------------------------------------------------------------------------

def crc32_hash(key: str) -> int:
    """Default export hash (uint32). The reference's own default needs
    cityhash/mmh3 (graph.py:82-90); any uint32 hash works as long as the
    SAME function is passed when the reference opens the file."""
    import zlib

    return zlib.crc32(key.encode()) & 0xFFFFFFFF


def _compare_nodes(a_hash: int, a_key: str, b_hash: int, b_key: str) -> int:
    """The reference's node comparator (utils.py:1-14): -1 if B sorts left
    of A, +1 right, 0 equal — replicated decision-for-decision."""
    if b_hash < a_hash:
        return -1
    if b_hash > a_hash:
        return 1
    if b_key < a_key:
        return -1
    if b_key > a_key:
        return 1
    return 0


def _compare_edges(a: dict, b: dict) -> int:
    """The reference's edge comparator (utils.py:17-62) — replicated with
    its exact branch structure (including the asymmetric tie branches):
    descent must take the same turns the reference takes."""
    if b["hash"] < a["hash"]:
        return -1
    if b["hash"] > a["hash"]:
        return 1
    a_s, a_t, a_y = a["source_position"], a["target_position"], a["type"]
    b_s, b_t, b_y = b["source_position"], b["target_position"], b["type"]
    if a_s == b_s and a_t == b_t and a_y == b_y:
        return 0
    if a_s == b_s:
        if b_t < a_t:
            return -1
        if b_t > a_t:
            return 1
        if b_y < a_y:
            return -1
        if b_y > a_y:
            return 1
        return 0
    if b_t < a_t:
        if b_s < a_s:
            return -1
        if b_s > a_s:
            return 1
        if b_y < a_y:
            return -1
        return 1
    if b_y < a_y:
        return -1
    return 1


def write_kinbaku_file(
    path: str,
    node_rows: list,
    edge_rows: list,
    node_attrs: Optional[list] = None,
    edge_attrs: Optional[list] = None,
    hash_func=crc32_hash,
    table_increment: int = 100_000,
    **layout_kwargs,
) -> None:
    """Write a graph as a reference-format binary file the reference can
    open directly (pass the same ``hash_func`` on both sides).

    ``node_rows``: (key, {attr: value}) tuples; ``edge_rows``:
    (src, dst, type, {attr: value}). Tree pointers are produced by
    SIMULATING the reference's own insertion descent (add_node
    graph.py:1353-1431, add_edge graph.py:1433-1524) over the replicated
    comparators, so the file's BSTs are exactly what the reference would
    have built inserting in the same order. Export collects to the driver
    by design: the target is the reference's single-file, single-process
    model (a graph that doesn't fit one machine has no business in this
    format).
    """
    layout = KinbakuLayout(node_attrs, edge_attrs, **layout_kwargs)
    recs: dict[int, dict] = {}  # position -> record dict (+ "__kind")

    def blank_node(**kw) -> dict:
        r = {n: (False if k == "bool" else 0.0 if k == "float" else
                 "" if k in ("str", "key") or (isinstance(k, tuple)) else 0)
             for n, k in layout.node_fields}
        r["is_node"], r["exists"] = True, True
        r.update(kw)
        r["__kind"] = "node"
        return r

    def blank_edge(**kw) -> dict:
        r = {n: (False if k == "bool" else 0.0 if k == "float" else
                 "" if k == "str" or (isinstance(k, tuple)) else 0)
             for n, k in layout.edge_fields}
        r["is_node"], r["exists"] = False, True
        r.update(kw)
        r["__kind"] = "edge"
        return r

    # root sentinel (graph.py:298-300)
    recs[0] = blank_node(hash=2 ** 31, key="", position=0)
    next_pos = layout.ratio
    key_to_pos: dict[str, int] = {}
    node_id = 1

    def check_str(s: str, limit: int, what: str) -> None:
        from kinbaku_spark.exceptions import KeyTooLong

        if len(s) > limit:
            raise KeyTooLong(f"{what} too long for this layout: {s!r}")
        if any(ord(c) > 32767 for c in s):
            raise KeyTooLong(f"{what} has non-BMP/int16 chars: {s!r}")

    for key, attrs in node_rows:
        check_str(key, layout.max_key_len, "node key")
        h = hash_func(key)
        node = blank_node(hash=h, index=node_id, key=key)
        for a, v in (attrs or {}).items():
            if isinstance(v, str):
                check_str(v, layout.max_str_len, f"attr {a}")
            node[a] = v
        # descend the node BST from the root sentinel
        pos = 0
        while True:
            cur = recs[pos]
            state = _compare_nodes(cur["hash"], cur["key"], h, key)
            if state == -1:
                if cur["left"]:
                    pos = cur["left"]
                    continue
            elif state == 1:
                if cur["right"]:
                    pos = cur["right"]
                    continue
            else:
                raise ValueError(f"duplicate node key: {key!r}")
            break
        node_pos, dummy_pos = next_pos, next_pos + layout.ratio
        next_pos = dummy_pos + 1
        node.update(position=node_pos, parent=pos, edge_start=dummy_pos)
        recs[node_pos] = node
        recs[dummy_pos] = blank_edge(
            is_edge_start=True, source_position=node_pos,
            hash=h, position=dummy_pos,
        )
        recs[pos]["left" if state == -1 else "right"] = node_pos
        key_to_pos[key] = node_pos
        node_id += 1

    for src, dst, etype, attrs in edge_rows:
        sp, tp = key_to_pos[src], key_to_pos[dst]
        eh = hash_func(
            f"{recs[sp]['hash']}_{etype}_{recs[tp]['hash']}"
        )
        edge = blank_edge(
            source_position=sp, target_position=tp, hash=eh, type=etype
        )
        for a, v in (attrs or {}).items():
            if isinstance(v, str):
                check_str(v, layout.max_str_len, f"attr {a}")
            edge[a] = v
        # OUT tree descent from the source's dummy (graph.py:1466-1503)
        pos = recs[sp]["edge_start"]
        while True:
            cur = recs[pos]
            state = _compare_edges(cur, edge)
            if state == -1 and cur["out_edge_left"]:
                pos = cur["out_edge_left"]
                continue
            if state == 1 and cur["out_edge_right"]:
                pos = cur["out_edge_right"]
                continue
            if state == 0:
                raise ValueError(
                    f"duplicate edge: {(src, dst, etype)!r}"
                )
            break
        epos = next_pos
        next_pos += 1
        recs[pos]["out_edge_left" if state == -1 else "out_edge_right"] = epos
        edge["out_edge_parent"] = pos
        # IN tree descent from the target's dummy (graph.py:1507-1516)
        pos = recs[tp]["edge_start"]
        while True:
            cur = recs[pos]
            state = _compare_edges(cur, edge)
            if state == -1 and cur["in_edge_left"]:
                pos = cur["in_edge_left"]
                continue
            if state == 1 and cur["in_edge_right"]:
                pos = cur["in_edge_right"]
                continue
            if state == 0:
                raise ValueError("in-tree integrity error")
            break
        recs[pos]["in_edge_left" if state == -1 else "in_edge_right"] = epos
        edge["in_edge_parent"] = pos
        edge["position"] = epos
        recs[epos] = edge

    # serialize
    table_size = next_pos + table_increment
    buf = bytearray(layout.header_size + table_size * layout.edge_size)
    header = (
        len(node_rows),                    # n_nodes (root not counted)
        len(node_rows) + len(edge_rows),   # n_edges incl. per-node dummies
        node_id,                           # node_id auto-increment cursor
        next_pos,                          # next_table_position
        table_size,
        0,                                 # class_length
    )
    struct.pack_into(layout.header_format, buf, 0, *header)

    def values(rec: dict, fields: list) -> list:
        out: list = []
        for name, kind in fields:
            v = rec[name]
            if name == "key":
                out += [ord(c) for c in v] + [0] * (layout.max_key_len - len(v))
            elif isinstance(kind, tuple) and kind[0] == "text":
                out += [ord(c) for c in v] + [0] * (kind[1] - len(v))
            elif kind == "str":
                out += [ord(c) for c in v] + [0] * (layout.max_str_len - len(v))
            else:
                out.append(v)
        return out

    for pos, rec in recs.items():
        off = layout.header_size + pos * layout.edge_size
        if rec["__kind"] == "node":
            struct.pack_into(
                layout.node_format, buf, off, *values(rec, layout.node_fields)
            )
        else:
            struct.pack_into(
                layout.edge_format, buf, off, *values(rec, layout.edge_fields)
            )
    with open(path, "wb") as f:
        f.write(buf)
