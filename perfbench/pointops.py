"""Point-op stream and the driver-side dict model that checks its answers.

The stream is a sequence of client sessions over the supplier→part graph.
Each session opens a fresh ``Graph`` over the stored tables and runs
``SESSION_PLAN``: a read phase, a write burst, then reads that see the
writes. The first read after the burst is a ``neighbors`` call on a written
source, so it pays the delta-buffer flush. Keys are Zipf-skewed over the
whole key space, so hot keys repeat within a session and hit the
read-through LRU. A session ends with at most one flush: each further flush
doubles the node table's plan until the every-8th-flush checkpoint, and a
long-lived graph under this mix spent up to 50 s in a single read.
"""

from __future__ import annotations

import bisect
import itertools
import random

OPS = ("node", "edge", "has_edge", "neighbors", "out_degree", "add_edge", "remove_edge")
READS = frozenset(OPS[:5])
ZIPF_S = 1.2

# (phase, op counts); each phase is shuffled, the write burst sits between
# the two read phases, and the second read phase starts with the
# read-after-write probe. Fixed counts per session, plus a fixed kind of
# argument per phase, keep the number of Spark jobs per session nearly the
# same for every seed: first-phase has_edge probes hit stored edges, second-phase
# ones probe absent pairs, and second-phase node reads repeat the first
# node key of the session, so they are answered by the LRU.
SESSION_PLAN = (
    ("read", {"node": 6, "edge": 4, "has_edge": 2, "out_degree": 2}),
    ("write", {"add_edge": 4, "remove_edge": 2}),
    ("read", {"node": 2, "edge": 4, "has_edge": 2, "out_degree": 1}),
)
SESSION_OPS = sum(sum(c.values()) for _, c in SESSION_PLAN) + 1


class Zipf:
    """Draws items with probability proportional to 1 / rank**s, ranks
    assigned by a seeded shuffle of ``items``."""

    def __init__(self, items, rng: random.Random, s: float = ZIPF_S) -> None:
        self.items = list(items)
        rng.shuffle(self.items)
        self.cum = list(itertools.accumulate(1.0 / (r**s) for r in range(1, len(self.items) + 1)))

    def draw(self, rng: random.Random):
        return self.items[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]


class GraphModel:
    """Expected answers for the point API: the stored graph plus the
    writes of the current session (``reset`` drops them)."""

    def __init__(self, nodes: dict[str, dict], edges: dict[tuple[str, str], float]) -> None:
        self.nodes = nodes
        self.base = edges
        self.adj: dict[str, set[str]] = {}
        for src, dst in edges:
            self.adj.setdefault(src, set()).add(dst)
        self.reset()

    def reset(self) -> None:
        self.added: dict[tuple[str, str], float] = {}
        self.removed: set[tuple[str, str]] = set()

    def weight(self, src: str, dst: str) -> float | None:
        if (src, dst) in self.added:
            return self.added[(src, dst)]
        if (src, dst) in self.removed:
            return None
        return self.base.get((src, dst))

    def has_edge(self, src: str, dst: str) -> bool:
        return self.weight(src, dst) is not None

    def neighbors(self, src: str) -> list[str]:
        out = set(self.adj.get(src, ()))
        out.difference_update(d for s, d in self.removed if s == src)
        out.update(d for s, d in self.added if s == src)
        return sorted(out)

    def add_edge(self, src: str, dst: str, weight: float) -> None:
        self.removed.discard((src, dst))
        self.added[(src, dst)] = weight

    def remove_edge(self, src: str, dst: str) -> None:
        self.added.pop((src, dst), None)
        if (src, dst) in self.base:
            self.removed.add((src, dst))

    def expect(self, op: str, args: tuple):
        """The answer the point API must give for ``op(*args)``."""
        if op == "node":
            return dict(self.nodes[args[0]])
        if op == "edge":
            w = self.weight(*args)
            return None if w is None else {"src": args[0], "dst": args[1], "type": 0, "weight": w}
        if op == "has_edge":
            return self.has_edge(*args)
        if op == "neighbors":
            return self.neighbors(args[0])
        if op == "out_degree":
            return len(self.neighbors(args[0]))
        if op == "add_edge":
            return {"src": args[0], "dst": args[1], "type": 0, "weight": args[2]["weight"]}
        return None  # remove_edge


class OpStream:
    """Seeded generator of session op lists; arguments depend on the model
    state so that every ``edge`` read and ``remove_edge`` targets an edge
    that exists."""

    def __init__(self, model: GraphModel, seed: int) -> None:
        self.model = model
        self.rng = random.Random(seed)
        self.node_keys = Zipf(sorted(model.nodes), self.rng)
        self.suppliers = Zipf(sorted(model.adj), self.rng)
        self.parts = Zipf(sorted(k for k in model.nodes if k not in model.adj), self.rng)
        self.edges = Zipf(sorted(model.base), self.rng)

    def _existing_edge(self) -> tuple[str, str]:
        while True:
            src, dst = self.edges.draw(self.rng)
            if self.model.has_edge(src, dst):
                return src, dst

    def _absent_pair(self) -> tuple[str, str]:
        while True:
            src, dst = self.suppliers.draw(self.rng), self.parts.draw(self.rng)
            if not self.model.has_edge(src, dst):
                return src, dst

    def _args(self, op: str, phase: int, first_node: list[str]) -> tuple:
        rng = self.rng
        if op == "node":
            if phase > 0 and first_node:
                return (first_node[0],)
            first_node.append(self.node_keys.draw(rng))
            return (first_node[-1],)
        if op in ("edge", "remove_edge"):
            return self._existing_edge()
        if op == "has_edge":
            return self._existing_edge() if phase == 0 else self._absent_pair()
        if op in ("neighbors", "out_degree"):
            return (self.suppliers.draw(rng),)
        return self.suppliers.draw(rng), self.parts.draw(rng), {"weight": round(rng.random(), 6)}

    def session(self):
        """Yield ``(op, args, read_after_write)`` for one session. Arguments
        are drawn as the session advances, so the caller applies each write
        to the model before pulling the next op."""
        written: list[tuple[str, str]] = []
        first_node: list[str] = []
        for phase, (kind, counts) in enumerate(SESSION_PLAN):
            ops = [op for op, n in counts.items() for _ in range(n)]
            self.rng.shuffle(ops)
            if kind == "read" and written:
                yield "neighbors", (written[0][0],), True
            for op in ops:
                args = self._args(op, phase, first_node)
                if op in ("add_edge", "remove_edge"):
                    written.append(args[:2])
                yield op, args, False
