"""Reusable bounded graph-analytics operators over plain edge DataFrames:
FW-BW min-label strongly connected components, integer-exact Katz power
iteration, walk-count eigenvector estimates, and Charikar densest-subgraph
peeling. The registry queries (queries/graph_metrics.py) and the Graph
facade methods both delegate here, so the algorithms are library API —
callable on ANY (src, dst) edge table — not query-file one-offs.

The reference (kerighan/kinbaku) has no analytics surface (SURVEY.md §2.4);
this extends the engine the way NetworkX extends a dict-of-dicts.

All determinism/scale contracts are documented on the query module
(graph_metrics.py): integer-exact arithmetic throughout, MIN-label
order-freedom, per-round size-gated broadcasts, fixed round budgets. The
rounds themselves are operators/supersteps.py shapes: ``propagate`` for
the label, Katz and walk rounds, ``peel`` for the edge-set shrinks, and
``until_stable`` for scc's f/b fixpoint.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from kinbaku_spark.operators.supersteps import peel, propagate, until_stable
from kinbaku_spark.plans.hints import size_hint


def _bound(edges: DataFrame, bound_rows: int | None) -> int:
    """Row bound for node-sized vectors: callers pass a known |V| bound;
    a library caller without one pays one count of the endpoint set."""
    return _node_keys(edges).count() if bound_rows is None else bound_rows


def _both_ways(edges: DataFrame, f_to: str) -> DataFrame:
    """Direction-tagged edge stream (node, other, is_f), lazily pinned:
    every (src, dst) edge twice, once carrying the f label to its ``f_to``
    endpoint and once carrying b the other way — so one propagate round
    moves both labels over one (key, f, b) table (r08: one exchange per
    round where two aliased label broadcasts plus a merge join stood)."""
    f_from = "dst" if f_to == "src" else "src"
    return (
        edges.select(
            F.col(f_to).alias("node"), F.col(f_from).alias("other"), F.lit(True).alias("is_f")
        )
        .unionByName(
            edges.select(
                F.col(f_from).alias("node"), F.col(f_to).alias("other"), F.lit(False).alias("is_f")
            )
        )
        .localCheckpoint(eager=False)
    )


def _fb_messages() -> list:
    """The f half of a tagged edge sends f, the b half sends b."""
    return [
        F.when(F.col("is_f"), F.col("f")).alias("f"),
        F.when(~F.col("is_f"), F.col("b")).alias("b"),
    ]


def scc_bounded(
    edges: DataFrame,
    prop_rounds: int = 3,
    peels: int = 2,
    bound_rows: int | None = None,
) -> DataFrame:
    """Bounded FW-BW min-label SCC over a directed (src, dst) edge table:
    returns (key, comp, peel) for every endpoint — peel = the 1-based peel
    that certified the node, NULL for pending (comp = own key, no claim).

    Soundness (any budget): a certified group {v : f(v)=b(v)=m} is inside
    the true SCC of m. Completeness (to convergence): with prop_rounds and
    peels ≥ |V| the output is exactly the SCC partition — each peel
    certifies at least the whole SCC of the residual graph's min key
    (property-tested vs NetworkX, tests/test_property_components.py).
    """
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    bound = _bound(edges, bound_rows)
    active = _node_keys(edges).localCheckpoint(eager=False)
    e_act = edges
    certified = []
    for peel_no in range(1, peels + 1):
        # built ONCE per peel (loop-invariant): f flows dst→src (a node
        # learns f from its out-neighbor), b src→dst
        e2 = _both_ways(e_act, f_to="src")
        lab = active.select("key", F.col("key").alias("f"), F.col("key").alias("b"))
        for _ in range(prop_rounds):
            lab = propagate(
                lab,
                e2,
                src="other",
                dst="node",
                message=_fb_messages(),
                aggs=[F.min("f").alias("f"), F.min("b").alias("b")],
                self_rows=lab,
                bound=bound,
            ).localCheckpoint(eager=False)
        certified.append(
            lab.filter(F.col("f") == F.col("b")).select(
                "key",
                F.col("f").alias("comp"),
                F.lit(peel_no).cast("int").alias("peel"),
            )
        )
        active = lab.filter(F.col("f") != F.col("b")).select("key")
        e_act = peel(e_act, active, "src", "dst", bound)
    pending = active.select(
        "key", F.col("key").alias("comp"), F.lit(None).cast("int").alias("peel")
    )
    return _union(*certified, pending)


class SCCConvergenceError(RuntimeError):
    """scc() exhausted a budget with work still pending — raised instead of
    returning silently-bounded labels (the same contract as
    cc_kernel.CCConvergenceError on the undirected side)."""


def _tarjan_components(node_list: list, adj: dict) -> list:
    """Iterative Tarjan SCC (explicit work stack — residuals can be 10^5
    nodes, far past the recursion limit). Returns a list of components,
    each a list of node keys."""
    index: dict = {}
    low: dict = {}
    onstack: set = set()
    stack: list = []
    out: list = []
    counter = 0
    for root in node_list:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                onstack.add(v)
            nbrs = adj.get(v, ())
            descended = False
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descended = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                out.append(comp)
    return out


def scc(
    edges: DataFrame,
    bound_rows: int | None = None,
    max_iters: int = 30,
    max_rounds: int = 256,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Certified TO-CONVERGENCE strongly connected components over a
    directed (src, dst) edge table (VERDICT r05 next-round #3 — the
    directed twin of cc_kernel.min_label_fixpoint's raise-not-truncate
    contract). Returns (key, comp) for every endpoint, comp = the MIN key
    of the node's true SCC — the partition NetworkX
    strongly_connected_components produces (differential- and
    adversarially tested, tests/test_scc_convergent.py). scc_bounded above
    remains the fixed-budget peel (sound containment per group, possibly
    split large-diameter SCCs across peels); this form never returns a
    split: budgets exhaust into :class:`SCCConvergenceError`.

    Algorithm — multi-pivot FW-BW (Orzan coloring / the Multistep family)
    with hashed labels and argmin-witness shortcutting:

    per outer iteration, every ACTIVE class (initially one class holding
    the whole graph) in parallel:

    1. f/b min-label fixpoint on the class-induced subgraph: f(v) = min
       hashed label over in-class ancestors ∪ self, b(v) = the descendant
       twin. One-hop rounds alone need longest-path-many rounds, so each
       round also JUMPS THROUGH THE LABEL ITSELF: a label is
       md5(key)||key, so node(f(v)) — the argmin ancestor found so far —
       is read right out of the label suffix, and
       f(v) <- min(f(v), f(node(f(v)))) composes coverage through the
       current argmin exactly like the CC kernel's label[label]
       Shiloach-Vishkin shortcut (a static or re-hooked pointer column
       does NOT work: measured 119 rounds at sf0.1 — the static chain
       misses where the min actually flows, and re-hooking resets the
       doubled distance every improvement; the label-suffix jump needs
       ~17). Exactness: f only ever holds labels of ancestors∪self (an
       upper bound on the true min), and a one-hop round with ZERO
       changes certifies 1-hop stability, which forces f = f* exactly
       (induction along any ancestor path) — so the loop exit condition
       IS the convergence certificate.
    2. Certify: at the exact fixpoint, {v : f(v)=b(v)=m} is the COMPLETE
       SCC of m's node (m reaches v and v reaches m for every member, and
       every same-SCC node shares ancestor/descendant sets hence both
       labels). comp = min original key per certified group.
    3. Split: remaining nodes partition by the (f, b) PAIR — same-SCC
       nodes always share the pair, so no SCC ever splits across classes;
       different pairs provably cannot be in the same SCC. Labels are
       md5-hashed, so the pair split is a random multi-pivot partition —
       expected O(log n) outer iterations (the quicksort argument), immune
       to adversarial key orderings (a descending-key chain, the bounded
       peel's worst case, resolves in ONE iteration: every (f, b) pair is
       distinct, so all nodes certify as singleton classes next round).

    Scale: every step is bulk DataFrame algebra over (key, cls, f, b)
    rows — all classes propagate in ONE plan per round (no per-class
    jobs), joins shuffle on node keys, per-round persist+localCheckpoint
    pins lineage and keeps join sides AQE-skew-splittable, label tables
    are |active|-sized with size-gated broadcasts only.

    ``local_threshold`` is the Multistep serial tail (see the in-loop
    comment): when the residual active set (nodes + edges) fits the
    driver, one in-memory Tarjan pass finishes it — the distributed
    fixpoints do the bulk reduction, the tail does not pay ~log(n) more
    shuffle cascades. 0 forces pure distribution (the adversarial tests
    run that way); the default (10^5 rows ≈ a few MB) is far below the
    broadcast gate the rest of the engine already trusts driver-adjacent
    memory with.
    """
    edges0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bound = _bound(edges0, bound_rows)
    hint = size_hint(bound)
    h = lambda c: F.concat(F.md5(F.col(c)), F.col(c))  # noqa: E731
    nodes = (
        _node_keys(edges0)
        .withColumn("cls", F.lit("r"))
        .localCheckpoint(eager=True)
    )
    certified: list[DataFrame] = []
    # nodes whose ONLY incident edges are self-loops vanish from edges0;
    # the contract is (key, comp) for EVERY endpoint of the input, and a
    # self-loop node is its own singleton SCC (ADVICE r06 #2) — certify
    # them up front from the pre-filter endpoint set
    selfloop_only = (
        _node_keys(edges.select("src", "dst"))
        .join(nodes.select("key"), "key", "left_anti")
        .select("key", F.col("key").alias("comp"))
        .localCheckpoint(eager=True)
    )
    if selfloop_only.limit(1).count() > 0:
        certified.append(selfloop_only)
    rounds_left = max_rounds
    for _ in range(max_iters):
        # class-induced active edge set (src, dst, cls)
        e = (
            edges0.join(hint(nodes.withColumnRenamed("key", "src")), "src")
            .join(
                hint(
                    nodes.select(
                        F.col("key").alias("dst"), F.col("cls").alias("cls_d")
                    )
                ),
                "dst",
            )
            .filter(F.col("cls") == F.col("cls_d"))
            .select("src", "dst", "cls")
            .localCheckpoint(eager=True)
        )
        # Multistep tail (Slota/Rajamanickam/Madduri: parallel FW-BW for
        # the bulk, SERIAL Tarjan for the residual): once the active
        # set fits comfortably on the driver (same spirit as the
        # broadcast size gate), one in-memory Tarjan pass replaces what
        # would otherwise be ~log(n) more distributed fixpoint
        # iterations, each a multi-round shuffle cascade over a
        # shrinking tail. Classes share no edges, so one Tarjan over the
        # class-tagged residual respects every class boundary for free.
        # local_threshold=0 forces the pure distributed path (tests).
        n_active = nodes.count()
        if n_active + e.count() <= local_threshold:
            keys = [r.key for r in nodes.select("key").collect()]
            adj: dict = {}
            for r in e.select("src", "dst").collect():
                adj.setdefault(r.src, []).append(r.dst)
            rows = [
                (k, min(c))
                for c in _tarjan_components(keys, adj)
                for k in c
            ]
            spark = edges.sparkSession
            certified.append(
                spark.createDataFrame(rows, "key string, comp string")
            )
            return _union(*certified)
        lab = nodes.select(
            "key", "cls", h("key").alias("f"), h("key").alias("b")
        ).localCheckpoint(eager=True)
        # f flows along an edge (min over ancestors), b against it
        e2 = _both_ways(e, f_to="dst")

        def step(lab):
            # hop: MIN over the self row and the in-class neighbor labels;
            # cls and the old labels (of, ob) ride the self row only
            hop = propagate(
                lab,
                e2,
                src="other",
                dst="node",
                message=_fb_messages(),
                aggs=[F.min(c).alias(c) for c in ("cls", "f", "b", "of", "ob")],
                self_rows=lab.select(
                    "key", "cls", "f", "b", F.col("f").alias("of"), F.col("b").alias("ob")
                ),
                bound=bound,
            )
            # label-suffix JUMP: f <- min(f, f[node(f)]) where node(f) = the
            # argmin ancestor embedded in the label (chars 33+), the
            # directed analogue of the CC kernel's label[label] shortcut.
            # Jump sides read the PREVIOUS round's checkpointed lab keyed
            # by node id; the argmin node only ever moves FURTHER away
            # (labels only decrease), so coverage compounds geometrically —
            # no pointer column to reset. Left join: node(f) is always an
            # in-class node present in lab; the left form keeps the plan
            # robust. The change flag rides the same plan.
            jf = lab.select(F.col("key").alias("jkf"), F.col("f").alias("fj"))
            jb = lab.select(F.col("key").alias("jkb"), F.col("b").alias("bj"))
            f = F.least(F.col("f"), F.coalesce("fj", F.col("f")))
            b = F.least(F.col("b"), F.coalesce("bj", F.col("b")))
            return (
                hop.join(hint(jf), F.expr("substring(f, 33)") == F.col("jkf"), "left")
                .join(hint(jb), F.expr("substring(b, 33)") == F.col("jkb"), "left")
                .select("key", "cls", f.alias("f"), b.alias("b"), "of", "ob")
                .select(
                    "key",
                    "cls",
                    "f",
                    "b",
                    ((F.col("f") != F.col("of")) | (F.col("b") != F.col("ob"))).alias("chg"),
                )
            )

        # zero combined change ⇒ in particular the hop phase lowered
        # nothing (labels only decrease) ⇒ 1-hop stability ⇒ f = f*,
        # b = b* exactly — the loop exit IS the convergence certificate
        error = SCCConvergenceError(
            f"scc: f/b fixpoint still changing after {max_rounds}"
            " total one-hop+jump rounds; refusing to return"
            " unconverged labels"
        )
        lab, rounds = until_stable(step, lab, rounds_left, error)
        rounds_left -= rounds
        done = lab.filter(F.col("f") == F.col("b"))
        comp_map = done.groupBy("cls", "f").agg(F.min("key").alias("comp"))
        certified.append(
            done.join(comp_map, ["cls", "f"])
            .select("key", "comp")
            .localCheckpoint(eager=True)
        )
        remaining = lab.filter(F.col("f") != F.col("b"))
        nodes = remaining.select(
            "key", F.md5(F.concat("cls", "f", "b")).alias("cls")
        ).localCheckpoint(eager=True)
        if nodes.limit(1).count() == 0:
            return _union(*certified)
    raise SCCConvergenceError(
        f"scc: {max_iters} FW-BW split iterations exhausted with nodes"
        " still uncertified; refusing to return a partial partition"
    )


def _union(*dfs: DataFrame) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _symmetrized(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst"), F.col("src"))
    )


def _node_keys(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("key")).union(edges.select("dst")).distinct()
    )


def _walk_sums(edges, rounds, nodes, bound_rows, beta) -> DataFrame:
    """x_t(v) = beta(t) + Σ_{u ~ v} x_{t-1}(u) on the symmetrized edge
    table, x_0 = 1, as exact BIGINTs: (key, x) for every node. The
    constant rides the node's self row into the one SUM (a self row of 0
    still keeps a node with no neighbors)."""
    und = _symmetrized(edges)
    nodes = (nodes or _node_keys(edges)).select("key")
    bound = _bound(edges, bound_rows)
    x = nodes.select("key", F.lit(1).cast("long").alias("x"))
    for t in range(1, rounds + 1):
        x = propagate(
            x,
            und,
            src="u",
            dst="v",
            message=[F.col("x")],
            aggs=[F.sum("x").alias("x")],
            self_rows=nodes.select("key", F.lit(beta(t)).cast("long").alias("x")),
            bound=bound,
        ).localCheckpoint(eager=False)
    return x


def katz_scores(
    edges: DataFrame,
    rounds: int = 3,
    scale: int = 8,
    nodes: DataFrame | None = None,
    bound_rows: int | None = None,
) -> DataFrame:
    """Katz centrality (α = 1/scale, β = 1) on the symmetrized edge table,
    integer-exact: returns (key, katz_scaled BIGINT, katz double) with
    katz_scaled = scale^rounds · katz exactly (graph_metrics contract).
    """
    s = _walk_sums(edges, rounds, nodes, bound_rows, lambda t: scale**t)
    return s.select(
        "key",
        F.col("x").alias("katz_scaled"),
        (F.col("x") / F.lit(float(scale**rounds))).alias("katz"),
    )


def walk_counts(
    edges: DataFrame,
    rounds: int = 3,
    nodes: DataFrame | None = None,
    bound_rows: int | None = None,
) -> DataFrame:
    """Exact length-``rounds`` walk counts on the symmetrized edge table
    (w = A^T·1): (key, walks BIGINT) — the un-normalized eigenvector-
    centrality power iteration (graph_metrics contract)."""
    w = _walk_sums(edges, rounds, nodes, bound_rows, lambda t: 0)
    return w.select("key", F.col("x").alias("walks"))


def densest_subgraph_trace(
    edges: DataFrame,
    peel_rounds: int = 5,
    bound_rows: int | None = None,
) -> DataFrame:
    """Charikar ε-peel (ε = 0.1) density trace over a (src, dst) edge set
    treated as undirected simple edges: PEEL fixed rounds of (round,
    n_nodes, n_edges, density_ppm), low-degree nodes removed per round
    (graph_metrics contract — the max row 2(1+ε)-approximates the
    densest subgraph)."""
    bound = _bound(edges, bound_rows)
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    rows = []
    for r in range(peel_rounds):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select("b"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)
        )
        stats = deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.coalesce(F.expr("sum(d) div 2"), F.lit(0)).cast("long").alias("n_edges"),
        )
        rows.append(
            stats.select(
                F.lit(r).cast("int").alias("round"),
                "n_nodes",
                "n_edges",
                F.expr(
                    "CASE WHEN n_nodes = 0 THEN NULL"
                    " ELSE n_edges * 1000000 div n_nodes END"
                ).alias("density_ppm"),
            )
        )
        keep = (
            deg.join(F.broadcast(stats))
            .filter(F.col("d") * F.col("n_nodes") * 10 > 22 * F.col("n_edges"))
            .select("v")
        )
        e = peel(e, keep, "a", "b", bound)
    return _union(*rows)
