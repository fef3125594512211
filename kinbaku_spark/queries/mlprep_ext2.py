"""ML-prep operators, batch 2: product-quantization ANN (IVF-PQ's
compression half) and greedy k-center coreset selection — the two
embedding-side scale primitives the round-1 ANN family (brute → LSH →
IVF) still lacked.

The reference (kerighan/kinbaku) has no vector surface at all (SURVEY.md
§2.4); these extend the similarity-search / data-pruning family on the
driver's `embeddings` table.

Shuffle shapes (the 100 TB story):

- PQ-ADC: the ONLY corpus-sized shuffle is the codebook recompute — a
  (M·K·dsub)-group aggregate with map-side partials (≤ 256 rows per
  partition reach the exchange). Seeds, the trained codebook, and the
  query ride back as LITERALS (k-bounded collects, the k-means-centroid
  pattern), so encoding + ADC scoring is ONE map-only projection over the
  corpus with a TakeOrderedAndProject top-k: each vector is scored from
  M table lookups instead of a d-dim dot product. This is exactly how
  IVF-PQ engines (Faiss) shape the scan; at 100 TB you'd persist the
  M-byte codes (16× smaller than float16 vectors) and rescan only those.
- k-center: each of the K-1 greedy rounds is a map-only
  min-over-selected-literals projection + a 1-row TakeOrdered argmax —
  no shuffle at all; cost is K passes over the corpus (K is small by
  construction: coreset selection picks far fewer rows than it scans).

Determinism: components quantized to integer micro-units
(floor(x·10⁶) — exact in IEEE double, identical in both engines), then
ALL distances/dot-products/centroid means are int64 arithmetic
(truncating div matches DuckDB's integer `//`), so the oracle replays
bit-for-bit — no float drift anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared

QUERIES: dict = {}
ORACLES: dict = {}

PQ_M = 4        # subspaces
PQ_DSUB = 16    # dims per subspace (64-dim corpus)
PQ_K = 4        # codes per subspace
PQ_TOPK = 10
KC_PICKS = 8    # coreset size (seed + 7 greedy rounds)

_INT_VEC = (
    "transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * CAST('1000000.0' AS DOUBLE)) AS BIGINT))"
)
_SQL_INT_VEC = (
    "list_transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * CAST('1000000.0' AS DOUBLE)) AS BIGINT))"
)


def _lit_vec(vals: list[int]) -> Column:
    return F.array(*[F.lit(int(v)).cast("long") for v in vals])


def _l2_lit(sub: Column, cent: list[int]) -> Column:
    """Exact integer squared L2 between a micro-unit column vector and a
    literal centroid."""
    return F.aggregate(
        F.zip_with(sub, _lit_vec(cent), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _dot_lit(vec: Column, q: list[int]) -> Column:
    return F.aggregate(
        F.zip_with(vec, _lit_vec(q), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _argmin_code(sub: Column, cents: list[tuple[int, list[int]]]) -> Column:
    """Code of the nearest centroid: min over (dist, code) structs —
    deterministic tie-break on the lowest code."""
    return F.array_min(
        F.array(
            *[
                F.struct(_l2_lit(sub, cent).alias("d"), F.lit(code).alias("c"))
                for code, cent in cents
            ]
        )
    )["c"]


def _sql_l2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _sql_idot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


# -- x_ann_pq_adc: product-quantized ANN with ADC scoring ---------------------

def x_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance top-k: split each
    micro-unit vector into `PQ_M` subvectors, train a `PQ_K`-entry
    codebook per subspace (seeds = the first `PQ_K` vectors' subvectors,
    one Lloyd round with exact integer centroid means), encode the
    corpus, then rank by the ADC inner product — Σ_m lut[m][code_m],
    where the lut is the query-subvector · codebook-entry table.

    Returns the top `PQ_TOPK` neighbors of vec_id 0 with both the ADC
    estimate and the exact integer dot product (the quantization-error
    readout). Scoring is a map-only projection: M array lookups per
    vector, never a d-dim dot against the corpus.
    """
    scored = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "vec_id long, adc_dot long, exact_dot long"
        )
    return scored.orderBy(F.desc("adc_dot"), "vec_id").limit(PQ_TOPK)


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The full PQ-scored corpus (vec_id, adc_dot, exact_dot) for the
    vec_id-0 query — shared by the top-k query and the recall eval, and
    session-persisted per sf_dir (the codebook train + encode pass is
    index-build work, paid once like the other derived engine state;
    consumers then rank a warm 3-column table). None when the corpus is
    empty (no seeds / no query vector)."""
    return shared(
        spark, sf_dir, "pq_scored", lambda: _pq_build(spark, sf_dir), ["embeddings"]
    )


def _pq_build(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", F.expr(_INT_VEC).alias("q"))
    wide = qv.select(
        "vec_id",
        "q",
        *[
            F.slice("q", m * PQ_DSUB + 1, PQ_DSUB).alias(f"s{m}")
            for m in range(PQ_M)
        ],
    )

    seed_rows = (
        wide.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", *[f"s{m}" for m in range(PQ_M)])
        .collect()
    )
    qrow = wide.filter(F.col("vec_id") == 0).select("q").collect()
    if not seed_rows or not qrow:
        return None
    seeds = {
        m: sorted(
            (int(r["vec_id"]), [int(x) for x in r[f"s{m}"]]) for r in seed_rows
        )
        for m in range(PQ_M)
    }
    query = [int(x) for x in qrow[0]["q"]]

    # round 1: assign every subvector to its seed, recompute exact integer
    # centroid means — the ONE corpus-sized aggregation (M*K*dsub groups)
    assigned = wide.select(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _argmin_code(F.col(f"s{m}"), seeds[m]).alias("code"),
                F.col(f"s{m}").alias("sub"),
            ).alias(f"a{m}")
            for m in range(PQ_M)
        ]
    )
    longf = assigned.select(
        F.explode(F.array(*[f"a{m}" for m in range(PQ_M)])).alias("e")
    ).select(
        F.col("e.m").alias("m"),
        F.col("e.code").alias("code"),
        F.posexplode("e.sub").alias("pos", "val"),
    )
    cent_rows = (
        longf.groupBy("m", "code", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("m", "code", "pos", F.expr("s div n").alias("cval"))
        .collect()
    )
    book: dict[int, dict[int, list[int]]] = {}
    for r in cent_rows:
        book.setdefault(int(r["m"]), {}).setdefault(int(r["code"]), [0] * PQ_DSUB)[
            int(r["pos"])
        ] = int(r["cval"])

    # ADC lookup table: query-subvector . centroid, in exact Python ints
    lut = {
        m: {
            code: sum(
                query[m * PQ_DSUB + i] * cent[i] for i in range(PQ_DSUB)
            )
            for code, cent in book[m].items()
        }
        for m in book
    }

    # encode + score: ONE map-only pass (codes -> M lut lookups), top-k
    def lut_at(m: int) -> Column:
        code = _argmin_code(F.col(f"s{m}"), sorted(book[m].items()))
        arr = F.array(
            *[F.lit(int(lut[m][c])).cast("long") for c in sorted(lut[m])]
        )
        return F.element_at(arr, code + 1)

    adc = lut_at(0)
    for m in range(1, PQ_M):
        adc = adc + lut_at(m)
    scored = (
        wide.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            adc.cast("long").alias("adc_dot"),
            _dot_lit(F.col("q"), query).cast("long").alias("exact_dot"),
        )
        .persist()
    )
    scored.count()
    return scored


def _pq_prefix() -> str:
    return f"""
WITH qv AS (
  SELECT vec_id, {_SQL_INT_VEC} AS q FROM embeddings
),
subs AS (
  SELECT vec_id, ms.m, list_slice(q, ms.m * {PQ_DSUB} + 1,
                                  (ms.m + 1) * {PQ_DSUB}) AS sub
  FROM qv CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) ms
),
seeds AS (
  SELECT m, CAST(vec_id AS INTEGER) AS code, sub AS cent
  FROM subs WHERE vec_id < {PQ_K}
),
a1 AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_l2('s.sub', 'd.cent')}, d.code)
             AS rn
    FROM subs s JOIN seeds d USING (m)
  ) WHERE rn = 1
),
ex AS (
  SELECT a1.m, a1.code, generate_subscripts(s.sub, 1) AS pos,
         unnest(s.sub) AS val
  FROM subs s JOIN a1 ON s.vec_id = a1.vec_id AND s.m = a1.m
),
cen AS (
  SELECT m, code, list(cval ORDER BY pos) AS cent FROM (
    SELECT m, code, pos,
           CAST(CAST(SUM(val) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                AS BIGINT) AS cval
    FROM ex GROUP BY m, code, pos
  ) GROUP BY m, code
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_l2('s.sub', 'c.cent')}, c.code)
             AS rn
    FROM subs s JOIN cen c USING (m)
  ) WHERE rn = 1
),
qq AS (SELECT q FROM qv WHERE vec_id = 0),
lut AS (
  SELECT c.m, c.code,
         CAST(list_sum(list_transform(generate_series(1, {PQ_DSUB}),
           i -> list_slice(qq.q, c.m * {PQ_DSUB} + 1,
                           (c.m + 1) * {PQ_DSUB})[i] * c.cent[i]))
           AS BIGINT) AS d
  FROM cen c CROSS JOIN qq
),
adc AS (
  SELECT k.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dot
  FROM codes k JOIN lut l USING (m, code)
  GROUP BY k.vec_id
),
scored AS (
  SELECT v.vec_id, a.adc_dot, {_sql_idot('v.q', 'qq.q')} AS exact_dot
  FROM qv v JOIN adc a USING (vec_id) CROSS JOIN qq
  WHERE v.vec_id <> 0
)"""


def _pq_sql() -> str:
    return (
        _pq_prefix()
        + f"""
SELECT vec_id, adc_dot, exact_dot FROM scored
ORDER BY adc_dot DESC, vec_id
LIMIT {PQ_TOPK}
"""
    )


def _pq_recall_sql() -> str:
    return (
        _pq_prefix()
        + f""",
truth AS (SELECT vec_id FROM scored ORDER BY exact_dot DESC, vec_id
          LIMIT {PQ_TOPK}),
pqtop AS (SELECT vec_id FROM scored ORDER BY adc_dot DESC, vec_id
          LIMIT {PQ_TOPK})
SELECT {PQ_TOPK} AS k, CAST(COUNT(*) AS BIGINT) AS hits,
       CAST(COUNT(*) * 1000000 // {PQ_TOPK} AS BIGINT) AS recall_ppm
FROM truth JOIN pqtop USING (vec_id)
HAVING (SELECT COUNT(*) FROM qq) > 0
"""
    )


def x_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC ranking against the exact-dot brute-force
    truth for the same query — the quantization-quality gate you check
    before trusting compressed codes at scale. One row: k, overlap
    count, recall in ppm.
    """
    scored = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame([], "k int, hits long, recall_ppm long")
    truth = (
        scored.orderBy(F.desc("exact_dot"), "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    pqtop = (
        scored.orderBy(F.desc("adc_dot"), "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    return truth.join(pqtop, "vec_id").agg(
        F.lit(PQ_TOPK).alias("k"),
        F.count(F.lit(1)).alias("hits"),
        F.expr(f"count(1) * 1000000 div {PQ_TOPK}").alias("recall_ppm"),
    )


QUERIES["x_ann_pq_adc"] = x_ann_pq_adc
ORACLES["x_ann_pq_adc"] = _pq_sql()
QUERIES["x_ann_pq_recall"] = x_ann_pq_recall
ORACLES["x_ann_pq_recall"] = _pq_recall_sql()


# -- x_coreset_kcenter: greedy k-center data selection -------------------------

def x_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset: seed with vec_id 0, then `KC_PICKS - 1`
    rounds of "pick the vector farthest (max-min squared L2) from the
    already-selected set" — the classic 2-approximation cover that data-
    pruning pipelines use to pick a diverse training subset.

    The min-distance state is INCREMENTAL (the classic farthest-first
    recurrence): d2_new(v) = min(d2_old(v), ||v - latest_center||²), kept
    as a checkpointed (vec_id, q, d2) table. Each round is therefore one
    map-only projection with a SINGLE literal-center distance (constant
    O(dim) expression size — not the O(K·dim) least-of-K tree that made
    round K's codegen quadratic) plus a 1-row TakeOrdered argmax. No
    shuffle ever touches the corpus; the collected state is 1 row/round.

    Output: (pick_round, vec_id, d2) — d2 is the pick's exact integer
    squared distance to its nearest previously-selected center.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", F.expr(_INT_VEC).alias("q"))
    seed = qv.filter(F.col("vec_id") == 0).collect()
    if not seed:
        return spark.createDataFrame([], "pick_round int, vec_id long, d2 long")
    picks: list[tuple[int, int]] = [(0, 0)]  # (vec_id, d2)
    seed_q = [int(x) for x in seed[0]["q"]]
    # LAZY per-round checkpoints (r08, guide §1.2 — the merged
    # materialize-and-probe shape): each round's argmax collect is the
    # round's only driver action, and computing it materializes the lazy
    # checkpoint as a side effect, so the separate eager checkpoint job
    # per round disappears (16 → ~9 jobs). The next round's relax reads
    # the checkpoint blocks the collect just wrote; placement determinism
    # is irrelevant here (single consumer chain, no range sampling).
    state = (
        qv.filter(F.col("vec_id") != 0)
        .select(
            "vec_id", "q", _l2_lit(F.col("q"), seed_q).cast("long").alias("d2")
        )
        .localCheckpoint(eager=False)
    )
    for r in range(1, KC_PICKS):
        row = state.orderBy(F.desc("d2"), "vec_id").limit(1).collect()
        if not row:
            break
        vid = int(row[0]["vec_id"])
        picks.append((vid, int(row[0]["d2"])))
        if r == KC_PICKS - 1:
            break  # no next round to relax distances for
        cq = [int(x) for x in row[0]["q"]]
        state = (
            state.filter(F.col("vec_id") != vid)
            .select(
                "vec_id",
                "q",
                F.least(F.col("d2"), _l2_lit(F.col("q"), cq))
                .cast("long")
                .alias("d2"),
            )
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(
        [(r, v, d) for r, (v, d) in enumerate(picks)],
        "pick_round int, vec_id long, d2 long",
    )


def _kcenter_sql() -> str:
    parts = [
        f"WITH qv AS MATERIALIZED (\n  SELECT vec_id, {_SQL_INT_VEC} AS q FROM embeddings\n)",
        "sel0 AS MATERIALIZED (SELECT vec_id, q FROM qv WHERE vec_id = 0)",
    ]
    for r in range(1, KC_PICKS):
        prev = f"sel{r - 1}"
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT v.vec_id, CAST(MIN({_sql_l2('v.q', 's.q')}) AS BIGINT) AS d2
  FROM qv v CROSS JOIN {prev} s
  WHERE v.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY v.vec_id
),
p{r} AS MATERIALIZED (SELECT vec_id, d2 FROM d{r} ORDER BY d2 DESC, vec_id LIMIT 1),
sel{r} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT v.vec_id, v.q FROM qv v JOIN p{r} USING (vec_id)
)"""
        )
    unions = [
        "SELECT 0 AS pick_round, vec_id, CAST(0 AS BIGINT) AS d2 FROM sel0"
    ] + [
        f"SELECT {r} AS pick_round, vec_id, d2 FROM p{r}"
        for r in range(1, KC_PICKS)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(unions)


QUERIES["x_coreset_kcenter"] = x_coreset_kcenter
ORACLES["x_coreset_kcenter"] = _kcenter_sql()
