"""Compare the generated input tables with a directory of fixture tables.

    python3 perfbench/compare_inputs.py REF_DIR [--seed 101] [--sf 0.01]

Generates the tables for ``--seed`` at ``--sf`` (under
``.perfbench_work/compare``, deleted at exit) and prints, for each table,
the row counts and parquet column types of both sides, then per column the
min, max, approximate distinct count, mean and standard deviation (DuckDB
``SUMMARIZE``), then the shapes the workloads' costs depend on: words per
document, vocabulary, near-duplicate documents, lines per order, distinct
supplier→part pairs (the point-op graph) and the l_discount histogram.
Lines whose two sides differ in type or row count end in ``MISMATCH``; the
exit code is 1 when any does.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

SHAPES = {
    "words per document (min, max, mean)": (
        "SELECT min(n), max(n), round(avg(n), 2) FROM "
        "(SELECT len(string_split(text, ' ')) n FROM '{d}/documents.parquet')"
    ),
    "document vocabulary": (
        "SELECT count(DISTINCT w) FROM "
        "(SELECT unnest(string_split(text, ' ')) w FROM '{d}/documents.parquet')"
    ),
    "documents that are a prefix of another": (
        "SELECT count(DISTINCT a.doc_id) FROM '{d}/documents.parquet' a, '{d}/documents.parquet' b "
        "WHERE a.doc_id <> b.doc_id AND starts_with(b.text, a.text)"
    ),
    "lines per order (max, mean)": (
        "SELECT max(c), round(avg(c), 3) FROM "
        "(SELECT count(*) c FROM '{d}/lineitem.parquet' GROUP BY l_orderkey)"
    ),
    "distinct supplier-part pairs": (
        "SELECT count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM '{d}/lineitem.parquet')"
    ),
    "orders per customer (min, max)": (
        "SELECT min(c), max(c) FROM (SELECT count(*) c FROM '{d}/orders.parquet' GROUP BY o_custkey)"
    ),
    "events per user (min, max)": (
        "SELECT min(c), max(c) FROM (SELECT count(*) c FROM '{d}/events.parquet' GROUP BY user_id)"
    ),
    "l_discount histogram": (
        "SELECT list(c ORDER BY l_discount) FROM "
        "(SELECT l_discount, count(*) c FROM '{d}/lineitem.parquet' GROUP BY 1)"
    ),
}


def _types(path: str) -> dict[str, str]:
    # pyarrow names a list's child "item" when writing, "element" when reading back
    return {f.name: str(f.type).replace("<item:", "<element:") for f in pq.read_schema(path)}


def compare(ref: str, gen: str) -> int:
    con = duckdb.connect()
    mismatches = 0
    for name in sorted(f.removesuffix(".parquet") for f in os.listdir(gen)):
        a, b = os.path.join(ref, f"{name}.parquet"), os.path.join(gen, f"{name}.parquet")
        rows = (pq.ParquetFile(a).metadata.num_rows, pq.ParquetFile(b).metadata.num_rows)
        flag = "" if rows[0] == rows[1] else "  MISMATCH"
        mismatches += bool(flag)
        print(f"== {name}: rows fixture {rows[0]} generated {rows[1]}{flag}")
        ta, tb = _types(a), _types(b)
        print("   parquet types (fixture): " + ", ".join(f"{c} {t}" for c, t in ta.items()))
        for col in sorted(ta.keys() | tb.keys()):
            if ta.get(col) != tb.get(col):
                mismatches += 1
                print(f"   {col}: type fixture {ta.get(col)} generated {tb.get(col)}  MISMATCH")
        sb = {r[0]: r for r in con.execute(f"SUMMARIZE SELECT * FROM '{b}'").fetchall()}
        for ra in con.execute(f"SUMMARIZE SELECT * FROM '{a}'").fetchall():
            print(f"   {ra[0]} ({ra[1]})")
            for side, r in (("fixture", ra), ("generated", sb.get(ra[0]))):
                if r is not None:
                    lo, hi, n, mean, std = (str(v)[:24] if v is not None else "-" for v in r[2:7])
                    print(f"     {side:9s} min {lo:24s} max {hi:24s} distinct {n:>6s}"
                          f" mean {mean[:10]:10s} std {std[:10]}")
    print("== shapes (fixture | generated)")
    for label, sql in SHAPES.items():
        got = [con.execute(sql.format(d=d)).fetchone() for d in (ref, gen)]
        print(f"   {label}: {got[0]} | {got[1]}")
    print(f"{mismatches} type or row-count mismatches")
    return mismatches


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("ref_dir")
    parser.add_argument("--seed", type=int, default=101)
    parser.add_argument("--sf", type=float, default=0.01)
    args = parser.parse_args()
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work", "compare")
    shutil.rmtree(work, ignore_errors=True)
    try:
        datagen.write_tables(work, args.seed, args.sf)
        ref_name = os.path.basename(os.path.normpath(args.ref_dir))
        print(f"fixture {ref_name} vs generated (seed {args.seed}, sf {args.sf})")
        return 1 if compare(args.ref_dir, work) else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
