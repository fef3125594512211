"""Inputs and expected answers of one benchmark run.

    python3 perfbench/expected.py OUT_DIR --seed 7 --sf 0.01 [--queries NAME...] [--graph]

Writes the generated tables to ``OUT_DIR/data`` and pickles to
``OUT_DIR/expected.pkl`` the tables' row counts, each named query's DuckDB
oracle answer (sorted column names and rows normalized as in
``scripts/check_queries.py``, or the error text when the oracle raised) and,
with ``--graph``, the supplier→part edge weights the point-op model starts
from, computed with pandas independently of the engine. ``run.py`` runs this
in a process of its own, so the generator's and the checker's memory stay
out of the benchmark's peak RSS.
"""

from __future__ import annotations

import argparse
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def oracle_answers(names: list[str], data_dir: str) -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    from kinbaku_spark.queries import ORACLES
    from kinbaku_spark.sources.tables import TABLE_NAMES
    from scripts.check_queries import _normalize

    duck = duckdb.connect()
    for t in TABLE_NAMES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for q in names:
        try:
            want = duck.execute(ORACLES[q]).fetchdf()
            out[q] = (sorted(want.columns), _normalize(want))
        except Exception as err:  # noqa: BLE001 - reported by the runner as a failed check
            out[q] = f"oracle failed: {err}"
    duck.close()
    return out


def graph_edges(data_dir: str) -> dict[tuple[str, str], float]:
    """Weight of every supplier→part edge: the mean l_discount of the
    pair's lineitems, summed in integer cents as the engine does."""
    import pyarrow.parquet as pq

    li = pq.read_table(
        os.path.join(data_dir, "lineitem.parquet"), columns=["l_suppkey", "l_partkey", "l_discount"]
    ).to_pandas()
    li["cents"] = (li["l_discount"] * 100).round().astype("int64")
    agg = li.groupby(["l_suppkey", "l_partkey"])["cents"].agg(["sum", "size"])
    return {
        (f"S{s}", f"P{p}"): round(c / 100 / n, 6)
        for (s, p), c, n in zip(agg.index, agg["sum"], agg["size"])
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("out_dir")
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--sf", type=float, required=True)
    parser.add_argument("--queries", nargs="*", default=[])
    parser.add_argument("--graph", action="store_true")
    args = parser.parse_args(argv)

    data_dir = os.path.join(args.out_dir, "data")
    expected = {"rows": datagen.write_tables(data_dir, args.seed, args.sf)}
    expected["answers"] = oracle_answers(args.queries, data_dir) if args.queries else {}
    expected["edges"] = graph_edges(data_dir) if args.graph else {}
    with open(os.path.join(args.out_dir, "expected.pkl"), "wb") as fh:
        pickle.dump(expected, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
