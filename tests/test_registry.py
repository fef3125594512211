"""Query registry shape: one entry per query, named by its function, in the
driver's order, registered from domain modules whose imports form no cycle
and whose top-level names are bound once. No Spark job runs here."""

from __future__ import annotations

import ast
import os

import pytest

from kinbaku_spark.queries import _PRIORITY, ORACLES, QUERIES, register

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kinbaku_spark", "queries"
)
MODULES = sorted(f for f in os.listdir(QUERIES_DIR) if f.endswith(".py"))


def test_registry_size_and_order():
    assert len(QUERIES) == 286
    assert list(QUERIES) == list(ORACLES)
    assert list(QUERIES)[:50] == _PRIORITY


def test_entries_named_by_function_with_sql_oracles():
    for name, fn in QUERIES.items():
        assert fn.__name__ == name
        assert isinstance(ORACLES[name], str) and ORACLES[name]


def test_register_rejects_duplicates_and_bad_oracles():
    name = next(iter(QUERIES))
    with pytest.raises(ValueError, match="already registered"):
        register(QUERIES[name], ORACLES[name])

    def x_unregistered_probe(spark, sf_dir):
        return None

    for bad in ("", None, 1):
        with pytest.raises(ValueError, match="oracle"):
            register(x_unregistered_probe, bad)
    assert "x_unregistered_probe" not in QUERIES


def test_modules_named_by_domain():
    assert "extensions.py" not in MODULES
    assert not [f for f in MODULES if "_ext" in f]


def _top_level_bindings(tree):
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield st.name
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            for a in st.names:
                yield a.asname or a.name.split(".")[0]
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id


@pytest.mark.parametrize("module", MODULES)
def test_no_function_level_query_imports_and_no_shadowing(module):
    with open(os.path.join(QUERIES_DIR, module)) as f:
        tree = ast.parse(f.read())
    top = {id(st) for st in tree.body}
    lazy = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and id(node) not in top
        and (node.module or "").startswith("kinbaku_spark.queries")
    ]
    assert not lazy, f"{module}: query-module imports inside functions at lines {lazy}"
    names = list(_top_level_bindings(tree))
    twice = sorted({n for n in names if names.count(n) > 1})
    assert not twice, f"{module}: top-level names bound twice: {twice}"
