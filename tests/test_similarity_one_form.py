"""Every vector expression in ``operators/similarity.py`` has one form.

The module defines each scoring expression once, as a SQL fragment, and
wraps it in ``F.expr`` where a Column is needed.  A second, Column-API
copy of the same expression is built from the higher-order array
builders below; this static check (``ast``, no Spark session, no
allowlist) fails on any call to one of them, and on any function that
branches on whether it was handed a Column or a fragment.
"""

from __future__ import annotations

import ast
from pathlib import Path

SIMILARITY = (
    Path(__file__).resolve().parent.parent
    / "proyecto_gasto_publico_etl_per__spark"
    / "operators"
    / "similarity.py"
)

#: the pyspark.sql.functions builders a Column twin is made of
HIGHER_ORDER = {
    "aggregate",
    "zip_with",
    "transform",
    "filter",
    "array_max",
    "array_min",
    "array_sort",
    "slice",
    "element_at",
}


def _functions_aliases(tree: ast.Module) -> tuple[set[str], dict[str, str]]:
    """(names bound to the ``pyspark.sql.functions`` module, local name →
    function name of its members imported directly), anywhere in the
    module."""
    modules: set[str] = set()
    members: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules.update(
                a.asname or a.name for a in node.names if a.name == "functions"
            )
        elif (
            isinstance(node, ast.ImportFrom)
            and node.module == "pyspark.sql.functions"
        ):
            members.update((a.asname or a.name, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            modules.update(
                a.asname for a in node.names
                if a.name == "pyspark.sql.functions" and a.asname
            )
    return modules, members


def _column_builder_calls(source: str) -> list[str]:
    """``line: name`` of every higher-order Column-builder call."""
    tree = ast.parse(source)
    modules, members = _functions_aliases(tree)
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in modules
        ):
            name = f.attr
        elif isinstance(f, ast.Name):
            name = members.get(f.id)
        else:
            continue
        if name in HIGHER_ORDER:
            hits.append(f"{node.lineno}: {name}")
    return hits


def _column_dispatch(source: str) -> list[int]:
    """Lines of every ``isinstance(..., Column)`` test."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "isinstance"
        and len(node.args) == 2
        and "Column" in ast.unparse(node.args[1])
    ]


def test_similarity_builds_no_column_twin():
    source = SIMILARITY.read_text(encoding="utf-8")
    assert _column_builder_calls(source) == []
    assert _column_dispatch(source) == []


def test_checker_sees_every_spelling():
    """The checker's own rules, on a toy module."""
    toy = (
        "from pyspark.sql import functions as G\n"
        "from pyspark.sql.functions import zip_with as zw, transform\n"
        "import pyspark.sql.functions as H\n"
        "G.aggregate(a, b, c)\n"
        "transform(a, f)\n"
        "zw(a, b, f)\n"
        "H.element_at(a, 1)\n"
        "G.expr('aggregate(a, 0.0D, (acc, x) -> acc + x)')\n"
        "df.filter(x)\n"
        "isinstance(c, (str, Column))\n"
    )
    assert _column_builder_calls(toy) == [
        "4: aggregate", "5: transform", "6: zip_with", "7: element_at"
    ]
    assert _column_dispatch(toy) == [10]
