"""Every `joins.<name>` that the harnesses and scripts reference still
exists, read from their source (no Spark): a deletion from
`util_gis_spark.operators.joins` cannot silently break a bench, the
driver entry point, a script or the SQL API."""

import ast
import pathlib

import pytest

from util_gis_spark.operators import joins

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + list((ROOT / "scripts").glob("*.py"))
    + list((ROOT / "perfbench").glob("*.py"))
    + [ROOT / "util_gis_spark" / "sql_api.py"]
)


def joins_references(tree: ast.AST) -> set[str]:
    """Names used as `<joins alias>.X` or imported by
    `from ...joins import X`."""
    aliases, names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            module = node.module or ""
            for a in node.names:
                if module.split(".")[-1] == "joins":
                    names.add(a.name)
                elif a.name == "joins":
                    aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.endswith(".joins") and a.asname:
                    aliases.add(a.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            names.add(node.attr)
    return names


def test_reference_finder_sees_both_forms():
    tree = ast.parse(
        "from util_gis_spark.operators import joins as J\n"
        "from .operators.joins import pip_join\n"
        "J.knn_join(a, b)\n"
    )
    assert joins_references(tree) == {"knn_join", "pip_join"}


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_every_joins_reference_resolves(path):
    missing = sorted(
        n for n in joins_references(ast.parse(path.read_text())) if not hasattr(joins, n)
    )
    assert not missing, f"{path.name}: joins has no {missing}"
