"""``operators.map_rows``: the one harness every per-row Python stage
runs through. Fan-out and empty output, step chaining, column order and
output schema; and a lint that keeps ``mapInPandas`` inside it."""

from __future__ import annotations

import ast
from pathlib import Path

from xml_hive_spark.operators import map_rows


def test_fan_out_chain_and_empty_batches(spark):
    """One step yields 0, 1 or 3 rows per input; a second step sees
    each of them; an input partition whose rows all yield nothing
    contributes no rows. Columns come out in the schema's order."""

    def fan(i, s):
        for k in range((0, 1, 3)[i % 3]):
            yield i, k, s

    def tag(i, k, s):
        yield s.encode(), i * 10 + k, [float(k)]

    schema = "blob binary, n long, v array<float>"
    df = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "i long, s string")
    got = map_rows(df.repartition(2), schema, fan, tag)
    assert got.schema.simpleString() == "struct<blob:binary,n:bigint,v:array<float>>"
    assert sorted((bytes(r.blob), r.n, r.v) for r in got.collect()) == [
        (b"t1", 10, [0.0]),
        (b"t2", 20, [0.0]), (b"t2", 21, [1.0]), (b"t2", 22, [2.0]),
        (b"t4", 40, [0.0]),
        (b"t5", 50, [0.0]), (b"t5", 51, [1.0]), (b"t5", 52, [2.0]),
    ]

    nothing = map_rows(df.filter("i % 3 = 0").coalesce(1), "i long, k long, s string", fan)
    assert nothing.columns == ["i", "k", "s"]
    assert nothing.collect() == []


def call_sites(src: str, methods=("mapInPandas",)) -> set[tuple[str, str]]:
    """(enclosing function, method) of every call of one of ``methods``
    in ``src``; a lambda belongs to the function it is written in."""
    sites = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr in methods):
                sites.add((fn, child.func.attr))
            visit(child, fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_map_in_pandas_only_in_map_rows_lint():
    """Package code calls ``mapInPandas`` only inside ``map_rows``, so
    hand-written batch loops cannot grow back. Red on a seeded
    violation, green on the package."""
    seeded = (
        "def stage(df):\n"
        "    def run(batches):\n"
        "        yield from batches\n"
        "    return df.mapInPandas(run, schema='a long')\n"
        "x = lambda df: df.mapInPandas(iter, 'a long')\n"
    )
    assert call_sites(seeded) == {("stage", "mapInPandas"),
                                       ("<module>", "mapInPandas")}

    pkg = Path(__file__).resolve().parent.parent / "xml_hive_spark"
    found = {
        (str(p.relative_to(pkg)), fn, call)
        for p in sorted(pkg.rglob("*.py"))
        for fn, call in call_sites(p.read_text())
    }
    assert found == {("operators/__init__.py", "map_rows", "mapInPandas")}
