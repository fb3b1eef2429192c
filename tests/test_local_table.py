"""``session.local_table``: driver-built rows as an Arrow local relation.

The helper must give exactly what ``spark.createDataFrame(rows, ddl)``
gives (schema and rows), plan as a ``LocalTableScan`` and run no Spark
job at all, so no Python worker starts. A source scan keeps every engine
site on the helper.
"""

import ast
import pathlib

import pytest

from grappolo_spark.session import local_table

PKG = pathlib.Path(__file__).resolve().parents[1] / "grappolo_spark"

CASES = [
    ([(0, 0), (3, 17), (1, 5)], "_pid int, _offset long"),
    ([(2, 1, 0.5), (0, 2, 1.0), (1, 1, 2.0)], "src long, dst long, weight double"),
    ([(1, 9, 2.25, "a"), (-4, None, -0.0, None), (7, 1 << 40, 1e300, "é")],
     "i int, l long, d double, s string"),
    ([], "src long, dst long, weight double"),
    ([], "t int, name string"),
]
IDS = ["offsets", "edges", "mixed", "empty_edges", "empty_mixed"]


@pytest.mark.parametrize("rows,ddl", CASES, ids=IDS)
def test_local_table_matches_create_dataframe(spark, rows, ddl):
    got = local_table(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.mark.parametrize("rows,ddl", CASES, ids=IDS)
def test_local_table_runs_no_job(spark, rows, ddl):
    sc = spark.sparkContext
    group = f"local_table_{ddl}"
    sc.setJobGroup(group, "local_table")
    try:
        df = local_table(spark, rows, ddl)
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _create_dataframe_calls(tree):
    """(line, enclosing function) of every ``*.createDataFrame(...)`` call."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                out.append((child.lineno, func))
            visit(child, func)

    visit(tree, None)
    return out


def test_engine_builds_list_tables_only_through_local_table():
    bypass = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        for line, func in _create_dataframe_calls(ast.parse(py.read_text())):
            if (rel, func) != ("session.py", "local_table"):
                bypass.append(f"{rel}:{line}")
    assert bypass == [], f"createDataFrame outside local_table: {bypass}"
