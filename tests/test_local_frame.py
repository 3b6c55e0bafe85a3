"""``session.local_frame``: bounded driver rows enter Spark as a
LocalTableScan, in order, with the DDL's types."""

from __future__ import annotations

import ast
import pathlib

import bpaotu_spark
from bpaotu_spark.session import local_frame

_DDL = "a bigint, b int, c boolean, d string, e double"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_is_local_table_scan(spark):
    df = local_frame(spark, [(1, 2, True, "x", 0.5)], _DDL)
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_row_order_is_kept(spark):
    rows = [(k, None, None, None, None) for k in (5, 3, 9, 1, 7, 2)]
    got = [r.a for r in local_frame(spark, rows, _DDL).collect()]
    assert got == [5, 3, 9, 1, 7, 2]


def test_types_round_trip(spark):
    rows = [
        (2**40, -7, True, "ü", 1.25),
        (None, None, None, None, None),
        (-1, 0, False, "", -0.0),
    ]
    df = local_frame(spark, rows, _DDL)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "int", "boolean", "string", "double",
    ]
    assert [tuple(r) for r in df.collect()] == rows


def test_zero_rows_keep_the_schema(spark):
    df = local_frame(spark, [], _DDL)
    assert df.collect() == []
    assert df.columns == ["a", "b", "c", "d", "e"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "int", "boolean", "string", "double",
    ]


# the only places allowed to call createDataFrame: local_frame itself
# and read_dbapi, which hands over an Arrow table it assembled
_ALLOWED = {("session.py", "local_frame"), ("io/readers.py", "read_dbapi")}


def _create_calls(node, owner="<module>"):
    """(innermost enclosing function, line) of each createDataFrame call."""
    for child in ast.iter_child_nodes(node):
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == "createDataFrame"
        ):
            yield owner, child.lineno
        inner = (
            child.name
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            else owner
        )
        yield from _create_calls(child, inner)


def test_no_create_dataframe_outside_local_frame():
    root = pathlib.Path(bpaotu_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for owner, line in _create_calls(ast.parse(path.read_text())):
            found.add((rel, owner, line))
    stray = sorted(f for f in found if f[:2] not in _ALLOWED)
    assert not stray, stray
    assert {f[:2] for f in found} == _ALLOWED
