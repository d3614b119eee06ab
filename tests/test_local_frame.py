"""storage.local_frame: driver-held rows become an Arrow-built
LocalTableScan, with the schema a list-built frame of the same DDL has."""

from __future__ import annotations

import ast
import pathlib

import pytest

import stateflow_spark
from stateflow_spark.storage import local_frame

# the only functions that may call createDataFrame: the helper itself and
# the superstep's event table, which it builds as Arrow columns directly
_ALLOWED = {"storage.py": "local_frame", "streaming/superstep.py": "_events_df"}


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(3,), (7,)], "cid int"),
        ([([1, 2, 3],)], "__clf_w array<int>"),
        ([(9, "new", 0.5)], "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE"),
        ([], "entity string, key string, blob binary"),
    ],
)
def test_local_frame_is_a_local_table_scan(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_create_dataframe_only_inside_local_frame():
    pkg = pathlib.Path(stateflow_spark.__file__).parent
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        if "createDataFrame(" not in src:
            continue
        allowed: set[int] = set()
        name = _ALLOWED.get(f.relative_to(pkg).as_posix())
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, ast.FunctionDef) and n.name == name:
                allowed |= set(range(n.lineno, n.end_lineno + 1))
        hits += [
            f"{f.relative_to(pkg)}:{i}"
            for i, line in enumerate(src.splitlines(), 1)
            if "createDataFrame(" in line and i not in allowed
        ]
    assert hits == [], hits
