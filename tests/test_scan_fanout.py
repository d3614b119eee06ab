"""The unsplittable-input fan-out (catalog.load(fanout=...), r12 optimization).

Spark cannot split a parquet scan below one row group, so the single-file/
single-row-group testdata layout scans as ONE task and serializes every
filter/projection/partial aggregate fused into the scan. load(fanout=key)
mitigates per guide §2.5 — but ONLY when the file layout actually offers
fewer row groups than the session has cores, so at production scale the
plan is untouched. catalog.stage_tasks sizes that fan-out and every other
pinned stage: max(cores, ceil(source bytes / maxPartitionBytes)).
"""

import os

import pytest

from stateflow_spark import catalog
from stateflow_spark.catalog import (
    TABLES,
    _scan_parallelism,
    load,
    stage_tasks,
    table_path,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_parallelism_counts_row_groups(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({"x": list(range(1000))})
    p = str(tmp_path / "t.parquet")
    pq.write_table(tbl, p, row_group_size=100)  # 10 row groups
    assert _scan_parallelism(p) == 10


def test_scan_parallelism_missing_path_never_fans():
    assert _scan_parallelism("/nonexistent/xyz.parquet") == 4096


def test_fanout_fires_on_single_row_group_layout(spark):
    df = load(spark, SF_DIR, "lineitem", fanout="l_extendedprice")
    plan = _plan(df)
    assert "hashpartitioning(l_extendedprice" in plan


def test_fanout_noop_when_layout_is_splittable_enough(spark, monkeypatch):
    # at scale the footer reports >= cores of row groups → no exchange
    monkeypatch.setattr(catalog, "_scan_parallelism", lambda p, cap=4096: 4096)
    df = load(spark, SF_DIR, "lineitem", fanout="l_extendedprice")
    assert "hashpartitioning" not in _plan(df)


def test_fanout_preserves_rows(spark):
    a = load(spark, SF_DIR, "lineitem").count()
    b = load(spark, SF_DIR, "lineitem", fanout="l_extendedprice").count()
    assert a == b


def test_q1_plan_carries_fanout_exchange(spark):
    from stateflow_spark.queries import REGISTRY

    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    assert "hashpartitioning(l_extendedprice" in plan


def test_stage_tasks_floor_on_every_testdata_table(spark):
    # every testdata table is far below one scan split, so every pinned
    # stage keeps the core-count floor
    floor = spark.sparkContext.defaultParallelism
    assert stage_tasks(spark) == floor
    root = os.path.dirname(SF_DIR)
    sf_dirs = sorted(
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("sf")
    )
    assert sf_dirs
    for sf_dir in sf_dirs:
        paths = [table_path(sf_dir, t) for t in TABLES]
        for p in paths:
            assert stage_tasks(spark, [p]) == floor, p
        assert stage_tasks(spark, paths) == floor, sf_dir


def test_stage_tasks_scales_with_source_bytes(spark, tmp_path, monkeypatch):
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    floor = spark.sparkContext.defaultParallelism
    table = tmp_path / "planted"
    table.mkdir()
    for i in range(6):
        pq.write_table(
            pa.table({"x": list(range(i * 5000, (i + 1) * 5000))}),
            str(table / f"part-{i}.parquet"),
        )
    nbytes = sum(os.path.getsize(table / f) for f in os.listdir(table))
    # shrink the split size so the planted bytes span 3x the floor
    target = nbytes // (3 * floor)
    monkeypatch.setattr(catalog, "FILES_MAX_PARTITION_BYTES", target)
    want = math.ceil(nbytes / target)
    assert want > floor
    assert stage_tasks(spark, [str(table)]) == want
    # a stored-layout dir and a second source add their bytes
    one = str(table / "part-0.parquet")
    assert stage_tasks(spark, [str(table), one]) == math.ceil(
        (nbytes + os.path.getsize(one)) / target
    )
    # below the target the floor wins
    monkeypatch.setattr(catalog, "FILES_MAX_PARTITION_BYTES", nbytes)
    assert stage_tasks(spark, [str(table)]) == floor


def test_default_parallelism_only_inside_stage_tasks():
    """One stage-sizing rule: outside catalog.stage_tasks no engine code
    reads (or names) the session's core count."""
    import ast
    import pathlib

    pkg = pathlib.Path(catalog.__file__).parent
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        src = f.read_text()
        if "defaultParallelism" not in src:
            continue
        allowed: set[int] = set()
        if f == pathlib.Path(catalog.__file__):
            fn = next(
                n for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "stage_tasks"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        hits += [
            f"{f.relative_to(pkg)}:{i}"
            for i, line in enumerate(src.splitlines(), 1)
            if "defaultParallelism" in line and i not in allowed
        ]
    assert hits == [], hits
