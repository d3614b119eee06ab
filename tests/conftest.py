from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pytest

from stateflow_spark.catalog import TABLES
from stateflow_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="stateflow-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for engine-independent comparison."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and v == 0.0:
        return 0.0  # fold -0.0
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sortkey(row):
    return tuple((x is None, str(x)) for x in row)


def collect_normalized(rows):
    out = [tuple(_norm(v) for v in row) for row in rows]
    out.sort(key=_sortkey)
    return out


def assert_same_result(spark_df, duck_rows, name=""):
    """Mirror the driver's order-insensitive value compare, strictly."""
    s_rows = collect_normalized([tuple(r) for r in spark_df.collect()])
    d_rows = collect_normalized([tuple(r) for r in duck_rows])
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}\n"
        f"spark head={s_rows[:5]}\nduck head={d_rows[:5]}"
    )
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if sr != dr:
            # report whether it's a float-epsilon or a real difference
            close = len(sr) == len(dr) and all(
                (a == b)
                or (
                    isinstance(a, float)
                    and isinstance(b, float)
                    and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                )
                for a, b in zip(sr, dr)
            )
            mismatches.append((i, sr, dr, "epsilon" if close else "HARD"))
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first 5: " + "\n".join(
        f"[{k}] spark={a}\n    duck ={b}  ({how})" for k, a, b, how in mismatches[:5]
    )


def pytest_configure(config):
    """Register the oracle-net markers: one per query family (a query's
    first tag, ``QueryDef.family``) so targeted runs like
    `pytest tests/test_oracle.py -m dedup` work without
    PytestUnknownMarkWarning, plus `smoke` and `slow`."""
    from stateflow_spark.queries import REGISTRY

    for fam in sorted({q.family for q in REGISTRY.values()}):
        config.addinivalue_line(
            "markers", f"{fam}: oracle-net family shard (registry tag)"
        )
    config.addinivalue_line(
        "markers",
        "smoke: oracle-net rows in queries.smoke_names() (every bench row "
        "plus the first row of each family) — a quick slice of the net: "
        "`pytest tests/test_oracle.py -m smoke`",
    )
    config.addinivalue_line(
        "markers",
        "slow: heavyweight property/e2e/sweep tests deselected by default "
        "(pytest.ini) to keep the default run inside the tier-1 budget; "
        "run everything with `pytest tests/ -m ''`",
    )
