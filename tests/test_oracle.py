"""The correctness gate, run locally: every registered query with an oracle
is executed on Spark and DuckDB at sf0.001 and compared exactly — the same
check the driver performs at sf0.01."""

from __future__ import annotations

import pytest

from stateflow_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_same_result

ORACLED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


def _family(name: str) -> str:
    """Family marker = the query's FIRST registry tag (each family's
    registration module leads with it), so a targeted inner-loop run
    exists — `pytest tests/test_oracle.py -m dedup` — while the full
    parametrized net stays the round-close gate (r9 VERDICT #8). Markers
    are registered in tests/conftest.py::pytest_configure from the same
    derivation, so they can never drift from the registry."""
    tags = REGISTRY[name].tags
    return tags[0] if tags else "misc"


# Default pytest must finish inside the round driver's verify budget
# (round-12 VERDICT #3: the 31-35 min full-registry sweep was cut off at
# ~70% two rounds running, reporting tests_ok=false on a green tree). The
# driver's own 50-query prefix — exactly what the round gate stamps — runs
# in every default invocation as the smoke net; every query OUTSIDE the
# prefix additionally carries the `full_oracle` marker, which pytest.ini
# deselects by default. The FULL registry sweep (the local regression net
# for rotated-out families) stays one command away and remains the
# builder's round-close ritual:
#
#     python -m pytest tests/test_oracle.py -m ''      # full 206-query net
#     python -m pytest tests/test_oracle.py -m dedup   # one family
_DRIVER_PREFIX = set(list(REGISTRY)[:50])

_PARAMS = [
    pytest.param(
        n,
        marks=[getattr(pytest.mark, _family(n))]
        + ([] if n in _DRIVER_PREFIX else [pytest.mark.full_oracle]),
    )
    for n in ORACLED
]


_KIND = {
    "b": "int", "i": "int", "u": "int",  # bool counts as int for hashing
    "f": "float",
}


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(spark, duck, name):
    qd = REGISTRY[name]
    sdf = qd.fn(spark, SF_DIR)
    # the oracle runs ONCE: materialized into a temp table that both the
    # row fetch and the pandas dtype check read
    duck.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {qd.oracle}")
    try:
        drows = duck.execute("SELECT * FROM oracle_out").fetchall()
        duck_cols = [d[0] for d in duck.description]
        # Driver converts DuckDB results via pandas/Arrow before hashing,
        # where HUGEINT (e.g. SUM over INTEGER) degrades to float64 and
        # hash-mismatches Spark's bigint even when values are identical
        # (round-1 q12). Pin the pandas dtype *kind* of each numeric column
        # to match Spark's type.
        ddf = duck.execute("SELECT * FROM oracle_out").df()
    finally:
        duck.execute("DROP TABLE IF EXISTS oracle_out")
    spark_kinds = {
        f.name: ("int" if f.dataType.typeName() in
                 ("byte", "short", "integer", "long", "boolean") else
                 "float" if f.dataType.typeName() in ("float", "double") else
                 None)
        for f in sdf.schema.fields
    }
    for col in ddf.columns:
        dk = _KIND.get(ddf[col].dtype.kind)
        sk = spark_kinds.get(col)
        if sk is not None and dk is not None and ddf[col].notna().all():
            assert dk == sk, (
                f"{name}.{col}: oracle pandas dtype kind {dk!r} != spark "
                f"{sk!r} — driver will hash-mismatch (CAST the oracle column)"
            )
    # schema sanity: same column count; driver also sorts columns by name,
    # so names must match too
    assert sorted(sdf.columns) == sorted(duck_cols), (
        f"{name}: column names spark={sorted(sdf.columns)} "
        f"duck={sorted(duck_cols)}"
    )
    # driver sorts columns by name before hashing — do the same
    cols = sorted(sdf.columns)
    sdf = sdf.select(*cols)
    idx = [duck_cols.index(c) for c in cols]
    drows = [tuple(r[i] for i in idx) for r in drows]
    # The driver canonicalizes through pandas sort_values over ALL columns,
    # which raises on unhashable cells (list/dict from array/map columns) —
    # round-2 multimodal_decode_features failure. Replay that exact step so
    # any future array-typed oracled output fails here first.
    spdf = sdf.toPandas()
    try:
        spdf.sort_values(by=list(spdf.columns))
    except TypeError as e:
        pytest.fail(
            f"{name}: driver's pandas sort_values canonicalization would "
            f"crash ({e}) — flatten array/map output columns to scalars"
        )
    assert_same_result(sdf, drows, name=name)


def test_no_rows_only_queries():
    """Every registered query carries an oracle — the driver FAILS
    oracle-less rows (r05's one red), so an empty ROWS_ONLY set is the
    contract, not a coincidence."""
    assert ROWS_ONLY == []
