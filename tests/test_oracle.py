"""The correctness gate, run locally: every registered query with an oracle
is executed on Spark and DuckDB at sf0.001 and compared exactly — the same
check the driver performs at sf0.01."""

from __future__ import annotations

import pytest

from stateflow_spark.queries import REGISTRY, smoke_names
from tests.conftest import SF_DIR, assert_same_result

ORACLED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


# Every oracled row runs in the default suite; each carries its family
# marker (a query's first tag) and, when it is in the derived smoke set,
# the `smoke` marker, so the inner loop can run a slice of the net:
#
#     python -m pytest tests/test_oracle.py -m smoke   # bench rows + one per family
#     python -m pytest tests/test_oracle.py -m dedup   # one family
_SMOKE = smoke_names()

_PARAMS = [
    pytest.param(
        n,
        marks=[getattr(pytest.mark, REGISTRY[n].family)]
        + ([pytest.mark.smoke] if n in _SMOKE else []),
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


def test_smoke_set_is_derived():
    """The smoke set holds every bench row and one row of every family,
    only registered oracled names, does not depend on registration
    order, and is exactly the `smoke`-marked slice of the oracle net."""
    smoke = smoke_names()
    bench = {n for n, q in REGISTRY.items() if "bench" in q.tags}
    assert bench <= smoke, sorted(bench - smoke)
    families = {q.family for q in REGISTRY.values()}
    assert {REGISTRY[n].family for n in smoke} == families
    assert smoke <= set(ORACLED), sorted(smoke - set(ORACLED))

    saved = dict(REGISTRY)
    try:
        REGISTRY.clear()
        REGISTRY.update(reversed(list(saved.items())))
        assert list(REGISTRY) != list(saved)
        assert smoke_names() == smoke
    finally:
        REGISTRY.clear()
        REGISTRY.update(saved)

    marked = {
        p.values[0] for p in _PARAMS
        if any(m.name == "smoke" for m in p.marks)
    }
    assert marked == smoke
