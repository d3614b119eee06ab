"""The driver contract (__spark_entry__.py) is the runtime surface the
round driver consumes — pin its shape so a registry refactor can't
silently break entry()/queries()/oracle_sql() alignment."""

from __future__ import annotations

import pytest

import subprocess
import sys

import __spark_entry__ as E
from stateflow_spark.queries import REGISTRY


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.columns  # stable schema
    assert len(df.collect()) > 0


def test_queries_and_oracles_align():
    qs, osql = E.queries(), E.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(osql) <= set(qs)
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())
    # every registered query carries an oracle: the driver FAILS oracle-less
    # rows (r05's one red), so a registration without one is a bug here
    rows_only = set(qs) - set(osql)
    assert rows_only == set(), rows_only


@pytest.mark.slow
def test_validate_tool_smoke():
    """tools/validate.py is the standalone correctness gate — keep it
    runnable (fresh interpreter, real Spark session)."""
    r = subprocess.run(
        [sys.executable, "tools/validate.py", "--sf",
         "/root/testdata/sf0.001", "dedup_exact"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]
    assert "MATCH dedup_exact" in r.stdout


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md's header count must track the live registry (round-5
    VERDICT wrong-item 3: docs said 89 while the registry held 110)."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) registered queries; ALL (\d+) DuckDB-oracle-checked", text)
    assert m, "COVERAGE.md count sentence missing"
    n_oracled = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert int(m.group(1)) == len(REGISTRY), (m.group(1), len(REGISTRY))
    assert int(m.group(2)) == n_oracled, (m.group(2), n_oracled)


def test_register_requires_family_tag():
    """A query's first tag is its family (test markers, smoke set), so a
    registration without tags is refused before it reaches the registry."""
    from stateflow_spark.queries import register

    with pytest.raises(ValueError, match="family tag"):
        register("untagged_query", oracle="SELECT 1")
    assert "untagged_query" not in REGISTRY
    assert all(q.tags for q in REGISTRY.values())


def test_no_naked_decimal_to_double_in_oracles():
    """Oracle SQL must not cast a DECIMAL aggregate straight to DOUBLE:
    DuckDB's direct cast double-rounds past 2^53 scaled units (Spark's
    BigDecimal path is correctly rounded — q1 diverged by 1 ulp at sf10).
    Every decimal SUM emission must round-trip through VARCHAR; see
    oracle_dsum in queries/common.py."""
    import re

    import __spark_entry__ as E

    def balanced_end(text, k):
        depth = 0
        for p in range(k, len(text)):
            if text[p] == "(":
                depth += 1
            elif text[p] == ")":
                depth -= 1
                if depth == 0:
                    return p + 1
        return None

    bad = []
    for name, sql in E.oracle_sql().items():
        up = sql.upper()
        i = 0
        while True:
            j = up.find("CAST(SUM(", i)
            if j < 0:
                break
            e = balanced_end(up, j + 4)
            inner = up[j + 5 : e - 1] if e else ""
            if inner.rstrip().endswith("AS DOUBLE") and "AS DECIMAL" in inner:
                bad.append(name)
                break
            i = j + 1
    assert not bad, f"naked DECIMAL->DOUBLE oracle cast (1-ulp hazard): {bad}"
