#!/usr/bin/env python
"""Driver-style correctness gate, runnable standalone.

Every query in the registry (or the smoke set, or a named subset) runs on
Spark AND its DuckDB oracle at the same scale factor; results are compared
order-insensitively after column-name sort. Prints one line per query
and exits non-zero on any DIFF/ERROR.

    python tools/validate.py                      # all queries, sf0.01
    python tools/validate.py --smoke              # queries.smoke_names()
    python tools/validate.py --sf /root/testdata/sf0.001 dedup_exact q1_pricing_summary
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from stateflow_spark.catalog import TABLES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="only the smoke set: bench rows plus one row per family",
    )
    ap.add_argument("names", nargs="*", help="specific query names")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as E
    from stateflow_spark.queries import smoke_names
    from stateflow_spark.session import get_spark

    spark = get_spark(app_name="validate")
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    if args.names:
        names = args.names
    elif args.smoke:
        names = sorted(smoke_names())
    else:
        names = list(qs)
    bad: list[str] = []
    for name in names:
        try:
            sdf = qs[name](spark, args.sf)
            cols = sorted(sdf.columns)
            srows = sorted(
                tuple(str(r[c]) for c in cols) for r in sdf.collect()
            )
            if name in osql:
                dr = con.execute(osql[name]).fetchall()
                dcols = [d[0] for d in con.description]
                idx = [dcols.index(c) for c in cols]
                drows = sorted(
                    tuple(str(r[i]) for i in idx) for r in dr
                )
                ok = srows == drows
                if not ok:
                    bad.append(name)
                print(("MATCH " if ok else "DIFF  ") + f"{name}  ({len(srows)} rows)")
            else:
                print(f"ROWS   {name}  ({len(srows)} rows, no oracle)")
        except Exception as ex:  # noqa: BLE001 — report and continue
            bad.append(name)
            print(f"ERROR  {name}  {ex!r}"[:200])
    print(f"=== {len(names)} checked, {len(bad)} failed: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
