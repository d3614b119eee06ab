#!/usr/bin/env python
"""Time every registered DuckDB oracle at a given scale, watching spill.

The sf0.1 round-close sweep is the builder's 10x-rigor gate; a single
oracle whose replay needs more temp disk than the box has (as the
post-resplit all-pairs CTE did before the vec-by-seed restriction)
silently turns a green round red. This audit runs ONLY the oracle side
of each registered query, sequentially, recording wall seconds and the
peak size of a dedicated DuckDB temp directory, so spill-prone replays
surface before a sweep trips over them.

    python tools/oracle_cost_audit.py --sf /root/testdata/sf0.1 \
        --out /tmp/oracle_audit_sf01.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from stateflow_spark.catalog import TABLES  # noqa: E402


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/oracle_audit.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as E

    osql = E.oracle_sql()
    names = args.names or sorted(osql)

    tmpdir = f"/tmp/duckdb_audit_tmp_{os.getpid()}"
    os.makedirs(tmpdir, exist_ok=True)
    results = {}
    try:
        for name in names:
            if name not in osql:
                continue
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{tmpdir}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{args.sf}/{t}.parquet'"
                )
            peak = {"b": 0}
            stop = threading.Event()

            def watch():
                while not stop.is_set():
                    peak["b"] = max(peak["b"], _dir_bytes(tmpdir))
                    stop.wait(0.5)

            w = threading.Thread(target=watch, daemon=True)
            w.start()
            t0 = time.monotonic()
            try:
                n = len(con.execute(osql[name]).fetchall())
                err = None
            except Exception as exc:  # record, keep auditing
                n, err = -1, f"{type(exc).__name__}: {exc}"[:200]
            wall = time.monotonic() - t0
            stop.set()
            w.join()
            con.close()
            shutil.rmtree(tmpdir, ignore_errors=True)
            os.makedirs(tmpdir, exist_ok=True)
            results[name] = {
                "oracle_s": round(wall, 2),
                "rows": n,
                "peak_spill_mb": round(peak["b"] / 1e6, 1),
                **({"error": err} if err else {}),
            }
            print(
                f"{results[name]['oracle_s']:>8.2f}s "
                f"{results[name]['peak_spill_mb']:>9.1f}MB  {name}"
                + (f"  ERROR {err}" if err else ""),
                flush=True,
            )
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)

    with open(args.out, "w") as f:
        json.dump({"sf": args.sf, "oracles": results}, f, indent=1)
    worst = sorted(
        results.items(), key=lambda kv: -kv[1]["oracle_s"]
    )[:10]
    print("\nslowest oracles:")
    for n, r in worst:
        print(f"  {r['oracle_s']:>8.2f}s {r['peak_spill_mb']:>9.1f}MB  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
