"""The ``query_mix`` workload: 12 of the 41 ``bench``-tagged registry rows,
one or two from each of the eleven query modules, over seeded inputs of
about TPC-H sf0.001 size (``datagen``). Each row is built with
``REGISTRY[name].fn`` and written to the noop sink. The full 41 rows at
sf0.1 take about 50 s a warm pass and 72 s cold, more than one run of the
benchmark may take.

Order of a run: generate inputs; set up three times (session start plus
the three cold stored-layout builds ``bench.py`` times; the first start
launches the JVM); run the cold first pass in the last, fresh session;
then warm passes in the same session until the measuring time is spent,
at least two. Each row's result fingerprint is compared with its DuckDB
oracle's after the timed passes.
"""

from __future__ import annotations

import decimal
import datetime
import hashlib
import os
import shutil
import sys
import time

import datagen
from common import SETUPS, Outcome, SparkWork, median

# Pinned by name so that a tag edit cannot change the workload.
ROWS = (
    "curation_pack_sequences",
    "dedup_exact",
    "dedup_minhash_index_compact",
    "entity_ycsb_replay",
    "events_markov_transitions",
    "join_market_basket_pairs",
    "multimodal_audio_fingerprint_neardup",
    "q1_pricing_summary",
    "q9_product_type_profit",
    "sim_ivf_topk",
    "text_pii_scrub",
    "window_topk_orders_per_customer",
)
MODULES = (
    "curation", "dedup", "entity_ops", "events", "joins", "multimodal",
    "tpch", "tpch2", "similarity", "text", "windows",
)
MIN_WARM_PASSES = 2


def _module(name: str) -> str:
    from stateflow_spark.queries import REGISTRY

    return REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]


def _src_key(path: str) -> str:
    return hashlib.md5(
        f"{os.path.abspath(path)}:{os.path.getmtime(path)}".encode()
    ).hexdigest()[:12]


def build_layouts(spark, sf: str, tracer, work) -> dict:
    """Cold builds of the stored layouts (IVF index, norm-materialized
    corpus, MinHash postings): clear each cache dir, rebuild, time it.
    Cache-dir names follow the builders' (abspath, mtime) keying; the
    existence check fails loudly if that naming drifts."""
    import tempfile

    from stateflow_spark.queries.dedup import _minhash_index_table
    from stateflow_spark.queries.similarity import _ivf_index_dir, _norms_dir

    tmp = tempfile.gettempdir()
    ekey = _src_key(os.path.join(sf, "embeddings.parquet"))
    dkey = _src_key(os.path.join(sf, "documents.parquet"))
    targets = {
        "ivf_index": (f"stateflow_ivf_index_v3_{ekey}", _ivf_index_dir),
        "corpus_norms": (f"stateflow_corpus_n2_{ekey}", _norms_dir),
        "minhash_postings": (f"stateflow_mh_index_{dkey}", _minhash_index_table),
    }
    walls = {}
    for name, (dirname, build) in targets.items():
        path = os.path.join(tmp, dirname)
        shutil.rmtree(path, ignore_errors=True)
        if name == "minhash_postings":
            spark.sql(f"DROP TABLE IF EXISTS mh_index_{dkey}")
        t0 = time.perf_counter()
        with tracer.span(f"queries.build.{name}"), work.group(spark, f"build:{name}"):
            build(spark, sf)
        walls[name] = time.perf_counter() - t0
        if not os.path.isdir(path):
            raise RuntimeError(f"stored-layout cache naming drifted: {path}")
    return walls


def run_pass(spark, sf: str, order, tracer, work, outcome, label: str,
             frames: dict) -> dict:
    """One pass over ``order``: per row (fn seconds, exec seconds, counts).
    Each row's DataFrame is left in ``frames`` for the oracle check."""
    from stateflow_spark.queries import REGISTRY

    out = {}
    with tracer.span("queries.pass", label=label):
        for name in order:
            fn_c: dict = {}
            ex_c: dict = {}
            tracer.set_request(f"{label}:{name}")
            try:
                t0 = time.perf_counter()
                with tracer.span("queries.fn", row=name), work.group(spark, f"fn:{name}", fn_c):
                    df = REGISTRY[name].fn(spark, sf)
                t1 = time.perf_counter()
                with tracer.span("queries.exec", row=name), work.group(spark, f"exec:{name}", ex_c):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                outcome.add(True)
            except Exception as exc:
                outcome.add(False, f"{name}: {type(exc).__name__}: {exc}")
                continue
            finally:
                tracer.set_request(None)
            out[name] = (t1 - t0, t2 - t1, fn_c, ex_c)
            frames[name] = df
    return out


# -- oracle check -------------------------------------------------------------------


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and v == 0.0:
        return 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(rows) -> str:
    """Order-insensitive digest of a result's normalized rows."""
    norm = sorted(
        (tuple(_norm(v) for v in row) for row in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )
    return hashlib.sha1(repr(norm).encode()).hexdigest()


def check_oracles(sf: str, frames: dict, outcome) -> None:
    """Collect each row's DataFrame from the last pass (no new ``fn`` call)
    and compare its fingerprint with the DuckDB oracle's."""
    import duckdb

    from stateflow_spark.catalog import TABLES
    from stateflow_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'"
            )
        for name in ROWS:
            try:
                got = fingerprint(tuple(r) for r in frames[name].collect())
                want = fingerprint(con.execute(REGISTRY[name].oracle).fetchall())
            except Exception as exc:
                outcome.add(False, f"oracle {name}: {type(exc).__name__}: {exc}")
                continue
            outcome.add(got == want, f"oracle {name}: result differs from DuckDB")
    finally:
        con.close()


# -- workload ------------------------------------------------------------------------


def run_query_mix(ctx) -> dict:
    from stateflow_spark.catalog import TABLES, load

    tracer, work, outcome = ctx.tracer, SparkWork(ctx.tracer), Outcome()
    with tracer.span("datagen"):
        sf = datagen.write(ctx.seed, ctx.sandbox.data)

    setups: list[float] = []
    builds: dict[str, list[float]] = {}
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = ctx.sessions.start()
        for k, v in build_layouts(spark, sf, tracer, work).items():
            builds.setdefault(k, []).append(v)
        setups.append(time.perf_counter() - t0)
    cold = run_pass(spark, sf, ROWS, tracer, work, outcome, "cold", {})

    frames: dict = {}
    with ctx.rss:
        passes = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < ctx.seconds or len(passes) < MIN_WARM_PASSES:
            order = ROWS if len(passes) % 2 == 0 else tuple(reversed(ROWS))
            passes.append(run_pass(spark, sf, order, tracer, work, outcome,
                                   f"warm-{len(passes)}", frames))

        check_oracles(sf, frames, outcome)

    # best of the warm passes per row (bench.py's rule): the first warm
    # pass is often still warming, 10-50% slower than the second
    row_best = {
        name: min((p[name][0] + p[name][1] for p in passes if name in p), default=0.0)
        for name in ROWS
    }
    print("perfbench: pass walls " + " ".join(
        f"{sum(f + e for f, e, _, _ in p.values()):.3f}" for p in passes), file=sys.stderr)
    print("perfbench: row bests " + " ".join(
        f"{n}={row_best[n]:.3f}" for n in ROWS), file=sys.stderr)
    result = {
        "setup_s": median(setups),
        "warm_wall_s": sum(row_best.values()),
        "cold_wall_s": sum(f + e for f, e, _, _ in cold.values()),
        "peak_rss_mb": ctx.rss.peak_mb,
        "units": len(passes),
    }
    if tracer.enabled:
        loads = []
        for t in TABLES:
            c: dict = {}
            t0 = time.perf_counter()
            with tracer.span("catalog.load", table=t), work.group(spark, f"load:{t}", c):
                load(spark, sf, t)
            loads.append((time.perf_counter() - t0, c.get("jobs", 0)))
        result["layers"] = _query_layers(passes, builds, loads)
    return {"result": result, "outcome": outcome}


def _query_layers(passes, builds, loads) -> dict:
    def med(name, i):
        return median(p[name][i] for p in passes if name in p)

    last = passes[-1]
    layers = {
        "catalog.load_s": median(t for t, _ in loads),
        "catalog.load_jobs": sum(j for _, j in loads) / max(1, len(loads)),
        "queries.fn_s": sum(med(n, 0) for n in ROWS),
        "queries.exec_s": sum(med(n, 1) for n in ROWS),
        "queries.jobs_in_fn": sum(v[2].get("jobs", 0) for v in last.values()),
        "queries.jobs_in_exec": sum(v[3].get("jobs", 0) for v in last.values()),
        "queries.stages": sum(v[2].get("stages", 0) + v[3].get("stages", 0) for v in last.values()),
        "queries.tasks": sum(v[2].get("tasks", 0) + v[3].get("tasks", 0) for v in last.values()),
        "queries.failed_tasks": sum(
            v[2].get("failed_tasks", 0) + v[3].get("failed_tasks", 0)
            for p in passes for v in p.values()
        ),
        "queries.index_build_s": sum(median(v) for v in builds.values()),
    }
    for k, v in builds.items():
        layers[f"queries.build.{k}_s"] = median(v)
    for mod in MODULES:
        names = [n for n in ROWS if _module(n) == mod]
        layers[f"queries.{mod}.fn_s"] = sum(med(n, 0) for n in names)
        layers[f"queries.{mod}.exec_s"] = sum(med(n, 1) for n in names)
    return layers
