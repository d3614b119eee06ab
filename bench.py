#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full query execution into a noop sink (scan → compute → materialize
every row, no driver collect), after a one-query JVM warmup.

The headline set is computed from the registry's `bench` tags (COVERAGE.md
documents which rows carry it and why kmeans deliberately doesn't).

Noise posture (round-5 VERDICT #4: the driver's shared-machine run diverged
70% from an idle re-run with zero code change): each query is timed as
best-of-3 full passes — a single shared-session pass lets heavy headliners
inflate their neighbors 15-50% through GC/codegen-cache pressure — then any
query whose best two passes still disagree by >40% gets one extra isolated
re-measure (co-located load rarely strikes the same query four times). The
artifact carries the evidence: per-pass times for every query and the
1-minute load average at start/end, so a contaminated run is visible in
BENCH_r{N}.json itself rather than masquerading as a regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from stateflow_spark.queries import REGISTRY
from stateflow_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [name for name, qd in sorted(REGISTRY.items()) if "bench" in qd.tags]

N_PASSES = 3
DISPERSION = 0.40  # best two passes differ by more → one extra re-run


def run_one(spark, name: str) -> float:
    fn = REGISTRY[name].fn
    t0 = time.perf_counter()
    df = fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Calibration anchors (round-11 VERDICT #5): three FROZEN synthetic
# rows — fixed generated data, no files, no registry dependence, code
# never changes after round 12 — timed in every artifact as `calib_s`.
# Cross-round artifact ratios on real queries are NOT a regression
# signal (SCALING.md methodology rule); the anchors give future rounds a
# box-state differential to normalize artifact scatter for TRIAGE:
# if calib ratios move with the query ratios, suspect the box, not the
# code. Root-causing still requires the within-session two-tree A/B.
def _calib_shuffle(spark):
    # shuffle + partial/final agg machinery: 4M rows → 100k groups
    from pyspark.sql import functions as F

    return (
        spark.range(4_000_000)
        .groupBy(F.pmod(F.hash("id"), F.lit(100_000)).alias("g"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def _calib_fold(spark):
    # interpreted higher-order fold over packed arrays — the cosine-
    # kernel expression path: 100k rows × 64-wide arrays, decimal fold
    from pyspark.sql import functions as F

    return (
        spark.range(100_000)
        .select(
            "id",
            F.expr(
                "transform(sequence(1, 64), p -> CAST((id % 97) * p AS "
                "DOUBLE) / 97.0)"
            ).alias("v"),
        )
        .select(
            "id",
            F.expr(
                "aggregate(v, CAST(0 AS DECIMAL(38,12)), (acc, x) -> "
                "CAST(acc + CAST(x * x AS DECIMAL(38,12)) AS "
                "DECIMAL(38,12)))"
            ).alias("n2"),
        )
    )


def _calib_window(spark):
    # sort + window machinery: 2M rows, 1k partitions, rank window
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(F.pmod(F.hash("id"), F.lit(1_000))).orderBy(
        F.col("id").desc()
    )
    return (
        spark.range(2_000_000)
        .select("id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


CALIBRATIONS = {
    "calib_shuffle": _calib_shuffle,
    "calib_fold": _calib_fold,
    "calib_window": _calib_window,
}


def measure_calibrations(spark) -> dict[str, float]:
    """Best-of-3 walls for the frozen anchors, same noop-sink timing as
    the real queries."""
    out = {}
    for name, fn in CALIBRATIONS.items():
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = round(min(ts), 4)
    return out


def measure_builds(spark) -> dict[str, float]:
    """Cold build walls for the stored layouts (IVF index, MinHash
    postings, norm-materialized corpus): clear each cache dir, rebuild,
    record the wall. Cache-dir names are reconstructed from the builders'
    (abspath, mtime) keying — the post-build existence assert fails loud
    if the naming ever drifts."""
    import shutil
    import tempfile

    from stateflow_spark.queries.dedup import _minhash_index_table
    from stateflow_spark.queries.similarity import _ivf_index_dir, _norms_dir
    from stateflow_spark.versioning import source_key

    tmp = tempfile.gettempdir()
    ekey = source_key(os.path.join(SF_DIR, "embeddings.parquet"))
    dkey = source_key(os.path.join(SF_DIR, "documents.parquet"))
    targets = {
        "ivf_index": (
            os.path.join(tmp, f"stateflow_ivf_index_v3_{ekey}"),
            lambda: _ivf_index_dir(spark, SF_DIR),
        ),
        "corpus_norms": (
            os.path.join(tmp, f"stateflow_corpus_n2_{ekey}"),
            lambda: _norms_dir(spark, SF_DIR),
        ),
        "minhash_postings": (
            os.path.join(tmp, f"stateflow_mh_index_{dkey}"),
            lambda: _minhash_index_table(spark, SF_DIR),
        ),
    }
    builds = {}
    for name, (path, build) in targets.items():
        shutil.rmtree(path, ignore_errors=True)
        if name == "minhash_postings":
            spark.sql(f"DROP TABLE IF EXISTS mh_index_{dkey}")
        t0 = time.perf_counter()
        build()
        builds[name] = round(time.perf_counter() - t0, 4)
        assert os.path.isdir(path), f"build cache naming drifted: {path}"
    return builds


# A bench that STARTS on a busy box measures the co-located load, not the
# code (round-8: loadavg 7.47 at start, every shared query uniformly
# +11-14% vs the idle re-run with zero code change). Above this 1-minute
# loadavg the run is stamped contaminated=true in the artifact itself, so
# it can never again sit unlabelled next to clean runs; set
# SPARK_GRAFT_MAX_LOADAVG to move the threshold, or =inf to disable.
MAX_START_LOADAVG = float(os.environ.get("SPARK_GRAFT_MAX_LOADAVG", "2.0"))


# Bounded wait-for-idle (round-12 VERDICT #4): two driver rounds running
# produced contaminated artifacts because the bench STARTED while co-located
# load was still decaying (r12: start loadavg 5.0, calib_fold 3.1x its idle
# band). Waiting a bounded time for the 1-minute loadavg to fall under the
# threshold costs at most IDLE_WAIT_MAX_S once per artifact and makes driver
# runs comparable again. The contaminated flag stays: if the box never goes
# idle inside the budget, the run proceeds and is labelled, exactly as
# before. SPARK_GRAFT_IDLE_WAIT_S=0 disables.
IDLE_WAIT_MAX_S = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "120"))


def wait_for_idle() -> float:
    """Sleep (bounded) until 1-min loadavg <= MAX_START_LOADAVG; return the
    seconds actually waited."""
    t0 = time.monotonic()
    while (
        os.getloadavg()[0] > MAX_START_LOADAVG
        and time.monotonic() - t0 < IDLE_WAIT_MAX_S
    ):
        time.sleep(5.0)
    return round(time.monotonic() - t0, 1)


def main() -> None:
    # wait BEFORE building the session: session startup is itself load,
    # and the loadavg we act on should be the co-located-work signal
    idle_wait_s = wait_for_idle()
    spark = get_spark(app_name="stateflow-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    load_start = os.getloadavg()[0]
    contaminated = load_start > MAX_START_LOADAVG
    if contaminated:
        print(
            f"WARNING: start loadavg {load_start:.2f} > {MAX_START_LOADAVG} "
            "— this run is flagged contaminated in the artifact; numbers "
            "are not comparable to idle-box rounds",
            file=sys.stderr,
        )

    # warmup: JVM/codegen/parquet-footer caches — BEFORE the build
    # measurement, so build_s doesn't absorb the session's one-time JVM
    # warm-in (measured: the same cold IVF build reads 17.1 s as the
    # session's first job vs ~3.2 s warm)
    run_one(spark, "q6_forecast_revenue")

    # frozen calibration anchors (code never changes): the artifact's
    # box-state reference — see SCALING.md "calibration anchors"
    calib = measure_calibrations(spark)

    # stored-layout build walls, measured COLD (cache dirs cleared first)
    # and recorded separately: the query timings below deliberately run
    # against warm indexes (they time the delta/probe path, the thing
    # that runs per query), but the nightly build cost was previously
    # invisible to round-over-round comparison — a build regression only
    # surfaced in SCALING.md prose (round-10 VERDICT #6)
    builds = measure_builds(spark)

    passes: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _pass in range(N_PASSES):
        # alternate direction: a query's wall depends on its POSITION in
        # the shared session (codegen-cache/GC pressure accumulates over
        # the ~45 queries before it — measured round 9: the same query
        # reads 4.97 s late in the A→Z sweep and 3.1-3.5 s in a fresh
        # session), and the registry grows every round, silently shifting
        # late-alphabet rows further back. Alternating gives every query
        # one early-position sample for best-of-N to pick.
        order = (
            BENCH_QUERIES if _pass % 2 == 0 else list(reversed(BENCH_QUERIES))
        )
        for name in order:
            passes[name].append(run_one(spark, name))

    # dispersion guard: if even the two best passes disagree badly, the
    # measurement window was contaminated — re-measure once more
    for name in BENCH_QUERIES:
        a, b = sorted(passes[name])[:2]
        if b > a * (1 + DISPERSION):
            passes[name].append(run_one(spark, name))

    times = {name: round(min(ts), 4) for name, ts in passes.items()}

    # streaming-path bench (BASELINE.md): YCSB A (update-heavy), B
    # (read-heavy) and T (cross-entity transfer flows) over the
    # distributed entity engine — 1000 Zipf(0.99) ops on 100 entities
    # (the reference's own workload harness); best-of-2 like before
    # (each pass is a full engine run, so 2 passes bound the cost)
    from stateflow_spark import ycsb

    for mix in ("a", "b", "t"):
        key = f"ycsb_{mix}_superstep"
        passes[key] = [ycsb.run_superstep(spark, mix)["sec"] for _ in range(2)]
        times[key] = min(passes[key])

    total = round(sum(times.values()), 4)
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "build_s": builds,
                "calib_s": calib,
                "sf": sf,
                "passes": {
                    name: [round(t, 3) for t in ts]
                    for name, ts in passes.items()
                },
                "loadavg_1m": {
                    "start": round(load_start, 2),
                    "end": round(os.getloadavg()[0], 2),
                },
                "idle_wait_s": idle_wait_s,
                "contaminated": contaminated,
            }
        )
    )


if __name__ == "__main__":
    main()
