#!/usr/bin/env python
"""Continuous-trigger soak for the two stored-index streaming classify
legs (round-11 VERDICT #6).

The registered rows run under trigger(availableNow) — semantics proven,
per-micro-batch latency measured in round 11. What no run had exercised
is a LONG-RUNNING processingTime-trigger stream: a few hundred
micro-batches against the same stored index, watching

- per-batch latency stability (first-K vs last-K medians: does the
  query slow down as offset/commit logs accumulate?),
- checkpoint directory growth (stateless foreachBatch streams carry no
  state store, so growth should be the offsets/commits log only —
  bounded by spark.sql.streaming.minBatchesToRetain, default 100),
- driver RSS growth,
- the stored-index publish interaction: mid-soak, a NEW index version
  is published next to the one the stream captured
  (ivf_apply_resplit's versioned publish / a fresh compacted postings
  table) — the running stream must be completely unaffected (it holds
  the OLD version by construction: versions are immutable dirs/tables;
  switching is a stream restart, DEPLOY.md documents that contract),
  and every post-publish batch must still classify byte-identically.

Correctness across the whole soak: every emitted row is compared to the
batch job's verdict map (per-row equality, repeats allowed — the feeder
cycles the delta), so ANY drift across a few hundred batch boundaries
fails loudly.

Usage: python tools/soak_stream.py [--batches 200] [--legs ivf,minhash]
Writes one JSON line per leg; run on an idle box.
"""
from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
ROWS_PER_FILE = 10


def du(path: str) -> int:
    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def feeder(spark, rows, schema, src_dir, n_files, stop_flag):
    """Write one small parquet file at a time, cycling the delta rows —
    with maxFilesPerTrigger=1 each file is one micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    i = 0
    while i < n_files and not stop_flag["stop"]:
        chunk = [
            rows[(i * ROWS_PER_FILE + j) % len(rows)]
            for j in range(ROWS_PER_FILE)
        ]
        tbl = pa.Table.from_pylist(
            [dict(zip(schema, r)) for r in chunk]
        )
        tmp = os.path.join(src_dir, f".feed-{i:05d}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(src_dir, f"feed-{i:05d}.parquet"))
        i += 1
        # don't outrun the consumer unboundedly: keep ~20 files of lead
        while not stop_flag["stop"] and i - stop_flag["consumed"] > 20:
            time.sleep(0.2)


def soak_leg(spark, leg: str, n_batches: int) -> dict:
    import pyspark.sql.functions as F

    from stateflow_spark.catalog import load
    from stateflow_spark.sources import stream_files

    if leg == "ivf":
        from stateflow_spark.queries.similarity import (
            _ivf_classify_delta,
            _ivf_index_dir,
            _pin_n2,
        )

        base = _ivf_index_dir(spark, SF_DIR)
        delta_full = (
            load(spark, SF_DIR, "embeddings")
            .filter(F.col("vec_id") % 5 == 0)
            .select("vec_id", "embedding")
        )
        rows = [(r.vec_id, list(r.embedding)) for r in delta_full.collect()]
        schema = ["vec_id", "embedding"]

        def classify(batch_df):
            d = _pin_n2(
                batch_df.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("v"),
                ).repartition(
                    spark.sparkContext.defaultParallelism, "vec_id"
                )
            ).withColumnRenamed("n2", "dn2")
            return _ivf_classify_delta(spark, d, base)

        def expected_df():
            d = _pin_n2(
                delta_full.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("v"),
                ).repartition(
                    spark.sparkContext.defaultParallelism, "vec_id"
                )
            ).withColumnRenamed("n2", "dn2")
            return _ivf_classify_delta(spark, d, base)

        def republish():
            from stateflow_spark.queries.similarity import ivf_apply_resplit

            return ivf_apply_resplit(spark, SF_DIR, pop=16, cap=32)

    elif leg == "minhash":
        from stateflow_spark.queries.dedup import (
            _mh_classify_delta,
            _minhash_index_table,
            minhash_apply_compaction,
        )

        tbl = _minhash_index_table(spark, SF_DIR)
        delta_full = load(spark, SF_DIR, "documents").filter(
            F.col("doc_id") % 5 == 0
        )
        cols = delta_full.columns
        rows = [tuple(r[c] for c in cols) for r in delta_full.collect()]
        schema = cols

        def classify(batch_df):
            return _mh_classify_delta(spark, batch_df, tbl)

        def expected_df():
            return _mh_classify_delta(spark, delta_full, tbl)

        def republish():
            return minhash_apply_compaction(spark, SF_DIR, cap=1)

    else:
        raise SystemExit(f"unknown leg {leg}")

    id_col = schema[0]
    cols_sorted = sorted(expected_df().columns)
    exp_rows = {
        r[id_col]: tuple(str(r[c]) for c in cols_sorted)
        for r in expected_df().collect()
    }

    src_dir = tempfile.mkdtemp(prefix=f"soak-{leg}-src-")
    out_dir = tempfile.mkdtemp(prefix=f"soak-{leg}-out-")
    ckpt = tempfile.mkdtemp(prefix=f"soak-{leg}-ckpt-")
    stop_flag = {"stop": False, "consumed": 0}

    # schema template file so readStream can infer before the feed starts
    feeder(spark, rows, schema, src_dir, 1, {"stop": False, "consumed": 0})
    rschema = spark.read.parquet(src_dir).schema

    batch_stats: list[tuple[int, float, int]] = []  # (batch_id, sec, rows)

    def handle_batch(batch_df, batch_id):
        t0 = time.perf_counter()
        n = batch_df.count()
        if n:
            classify(batch_df).write.mode("append").parquet(out_dir)
        batch_stats.append((batch_id, time.perf_counter() - t0, n))
        stop_flag["consumed"] = len(batch_stats)

    stream = stream_files(spark, src_dir, rschema, max_files_per_trigger=1)
    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    th = threading.Thread(
        target=feeder,
        args=(spark, rows, schema, src_dir, n_batches, stop_flag),
        daemon=True,
    )
    th.start()

    ckpt_sizes: dict[int, int] = {}
    rss: dict[int, float] = {}
    republish_at = n_batches // 2
    republished = None
    t_start = time.time()
    try:
        while len(batch_stats) < n_batches and time.time() - t_start < 3600:
            time.sleep(1.0)
            done = len(batch_stats)
            if done and done % 25 == 0 and done not in ckpt_sizes:
                ckpt_sizes[done] = du(ckpt)
                rss[done] = round(rss_mb(), 1)
                print(
                    f"[{leg}] batch {done}/{n_batches} ckpt={ckpt_sizes[done]}B "
                    f"rss={rss[done]}MB",
                    file=sys.stderr,
                )
            if republished is None and done >= republish_at:
                republished = republish()
                print(
                    f"[{leg}] republished index mid-soak -> {republished}",
                    file=sys.stderr,
                )
    finally:
        stop_flag["stop"] = True
        query.stop()

    # correctness: every emitted row (repeats allowed — the feeder
    # cycles the delta) equals the batch job's row for that id
    try:
        out = spark.read.parquet(out_dir).collect()
        mism = sum(
            1
            for r in out
            if tuple(str(r[c]) for c in cols_sorted)
            != exp_rows.get(r[id_col])
        )

        durs = [s for _, s, n in batch_stats if n]
        if not durs:
            # stream never completed a non-empty batch (bad SF_DIR, a
            # query that failed to start): emit the diagnostics gathered
            # so far instead of crashing on sorted([])[0] (r12 review)
            return {
                "leg": leg,
                "sf_dir": SF_DIR,
                "batches": len(batch_stats),
                "error": "no non-empty batch completed",
                "ckpt_bytes_by_batch": ckpt_sizes,
                "rss_mb_by_batch": rss,
                "wall_s": round(time.time() - t_start, 1),
            }
        k = max(10, len(durs) // 4)
        first_k = sorted(durs[:k])[len(durs[:k]) // 2]
        last_k = sorted(durs[-k:])[len(durs[-k:]) // 2]
        return {
            "leg": leg,
            "sf_dir": SF_DIR,
            "batches": len(batch_stats),
            "rows_out": len(out),
            "mismatches": mism,
            "median_first_k_s": round(first_k, 3),
            "median_last_k_s": round(last_k, 3),
            "p90_s": round(sorted(durs)[int(len(durs) * 0.9)], 3),
            "max_s": round(max(durs), 3),
            "ckpt_bytes_by_batch": ckpt_sizes,
            "rss_mb_by_batch": rss,
            "republished_mid_soak": bool(republished),
            "wall_s": round(time.time() - t_start, 1),
        }
    finally:
        # temp dirs must not leak on an exception path (r12 review)
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=200)
    ap.add_argument("--legs", default="ivf,minhash")
    args = ap.parse_args()

    from stateflow_spark.session import get_spark

    spark = get_spark(app_name="stateflow-soak")
    spark.sparkContext.setLogLevel("ERROR")
    for leg in args.legs.split(","):
        print(json.dumps(soak_leg(spark, leg.strip(), args.batches)))


if __name__ == "__main__":
    main()
