"""Driver-visible STREAMING event-time queries (SURVEY.md §2.C rows:
watermarks/event-time windows, stream-stream join).

The builders under test are the actual Structured Streaming ones
(streaming/windows.py) — each query here re-serves the events table
through a real file stream, runs the streaming plan to completion into a
memory sink (common.run_to_end), and returns the sink table. The oracle
is the batch SQL: stream/batch agreement is the reference's own
stateful-operator contract, and here it is checked by the driver's
value-hash gate, not just by the local parity tests.

Output modes: the window aggregations run in COMPLETE mode so the final
sink holds every window (append mode would hold back open tail windows
past the watermark — correct for production, wrong for an equality
oracle); the stream-stream join runs in APPEND (its only supported mode —
with the whole table served as one batch, every matching pair is emitted).

Scale note: COMPLETE mode here is an oracle-harness choice, not the
production posture — the production form is append mode + watermark
(state-bounded), pinned by tests/test_streaming.py parity tests. The
underlying plans are identical; only the sink emission policy differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stateflow_spark.catalog import load
from stateflow_spark.queries import events as _events  # registers batch twins
from stateflow_spark.queries.common import (
    REGISTRY,
    register,
    run_to_end,
    served_source,
    stream_dir,
)
from stateflow_spark.streaming import windows as sw


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table re-served through a file stream: the write
    normalizes ts through catalog.load, so the stream schema is
    watermarkable."""
    def write(src: str) -> None:
        load(spark, sf_dir, "events").write.mode("overwrite").parquet(src)

    return stream_dir(spark, served_source(sf_dir, "events", "events", write))


@register(
    "stream_hourly_tumbling",
    oracle=None,  # set below: identical to the batch twin's oracle
    tags=("streaming", "events", "windows"),
)
def stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/windows.py:hourly_tumbling run as a real stream; must
    value-hash-match the batch twin's DuckDB oracle."""
    return run_to_end(sw.hourly_tumbling(_events_stream(spark, sf_dir)), "complete")


@register(
    "stream_sliding_window",
    oracle=None,
    tags=("streaming", "events", "windows"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_end(sw.sliding_counts(_events_stream(spark, sf_dir)), "complete")


@register(
    "stream_session_windows",
    oracle=None,
    tags=("streaming", "events", "windows"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_end(sw.session_windows(_events_stream(spark, sf_dir)), "complete")


@register(
    "stream_stream_join",
    oracle="""
    SELECT l.user_id,
           l.event_id AS click_id,
           r.event_id AS view_id,
           l.ts AS click_ts,
           r.ts AS view_ts
    FROM events l
    JOIN events r ON l.user_id = r.user_id
    WHERE l.event_type = 'click' AND r.event_type = 'view'
      AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "events", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks ⋈ same-user views in
    the preceding hour) run as a real stream; every pair the batch join
    produces must be emitted."""
    s1 = _events_stream(spark, sf_dir)
    s2 = _events_stream(spark, sf_dir)
    return run_to_end(sw.stream_stream_join(s1, s2), "append")


# the window aggregations share their batch twins' oracles verbatim — one
# definition, two execution modes, one truth
for _stream_name, _batch_name in (
    ("stream_hourly_tumbling", "events_hourly_tumbling"),
    ("stream_sliding_window", "events_sliding_window"),
    ("stream_session_windows", "events_session_windows"),
):
    REGISTRY[_stream_name].oracle = REGISTRY[_batch_name].oracle


@register(
    "stream_countmin_sketch",
    oracle=None,  # set below from the aggregates module's hash SQL
    tags=("streaming", "sketch", "countmin"),
)
def stream_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min counters built AS STREAMING STATE: the events table is
    re-served through a real file stream and the (j, bucket) counter
    aggregate runs under Structured Streaming — the production telemetry
    shape, where the sketch IS the state store and its size is
    depth×width rows NO MATTER how long the stream runs (contrast the
    per-key state of stream_dedup_watermark, which grows with key
    cardinality until the watermark reaps it). The final counters must
    equal the batch build bit-for-bit — count-min is a pure sum sketch,
    so incremental micro-batch merge is exact, the same mergeability
    contract agg_sketch_rollup pins for HLL across grains."""
    from stateflow_spark.queries.aggregates import _CM_DEPTH, _cm_bucket

    from pyspark.sql import functions as F

    s = _events_stream(spark, sf_dir).select("user_id")
    js = F.array(*[F.lit(j) for j in range(_CM_DEPTH)])
    counters = (
        s.select("user_id", F.explode(js).alias("j"))
        .select("j", _cm_bucket().alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return run_to_end(counters, "complete")


def _cm_counters_oracle() -> str:
    from stateflow_spark.queries.aggregates import _CM_BUCKET_SQL, _CM_DEPTH

    return f"""
    SELECT j, {_CM_BUCKET_SQL} AS bucket, COUNT(*) AS c
    FROM (SELECT user_id FROM events),
         (SELECT unnest(range(0, {_CM_DEPTH})) AS j)
    GROUP BY 1, 2
    """


REGISTRY["stream_countmin_sketch"].oracle = _cm_counters_oracle()


@register(
    "stream_stream_join_outer",
    oracle="""
    WITH c AS (
        SELECT user_id, ts AS click_ts, event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    v AS (
        SELECT user_id, ts AS view_ts, event_id AS view_id
        FROM events WHERE event_type = 'view'
    ),
    wm AS (
        SELECT least((SELECT MAX(click_ts) FROM c),
                     (SELECT MAX(view_ts) FROM v))
               - INTERVAL 1 HOUR AS w
    ),
    m AS (
        SELECT c.user_id, c.click_id, v.view_id, c.click_ts, v.view_ts
        FROM c JOIN v ON c.user_id = v.user_id
         AND v.view_ts <= c.click_ts
         AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR
    ),
    um AS (
        SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS view_id,
               c.click_ts, CAST(NULL AS TIMESTAMP) AS view_ts
        FROM c, wm
        WHERE c.click_ts < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM v
              WHERE v.user_id = c.user_id
                AND v.view_ts <= c.click_ts
                AND v.view_ts >= c.click_ts - INTERVAL 1 HOUR)
    )
    SELECT * FROM m UNION ALL SELECT * FROM um
    """,
    tags=("streaming", "events", "join", "outer"),
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join run as a real stream —
    the state-eviction row: unmatched clicks must surface as null-padded
    rows exactly when the watermark proves no future view can match, and
    the oracle REPLAYS that eviction rule in SQL (null rows only for
    clicks strictly below min(max click ts, max view ts) - 1h; the
    per-type maxima arise because Catalyst pushes the type filters below
    the EventTimeWatermark nodes — see
    streaming/windows.py:stream_stream_join_outer). The held-back tail
    is therefore hash-gated, not hand-waved: a Spark that stopped
    evicting (state leak) or evicted early (wrong nulls) both fail."""
    s1 = _events_stream(spark, sf_dir)
    s2 = _events_stream(spark, sf_dir)
    return run_to_end(sw.stream_stream_join_outer(s1, s2), "append")


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "events", "join", "enrich"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the third cell of the streaming join matrix,
    beside the inner and left-outer stream-stream rows): the event
    stream enriched per micro-batch against the STATIC customer
    dimension, then windowlessly aggregated in COMPLETE mode so the
    final sink equals the batch join+aggregate (the oracle). At scale
    the dimension broadcasts and the unbounded side never shuffles for
    the join — the standard enrichment posture for a 100 TB/day
    stream."""
    stream = _events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer")
    return run_to_end(sw.stream_static_enrich(stream, dim), "complete")
