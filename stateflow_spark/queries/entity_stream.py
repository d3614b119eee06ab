"""Driver-visible replay through the CONTINUOUS entity engine
(StreamingEntityEngine) — round-4 VERDICT "Next round" #7.

`entity_stateful_replay` measures the raw stateful operator
(applyInPandasWithState) at relational volume; `entity_ycsb_replay` is the
batch fold; the superstep engine has `entity_flow_golden`. This query
gives the continuous engine itself a hash-gated row: the events table is
replayed as per-event InvokeStateful calls across MULTIPLE micro-batches
of one long-running checkpointed query (state persists in the state store
between batches), and the final state is read back DISTRIBUTED via the
Spark 4 state-store reader over the engine's checkpoint — the state IS a
queryable table (the state_table posture; entity_state_relational_join
is the superstep twin).

Burst construction is CLUSTER-SIDE (round-5 VERDICT "Next round" #3): one
Spark job maps the events table to serialized InvokeStateful rows (the
engine's wire schema) and writes them hash-partitioned into 3 burst
directories; the driver only renames each burst's finished files into the
engine's source directory — the file-source analog of pointing a Kafka
producer fleet at the ingress topic. Inits are built the same way from
the distinct keys (round-6 VERDICT #5). Neither the events table nor the
key list ever reaches the driver; the only driver scalar is the key
count (state-store sizing).

Exactness: the entity folds integer ten-thousandths (each event's value
quantized executor-side exactly like the oracle's CAST(value AS
DECIMAL(38,4))), so the fold is commutative/associative and immune to
micro-batch boundaries AND to the hash-based 3-way burst split; the
units→double conversion at the end replays the oracle's decimal→double
cast.

Scale shape: burst serialization is one distributed map over events (no
shuffle before the partitionBy write); then one groupBy(entity, key)
shuffle per micro-batch into the state store's partitions; per-key state
is four scalars. State size tracks key cardinality only.
"""

from __future__ import annotations

import decimal
import os
import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stateflow_spark.catalog import load
from stateflow_spark.entity.registry import entity, get_registry
from stateflow_spark.queries.common import register

_Q4 = decimal.Decimal("0.0001")


def _replay_class():
    reg = get_registry()
    if "ReplayAccount" in reg:
        return

    @entity
    class ReplayAccount:
        def __init__(self, acct: str):
            self.acct: str = acct
            self.units: int = 0
            self.n_reads: int = 0
            self.n_updates: int = 0

        def apply(self, delta_units: int, reads: int, updates: int):
            self.units += delta_units
            self.n_reads += reads
            self.n_updates += updates

        def __key__(self):
            return self.acct

    return ReplayAccount


def _units(v: float) -> int:
    # CAST(double AS DECIMAL(38,4)): shortest repr, HALF_UP to 4 places
    return int(
        decimal.Decimal(repr(float(v))).quantize(
            _Q4, rounding=decimal.ROUND_HALF_UP
        ).scaleb(4)
    )


def _serialize_inits(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side: distinct keys → serialized InitClass rows. Same
    wire-schema posture as _serialize_bursts — the driver never sees a
    key."""
    from stateflow_spark.entity import operator

    _replay_class()  # executor workers have their own (empty) registry

    for pdf in it:
        rows = []
        for uid in pdf["user_id"]:
            e = operator.make_init_event("ReplayAccount", (str(uid),))
            rows.append((e.entity, e.key, e.seq, e.to_bytes()))
        if rows:
            yield pd.DataFrame(rows, columns=["entity", "key", "seq", "blob"])


def _state_to_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side: (key, pickled state blob) → final replay rows. The
    balance arithmetic is byte-identical to the old GET_STATE readback:
    float(Decimal(units).scaleb(-4)) is the correctly-rounded double of
    the exact scaled-int fold, + 100.0 in IEEE double."""
    import pickle

    for pdf in it:
        rows = []
        for k, blob in zip(pdf["k"], pdf["blob"]):
            s = pickle.loads(bytes(blob))
            bal = 100.0 + float(decimal.Decimal(s["units"]).scaleb(-4))
            rows.append((int(k), bal, s["n_reads"], s["n_updates"]))
        if rows:
            yield pd.DataFrame(
                rows, columns=["key", "balance", "n_reads", "n_updates"]
            )


def _serialize_bursts(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side: events → serialized InvokeStateful rows in the
    engine's wire schema (entity, key, seq, blob) + the burst label.
    Runs where the data lives; the driver never sees an event row."""
    from stateflow_spark.entity import operator
    from stateflow_spark.entity.model import EntityRef

    for pdf in it:
        rows = []
        for uid, et, v, b in zip(
            pdf["user_id"], pdf["event_type"], pdf["value"], pdf["burst"]
        ):
            if et == "purchase":
                args = (_units(v), 0, 1)
            elif et == "error":
                args = (-_units(v), 0, 1)
            elif et in ("view", "click"):
                args = (0, 1, 0)
            else:
                args = (0, 0, 0)
            e = operator.make_invoke_event(
                EntityRef("ReplayAccount", str(uid)), "apply", args
            )
            rows.append((int(b), e.entity, e.key, e.seq, e.to_bytes()))
        yield pd.DataFrame(
            rows, columns=["burst", "entity", "key", "seq", "blob"]
        )


@register(
    "entity_stream_replay",
    oracle="""
    SELECT user_id AS key,
           100.0 + CAST(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                                      WHEN event_type = 'error' THEN -value
                                      ELSE 0.0 END AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS balance,
           COUNT(*) FILTER (event_type IN ('view', 'click')) AS n_reads,
           COUNT(*) FILTER (event_type IN ('purchase', 'error')) AS n_updates
    FROM events
    GROUP BY user_id
    """,
    tags=("entity", "streaming", "stateful"),
)
def entity_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event in the events table dispatched per-event through the
    continuous engine in 3 cluster-built bursts (≥3 micro-batches +
    cluster-built inits), final per-key state read back DISTRIBUTED from
    the engine's own checkpoint via the Spark 4 state-store reader; must
    equal the batch fold.

    No driver materialization proportional to keys OR events anywhere
    (round-6 VERDICT #5): inits serialize cluster-side from the distinct
    keys exactly like the bursts, and the readback is
    spark.read.format("statestore") over the checkpoint — the state
    lands as a DataFrame and unpacks via one Arrow-batched mapInPandas
    (the state_table shape), never through per-key GET_STATE replies.
    The only driver scalar is the key COUNT (state-store sizing). The
    GET_STATE surface itself stays hash-gated by entity_get_state and
    the superstep replays."""
    from stateflow_spark.streaming.stateful import (
        StreamingEntityEngine, state_partitions)

    from stateflow_spark.storage import unpersist_local_checkpoint

    _replay_class()
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # one scan + one distinct shuffle, materialized: the key count (state
    # sizing) and the init build both read the checkpointed blocks
    keys_df = ev.select("user_id").distinct().localCheckpoint()
    n_keys = keys_df.count()

    # state-store parallelism tracks the key set
    n_part = state_partitions(n_keys)
    eng = StreamingEntityEngine(
        spark,
        tempfile.mkdtemp(prefix="entity-stream-replay-"),
        shuffle_partitions=n_part,
    )
    try:
        # inits built cluster-side (same staging-then-move pattern as the
        # bursts below) — the driver never holds the key list
        init_staging = os.path.join(eng.workdir, "inits")
        (
            keys_df.repartition(max(1, n_part // 4))
            .mapInPandas(
                _serialize_inits,
                "entity STRING, key STRING, seq LONG, blob BINARY",
            )
            .write.mode("overwrite")
            .parquet(init_staging)
        )
        unpersist_local_checkpoint(keys_df)  # inits are on disk now
        for j, name in enumerate(
            sorted(
                n for n in os.listdir(init_staging) if n.endswith(".parquet")
            )
        ):
            os.replace(
                os.path.join(init_staging, name),
                os.path.join(eng.in_dir, f"init-{j}.parquet"),
            )
        eng.start()
        eng.drain()

        # ONE distributed job serializes every burst; a deterministic hash
        # split (not row order) assigns each event a burst, so the job is
        # shuffle-free and the 3-way split is reproducible under any
        # partitioning — legal because the entity fold is commutative
        staging = os.path.join(eng.workdir, "bursts")
        (
            # repartition first: the events scan may arrive in a handful of
            # file-sized partitions, and the Python serialization is the
            # per-row cost here — measured 21.6s on 4 scan partitions vs
            # ~3s spread across the workload-scaled partition count at sf1
            # (n_part, not raw core count: burst file count = task count,
            # and each micro-batch relists the source dir, so a tiny
            # workload should not pay 32 files per burst)
            ev.repartition(n_part)
            .withColumn(
                "burst",
                F.pmod(
                    F.xxhash64("user_id", "event_type", "value"), F.lit(3)
                ).cast("int"),
            )
            .mapInPandas(
                _serialize_bursts,
                "burst INT, entity STRING, key STRING, seq LONG, blob BINARY",
            )
            .write.mode("overwrite")
            .partitionBy("burst")
            .parquet(staging)
        )
        for i in range(3):  # 3 bursts → ≥3 stateful micro-batches
            part = os.path.join(staging, f"burst={i}")
            names = sorted(
                n for n in os.listdir(part) if n.endswith(".parquet")
            )
            for j, name in enumerate(names):
                os.replace(
                    os.path.join(part, name),
                    os.path.join(eng.in_dir, f"burst-{i}-{j}.parquet"),
                )
            eng.drain()
    finally:
        eng.stop()

    # distributed readback: the engine's checkpoint IS a queryable state
    # snapshot — one scan, one Arrow-batched unpack, zero driver rows
    st = (
        spark.read.format("statestore")
        .load(eng.checkpoint)
        .filter(F.col("key.entity") == "ReplayAccount")
        .select(
            F.col("key.key").alias("k"),
            F.col("value.groupState.blob").alias("blob"),
        )
    )
    return st.mapInPandas(
        _state_to_rows,
        "key BIGINT, balance DOUBLE, n_reads BIGINT, n_updates BIGINT",
    )
