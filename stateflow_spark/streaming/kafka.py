"""Kafka transport for the continuous entity engine.

The file-source StreamingEntityEngine (stateful.py) is the test-harness
transport; THIS is the production one, mirroring the reference's topic
layout (client_request / internal / client_reply —
stateflow/runtime/beam_runtime.py:137-204, stateflow/client/kafka_client.py:
37-39):

    {prefix}-request   client → engine        (op #1 ingress)
    {prefix}-internal  engine → engine hops   (the loopback cycle)
    {prefix}-reply     engine → client        (op #22 egress)
    {prefix}-dead      quarantined poison events

Wire format: record key = JSON {"entity","key","seq"} (UTF-8), record
value = the pickled Event blob — the same (entity, key, seq, blob) row the
file transport carries, so the keyed stateful plan is the file engine's
(stateful.keyed_operator over the per-key event core, entity/keyed.py,
with poison quarantine on); only ingress decode and egress routing differ.

Egress is ONE kafka sink: the Kafka writer routes per-row via a `topic`
column, so the reply/hop/dead split that the file transport does with
driver-side renames (stateful.py:_route_batch) is a pure column expression
here — no driver involvement, no rename idempotence machinery; exactly-once
hop/reply delivery degrades to Kafka's at-least-once + idempotent-producer
semantics, which is the reference's own delivery model.

Everything below the source/sink boundary is testable without a broker or
the spark-sql-kafka jar: encode/decode/route are plain column transforms
(tests/test_kafka.py runs them on batch DataFrames), and the FULL path —
source → decode → keyed state → topic-routed egress, including the
cross-key hop loop through {prefix}-internal and the client transport —
executes E2E against the in-process stub broker (stub_broker.py +
stub_kafka_source.py) when the connector/broker are absent; with
$STATEFLOW_KAFKA_BROKERS and the jar present, the identical tests run
against the real thing.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from stateflow_spark.sources import kafka_source
from stateflow_spark.streaming.stateful import keyed_operator

_KEY_SCHEMA = StructType(
    [
        StructField("entity", StringType()),
        StructField("key", StringType()),
        StructField("seq", LongType()),
    ]
)


def topics(prefix: str) -> dict[str, str]:
    return {
        "request": f"{prefix}-request",
        "internal": f"{prefix}-internal",
        "reply": f"{prefix}-reply",
        "dead": f"{prefix}-dead",
    }


def encode_events(df: DataFrame, topic: str) -> DataFrame:
    """(entity, key, seq, blob) rows → Kafka producer rows (key, value,
    topic). Used by clients publishing requests and by tests."""
    return df.select(
        F.to_json(F.struct("entity", "key", "seq")).alias("key"),
        F.col("blob").alias("value"),
        F.lit(topic).alias("topic"),
    )


def decode_events(df: DataFrame) -> DataFrame:
    """Kafka consumer rows → the engine's (entity, key, seq, blob) rows.
    All JVM-side (from_json), no Python in the ingress path."""
    k = F.from_json(F.col("key").cast("string"), _KEY_SCHEMA)
    return df.select(
        k["entity"].alias("entity"),
        k["key"].alias("key"),
        k["seq"].alias("seq"),
        F.col("value").alias("blob"),
    )


def route_to_topics(out: DataFrame, prefix: str) -> DataFrame:
    """Egress router as a column expression: kind → destination topic.
    The file transport's driver-side rename split (_route_batch) collapses
    into per-row topic routing inside the Kafka sink."""
    t = topics(prefix)
    topic = (
        F.when(F.col("kind") == "reply", F.lit(t["reply"]))
        .when(F.col("kind") == "hop", F.lit(t["internal"]))
        .otherwise(F.lit(t["dead"]))
    )
    return out.select(
        topic.alias("topic"),
        F.to_json(F.struct("entity", "key", "seq")).alias("key"),
        F.col("blob").alias("value"),
    )


def connector_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka connector is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


class KafkaEntityEngine:
    """The continuous entity engine over Kafka topics: one long-running
    query

        kafka({prefix}-request, {prefix}-internal)
          → decode → groupBy(entity, key) → applyInPandasWithState
          → route_to_topics → kafka sink

    Identical operator core to StreamingEntityEngine; only the transport
    differs. Poison events are quarantined into {prefix}-dead, like the
    file engine's default: an undecodable record value, or a decoded event
    whose handling raises out of operator.handle (that one also gets an
    ERROR reply on {prefix}-reply). Requires the spark-sql-kafka
    connector and a reachable broker (gate with connector_available / a
    brokers env var)."""

    def __init__(
        self,
        spark: SparkSession,
        brokers: str,
        prefix: str,
        workdir: str,
        stub_path: Optional[str] = None,
    ):
        """stub_path: when set, the engine runs over the in-process stub
        broker (streaming/stub_broker.py) instead of a real cluster —
        source becomes the Python-DataSource "stubkafka" format (same
        key/value/topic row schema as the JVM connector) and egress a
        foreachBatch producer append. Everything between source and sink
        — decode, keyed state, routing — is the identical production
        plan; this is how the Kafka path runs E2E in environments without
        the connector jar."""
        self.spark = spark
        self.brokers = brokers
        self.prefix = prefix
        self.checkpoint = os.path.join(workdir, "kafka-checkpoint")
        self.stub_path = stub_path
        self.query = None

    def build_plan(self) -> DataFrame:
        """Construct the full streaming DataFrame (source → operator →
        routed egress rows) without starting it — the plan-shape surface
        for tests and .explain()."""
        t = topics(self.prefix)
        in_topics = f"{t['request']},{t['internal']}"
        if self.stub_path is not None:
            from stateflow_spark.streaming import stub_kafka_source

            stub_kafka_source.register(self.spark)
            src = (
                self.spark.readStream.format("stubkafka")
                .option("path", self.stub_path)
                .option("topics", in_topics)
                .option("startingOffsets", "earliest")
                .load()
            )
        else:
            src = kafka_source(
                self.spark,
                self.brokers,
                in_topics,
                starting_offsets="earliest",
            )
        return route_to_topics(keyed_operator(decode_events(src)), self.prefix)

    def start(self) -> None:
        routed = self.build_plan()
        if self.stub_path is not None:
            # egress twin of the kafka sink: per-row topic routing is the
            # same `topic` column; the append runs executor-side per
            # partition (foreachBatch may replay a failed batch →
            # at-least-once, matching the production sink's semantics)
            root = self.stub_path

            def _sink(batch_df, _bid):
                def _write(rows):
                    from stateflow_spark.streaming import stub_broker as B

                    for r in rows:
                        key = r.key.encode() if r.key is not None else None
                        B._append(root, r.topic, key, bytes(r.value))

                batch_df.foreachPartition(_write)

            self.query = (
                routed.writeStream.foreachBatch(_sink)
                .option("checkpointLocation", self.checkpoint)
                .start()
            )
            return
        self.query = (
            routed.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", self.brokers)
            .option("checkpointLocation", self.checkpoint)
            .start()
        )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
