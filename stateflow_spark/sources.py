"""Source/sink surface beyond the parquet catalog (SURVEY.md §2.C row 1 and
§2.A op #1; the Kafka egress, op #22, is streaming/kafka.py's sink).

The reference's only source/sink is Kafka (topics ``client_request`` /
``internal`` / ``client_reply`` — stateflow/runtime/beam_runtime.py:137-153,
stateflow/client/kafka_client.py:37-39). Spark gives every file format and
Kafka through one reader API; this module declares the builders our engine
supports, each returning a plain DataFrame so downstream operators are
source-agnostic.

Scale notes:
- CSV/JSON readers take an explicit schema — schema inference reads the
  data twice, which is a non-starter at 100 TB.
- Streaming file sources bound per-trigger work with maxFilesPerTrigger;
  combined with watermarks downstream this keeps micro-batches sized to
  the cluster, not to the backlog.
- Kafka needs the spark-sql-kafka package on the classpath; the builder is
  declared here (and unit-testable in shape) but the container has no
  broker, so it is exercised only as plan construction.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Optional[StructType] = None,
    **options: str,
) -> DataFrame:
    """Batch scan of parquet/csv/json/orc/text.

    Parquet/ORC carry their own schema; csv/json REQUIRE one (pass the
    authoritative StructType; never infer at scale)."""
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(f"{fmt} scans need an explicit schema at scale")
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def write_file(df: DataFrame, path: str, fmt: str = "parquet",
               mode: str = "overwrite", **options: str) -> None:
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.options(**options).save(path)


def stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
    **options: str,
) -> DataFrame:
    """Streaming file source: new files under ``path`` become micro-batches.
    This is the test-harness stand-in for Kafka (same rows, same downstream
    plan) and the loopback transport of the streaming entity engine."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        options["maxFilesPerTrigger"] = str(max_files_per_trigger)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def rate_source(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source (timestamp, value) — load/soak testing."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """The production ingress (reference op #1): subscribe to event topics.

    Returns (key, value, topic, partition, offset, timestamp, ...) — callers
    parse ``value`` with from_json/Event.from_bytes. Requires the
    spark-sql-kafka connector jar at runtime."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
