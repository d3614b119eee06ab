"""Source-robustness queries: the operational realities of a 100 TB lake
that synthetic single-schema reads never exercise — (1) schema evolution
across parquet epochs (an old epoch lacks a column, a new epoch adds
one; `mergeSchema` must union-by-name and null-fill), and (2) corrupt
records inside a JSON column (PERMISSIVE parsing must quarantine the bad
rows into a corrupt-record column instead of failing the job or silently
dropping them).

Both rows derive their "damaged" inputs DETERMINISTICALLY from the
events table (epoch split / corruption keyed on event_id), so the DuckDB
oracle can replay the exact same damage with CASE expressions on the
clean table — the recovery semantics themselves are what gets
hash-gated."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stateflow_spark.catalog import load
from stateflow_spark.queries.common import register, served_source


def _two_epoch_dir(spark: SparkSession, sf_dir: str) -> str:
    """events split into two parquet epochs with EVOLVED schemas:
    epoch 0 (event_id even) predates the `value` column; epoch 1
    (event_id odd) carries `value` plus a new `source_tag` column."""

    def write(src: str) -> None:
        e = load(spark, sf_dir, "events")
        (
            e.filter(F.col("event_id") % 2 == 0)
            .select("event_id", "ts", "user_id", "event_type")
            .write.mode("overwrite")
            .parquet(os.path.join(src, "epoch=0"))
        )
        (
            e.filter(F.col("event_id") % 2 == 1)
            .select(
                "event_id",
                "ts",
                "user_id",
                "event_type",
                "value",
                F.lit("v2").alias("source_tag"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(src, "epoch=1"))
        )

    return served_source(sf_dir, "events", "epochs", write)


@register(
    "source_schema_evolution",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_legacy,
           CAST(CAST(SUM(CASE WHEN event_id % 2 = 1
                         THEN CAST(value AS DECIMAL(38,4)) END) AS VARCHAR) AS DOUBLE) AS total_value_new,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tagged
    FROM events
    GROUP BY event_type
    """,
    tags=("sources", "schema-evolution"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet epochs written with DIFFERENT
    schemas (epoch 0 lacks `value`; epoch 1 adds `source_tag`) are read
    back as ONE table via mergeSchema=true — missing columns null-fill
    per epoch, and the aggregate proves it (legacy rows count into
    n_legacy via value IS NULL; only tagged rows contribute to the sum).
    The oracle replays the epoch split with CASE on the clean table, so
    a read that dropped legacy rows, defaulted values to 0, or failed to
    surface the new column all hash-mismatch.

    Scale note: mergeSchema reconciles footers at planning time — the
    scan itself stays columnar and codegen'd; at 100 TB pair it with
    partition discovery (the epochs here are physically separate dirs
    under one root, the layout evolution actually produces)."""
    src = _two_epoch_dir(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(src, "epoch=0"), os.path.join(src, "epoch=1")
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_legacy"),
        F.sum(F.col("value").cast("decimal(38,4)"))
        .cast("double")
        .alias("total_value_new"),
        F.sum(F.when(F.col("source_tag").isNotNull(), 1).otherwise(0)).alias(
            "n_tagged"
        ),
    )


@register(
    "source_corrupt_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parsed,
           CAST(SUM(CASE WHEN event_id % 7 <> 0
                         THEN CAST(json_extract_string(props, '$.k')
                                   AS BIGINT) END)
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("sources", "corrupt-records", "json"),
)
def source_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: every 7th event's JSON payload is
    deterministically mangled (truncated brace), then parsed with
    from_json in PERMISSIVE mode + a columnNameOfCorruptRecord column —
    the production posture where one bad producer must not fail the job
    OR vanish silently. The aggregate counts quarantined vs parsed rows
    per type and sums a parsed field; the oracle replays the same
    mangling rule with CASE, so dropping corrupt rows, nulling them
    without quarantine, or parsing them anyway all hash-mismatch.

    Scale note: from_json is a codegen'd JVM expression over the scan —
    no shuffle, no Python; the quarantine column rides the row, so bad
    records can be split off to a dead-letter sink with one filter."""
    e = load(spark, sf_dir, "events")
    mangled = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.expr("substring(props, 1, 3)"))
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = mangled.select(
        "event_type",
        F.from_json(
            "raw",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j"),
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.when(F.col("j._corrupt").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("j._corrupt").isNull(), 1).otherwise(0)).alias(
            "n_parsed"
        ),
        F.sum(F.when(F.col("j._corrupt").isNull(), F.col("j.k"))).alias("sum_k"),
    )
