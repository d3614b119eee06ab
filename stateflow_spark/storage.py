"""Bucketed-table layout: the co-located join/aggregation story at 100 TB.

A fact-fact join (lineitem ⋈ orders on orderkey) shuffles BOTH sides on
the join key every time it runs. At 100 TB that shuffle — not the join
itself — is the dominant cost, and it repeats for every query in the
workload that joins or aggregates on the same key. Bucketing moves that
shuffle to WRITE time, once: `bucketBy(n, key)` hash-partitions files on
disk, so every subsequent join/groupBy on the key reads co-located
buckets and plans with ZERO exchanges (and with `sortBy`, zero sorts —
the sort-merge join streams directly off the files).

This is the Spark-native analog of the reference's keyed state
partitioning (stateflow/runtime routes every event by entity key so
operators never reshuffle state): here the *tables* are pre-routed by
key. `tests/test_bucketing.py` pins the plans: bucketed self-route join
→ no Exchange; bucketed+sorted → no Exchange and no Sort; bucketed
groupBy → no Exchange before the final aggregate.

Bucket-count sizing at the target scale: buckets are fixed at write time
and each bucket must fit an executor's working memory at read time —
100 TB / 4096 buckets ≈ 25 GB per bucket is too big; ~32k buckets keeps
buckets in the low-GB range while staying far from the small-files
regime. AQE cannot re-split a skewed bucket (bucketing bypasses
exchange-level skew handling), so keys hot enough to overflow a bucket
belong in a salted layout instead (queries/aggregates.py
agg_salted_two_phase shows the pattern).

Sort elision needs one more step: since Spark 3.0 a bucketed scan does
not report its sortBy ordering unless
`spark.sql.legacy.bucketedTableScan.outputOrdering=true`, because a
bucket split across several sorted files still needs a merge. The
pre-write repartition below produces exactly one file per bucket — the
layout for which the flag is both safe and profitable.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    path: str,
    sort_keys: Sequence[str] | None = None,
) -> None:
    """Write `df` as an external parquet table bucketed on `keys`.

    `sortBy` additionally sorts within each bucket file so downstream
    sort-merge joins skip their Sort as well as their Exchange. Spark
    only persists bucketing metadata through the catalog, hence
    saveAsTable with an explicit external path rather than a bare
    parquet write.

    The pre-write repartition on the bucket keys makes each bucket a
    SINGLE file (one writing task per bucket): the read side only
    treats buckets as sorted when they're one file each — multiple
    sorted files per bucket would need a merge, so Spark re-Sorts and
    the sortBy is wasted. At 100 TB this repartition is the one-time
    shuffle the layout exists to amortize."""
    if sort_keys:
        df = df.repartition(n_buckets, *keys)
    w = df.write.format("parquet").bucketBy(n_buckets, *keys)
    if sort_keys:
        w = w.sortBy(*sort_keys)
    w.option("path", path).mode("overwrite").saveAsTable(table)


def write_bucketed_files(
    df: DataFrame,
    keys: Sequence[str],
    n_buckets: int,
    path: str,
    sort_keys: Sequence[str] | None = None,
) -> None:
    """`write_bucketed` to `path` through a throwaway catalog entry that
    is dropped again: the bucket ids ride the file names, so the files
    alone carry the layout and `register_bucketed` can register them
    under their final name after the directory has been moved."""
    table = f"bucketed_scratch_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(df, table, keys, n_buckets, path, sort_keys)
    finally:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")  # external


def register_bucketed(
    spark: SparkSession,
    table: str,
    schema: str,
    keys: Sequence[str],
    n_buckets: int,
    path: str,
) -> str:
    """Register the bucketed parquet files at `path` as `table` (a no-op
    if the name exists) and return the name. Bucket metadata lives only
    in the session catalog, so every fresh session re-registers a stored
    layout this way."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema}) USING PARQUET"
        f" CLUSTERED BY ({', '.join(keys)}) INTO {n_buckets} BUCKETS"
        f" LOCATION '{path}'"
    )
    return table


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata only flows via the catalog)."""
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Write `df` hive-partitioned on `partition_cols` (directory-per-value
    layout). The complement of bucketing: bucketing co-locates JOIN keys;
    partitioning prunes SCAN ranges — a predicate on a partition column
    becomes a directory listing filter, so a day query over a year of data
    reads 1/365th of the files before a single row is decoded. Partition
    columns must be low-cardinality (date, region, event_type — never a
    key): each value is a directory, and a high-cardinality partition
    column is the small-files failure mode. At 100 TB the standard layout
    is partition-by-date THEN bucket-by-key within each partition."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact(
    spark: SparkSession, path: str, target_file_bytes: int = 256 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    new file count.

    The small-files problem is the quiet scale killer on long-lived
    tables: every micro-batch append and every over-parallel write adds
    files, and a 100 TB table with 10 M files spends more time in footer
    reads and task scheduling than in scans. Compaction is the periodic
    fix; file count = ceil(on-disk bytes / target). The rewrite goes to a
    temp dir with an atomic swap (same self-overwrite hazard as
    streaming/sinks.py — a plan must never read the directory it is
    writing). Partitioned layouts should compact per partition directory
    (call this per leaf dir); bucketed tables must NOT be compacted this
    way — their file-per-bucket layout IS the contract."""
    import glob

    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    # shared crash-safe dir swap (round-5 ENOTEMPTY fix lives there once)
    from stateflow_spark.streaming.sinks import swap_parquet_dir

    swap_parquet_dir(df.repartition(n_files), path, prefix=".compact-")
    return n_files


def unpersist_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a ``localCheckpoint()``-ed DataFrame.

    Iterative algorithms (superstep engine, connected components,
    convergence-driven PageRank) checkpoint per round to truncate lineage;
    without an explicit release, every round's blocks stay pinned until the
    driver GC + ContextCleaner get around to them, so executor storage grows
    linearly with round count (round-5 ADVICE). The checkpointed RDD is the
    ``rdd`` field of the LogicalRDD plan node (``private[sql]`` compiles to
    a public accessor, so py4j can reach it). Best-effort: any non-
    LogicalRDD input (first iteration's plain DataFrame) is a silent no-op
    and falls back to GC-driven cleanup.
    """
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass


def local_frame(spark: SparkSession, rows: Sequence[tuple], ddl: str) -> DataFrame:
    """A DataFrame of driver-held ``rows`` (tuples in ``ddl`` column order)
    built from Arrow, so it plans as a LocalTableScan: a list-built frame is
    a Scan ExistingRDD over a PythonRDD, and every job reading it starts
    Python workers, even with no rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    return spark.createDataFrame(table)


def zorder_value(col_a: str, col_b: str, bits: int = 16):
    """Interleaved-bit (Morton / Z-order) key of two non-negative integer
    columns, computed JVM-side with a bit fold — no UDF. Callers must
    pre-scale both inputs into [0, 2^bits).

    Why it matters at 100 TB: hive-partitioning prunes on ONE hierarchy
    and linear sort clusters ONE column; Z-ORDER clustering makes file-
    and row-group min/max statistics selective on BOTH columns at once,
    so point/range predicates on EITHER dimension skip most files (the
    layout Delta's OPTIMIZE ZORDER BY and friends provide — recreated
    here with plain parquet + repartitionByRange + sortWithinPartitions).
    """
    from pyspark.sql import functions as F

    # SQL form: shiftleft/shiftright accept expression shift amounts there
    # (the Python API requires a literal int, which a fold index is not)
    return F.expr(
        f"""aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),
            (acc, i) -> acc
              | shiftleft(shiftright(CAST({col_a} AS BIGINT), i) & 1, i * 2)
              | shiftleft(shiftright(CAST({col_b} AS BIGINT), i) & 1,
                          i * 2 + 1))"""
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write `df` as parquet clustered on the Z-order curve of
    (col_a, col_b): range-partition by z-value into ~n_files, sort within
    each partition by z, drop the helper column. Every output file then
    covers a compact hyper-rectangle of (col_a, col_b) space, so parquet
    min/max footer statistics prune on both columns —
    tests/test_bucketing.py proves the skip rate against a time-sorted
    baseline by reading the footers directly."""
    z = zorder_value(col_a, col_b, bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
