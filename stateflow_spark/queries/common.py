"""Registry plumbing + exactness helpers shared by all query modules.

Exactness strategy (this is what makes the DuckDB oracle hash-match):

Double-precision SUMs are order-dependent, and Spark's partition-parallel
aggregation will not reproduce DuckDB's summation order. So every aggregate
over a double column goes through a fixed-scale DECIMAL accumulator —
decimal addition is exact and associative, so both engines compute the
*identical* value regardless of partitioning. The final output is CAST back
to DOUBLE. Below 2^53 (scaled) that cast is exact in both engines; beyond it
Spark stays correctly rounded while DuckDB's direct cast double-rounds, so
the oracle emits via a VARCHAR round-trip (see oracle_dsum) — both sides then
produce the bit-identical correctly-rounded double at any magnitude (verified
at sf10 where the direct cast diverged by 1 ulp on q1's scale-6 sums).

Averages / ratios are emitted as ``CAST(decimal_sum AS DOUBLE) / count`` —
one IEEE double division of bit-identical operands on both sides, hence
bit-identical results with no rounding epsilon at all.

Tie hazard: a double→DECIMAL(38,s) cast ROUNDS, and Spark (HALF_UP) and
DuckDB (half-even) break exact half-way values differently — real data can
hit this (a product in sim_power_iteration lands exactly on a scale-12
half-way point). Derived quantities multiplied through several steps are
one risk class; RAW FLOAT32 COLUMNS are another, discovered at sf0.1:
binary fractions with exactly 13 fractional bits (e.g. -1261/2^13 =
-0.1539306640625) ARE exact scale-12 halfway points, so casting raw
embedding values to DECIMAL(38,12) diverges between engines (one element
flipped sim_centroid_distance's centroid by 1e-12 and two output rows by
5e-13). Where an operator averages or chains raw floats/products, use a
tie-free fixed-point kernel instead: trunc(p·10^s) as bigint for derived
products (similarity.py::_fx/_fx_fold), or trunc(x·2^40) for raw-float
means (power-of-two scale: the multiply is exact for float32 inputs and
the later division by 2^40 is an exact exponent shift — see
similarity.py::_centroids). Truncation has no ties.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stateflow_spark import versioning
from stateflow_spark.catalog import load, table_path
from stateflow_spark.sources import stream_files


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL; None → driver marks the row FAIL
    # (err=no_oracle), so every registered query must carry one — approx
    # sketches hash exact twins + bound booleans vs literal TRUEs
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""

    @property
    def family(self) -> str:
        """The query's family: its first tag (``register`` requires one)."""
        return self.tags[0]


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple[str, ...] = ()):
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the registry.
    The first tag names the query's family, so at least one is required."""
    if not tags:
        raise ValueError(f"query {name!r} registered without a family tag")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or ""
        )
        return fn

    return deco


# --------------------------------------------------------------------------
# Exact-aggregation helpers (Spark side). The oracle SQL mirrors them with
# the same CAST(... AS DECIMAL(38, s)) expressions.
# --------------------------------------------------------------------------

DEC = "decimal(38,{s})"


def dec(col: Column | str, scale: int = 4) -> Column:
    """Cast a double expression to an exact fixed-scale decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC.format(s=scale))


def dsum(col: Column | str, alias: str, scale: int = 4) -> Column:
    """Exact SUM: decimal-accumulated, emitted as DOUBLE."""
    return F.sum(dec(col, scale)).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 4) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(dec(c, scale)).cast("double") / F.count(c).cast("double")
    ).alias(alias)


# The decimal→double emission routes through VARCHAR on the DuckDB side:
# DuckDB's direct DECIMAL→DOUBLE cast computes (double)int128 / (double)10^s —
# two roundings — while Spark's Decimal.toDouble (BigDecimal.doubleValue) is
# correctly rounded. Once the scaled integer exceeds 2^53 the two can differ
# by 1 ulp (first observed: q1 sum_disc_price at sf10, scaled sum ≈ 4.4e17).
# DECIMAL→VARCHAR is exact digits and VARCHAR→DOUBLE parsing is correctly
# rounded in both engines, so the string round-trip pins the oracle to the
# same correctly-rounded double Spark emits at ANY magnitude.


def _d2d(expr: str) -> str:
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def oracle_dsum(expr: str, alias: str, scale: int = 4) -> str:
    return (
        _d2d(f"SUM(CAST({expr} AS DECIMAL(38,{scale})))") + f" AS {alias}"
    )


def oracle_davg(expr: str, alias: str, scale: int = 4) -> str:
    return (
        _d2d(f"SUM(CAST({expr} AS DECIMAL(38,{scale})))")
        + f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


# --------------------------------------------------------------------------
# Streaming-row harness: every streaming query re-serves its input table
# through a file stream and runs its plan to the end of that source.
# --------------------------------------------------------------------------

# (tag, table file) -> (versioning.source_key, dir) of the one re-served
# version this process holds for it
_SERVED: dict[tuple[str, str], tuple[str, str]] = {}


@atexit.register
def _drop_served() -> None:
    for _, src in _SERVED.values():
        shutil.rmtree(src, ignore_errors=True)


def served_source(
    sf_dir: str, table: str, tag: str, write: Callable[[str], object]
) -> str:
    """A re-served copy of `sf_dir`'s `table`, laid out by `write(dir)`
    into a fresh scratch dir and memoized under (`tag`, the table file's
    `versioning.source_key`). Rewriting the file in place moves the key,
    so the next call re-serves it and deletes the superseded version's
    dir: a stream always replays the bytes the oracle reads. A `write`
    that raises leaves no dir and no memo entry. Only sources are
    memoized, never query results."""
    path = table_path(sf_dir, table)
    slot = (tag, os.path.abspath(path))
    version = versioning.source_key(path)
    held = _SERVED.get(slot)
    if held is not None and held[0] == version and os.path.isdir(held[1]):
        return held[1]
    if held is not None:
        del _SERVED[slot]
        shutil.rmtree(held[1], ignore_errors=True)
    src = tempfile.mkdtemp(prefix=f"served-{tag}-")
    try:
        write(src)
    except BaseException:
        shutil.rmtree(src, ignore_errors=True)
        raise
    _SERVED[slot] = (version, src)
    return src


def stream_dir(
    spark: SparkSession, src: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """File stream over the parquet files of a served dir, with the schema
    they carry."""
    return stream_files(
        spark, src, spark.read.parquet(src).schema,
        max_files_per_trigger=max_files_per_trigger,
    )


def run_to_end(
    out: DataFrame,
    mode: str = "append",
    foreach_batch: Optional[Callable[[DataFrame, int], None]] = None,
) -> Optional[DataFrame]:
    """Run the streaming plan `out` until its source is drained:
    trigger(availableNow=True) from a scratch checkpoint that is deleted
    once the query stops. Without `foreach_batch` the rows land in a
    fresh memory sink whose table is returned (its view is dropped); with
    it every micro-batch goes to `foreach_batch(batch_df, batch_id)` and
    None is returned."""
    writer = out.writeStream.outputMode(mode)
    name = None
    if foreach_batch is None:
        name = f"sq_{uuid.uuid4().hex[:8]}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    ckpt = tempfile.mkdtemp(prefix="stream-ckpt-")
    try:
        query = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if name is None:
        return None
    # the resolved frame keeps the sink's rows; a kept view would pin
    # them in the driver for the rest of the session
    table = out.sparkSession.table(name)
    out.sparkSession.catalog.dropTempView(name)
    return table


def scratch_output_dir(prefix: str) -> str:
    """mkdtemp that self-cleans at interpreter exit — for per-invocation
    stream sinks whose DataFrame is still lazily read by the caller (so
    an eager rmtree would race the read; round-11 ADVICE: the streaming
    classify rows leaked one out_dir per invocation)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def stream_delta_classify(
    spark: SparkSession, sf_dir: str, table: str, id_col: str,
    classify: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The continuous form of a delta-classify row: the delta rows of
    `table` (`id_col` % 5 == 0) are re-served as a file stream and every
    micro-batch is classified by `classify(batch_df)` (the batch row's
    own body, so the two can never drift) and appended to a scratch
    output, which is returned. Run to the end of the source the
    processed set is the whole delta, so the output equals the batch job
    and the same oracle gates it; per-row verdicts depend only on the
    row and the stored layout, so that holds for any micro-batch split."""

    def write_delta(src: str) -> None:
        load(spark, sf_dir, table).filter(F.col(id_col) % 5 == 0).write.mode(
            "overwrite"
        ).parquet(src)

    src = served_source(sf_dir, table, "delta", write_delta)
    out_dir = scratch_output_dir(f"{table}-delta-out-")

    def classify_batch(batch_df: DataFrame, _batch_id: int) -> None:
        classify(batch_df).write.mode("append").parquet(out_dir)

    run_to_end(stream_dir(spark, src), foreach_batch=classify_batch)
    return spark.read.parquet(out_dir)
