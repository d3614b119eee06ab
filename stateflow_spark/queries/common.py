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

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


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


def stream_delta_src(
    spark: SparkSession, sf_dir: str, table: str, id_col: str,
    cache: dict, prefix: str,
) -> str:
    """Materialized delta dump (rows with id % 5 == 0) used as a file
    stream source by the stream_*_delta_classify rows, cached per
    (abspath, mtime) of the source parquet — the SAME key the stored-
    index caches use, so a rewrite of the source at the same path
    re-dumps the delta instead of silently streaming stale rows against
    a rebuilt index (round-10 ADVICE medium)."""
    import os
    import tempfile

    from stateflow_spark.catalog import load

    src_parquet = os.path.join(sf_dir, f"{table}.parquet")
    key = (os.path.abspath(src_parquet), os.path.getmtime(src_parquet))
    src = cache.get(key)
    if src is None or not os.path.isdir(src):
        # evict dumps superseded by a source rewrite (round-11 ADVICE):
        # the (abspath, mtime) key re-dumps on rewrite, but the OLD
        # mtime's dump dir would otherwise leak for the process lifetime
        import shutil

        for stale in [k for k in cache if k[0] == key[0] and k != key]:
            shutil.rmtree(cache.pop(stale), ignore_errors=True)
        src = tempfile.mkdtemp(prefix=prefix)
        load(spark, sf_dir, table).filter(
            F.col(id_col) % 5 == 0
        ).write.mode("overwrite").parquet(src)
        cache[key] = src
    return src


def scratch_output_dir(prefix: str) -> str:
    """mkdtemp that self-cleans at interpreter exit — for per-invocation
    stream sinks whose DataFrame is still lazily read by the caller (so
    an eager rmtree would race the read; round-11 ADVICE: the streaming
    classify rows leaked one out_dir per invocation)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
