"""Window-function queries (SURVEY.md §2.C "Window functions" row).

All orderings include a unique key tiebreak so ranking is deterministic and
hash-comparable against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stateflow_spark.catalog import load, stage_tasks, table_path
from stateflow_spark.queries.common import dec, register


@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window", "topk", "bench"),
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable form of per-key top-k
    (single shuffle on the partition key, no global sort)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
    tags=("window", "frame"),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (UNBOUNDED PRECEDING..CURRENT ROW) with exact decimal
    accumulation, plus sequence numbering."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice", 4)).over(frame).cast("double").alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "window_rank_customers_by_balance",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           RANK()       OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS bal_dense_rank
    FROM customer
    """,
    tags=("window", "rank"),
)
def window_rank_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank analytic functions."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
    )


@register(
    "window_lag_lead_events",
    oracle="""
    SELECT user_id, event_id, ts, event_type,
           LAG(value)       OVER w AS prev_value,
           LEAD(event_type) OVER w AS next_event_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag-lead"),
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a per-user event timeline (sessionization building block)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
           ) AS orders_last_90d
    FROM orders
    """,
    tags=("window", "range-frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per customer, how many of their orders
    fell in the trailing 90 days (inclusive). Value-based frames are the
    window shape ROWS frames cannot express; state per partition is bounded
    by the frame span, which is what keeps this viable on a 100 TB fact
    table."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("orders_last_90d"),
    )


@register(
    "window_distribution_functions",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           FIRST_VALUE(c_custkey) OVER wf AS richest_key,
           NTH_VALUE(c_custkey, 2) OVER wf AS second_key
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey),
           wf AS (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "distribution"),
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: NTILE, PERCENT_RANK, CUME_DIST,
    FIRST/NTH_VALUE over a full-partition frame. Ordering carries a key
    tiebreak so both engines assign identical ranks; pct/cume are integer
    ratios — engine-exact doubles."""
    c = load(spark, sf_dir, "customer")
    # ranking funcs require the default frame; value funcs get the full one
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(wf).alias("richest_key"),
        F.nth_value("c_custkey", 2).over(wf).alias("second_key"),
    )


@register(
    "window_equidepth_histogram",
    oracle="""
    WITH b AS (
        SELECT o_totalprice,
               NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE)
               AS bucket_revenue
    FROM b
    GROUP BY bucket
    """,
    tags=("window", "histogram", "bench"),
)
def window_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of order value with exact
    NTILE(16) semantics, computed WITHOUT a global sort.

    A naive ``NTILE OVER (ORDER BY ...)`` plans Exchange SinglePartition
    — one task sorts the whole table, the 100 TB anti-pattern. This is
    the distributed two-level rank instead (same shape as
    curation_pack_sequences' prefix sum): (1) coarse-bucket rows by a
    VALUE range (``price div 16384`` — monotone in price, so coarse
    order == value order), (2) per-coarse-bucket counts — a tiny table —
    and one window over THAT for exclusive rank offsets, (3) broadcast
    offsets back; global_rank = offset + row_number within the coarse
    bucket (fully parallel), (4) NTILE's distribution rule applied as
    arithmetic on the rank: with q = N div 16, rem = N % 16, the first
    ``rem`` buckets take q+1 rows — all integer math, so bucket
    assignment is bit-identical to the oracle's NTILE. Ordering ties
    break on o_orderkey (unique), making the total order strict. At
    100 TB the only serial window touches the per-coarse-bucket table
    (~price_range/16384 rows) and every corpus-wide step is an ordinary
    shuffle-once aggregate/window."""
    o = load(spark, sf_dir, "orders")
    # pinned keyed repartition before the cb window/aggregates (r13
    # session 2): AQE coalesced the byte-small cb exchange to 2 tasks
    # (0.54 s cpu at sf0.1). The pin is reused by the groupBy and the
    # wloc window; the ~price_range/16384 distinct cb values cap
    # parallelism in ANY plan. A/B means 0.86–0.87.
    t = o.select(
        "o_totalprice",
        "o_orderkey",
        F.expr("CAST(o_totalprice AS BIGINT) div 16384").alias("cb"),
    ).repartition(stage_tasks(spark, [table_path(sf_dir, "orders")]), "cb")
    csz = t.groupBy("cb").agg(F.count(F.lit(1)).alias("n"))
    woff = Window.orderBy("cb").rowsBetween(Window.unboundedPreceding, -1)
    boff = csz.select(
        "cb", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("offset")
    )
    nrow = F.broadcast(csz.agg(F.sum("n").alias("n_total")))
    wloc = Window.partitionBy("cb").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        t.join(F.broadcast(boff), "cb")
        .withColumn("grank", F.col("offset") + F.row_number().over(wloc))
        .crossJoin(nrow)
    )
    q = F.expr("n_total div 16")
    rem = F.col("n_total") % 16
    cutoff = rem * (q + 1)
    bucket = F.when(
        F.col("grank") <= cutoff,
        F.expr("(grank - 1) div (n_total div 16 + 1)") + 1,
    ).otherwise(
        rem + F.expr(
            "(grank - (n_total % 16) * (n_total div 16 + 1) - 1)"
            " div (n_total div 16)"
        ) + 1
    )
    return (
        ranked.select("o_totalprice", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(dec("o_totalprice", 4)).cast("double").alias("bucket_revenue"),
        )
    )


@register(
    "window_pareto_frontier",
    oracle="""
    SELECT a.p_partkey, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice >= a.p_retailprice
          AND b.p_size <= a.p_size
          AND (b.p_retailprice > a.p_retailprice OR b.p_size < a.p_size)
    )
    """,
    tags=("window", "skyline"),
)
def window_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): parts not dominated on
    (maximize retailprice, minimize size). The oracle is the declarative
    NOT EXISTS dominance test — quadratic, fine for DuckDB at oracle
    scale; the Spark plan is the sort-based linear form made
    DISTRIBUTED: for 2 dimensions a row survives iff its size is
    strictly below the minimum size of every strictly-higher-priced row
    (and is its own price group's minimum). That strict prefix-min over
    descending price is the same two-level pattern as
    window_equidepth_histogram / curation_pack_sequences: (1) collapse
    to per-price groups (ordinary hash aggregate — the price-group
    table can still be huge at 100 TB, so it stays distributed),
    (2) coarse-bucket by floor(price); per-bucket mins are a TINY table
    whose strict-prefix window is the only serial step, (3) broadcast
    the higher-bucket mins back; within-bucket strictness comes from a
    per-bucket window over distinct prices (parallel). Equal (price,
    size) pairs never dominate each other (no strict inequality), and
    both survive — the grouped form preserves that. No self-join, no
    single-partition pass over the corpus."""
    t = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    pr = (
        t.groupBy("p_retailprice")
        .agg(F.min("p_size").alias("gmin"))
        .withColumn("cb", F.floor("p_retailprice"))
    )
    bm = pr.groupBy("cb").agg(F.min("gmin").alias("bmin"))
    wb = Window.orderBy(F.col("cb").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = bm.select("cb", F.min("bmin").over(wb).alias("hmin"))
    wp = (
        Window.partitionBy("cb")
        .orderBy(F.col("p_retailprice").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    surv = (
        pr.join(F.broadcast(boff), "cb")
        .withColumn(
            "shmin", F.least(F.min("gmin").over(wp), F.col("hmin"))
        )
        .filter(F.col("shmin").isNull() | (F.col("gmin") < F.col("shmin")))
        .select(
            F.col("p_retailprice").alias("f_price"),
            F.col("gmin").alias("f_size"),
        )
    )
    return t.join(
        F.broadcast(surv),
        (F.col("p_retailprice") == F.col("f_price"))
        & (F.col("p_size") == F.col("f_size")),
    ).select("p_partkey", "p_retailprice", "p_size")


# shared with stream_scd2_merge (streaming_late.py): the streaming
# query's contract IS convergence to this batch recompute, so both
# registrations must gate on the identical oracle literal
SCD2_ORACLE = """
    WITH obs AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev_prio
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
        FROM obs
        WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS version_nr,
           o_orderpriority AS attr_value,
           o_orderdate AS eff_from,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS eff_to,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL
               AS is_current
    FROM changes
    """


@register(
    "scd2_dimension_versions",
    oracle=SCD2_ORACLE,
    tags=("window", "scd2", "warehouse"),
)
def scd2_dimension_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change feed — the warehouse
    MERGE-into-dimension pattern: each order observes the customer's
    current order priority; a new dimension VERSION opens only when the
    observed value CHANGES (SCD-2 writes no row for repeat observations),
    carries a validity interval [eff_from, eff_to), and the open version
    is flagged current (eff_to NULL).

    Plan shape: change detection (lag ≠ prev), version numbering
    (row_number) and interval closing (lead) are three window functions
    over the SAME (custkey, orderdate, orderkey) ordering — Catalyst
    evaluates them over ONE shuffle of the feed; at 100 TB this is a
    single exchange on the dimension key, and the daily incremental run
    windows only over (yesterday's open versions ∪ today's feed), not
    history. Deterministic: the within-day tiebreak is the unique
    orderkey, so version boundaries are total-ordered."""
    o = load(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("obs_date"),
        F.col("o_orderkey").alias("obs_key"),
        F.col("o_orderpriority").alias("attr_value"),
    )
    return scd2_versions(obs).drop("first_obs_key")


def scd2_versions(obs: DataFrame) -> DataFrame:
    """SCD-2 core over an observation feed (custkey, obs_date, obs_key,
    attr_value) -> versioned dimension. Shared by the batch build above
    and the incremental streaming merge (streaming_late.stream_scd2_merge),
    whose per-batch recompute feeds it stored change-points ∪ new
    observations for the affected keys only."""
    w = Window.partitionBy("custkey").orderBy("obs_date", "obs_key")
    flagged = obs.withColumn("prev_attr", F.lag("attr_value").over(w))
    changes = flagged.filter(
        F.col("prev_attr").isNull()
        | (F.col("prev_attr") != F.col("attr_value"))
    )
    eff_to = F.lead("obs_date").over(w)
    return changes.select(
        "custkey",
        F.row_number().over(w).alias("version_nr"),
        "attr_value",
        F.col("obs_date").alias("eff_from"),
        F.col("obs_key").alias("first_obs_key"),
        eff_to.alias("eff_to"),
        eff_to.isNull().alias("is_current"),
    )
