"""Join-family completions (SURVEY.md §2.C joins row): as-of join and
full-outer join — shapes the earlier TPC-H queries don't cover.

The as-of join is the canonical "operator Spark lacks" case (instruction:
compose from existing DataFrame ops when semantics allow). The naive form
— range self-join then max() per left row — explodes quadratically on hot
keys. The scalable composition used here: union both sides with a marker,
one window pass per user ordered by time carrying the last view timestamp
forward (``last(..., ignorenulls=True)``), then keep the click rows. One
shuffle on the join key, linear work, no pair blow-up — this survives
100 TB where the range-join form does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stateflow_spark.catalog import load, stage_tasks, table_path
from stateflow_spark.queries.common import oracle_dsum, register


@register(
    "join_asof_click_view",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    tags=("join", "asof"),
)
def join_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the same user's most recent view
    at or before it (NULL if none). Emits the matched view's timestamp —
    a value both engines agree on even when two views share an instant."""
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_click"), F.col("ts").alias("view_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(1).alias("is_click"), F.lit(None).cast("timestamp").alias("view_ts"),
    )
    # views sort before clicks at the same ts (is_click asc) → ts-equal views
    # are visible to the click, matching ASOF's >= bound
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        views.unionByName(clicks)
        .withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("last_view_ts").alias("view_ts"),
        )
    )


@register(
    "join_full_outer_part_sales",
    oracle=f"""
    SELECT COALESCE(p_partkey, l_partkey) AS partkey,
           p_name,
           {oracle_dsum('l_extendedprice * (1.0 - l_discount)', 'revenue', 6)}
    FROM (SELECT * FROM part WHERE p_size <= 25) p
    FULL OUTER JOIN lineitem ON p_partkey = l_partkey
    GROUP BY COALESCE(p_partkey, l_partkey), p_name
    """,
    tags=("join", "outerjoin"),
)
def join_full_outer_part_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join with genuine rows on both exclusive sides: small
    parts that never sold (NULL revenue) and sales of large parts excluded
    from the dimension (NULL p_name)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    l = load(spark, sf_dir, "lineitem")
    from stateflow_spark.queries.common import dsum

    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        p.join(l, p.p_partkey == l.l_partkey, "full_outer")
        .groupBy(
            F.coalesce("p_partkey", "l_partkey").alias("partkey"), F.col("p_name")
        )
        .agg(dsum(rev, "revenue", 6))
    )


_RANGE_S = 3600  # interval width: clicks within 1 hour after a view
_RANGE_US = _RANGE_S * 1_000_000


@register(
    "join_range_view_clicks",
    oracle=f"""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS micros_between
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts > v.ts
     AND epoch_us(c.ts) <= epoch_us(v.ts) + {_RANGE_US}
    """,
    tags=("join", "range"),
)
def join_range_view_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every (view, click) pair by the same user with the
    click inside (view.ts, view.ts + 1 h] — the one-to-MANY range join
    (the as-of join above is its one-to-one cousin).

    Spark has no range-join operator, and the naive inequality join plans
    as a per-user nested loop — quadratic on hot users, dead at 100 TB.
    The scale-safe composition: bin timestamps into interval-width
    buckets; an in-range click is always in the view's bin or the next
    one, so duplicating each VIEW row into (bin, bin+1) turns the range
    join into an EQUI-join on (user_id, bin) + an exact residual filter.
    Cost: 2× one side + a hash-partitioned join whose candidate volume is
    bounded by events per adjacent window — never all-pairs. A click's
    single bin meets a view's two distinct bins at most once, so no
    dedup pass is needed. Same bins both engines: integer `div` on
    epoch microseconds."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    views = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            us.alias("v_us"),
            F.expr(f"unix_micros(ts) div {_RANGE_US}").alias("b0"),
        )
        .select(
            "view_id",
            "user_id",
            "v_us",
            F.explode(F.array(F.col("b0"), F.col("b0") + 1)).alias("jb"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("c_us"),
        F.expr(f"unix_micros(ts) div {_RANGE_US}").alias("jb"),
    )
    return (
        views.join(clicks, ["user_id", "jb"])
        .filter(
            (F.col("c_us") > F.col("v_us"))
            & (F.col("c_us") <= F.col("v_us") + _RANGE_US)
        )
        .select(
            "view_id",
            "click_id",
            "user_id",
            (F.col("c_us") - F.col("v_us")).alias("micros_between"),
        )
    )


# Production skew cap: bounds the worst task at cap²/2 ≈ 5k pairs while
# leaving every ordinary basket intact (TPC-H baskets top out at 7 items;
# real retail baskets at ~dozens). Round-8 ADVICE: the previous cap of 5
# truncated NORMAL baskets, biasing support toward low part keys on
# non-pathological data — a skew cap should only bite pathological rows.
# Cap semantics (the deterministic lowest-part-keys keep-rule) are
# exercised in tests via the parameterized `cap` argument
# (tests/test_skew.py plants a 200-item mega-basket).
_BASKET_CAP = 100


@register(
    "join_market_basket_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    capped AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT l_orderkey, l_partkey,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_partkey) AS rnk
            FROM items
        ) WHERE rnk <= {_BASKET_CAP}
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS support
        FROM capped a JOIN capped b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, support
    FROM pairs
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("join", "basket", "cooccurrence", "bench"),
)
def join_market_basket_pairs(
    spark: SparkSession, sf_dir: str, cap: int = _BASKET_CAP
) -> DataFrame:
    """Market-basket pair mining: the 20 most-co-ordered part pairs
    (support = number of orders containing both). The oracle is the
    textbook self-join; the Spark plan is ARRAY-NATIVE instead — one
    groupBy(orderkey) shuffle collects each basket (collect_set dedups
    repeated parts within an order, matching the oracle's DISTINCT),
    a higher-order lambda expands the ordered within-basket pairs,
    then one hash aggregate on the pair key and a TakeOrdered top-20
    (deterministic tiebreak on the pair itself — no global sort). Two
    shuffles total; the self-join form would shuffle the fact table
    twice AND re-read it.

    Skew bound (round-6 VERDICT): the pair expansion is quadratic in
    basket size, so a pathological 100k-item basket would make ~5×10⁹
    pairs in ONE task. Each basket is therefore capped to its ``cap``
    lowest part keys BEFORE expansion — the same bounded-skew posture
    as dedup_jaccard_stop_shingle's posting cap, keeping the worst
    task's work ≤ cap²/2 regardless of the hottest basket. The
    production default (_BASKET_CAP=100, round-8 ADVICE) only bites
    pathological baskets — ordinary TPC-H baskets (≤7 items) pass
    through untouched, so support counts are unbiased on normal data;
    cap semantics (deterministic lowest-part-keys keep-rule, shared
    by the oracle) are exercised via the parameterized ``cap`` in
    tests/test_skew.py against a planted 200-item mega-basket. At
    100 TB the (part_a, part_b) key space is wide and uniform — no
    skew handling needed past this cap."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pinned keyed repartition before the basket groupBy (r13 session 2):
    # collect_set gets no map-side reduction, so the groupBy's exchange
    # carries ~raw bytes anyway, but its byte-small output let AQE
    # coalesce the O(k²) pair expansion onto 4 tasks (2.8 s cpu at
    # sf0.1). The pin shuffles the same two columns and is REUSED by the
    # groupBy (same key → zero extra exchange). A/B: best 1.11 vs 1.76 s.
    baskets = (
        li.repartition(
            stage_tasks(spark, [table_path(sf_dir, "lineitem")]), "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(
            F.slice(F.array_sort(F.collect_set("l_partkey")), 1, cap).alias("xs")
        )
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(xs, (x, i) ->"
                " transform(slice(xs, i + 2, size(xs)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "join_band_price_neighbors",
    oracle="""
    WITH p AS (
        SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS pc
        FROM part
    )
    SELECT a.p_partkey, a.pc AS price_cents,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           MIN(b.pc) AS band_min_cents,
           MAX(b.pc) AS band_max_cents
    FROM p a JOIN p b
      ON b.p_partkey <> a.p_partkey AND abs(b.pc - a.pc) <= 50
    GROUP BY a.p_partkey, a.pc
    ORDER BY n_matches DESC, a.p_partkey
    LIMIT 100
    """,
    tags=("join", "band", "range"),
)
def join_band_price_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded inequality self-join: for every part, the parts priced within
    ±50 cents — the |a−b| ≤ δ predicate class (record-linkage blocking,
    sensor-alignment, price-matching) that a naive plan executes as a
    CartesianProduct, and that even the bucketed pair-expansion form
    executes QUADRATICALLY in corpus size: the price DOMAIN is fixed, so
    parts-per-band grows linearly with the corpus and per-band pair
    volume grows with its square (measured 0.95 s → 47 s across
    sf0.1 → sf1 on the round-6 pair-expansion form — a 50×/decade trap).

    Spark-first rewrite, round 7: the output is per-part COUNT + EXTREMA
    over the band, none of which needs pairs. Quantize to integer cents
    (exact), build the per-cent HISTOGRAM (domain-bounded — ~120k rows
    for TPC-H prices at ANY corpus size), and compute
    sum/min/max-in-band with RANGE-frame windows over the histogram:
    n_matches = Σ counts in [pc−50, pc+50] − 1 (self), extrema from the
    strictly-below [−50,−1] / strictly-above [+1,+50] frames with the
    self-cent value a candidate iff other parts share it (c > 1). One
    broadcast-sized domain table joins back onto parts. The only serial
    window runs over the histogram, never the corpus; everything else is
    one aggregate + one equi-join — corpus-LINEAR (sf1 ≈ 1 s). All
    arithmetic is int64 (cents), so counts and extrema are engine-exact;
    round() on the double price is identical in both engines (values sit
    ~1e-10 from integers, never at .5 ties). No CartesianProduct in the
    plan — gated in test_plans.py."""
    from pyspark.sql import Window

    p = (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("pc"),
        )
    )
    hist = p.groupBy("pc").agg(F.count(F.lit(1)).alias("c"))
    w_all = Window.orderBy("pc").rangeBetween(-50, 50)
    w_lo = Window.orderBy("pc").rangeBetween(-50, -1)
    w_hi = Window.orderBy("pc").rangeBetween(1, 50)
    hh = hist.select(
        "pc",
        "c",
        F.sum("c").over(w_all).alias("in_range"),
        F.min("pc").over(w_lo).alias("lo_min"),
        F.max("pc").over(w_lo).alias("lo_max"),
        F.min("pc").over(w_hi).alias("hi_min"),
        F.max("pc").over(w_hi).alias("hi_max"),
    )
    # neighbor extrema EXCLUDING self: pc itself is a candidate value iff
    # another part shares it (c > 1); lo_* < pc < hi_* always hold where
    # non-null, so coalesce picks the right bound
    has_twin = F.col("c") > 1
    bmin = F.when(has_twin, F.coalesce("lo_min", F.col("pc"))).otherwise(
        F.coalesce("lo_min", "hi_min")
    )
    bmax = F.when(has_twin, F.coalesce("hi_max", F.col("pc"))).otherwise(
        F.coalesce("hi_max", "lo_max")
    )
    stats = hh.select(
        "pc",
        (F.col("in_range") - 1).alias("n_matches"),
        bmin.alias("band_min_cents"),
        bmax.alias("band_max_cents"),
    ).filter(F.col("n_matches") >= 1)
    return (
        p.join(stats, "pc")
        .select(
            "p_partkey",
            F.col("pc").alias("price_cents"),
            "n_matches",
            "band_min_cents",
            "band_max_cents",
        )
        .orderBy(F.col("n_matches").desc(), "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (one row per FK edge of the schema)
# ---------------------------------------------------------------------------
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _ri_oracle() -> str:
    branches = []
    for name, child, fk, parent, pk in _FK_EDGES:
        branches.append(f"""
    SELECT '{name}' AS fk_edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
            WHERE {fk} IS NULL) AS n_null_fk,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
            WHERE {fk} IS NOT NULL
              AND {fk} NOT IN (SELECT {pk} FROM {parent})) AS n_orphans,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent}) AS n_parent_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent}
            WHERE {pk} NOT IN (SELECT {fk} FROM {child}
                               WHERE {fk} IS NOT NULL))
               AS n_childless_parents
        """)
    return " UNION ALL ".join(f"({b})" for b in branches)


@register(
    "profile_referential_integrity",
    oracle=_ri_oracle(),
    tags=("joins", "profiling", "integrity"),
)
def profile_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the schema —
    the cross-table half of the data-quality report (profile_table_stats
    is the single-table half): per edge, child row count, NULL FKs,
    ORPHANED child rows (FK with no parent — broken ingest), parent row
    count, and childless parents (natural on TPC-H: customers without
    orders — nonzero values that keep the audit hash-gated rather than
    an all-zeros tautology).

    Plan shape per edge: orphans are a LEFT ANTI join child→parent,
    childless parents a LEFT ANTI parent→child — Catalyst broadcasts
    the smaller side (dimension parents) so the fact table never
    shuffles for the small edges, and AQE picks shuffle-hash for
    fact-to-fact (lineitem→orders). Counts are 1-row aggregates unioned
    into the report; at 100 TB each edge costs at most one shuffle of
    pre-projected key columns."""
    rows = []
    for name, child, fk, parent, pk in _FK_EDGES:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent)
        child_stats = c.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.sum(F.col(fk).isNull().cast("bigint")).alias("n_null_fk"),
        )
        orphans = (
            c.filter(F.col(fk).isNotNull())
            .join(p, c[fk] == p[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        parent_stats = p.agg(F.count(F.lit(1)).alias("n_parent_rows"))
        childless = (
            p.join(
                c.filter(F.col(fk).isNotNull()), p[pk] == c[fk], "left_anti"
            ).agg(F.count(F.lit(1)).alias("n_childless_parents"))
        )
        rows.append(
            child_stats.crossJoin(orphans)
            .crossJoin(parent_stats)
            .crossJoin(childless)
            .select(
                F.lit(name).alias("fk_edge"),
                "n_child_rows",
                "n_null_fk",
                "n_orphans",
                "n_parent_rows",
                "n_childless_parents",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "join_point_in_time_scd2",
    oracle="""
    WITH obs AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev_prio
        FROM orders
    ),
    dim AS (
        SELECT o_custkey AS custkey, o_orderdate AS eff_from,
               o_orderkey AS vkey, o_orderpriority AS attr_value
        FROM obs WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
    ),
    fact AS (
        SELECT l_orderkey, o_custkey, o_orderdate, o_orderkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_linenumber = 1
    )
    SELECT f.l_orderkey, f.o_custkey AS custkey, f.o_orderdate AS asof_date,
           (SELECT d.attr_value FROM dim d
            WHERE d.custkey = f.o_custkey
              AND (d.eff_from < f.o_orderdate
                   OR (d.eff_from = f.o_orderdate AND d.vkey <= f.o_orderkey))
            ORDER BY d.eff_from DESC, d.vkey DESC LIMIT 1) AS attr_at_time
    FROM fact f
    """,
    tags=("joins", "scd2", "point-in-time"),
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the CONSUMPTION half of SCD-2
    versioning: enrich each fact row (first lineitem of every order)
    with the dimension attribute that was CURRENT at the fact's date,
    i.e. the version whose validity interval covers it. This is how a
    feature-store / warehouse reads a versioned dimension without
    leaking future attribute values into training data.

    Scalable form: NOT the interval join (fact × versions range
    predicate — quadratic on hot keys). Dimension change-points and fact
    rows UNION into one stream per custkey; a single window ordered by
    (date, version-key-priority) carries the last seen attribute forward
    onto each fact row — the as-of join shape (join_asof_click_view)
    applied to SCD-2. One shuffle on the dimension key, linear work;
    same-date fact-vs-change ordering is pinned by the orderkey tiebreak
    (a change observed AT the fact's own order sorts before it, matching
    the SCD-2 build's change-detection order).

    The oracle replays it as the correlated last-version-before lookup —
    the declarative spec of the same semantics."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    obs = o.select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
    ).withColumn("prev", F.lag("o_orderpriority").over(w))
    dim = obs.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
        F.lit(0).alias("is_fact"),
        F.lit(None).cast("bigint").alias("l_orderkey"),
    )
    fact = (
        li.filter(F.col("l_linenumber") == 1)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("d"),
            F.col("o_orderkey").alias("k"),
            F.lit(None).cast("string").alias("attr"),
            F.lit(1).alias("is_fact"),
            "l_orderkey",
        )
    )
    # change rows sort before the fact at the same (date, orderkey):
    # the change a fact's own order introduces applies to that fact
    united = dim.unionByName(fact)
    wu = Window.partitionBy("custkey").orderBy("d", "k", "is_fact")
    carried = united.withColumn(
        "attr_at_time", F.last("attr", ignorenulls=True).over(wu)
    )
    return carried.filter(F.col("is_fact") == 1).select(
        "l_orderkey",
        "custkey",
        F.col("d").alias("asof_date"),
        "attr_at_time",
    )


@register(
    "join_association_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
           FROM items),
    isup AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
        FROM items GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (
        SELECT part_a, part_b, support
        FROM pairs ORDER BY support DESC, part_a, part_b LIMIT 20
    )
    SELECT part_a, part_b, support,
           CAST(support AS DOUBLE) / CAST(sa.s AS DOUBLE) AS conf_a_to_b,
           CAST(support AS DOUBLE) / CAST(sb.s AS DOUBLE) AS conf_b_to_a,
           CAST(support * nb.n AS DOUBLE)
               / CAST(sa.s * sb.s AS DOUBLE) AS lift
    FROM top
    JOIN isup sa ON sa.l_partkey = part_a
    JOIN isup sb ON sb.l_partkey = part_b, nb
    """,
    tags=("join", "basket", "association-rules"),
)
def join_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule readout over the top-20 co-ordered pairs:
    confidence both directions (P(b|a), P(a|b)) and lift
    (P(ab)/(P(a)·P(b)) — >1 means genuinely associated, not just both
    popular) — the metrics a recommender/affinity pipeline reports on
    top of raw co-occurrence counts (join_market_basket_pairs).

    Plan shape: the pair pipeline is the array-native basket form (one
    basket shuffle + one pair aggregate + TakeOrdered 20); item supports
    are a second fact aggregate whose 20-pair consumers join it
    BROADCAST-side after the top-k cut, so the metric joins touch 20
    rows, not the pair space; the basket count is a 1-row broadcast.
    Exactness: supports are int64, every metric is one IEEE division of
    exact integer products (support·N ≤ 2^63 at any realistic scale)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # the distinct item set feeds three branches (basket count, item
    # supports, baskets) — materialize it once (dedup_triangle_stats'
    # multi-branch convention) instead of re-scanning lineitem per branch
    items = li.distinct().localCheckpoint()
    nb = F.broadcast(
        items.agg(F.count_distinct("l_orderkey").alias("n"))
    )
    isup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    # same pinned basket stage as join_market_basket_pairs
    baskets = (
        items.repartition(
            stage_tasks(spark, [table_path(sf_dir, "lineitem")]), "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("xs"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(xs, (x, i) ->"
                " transform(slice(xs, i + 2, size(xs)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    top = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(20)
    )
    sa = isup.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = isup.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    return (
        top.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(nb)
        .select(
            "part_a",
            "part_b",
            "support",
            (F.col("support").cast("double") / F.col("sa").cast("double")).alias(
                "conf_a_to_b"
            ),
            (F.col("support").cast("double") / F.col("sb").cast("double")).alias(
                "conf_b_to_a"
            ),
            (
                (F.col("support") * F.col("n")).cast("double")
                / (F.col("sa") * F.col("sb")).cast("double")
            ).alias("lift"),
        )
    )
