"""Similarity search over the `embeddings` table (array<float> column).

Array-native since round 5: vectors stay packed as ``array<double>``
end-to-end and every dot product / norm / distance is a per-row
higher-order fold from ``stateflow_spark.functions.similarity`` — no
posexplode in any hot path, so joins carry one row per vector instead of
dim× rows and cosines need zero shuffles. The only remaining explode
feeds the centroid aggregate (a (label, pos)-keyed partial/final agg whose
output is nlabels×dim rows — small by construction, then repacked into
per-label arrays and broadcast).

Exactness: the ``*_dec`` kernels accumulate through decimal so both
engines compute bit-identical doubles before the (IEEE-deterministic)
sqrt / divide — see functions/similarity.py for the precision-sizing
argument. Oracles are unchanged from the exploded form: decimal SUM is
order-independent, so the packed fold and DuckDB's GROUP BY agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stateflow_spark.catalog import load, stage_tasks, table_path
from stateflow_spark.functions.similarity import (
    dot_dec,
    norm2_dec,
    sqdist_dec,
)
from stateflow_spark.queries.common import register, stream_delta_classify
from stateflow_spark.storage import local_frame
from stateflow_spark.versioning import build_once, is_ready, publish, source_key

_EX_SQL = """
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
"""


def _corpus(
    spark: SparkSession,
    sf_dir: str,
    with_label: bool = False,
    fan_out: bool = False,
) -> DataFrame:
    """Packed corpus: (vec_id[, label], v: array<double>). The float→double
    cast is elementwise exact, matching the oracle's CAST(unnest(..) AS
    DOUBLE).

    fan_out=True hash-repartitions on vec_id (catalog.stage_tasks) before
    a fold-heavy projection: higher-order decimal folds run interpreted,
    and a small corpus arrives as one file → one partition → one core.
    At 100 TB stage_tasks matches the scan's own split count, so the
    exchange is one pass-through shuffle of packed rows."""
    e = load(spark, sf_dir, "embeddings")
    cols = ["vec_id", "label"] if with_label else ["vec_id"]
    df = e.select(*cols, F.col("embedding").cast("array<double>").alias("v"))
    if fan_out:
        df = df.repartition(
            stage_tasks(spark, [table_path(sf_dir, "embeddings")]), "vec_id"
        )
    return df


def _norms_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once NORM-MATERIALIZED corpus layout for `sf_dir`'s
    embeddings: (vec_id, label, v, n2) with the exact decimal squared
    norm computed once at write time — the scan-side sibling of the
    stored IVF index's `sn2` column (round-10 VERDICT #1). Before this,
    every pure-scan cosine query re-ran the interpreted 64-element
    decimal norm fold over the whole corpus per execution just to guard
    n2 > 0 (an inherent 1.3-1.4× on the guarded rows, measured by the
    r10 interleaved A/B); now the guard reads a plain parquet column.
    At 100 TB this is part of the same nightly layout job as the stored
    indexes — norms change only when vectors do."""
    import os
    import tempfile

    key = source_key(os.path.join(sf_dir, "embeddings.parquet"))

    def build(scratch: str) -> None:
        _corpus(spark, sf_dir, with_label=True, fan_out=True).select(
            "vec_id", "label", "v", norm2_dec("v").alias("n2")
        ).write.parquet(os.path.join(scratch, "corpus"))

    return build_once(
        os.path.join(tempfile.gettempdir(), f"stateflow_corpus_n2_{key}"),
        build,
    )


def norms_apply_append(delta: DataFrame, layout_dir: str) -> None:
    """Daily-growth leg of the norm-materialized layout: norms are a
    per-row pure function, so corpus growth is an APPEND of the delta's
    (vec_id, label, v, n2) rows — never a rebuild. The mtime-keyed
    rebuild in _norms_dir remains the fallback for in-place corpus
    rewrites (where old rows may have changed). Test pins that an
    old-layout + delta append is row-identical to a full rebuild."""
    import os

    delta.select(
        "vec_id", "label", "v", norm2_dec("v").alias("n2")
    ).write.mode("append").parquet(os.path.join(layout_dir, "corpus"))


def _corpus_n2(
    spark: SparkSession, sf_dir: str, with_label: bool = False
) -> DataFrame:
    """Packed corpus WITH its exact squared norm, read from the
    norm-materialized layout (_norms_dir) — n2 arrives as a stored
    parquet column, so the zero-norm guard's `.filter(n2 > 0)` can never
    re-inline the decimal fold (the r10 barrier existed solely to stop
    PushPredicateThroughProject substituting the fold into the filter;
    a scan column needs no barrier) and the fold itself runs once per
    corpus VERSION instead of once per query. The fan-out repartition
    stays: the downstream per-query dot folds are interpreted, and the
    small-file layout would otherwise pack into one partition."""
    import os

    corpus = os.path.join(_norms_dir(spark, sf_dir), "corpus")
    cols = ["vec_id"] + (["label"] if with_label else []) + ["v", "n2"]
    return (
        spark.read.parquet(corpus)
        .select(*cols)
        .repartition(stage_tasks(spark, [corpus]), "vec_id")
    )


def _pin_n2(df: DataFrame, *extra: str) -> DataFrame:
    """The barrier itself, for frames already pruned/joined: requires
    `vec_id` unique and a `v` column; carries `extra` columns through.
    Prefer pinning AFTER any pruning join (IVF probe, band match) so the
    fold runs only on surviving rows — a broadcast join preserves the
    child partitioning, so the groupBy still adds no exchange."""
    aggs = [F.first("v").alias("v"), F.first(norm2_dec("v")).alias("n2")]
    aggs += [F.first(c).alias(c) for c in extra]
    return df.groupBy("vec_id").agg(*aggs)


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row broadcast side: the query vector (vec_id 0) plus its exact
    squared norm, computed once."""
    return F.broadcast(
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .select(
            F.col("v").alias("qv"),
            norm2_dec("v").alias("qnorm2"),
        )
    )


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, packed as an array<double> per label.

    The explode is confined to this aggregate: (label, pos) partial/final
    agg over dim× rows, output nlabels×dim rows, repacked via
    array_sort(collect_list(struct(pos, c))) — pos is unique per label so
    the struct sort is total and the repack deterministic. At 100 TB the
    agg shuffles only partial sums and the centroid table stays
    broadcast-sized (nlabels × dim doubles).

    `label` rides the posexplode projection — the round-4 plans instead
    re-joined the exploded corpus (dim× rows) back to the labels
    projection to recover it, which at scale is a 64×-row shuffle join for
    a column the scan already had (VERDICT r4 "What's wrong" #1).
    """
    e = load(spark, sf_dir, "embeddings")
    return _centroids_from(
        e.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )


def _centroids_from(corpus: DataFrame) -> DataFrame:
    """_centroids over an arbitrary (vec_id, label, v) frame — shared with
    the incremental-index build, which computes centroids over the OLD
    corpus only (r10)."""
    ex = corpus.select(
        "label",
        F.posexplode("v").alias("pos0", "x"),
    ).select("label", (F.col("pos0") + 1).alias("pos"), "x")
    # mean via POWER-OF-TWO fixed point (trunc(x·2^40), int64-exact,
    # decimal(38,0) vs overflow at extreme counts): the old scale-12
    # decimal cast of raw x hit a REAL rounding tie at sf0.1 — float32
    # values are binary fractions, and one (-0.1539306640625 = -1261/2^13)
    # lands exactly on a scale-12 halfway point, where Spark (HALF_UP)
    # and DuckDB disagree. x·2^40 is exact for these floats, truncation
    # has no ties, and both divisions (by 2^40: exact exponent shift;
    # by count: IEEE on identical operands) are engine-identical.
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(
                (F.col("x") * F.lit(1099511627776.0))
                .cast("bigint")
                .cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1099511627776.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    dots AS (
        SELECT ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * qx.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot,
               CAST(CAST(SUM(CAST(ex.x * ex.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS norm2
        FROM ex JOIN qx USING (pos)
        GROUP BY ex.vec_id
    ),
    qn AS (SELECT CAST(CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS qnorm2
           FROM qx)
    SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
    FROM dots, qn
    -- norm2/qnorm2 > 0: zero-norm vectors are similar to nothing (r9
    -- convention, extended here by the r9 ADVICE audit)
    WHERE vec_id <> 0 AND norm2 > 0 AND qnorm2 > 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "knn", "bench"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against one query vector (vec_id 0) — the
    ANN baseline. One corpus scan; the query vector is a 1-row broadcast;
    dot and norm are per-row folds (no explode, no aggregation shuffle);
    the only exchange is the top-k sort's singlePartition gather of
    per-partition top-10s (TakeOrderedAndProject)."""
    q = _query_vec(spark, sf_dir)
    return (
        _corpus_n2(spark, sf_dir)
        .filter(F.col("vec_id") != 0)
        .crossJoin(q)
        # n2/qnorm2 > 0: cosine undefined for zero-norm vectors — similar
        # to nothing (round-9 convention; n2 sits behind _corpus_n2's
        # barrier so this filter can't re-inline the fold)
        .filter((F.col("n2") > 0) & (F.col("qnorm2") > 0))
        .select(
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qnorm2")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "sim_knn_join",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    q AS (SELECT vec_id AS qid, pos, x AS qv FROM ex WHERE vec_id < 20),
    norms AS (
        SELECT vec_id, CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT q.qid, ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * q.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot
        FROM ex JOIN q USING (pos)
        WHERE ex.vec_id <> q.qid
        GROUP BY q.qid, ex.vec_id
    ),
    scored AS (
        SELECT dots.qid AS qid, dots.vec_id AS vec_id,
               dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = dots.qid
        JOIN norms nb ON nb.vec_id = dots.vec_id
        -- n2 > 0: cosine undefined for zero vectors — a zero query has
        -- no neighbors, a zero corpus row is never one (round-9 audit)
        WHERE na.n2 > 0 AND nb.n2 > 0
    )
    SELECT qid, vec_id AS neighbor_id, cosine, rnk FROM (
        SELECT qid, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("similarity", "knn-join"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: top-3 cosine neighbors for each of 20 query vectors.

    The query block (20 packed vectors + norms) is a broadcast nested-loop
    side; each corpus row scores all 20 queries with per-pair folds. vs the
    round-4 exploded form this removes the pos-join (dim× row multiply),
    the (qid, vec_id) re-aggregation shuffle, and both norm joins — the
    plan is scan → BNLJ → window. The per-query top-k window shuffles one
    scored row per (corpus row × query), the unavoidable k-NN-join volume;
    the IVF path (sim_ivf_topk) is the shape that prunes it."""
    corpus = _corpus(spark, sf_dir)
    # n2/qn2 > 0 filters: cosine is undefined for zero-norm vectors — a
    # zero query gets no neighbors, a zero corpus row is never one
    # (round-9 edge audit: unguarded, one all-zero embedding raised
    # ANSI DIVIDE_BY_ZERO and killed the whole join)
    qblock = F.broadcast(
        corpus.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            norm2_dec("v").alias("qn2"),
        )
        .filter(F.col("qn2") > 0)
    )
    # own-norm once per corpus row (not once per pair: the BNLJ multiplies
    # rows ×20, and a fold inside the post-join projection would re-run
    # per pair — 20× redundant interpreted work), pinned behind the
    # _corpus_n2 barrier so the n2 > 0 guard can't re-inline the fold
    # into a Filter (r10: the inlined form paid the fold twice per row)
    probe = _corpus_n2(spark, sf_dir).filter(F.col("n2") > 0)
    scored = (
        probe.crossJoin(qblock)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
    )


@register(
    "sim_centroid_distance",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    labeled AS (
        SELECT e.vec_id, emb.label, e.pos, e.x
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
    ),
    cent AS (
        SELECT label, pos,
               CAST(CAST(SUM(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM labeled GROUP BY label, pos
    )
    SELECT l.vec_id, l.label,
           sqrt(CAST(SUM(CAST(trunc((l.x - c.c) * (l.x - c.c) * 1e12)
                AS BIGINT)) AS DOUBLE) / 1e12) AS dist_to_centroid
    FROM labeled l
    JOIN cent c ON c.label = l.label AND c.pos = l.pos
    GROUP BY l.vec_id, l.label
    """,
    tags=("similarity", "ivf", "centroid"),
)
def sim_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + each vector's L2 distance to its own centroid —
    the assignment step of IVF partitioning (and a k-means iteration).

    Distances are per-row folds against a broadcast packed-centroid table:
    corpus scan → broadcast hash join on label → zip_with (x-c)² fold. No
    exploded-corpus joins, no per-vector re-aggregation — the round-4 form
    shuffled dim× rows through a label-recovery join and a (vec_id, label)
    groupBy; this one's only shuffle is inside the tiny centroid agg.

    Exactness: the squared terms go through the TRUNCATING fixed-point
    kernel (trunc((x−c)²·10¹²) as int64), not the rounding decimal cast —
    (x−c)² is a derived product, the tie-hazard class common.py
    documents, and at sf0.1 one term DID land on a scale-12 halfway
    point (Spark HALF_UP vs DuckDB half-even → a 5e-13 DIFF on one row).
    Truncation has no ties; 64 terms ≤ 4·10¹² each stay exact in int64
    and the final sum is < 2⁵³ so the double emission is exact."""
    cent = F.broadcast(_centroids(spark, sf_dir))
    return (
        _corpus(spark, sf_dir, with_label=True, fan_out=True)
        .join(cent, "label")
        .select(
            "vec_id",
            "label",
            F.sqrt(_sqdist_fx("v", "cv")).alias("dist_to_centroid"),
        )
    )


@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    labeled AS (
        SELECT e.vec_id, emb.label, e.pos, e.x
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
    ),
    cent AS (
        SELECT label, pos,
               CAST(CAST(SUM(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM labeled GROUP BY label, pos
    ),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    probe AS (
        SELECT label,
               CAST(CAST(SUM(CAST(c * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS cdot
        FROM cent JOIN qx USING (pos)
        GROUP BY label
        ORDER BY cdot DESC, label
        LIMIT 3
    ),
    dots AS (
        SELECT l.vec_id,
               CAST(CAST(SUM(CAST(l.x * qx.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot,
               CAST(CAST(SUM(CAST(l.x * l.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS norm2
        FROM labeled l
        JOIN probe USING (label)
        JOIN qx USING (pos)
        WHERE l.vec_id <> 0
        GROUP BY l.vec_id
    ),
    qn AS (SELECT CAST(CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS qnorm2
           FROM qx)
    SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
    FROM dots, qn
    -- norm2/qnorm2 > 0: zero-norm vectors are similar to nothing (r9/r10)
    WHERE norm2 > 0 AND qnorm2 > 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "ivf", "ann", "bench"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: use the `label` clusters as the inverted file, probe
    only the 3 clusters whose centroids are closest to the query, then
    exact cosine inside the probed clusters. At 100 TB: centroids are a
    broadcast table, the 3 probed labels are a broadcast semi-join key (a
    partition-pruning predicate when the corpus is label-partitioned), and
    the exact pass scans ~nprobe/nlist of the corpus with per-row folds —
    no exploded-corpus joins anywhere in the plan."""
    cent = _centroids(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    # rank clusters by centroid·query (cosine order for normalized data)
    probed_labels = (
        cent.crossJoin(q)
        .select("label", dot_dec("cv", "qv").alias("cdot"))
        .orderBy(F.col("cdot").desc(), F.col("label"))
        .limit(3)
        .select("label")
    )
    probed = (
        _corpus_n2(spark, sf_dir, with_label=True)
        .join(F.broadcast(probed_labels), "label")
        .filter(F.col("vec_id") != 0)
    )
    return (
        # n2 is a stored column of the norm-materialized layout (r11):
        # no per-query fold at all, and a scan column can't re-inline
        probed
        .crossJoin(q)
        # n2/qnorm2 > 0: zero-norm vectors are similar to nothing (r9/r10)
        .filter((F.col("n2") > 0) & (F.col("qnorm2") > 0))
        .select(
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qnorm2")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# --- Random-hyperplane LSH (sign-LSH / SRP) ---------------------------------
# Plane coefficients are hash-derived Rademacher (±1) values from pure
# integer arithmetic both engines share: r(p, d) = +1 iff
# ((p·131 + d) · 2654435761) mod 2³² has its top bit set — no RNG, no
# stored plane table, bit-identical in Spark and DuckDB. Projections are
# decimal-exact folds, so the SIGN of every projection (hence every
# signature bit) is engine-independent: the banding decision itself is
# hash-gated, like dedup's minhash-LSH oracle.
_SRP_BANDS = 3
_SRP_BAND_BITS = 4  # 3 bands × 4 planes = 12 planes, 16 buckets per band
def _srp_plane(p: int) -> F.Column:
    """Plane p as a ±1.0 array matching the vector's length.

    The per-row transform re-derives the (constant) coefficients per
    element; a measured alternative — a 256-long literal array sliced to
    size(v) — was 3-4× SLOWER because CreateArray(256 literals) does not
    constant-fold through a non-literal slice and re-materializes per row
    per plane. The dominant cost either way is the decimal-exact fold,
    which is the price of oracle-pinned signature bits; at production
    scale signatures are computed once and STORED (the bucketed-layout
    posture in the docstring below), not recomputed per query."""
    return F.expr(
        f"""transform(sequence(0, size(v) - 1),
            d -> IF(pmod(({p} * 131 + d) * 2654435761, 4294967296)
                        >= 2147483648,
                    CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)))"""
    )


def _srp_band_sig(band: int) -> F.Column:
    """4-bit band signature of column `v`: bit j = sign of the decimal-
    exact projection onto plane (band·4 + j)."""
    sig = F.lit(0)
    for j in range(_SRP_BAND_BITS):
        p = band * _SRP_BAND_BITS + j
        bit = F.when(dot_dec("v", _srp_plane(p)) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        sig = sig + bit
    return sig


@register(
    "sim_hyperplane_lsh",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    planes AS (
        SELECT p, pos,
               CASE WHEN ((p * 131 + (pos - 1)) * 2654435761) % 4294967296
                         >= 2147483648
                    THEN 1.0 ELSE -1.0 END AS r
        FROM (SELECT unnest(range(0, {_SRP_BANDS * _SRP_BAND_BITS})) AS p)
        CROSS JOIN (SELECT DISTINCT pos FROM ex) xp
    ),
    proj AS (
        SELECT ex.vec_id, pl.p,
               CAST(CAST(SUM(CAST(ex.x * pl.r AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS s
        FROM ex JOIN planes pl USING (pos)
        GROUP BY ex.vec_id, pl.p
    ),
    sigs AS (
        SELECT vec_id, p // {_SRP_BAND_BITS} AS band,
               CAST(SUM(CASE WHEN s > 0
                        THEN 1 << (p % {_SRP_BAND_BITS}) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM proj GROUP BY vec_id, p // {_SRP_BAND_BITS}
    ),
    qsig AS (SELECT band, sig FROM sigs WHERE vec_id = 0),
    cand AS (
        SELECT DISTINCT s.vec_id
        FROM sigs s JOIN qsig q ON s.band = q.band AND s.sig = q.sig
        WHERE s.vec_id <> 0
    ),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    dots AS (
        SELECT ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * qx.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot,
               CAST(CAST(SUM(CAST(ex.x * ex.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS norm2
        FROM ex JOIN cand USING (vec_id) JOIN qx USING (pos)
        GROUP BY ex.vec_id
    ),
    qn AS (SELECT CAST(CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                    AS qnorm2 FROM qx)
    SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
    FROM dots, qn
    -- norm2/qnorm2 > 0: zero-norm vectors are similar to nothing (r9/r10)
    WHERE norm2 > 0 AND qnorm2 > 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "lsh", "ann", "bench"),
)
def sim_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via banded random-hyperplane LSH: a corpus vector is a candidate
    iff it lands in the query's bucket in ANY of the 3 bands (4 sign bits
    per band — OR-amplified sign-LSH); exact cosine top-10 over candidates.

    Scale shape: the query's 3 band signatures are THREE SCALARS on a
    1-row broadcast, so candidate selection is a pure per-row PREDICATE —
    sig_b(v) == qsig_b for any b — not a join: the plan is scan → 1-row
    BNLJ → filter → fold → TakeOrdered, with zero shuffles before the
    top-k gather. On a corpus partitioned/bucketed by band signature the
    same predicate becomes partition pruning (read nbands buckets, skip
    the rest) — the IVF alternative when no cluster labels exist.
    Signature arithmetic is engine-exact (see _srp_plane), so the oracle
    pins recall: a banding bug flips the hash gate, not just the score."""
    corpus = _corpus_n2(spark, sf_dir)
    qside = F.broadcast(
        corpus.filter(F.col("vec_id") == 0).select(
            F.col("v").alias("qv"),
            F.col("n2").alias("qnorm2"),
            *[
                _srp_band_sig(b).alias(f"qs{b}")
                for b in range(_SRP_BANDS)
            ],
        )
    )
    sigged = corpus.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "v",
        "n2",
        *[_srp_band_sig(b).alias(f"s{b}") for b in range(_SRP_BANDS)],
    )
    match_any = None
    for b in range(_SRP_BANDS):
        m = F.col(f"s{b}") == F.col(f"qs{b}")
        match_any = m if match_any is None else (match_any | m)
    matched = sigged.crossJoin(qside).filter(match_any)
    return (
        # n2/qnorm2 are stored columns of the norm-materialized layout
        # (r11): the signature folds are the query's own work, the norm
        # fold is the corpus version's
        matched
        # zero-norm vectors can share the all-zero-sign bucket with the
        # query, but cosine is undefined for them: similar to nothing
        .filter((F.col("n2") > 0) & (F.col("qnorm2") > 0))
        .select(
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qnorm2")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# --- int8 quantized scan + exact rerank -------------------------------------
_QROUND = 127  # symmetric int8 range


@register(
    "sim_quantized_topk",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    scales AS (
        SELECT vec_id, greatest(MAX(abs(x)), 1e-30) / {_QROUND} AS sc
        FROM ex GROUP BY vec_id
    ),
    q AS (
        SELECT ex.vec_id, ex.pos,
               CAST(round(ex.x / s.sc) AS BIGINT) AS qx
        FROM ex JOIN scales s USING (vec_id)
    ),
    qq AS (SELECT pos, qx AS qqx FROM q WHERE vec_id = 0),
    qsc AS (SELECT sc AS qs FROM scales WHERE vec_id = 0),
    approx AS (
        SELECT q.vec_id,
               SUM(q.qx * qq.qqx) * s.sc * qsc.qs AS ascore
        FROM q JOIN qq USING (pos)
        JOIN scales s ON s.vec_id = q.vec_id, qsc
        WHERE q.vec_id <> 0
        GROUP BY q.vec_id, s.sc, qsc.qs
    ),
    cand AS (
        SELECT vec_id FROM approx ORDER BY ascore DESC, vec_id LIMIT 50
    ),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    dots AS (
        SELECT ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * qx.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot,
               CAST(CAST(SUM(CAST(ex.x * ex.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS norm2
        FROM ex JOIN cand USING (vec_id) JOIN qx USING (pos)
        GROUP BY ex.vec_id
    ),
    qn AS (SELECT CAST(CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                    AS qnorm2 FROM qx)
    SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
    FROM dots, qn
    -- norm2/qnorm2 > 0: zero-norm vectors are similar to nothing (r9/r10)
    WHERE norm2 > 0 AND qnorm2 > 0
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "quantization", "ann"),
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-scan ANN: per-vector symmetric int8 quantization
    (scale = max|v|/127), integer-dot candidate scoring, exact
    decimal-cosine rerank of the top-50.

    The 100 TB rationale is BANDWIDTH: a float32→int8 corpus is 4× less
    data per scan, and the candidate pass is a pure int64 fold (exact —
    no decimal needed, no summation-order concern), so the expensive
    decimal cosine runs on 50 rows instead of the corpus. Quantization
    arithmetic is engine-exact by construction: the scale is one IEEE
    division of identical operands, round() is half-away-from-zero in
    both engines, and the rounded values are integral doubles so the
    int cast agrees despite the engines' different double→int rules.
    Candidate-set ties at the top-50 boundary break on vec_id, so the
    rerank input — hence the oracle — is fully pinned."""
    c = (
        _corpus(spark, sf_dir, fan_out=True)
        .filter(F.col("vec_id") != 0)
        .withColumn(
            "sc",
            F.greatest(
                F.array_max(F.transform("v", lambda x: F.abs(x))),
                F.lit(1e-30),
            )
            / _QROUND,
        )
        .withColumn(
            "qv8",
            F.transform("v", lambda x: F.round(x / F.col("sc")).cast("bigint")),
        )
    )
    qside = F.broadcast(
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") == 0)
        .withColumn(
            "qs",
            F.greatest(
                F.array_max(F.transform("v", lambda x: F.abs(x))),
                F.lit(1e-30),
            )
            / _QROUND,
        )
        .select(
            F.col("v").alias("qvec"),
            "qs",
            F.transform("v", lambda x: F.round(x / F.col("qs")).cast("bigint")).alias(
                "qq8"
            ),
            norm2_dec("v").alias("qnorm2"),
        )
    )
    idot = F.aggregate(
        F.zip_with("qv8", "qq8", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cand = (
        c.crossJoin(qside)
        .select(
            "vec_id",
            "v",
            "qnorm2",
            "qvec",
            (idot * F.col("sc") * F.col("qs")).alias("ascore"),
        )
        .orderBy(F.col("ascore").desc(), F.col("vec_id"))
        .limit(50)
    )
    return (
        cand.withColumn("n2", norm2_dec("v"))
        # zero-norm candidates survive the integer-dot stage (ascore 0)
        # but cosine is undefined for them: similar to nothing (r9/r10)
        .filter((F.col("n2") > 0) & (F.col("qnorm2") > 0))
        .select(
            "vec_id",
            (
                dot_dec("v", "qvec")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qnorm2")))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


_KNN_NPROBE = 3  # clusters probed per query in the pruned k-NN join


@register(
    "sim_ivf_knn_join",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    labeled AS (
        SELECT e.vec_id, emb.label, e.pos, e.x
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
    ),
    cent AS (
        SELECT label, pos,
               CAST(CAST(SUM(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM labeled GROUP BY label, pos
    ),
    q AS (SELECT vec_id AS qid, pos, x AS qv FROM ex WHERE vec_id < 20),
    probe AS (
        SELECT qid, label FROM (
            SELECT q.qid, cent.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY CAST(CAST(SUM(CAST(cent.c * q.qv
                                    AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) DESC,
                                cent.label) AS rnk
            FROM cent JOIN q USING (pos)
            GROUP BY q.qid, cent.label
        ) WHERE rnk <= {_KNN_NPROBE}
    ),
    norms AS (
        SELECT vec_id, CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT p.qid, l.vec_id,
               CAST(CAST(SUM(CAST(l.x * q.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot
        FROM labeled l
        JOIN probe p ON p.label = l.label
        JOIN q ON q.qid = p.qid AND q.pos = l.pos
        WHERE l.vec_id <> p.qid
        GROUP BY p.qid, l.vec_id
    ),
    scored AS (
        SELECT dots.qid, dots.vec_id,
               dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = dots.qid
        JOIN norms nb ON nb.vec_id = dots.vec_id
        -- n2 > 0: zero-norm vectors are similar to nothing (round-9)
        WHERE na.n2 > 0 AND nb.n2 > 0
    )
    SELECT qid, vec_id AS neighbor_id, cosine, rnk FROM (
        SELECT qid, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("similarity", "ivf", "knn-join", "ann"),
)
def sim_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned k-NN JOIN: top-3 (approximate) neighbors for each of 20
    query vectors, scoring only the {_KNN_NPROBE} clusters whose
    centroids rank highest per query — the scale form of sim_knn_join,
    whose exact version scores corpus × 20 rows. Here scoring volume is
    corpus × (nprobe/nlist) × 20: the probe table (qid, label — 60 rows)
    broadcasts against the label-carrying corpus, so each corpus row
    multiplies only by the queries that probed ITS cluster. Recall is the
    IVF trade (neighbors outside probed clusters are missed) and the
    oracle replays the identical probe ranking, so the approximation
    itself is hash-gated."""
    cent = _centroids(spark, sf_dir)
    corpus = _corpus(spark, sf_dir)
    # qn2/n2 > 0: zero-norm vectors are similar to nothing (the round-9
    # convention — see sim_knn_join); unguarded, one all-zero embedding
    # raised ANSI DIVIDE_BY_ZERO in the cosine projection
    qblock = F.broadcast(
        corpus.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            norm2_dec("v").alias("qn2"),
        )
        .filter(F.col("qn2") > 0)
    )
    wprobe = Window.partitionBy("qid").orderBy(
        F.col("cdot").desc(), F.col("label")
    )
    probe = (
        cent.crossJoin(qblock)
        .select("qid", "label", dot_dec("cv", "qv").alias("cdot"))
        .withColumn("rnk", F.row_number().over(wprobe))
        .filter(F.col("rnk") <= _KNN_NPROBE)
        .select("qid", "label")
    )
    # n2 behind the barrier: the r9 select+filter form paid the fold
    # twice per corpus row (Filter inline + projection re-eval, r10)
    labeled = _corpus_n2(spark, sf_dir, with_label=True).filter(
        F.col("n2") > 0
    )
    scored = (
        labeled.join(F.broadcast(probe), "label")
        .join(F.broadcast(qblock.select("qid", "qv", "qn2")), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
    )


# --- iterative k-means (fixed Lloyd iterations, exact oracle) ---------------
_KM_K = 4  # seeds: vec_id 1..4
_KM_ITERS = 3


def _km_oracle() -> str:
    """Generate the 3-iteration oracle: each Lloyd step is one CTE layer
    (decimal-exact distances, ROW_NUMBER tie-break on centroid id), so the
    ITERATION ITSELF is replayed — not just the final shape."""
    seeds = ", ".join(str(i) for i in range(1, _KM_K + 1))
    sql = f"""
    WITH ex AS ({_EX_SQL}),
    cent0 AS (
        SELECT vec_id AS cid, pos, x AS c FROM ex WHERE vec_id IN ({seeds})
    )"""
    prev = "cent0"
    for it in range(1, _KM_ITERS + 1):
        sql += f""",
    dist{it} AS (
        SELECT ex.vec_id, {prev}.cid,
               CAST(SUM(CAST(trunc((ex.x - {prev}.c) * (ex.x - {prev}.c)
                    * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS d
        FROM ex JOIN {prev} USING (pos)
        GROUP BY ex.vec_id, {prev}.cid
    ),
    asg{it} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rnk
            FROM dist{it}
        ) WHERE rnk = 1
    ),
    cent{it} AS (
        SELECT a.cid, e.pos,
               CAST(CAST(SUM(CAST(trunc(e.x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM ex e JOIN asg{it} a USING (vec_id)
        GROUP BY a.cid, e.pos
    )"""
        prev = f"cent{it}"
    # final result: per final cluster, member count + the decimal-exact
    # squared norm of the final centroid (a scalar fingerprint of the
    # full centroid vector)
    sql += f"""
    SELECT a.cid, COUNT(*) AS n_members, n2.cnorm2
    FROM asg{_KM_ITERS} a
    JOIN (
        SELECT cid, CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 AS cnorm2
        FROM cent{_KM_ITERS} GROUP BY cid
    ) n2 USING (cid)
    GROUP BY a.cid, n2.cnorm2
    """
    return sql


@register(
    "sim_kmeans_iterations",
    oracle=_km_oracle(),
    tags=("similarity", "kmeans", "iterative"),
)
def sim_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means: 3 fixed Lloyd iterations from deterministic
    seeds (vectors 1..4), every step decimal-exact so the DuckDB oracle
    replays the ITERATIONS themselves — assignment ties break on centroid
    id identically in both engines, hence identical trajectories.

    Scale shape per iteration: centroids are a k-row broadcast; distances
    are per-row zip_with folds against each broadcast centroid (k columns
    of work, no explode, no pair shuffle); the argmin is a least(...)
    comparison chain evaluated in the row (no window, no per-vector
    aggregation); the centroid update is the same (cid, pos) partial/
    final aggregate as _centroids. The whole 3-iteration plan is one
    Catalyst tree — no driver loop state, no actions between steps; a
    convergence-driven variant would localCheckpoint between rounds like
    dedup_connected_components."""
    corpus = _corpus(spark, sf_dir, fan_out=True)
    seeds = F.broadcast(
        corpus.filter(F.col("vec_id").between(1, _KM_K)).select(
            F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
        )
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        # pivot the k centroids into one broadcast row of k arrays, then
        # compute k distances per corpus row and take the argmin inline
        one = F.broadcast(
            cent_df.groupBy().agg(
                *[
                    F.max(F.when(F.col("cid") == c, F.col("cv"))).alias(
                        f"c{c}"
                    )
                    for c in range(1, _KM_K + 1)
                ]
            )
        )
        d = corpus.crossJoin(one)
        # truncating fixed-point distances (shared _sqdist_fx): a
        # scale-12 rounding tie in the decimal cast would flip an argmin
        # and corrupt every later iteration
        dist_cols = [
            _sqdist_fx("v", f"c{c}").alias(f"d{c}")
            for c in range(1, _KM_K + 1)
        ]
        d = d.select("vec_id", "v", *dist_cols)
        # argmin with tie-break on centroid id: fold over (distance, cid)
        best = F.expr(
            "aggregate("
            + "array("
            + ", ".join(
                f"struct(d{c} AS d, {c} AS cid)" for c in range(1, _KM_K + 1)
            )
            + "), cast(null as struct<d:double,cid:int>),"
            + " (acc, x) -> IF(acc IS NULL OR x.d < acc.d, x, acc))"
        )
        return d.select("vec_id", "v", best.getField("cid").alias("cid"))

    def update(asg_df: DataFrame) -> DataFrame:
        ex = asg_df.select(
            "cid", F.posexplode("v").alias("pos0", "x")
        ).select("cid", (F.col("pos0") + 1).alias("pos"), "x")
        # same tie-free fixed-point mean as _centroids (see note there)
        cent = ex.groupBy("cid", "pos").agg(
            (
                F.sum(
                    (F.col("x") * F.lit(1099511627776.0))
                    .cast("bigint")
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1099511627776.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("c")
        )
        return cent.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )

    cent = seeds
    asg = None
    for _ in range(_KM_ITERS):
        asg = assign(cent)
        cent = update(asg)
    n2 = cent.select("cid", norm2_dec("cv").alias("cnorm2"))
    return (
        asg.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(F.broadcast(n2), "cid")
        .select("cid", "n_members", "cnorm2")
    )


RANGE_COSINE_THRESHOLD = 0.30


@register(
    "sim_range_search",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    q AS (SELECT vec_id AS query_id, pos, x AS qx FROM ex
          WHERE vec_id % 101 = 0 AND vec_id < 1010),
    n AS (SELECT vec_id,
                 CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS n2
          FROM ex GROUP BY vec_id),
    dots AS (
        SELECT q.query_id, ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * q.qx AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS dot
        FROM ex JOIN q USING (pos)
        GROUP BY 1, 2
    )
    SELECT d.query_id, d.vec_id,
           d.dot / (sqrt(nc.n2) * sqrt(nq.n2)) AS cosine
    FROM dots d
    JOIN n nc ON nc.vec_id = d.vec_id
    JOIN n nq ON nq.vec_id = d.query_id
    WHERE d.vec_id <> d.query_id
      -- n2 > 0: zero-norm vectors are similar to nothing (r9/r10)
      AND nc.n2 > 0 AND nq.n2 > 0
      AND d.dot / (sqrt(nc.n2) * sqrt(nq.n2)) >= {RANGE_COSINE_THRESHOLD}
    """,
    tags=("similarity", "range", "bench"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search — every corpus vector within a similarity
    radius of each query (vec_id % 101 == 0), the complement of top-k:
    top-k bounds the RESULT size, range search bounds the QUALITY (all
    neighbors at >= τ, however many exist). The retrieval primitive for
    near-dup harvesting and radius-bounded clustering.

    Plan shape: the query block is a k-row broadcast (like sim_knn_join);
    cosines are per-row array folds against each broadcast query — zero
    shuffles, no explode; the θ filter runs before anything leaves the
    scan task, so output volume is the actual neighbor count, not
    corpus×queries. The query set is CAPPED (vec_id < 1010, ≤10 queries)
    so cost scales with the corpus, not corpus×corpus — a query workload
    does not grow with the table (uncapped, the sf0.1→sf1 decade measured
    14× because both sides grew). Exactness: decimal folds produce
    bit-identical doubles in both engines, so the >= τ comparison itself
    is deterministic — no boundary flicker. At 100 TB the broadcast bound
    is the query-block size; beyond that the same plan becomes a
    block-partitioned join (IVF probe first, as sim_ivf_knn_join does)."""
    q = F.broadcast(
        _corpus(spark, sf_dir)
        .filter((F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 1010))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            norm2_dec("v").alias("qn2"),
        )
        # qn2 > 0: a zero-norm query has no neighbors (r9/r10 convention)
        .filter(F.col("qn2") > 0)
    )
    # n2 behind the barrier (see _corpus_n2: the withColumn+filter form
    # re-inlined the fold into the Filter, r10)
    c = _corpus_n2(spark, sf_dir).filter(F.col("n2") > 0)
    cos = dot_dec("v", "qv") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))
    return (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= RANGE_COSINE_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Maximal Marginal Relevance — diversity-aware top-k selection
# --------------------------------------------------------------------------

_MMR_K = 3  # selections (each is one CTE layer in the generated oracle)
_MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to selected


def _mmr_oracle() -> str:
    """Generate the k-step oracle: each greedy MMR pick is one CTE layer
    (decimal-exact cosines, min-vec_id tie-break), so the SELECTION
    TRAJECTORY itself is replayed — the same pattern as _km_oracle."""
    lam, k = _MMR_LAMBDA, _MMR_K
    sql = f"""
    WITH ex AS ({_EX_SQL}),
    n AS (SELECT vec_id,
                 CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS n2
          FROM ex GROUP BY 1),
    rel AS (
        SELECT c.vec_id,
               CAST(CAST(SUM(CAST(c.x * q.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 / (sqrt(nc.n2) * sqrt(nq.n2)) AS rel
        FROM ex c
        JOIN ex q ON q.pos = c.pos AND q.vec_id = 0
        JOIN n nc ON nc.vec_id = c.vec_id
        JOIN n nq ON nq.vec_id = 0
        -- n2 > 0: zero-norm vectors are similar to nothing (r9/r10)
        WHERE c.vec_id <> 0 AND nc.n2 > 0 AND nq.n2 > 0
        GROUP BY c.vec_id, nc.n2, nq.n2
    ),
    s1 AS (SELECT vec_id, rel, rel AS mmr_score FROM rel
           ORDER BY rel DESC, vec_id LIMIT 1)"""
    prev_sel = ["s1"]
    for it in range(2, k + 1):
        # the redundancy term joins the selected vectors' exploded rows
        # directly (a correlated per-pos scalar subquery would re-scan)
        sql += f""",
    m{it} AS (
        SELECT r.vec_id, r.rel,
               {lam} * r.rel - {1 - lam:.1f} * MAX(
                   CAST(sub.dot AS DOUBLE) / (sqrt(nc.n2) * sqrt(sub.n2))
               ) AS mmr_score
        FROM rel r
        JOIN n nc ON nc.vec_id = r.vec_id
        JOIN (
            SELECT c.vec_id AS cand, s.vec_id AS sel, ns.n2,
                   CAST(CAST(SUM(CAST(c.x * s.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                     AS dot
            FROM ex c
            JOIN ex s ON s.pos = c.pos
            JOIN n ns ON ns.vec_id = s.vec_id
            WHERE s.vec_id IN (SELECT vec_id FROM ({
                " UNION ALL ".join(f"SELECT vec_id FROM {p}" for p in prev_sel)
            }))
            GROUP BY 1, 2, 3
        ) sub ON sub.cand = r.vec_id
        WHERE r.vec_id NOT IN (SELECT vec_id FROM ({
                " UNION ALL ".join(f"SELECT vec_id FROM {p}" for p in prev_sel)
            }))
        GROUP BY r.vec_id, r.rel, nc.n2
    ),
    s{it} AS (SELECT vec_id, rel, mmr_score FROM m{it}
              ORDER BY mmr_score DESC, vec_id LIMIT 1)"""
        prev_sel.append(f"s{it}")
    parts = " UNION ALL ".join(
        f"SELECT {i + 1} AS sel_rank, vec_id, rel AS relevance, mmr_score"
        f" FROM {s}" for i, s in enumerate(prev_sel)
    )
    return sql + f" {parts}"


@register(
    "sim_mmr_diverse_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "mmr", "iterative"),
)
def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    top-k selection that trades relevance to the query (vec 0) against
    redundancy with what is already selected — the retrieval-side
    complement of SemDeDup for assembling DIVERSE training/eval samples
    rather than merely similar ones. k=3 greedy picks, λ=0.7.

    Scale shape: relevance is the sim_cosine_topk plan (per-row broadcast
    fold, zero pre-shuffle); each greedy step is a 1-row TakeOrdered
    (never a corpus sort) whose winner — id AND vector — crossJoin-
    broadcasts back so the next step's redundancy term is again a per-row
    fold against ≤k−1 broadcast vectors. The whole k-step greedy chain is
    ONE Catalyst plan with no driver loop state and no collect; since
    each step re-embeds the previous winners' subplans (DataFrame reuse
    duplicates the subtree), the plan holds 2^k−1 TakeOrdered passes —
    7 cheap linear scans at k=3. That exponent is fine for the constant
    small k MMR uses in practice; a large-k variant would localCheckpoint
    each winner between steps exactly like the connected-components
    rounds, trading plan purity for linear pass count. The
    trajectory (argmax per step, min-id tie-break) is replayed layer by
    layer by the generated CTE oracle, like sim_kmeans_iterations."""
    # n2 behind the barrier (see _corpus_n2, r10): rel's guard filter
    # would otherwise re-inline the fold per corpus row
    c = _corpus_n2(spark, sf_dir)
    q = F.broadcast(
        c.filter(F.col("vec_id") == 0)
        .select(F.col("v").alias("qv"), F.col("n2").alias("qn2"))
        # qn2 > 0: a zero-norm query selects nothing (r9/r10 convention)
        .filter(F.col("qn2") > 0)
    )
    rel = (
        c.filter((F.col("vec_id") != 0) & (F.col("n2") > 0))
        .crossJoin(q)
        .select(
            "vec_id",
            "v",
            "n2",
            (dot_dec("v", "qv") / (F.sqrt("n2") * F.sqrt("qn2"))).alias("rel"),
        )
    )
    sel = [
        rel.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "v", "n2", "rel", F.col("rel").alias("mmr_score"))
    ]
    for _ in range(2, _MMR_K + 1):
        picked = [
            F.broadcast(
                s.select(
                    F.col("vec_id").alias(f"sel_id{i}"),
                    F.col("v").alias(f"sv{i}"),
                    F.col("n2").alias(f"sn2{i}"),
                )
            )
            for i, s in enumerate(sel)
        ]
        cand = rel
        for p in picked:
            cand = cand.crossJoin(p)
        not_picked = F.lit(True)
        for i in range(len(sel)):
            not_picked = not_picked & (F.col("vec_id") != F.col(f"sel_id{i}"))
        max_sim = F.greatest(
            *[
                dot_dec("v", f"sv{i}")
                / (F.sqrt("n2") * F.sqrt(F.col(f"sn2{i}")))
                for i in range(len(sel))
            ]
        ) if len(sel) > 1 else (
            dot_dec("v", "sv0") / (F.sqrt("n2") * F.sqrt(F.col("sn20")))
        )
        score = F.lit(_MMR_LAMBDA) * F.col("rel") - F.lit(
            round(1 - _MMR_LAMBDA, 10)
        ) * max_sim
        sel.append(
            cand.filter(not_picked)
            .select("vec_id", "v", "n2", "rel", score.alias("mmr_score"))
            .orderBy(F.col("mmr_score").desc(), "vec_id")
            .limit(1)
        )
    out = None
    for i, s in enumerate(sel):
        row = s.select(
            F.lit(i + 1).alias("sel_rank"),
            "vec_id",
            F.col("rel").alias("relevance"),
            "mmr_score",
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# Power iteration — top principal direction of the embedding corpus
# --------------------------------------------------------------------------

_PI_ITERS = 3
# fixed-point kernel: term = trunc(p·10¹²) as int64 — truncation toward
# zero is what Spark's double→long CAST does and what DuckDB's trunc()
# does, and integral doubles convert exactly, so unlike double→DECIMAL
# casts there is NO rounding step and therefore NO half-way tie to break
# differently (a real product in this corpus lands exactly on a scale-12
# half-way point, where Spark rounds HALF_UP and DuckDB half-even).
# Integer sums are exact and order-free; headroom: |p|·1e12 ≤ ~4e13 per
# term, × corpus rows ≪ 2^63 at every aggregate in this query.
_PI_SCALE = "1e12"


def _pi_oracle() -> str:
    """Generated per-iteration CTE oracle: each power step (scores d_i =
    x_i·v, update w = Σ d_i·x_i, renormalize) is one layer, so the
    ITERATION TRAJECTORY is replayed exactly — same pattern as _km_oracle
    and _mmr_oracle. Every fold is the fixed-point int64 kernel above."""
    S = _PI_SCALE
    sql = f"""
    WITH ex AS ({_EX_SQL}),
    n1 AS (SELECT CAST(SUM(CAST(trunc(x * x * {S}) AS BIGINT)) AS DOUBLE)
                / {S} AS nn
           FROM ex WHERE vec_id = 1),
    v0 AS (SELECT pos, x / sqrt(nn) AS v FROM ex, n1 WHERE vec_id = 1)"""
    prev = "v0"
    for it in range(1, _PI_ITERS + 1):
        sql += f""",
    d{it} AS (
        SELECT ex.vec_id,
               CAST(SUM(CAST(trunc(ex.x * {prev}.v * {S}) AS BIGINT))
                    AS DOUBLE) / {S} AS d
        FROM ex JOIN {prev} USING (pos)
        GROUP BY ex.vec_id
    ),
    w{it} AS (
        SELECT ex.pos,
               CAST(SUM(CAST(trunc(ex.x * d{it}.d * {S}) AS BIGINT))
                    AS DOUBLE) / {S} AS w
        FROM ex JOIN d{it} USING (vec_id)
        GROUP BY ex.pos
    ),
    wn{it} AS (SELECT CAST(SUM(CAST(trunc(w * w * {S}) AS BIGINT))
                           AS DOUBLE) / {S} AS nn
               FROM w{it}),
    v{it} AS (SELECT pos, w / sqrt(nn) AS v FROM w{it}, wn{it})"""
        prev = f"v{it}"
    return sql + f"""
    SELECT v{_PI_ITERS}.pos, v{_PI_ITERS}.v AS component,
           sqrt(wn{_PI_ITERS}.nn) AS eigval_estimate
    FROM v{_PI_ITERS}, wn{_PI_ITERS}
    """


def _fx(p):
    """Fixed-point term: trunc(p·1e12) as int64 (Spark's double→long cast
    truncates toward zero — DuckDB side uses trunc() explicitly)."""
    return (p * F.lit(1e12)).cast("bigint")


def _fx_fold(arr) -> F.Column:
    """Exact int64 fold of fixed-point terms -> double at scale 12."""
    return (
        F.aggregate(arr, F.lit(0).cast("bigint"), lambda a, x: a + x)
        .cast("double")
        / F.lit(1e12)
    )


def _sqdist_fx(a, b) -> F.Column:
    """Tie-free squared L2 distance: truncating fixed-point terms (the
    decimal-cast form diverges on scale-12 halfway points — see the
    centroid-mean note in _centroids). Shared by sim_centroid_distance
    and every k-means assignment step so the kernels cannot drift."""
    return _fx_fold(
        F.zip_with(F.col(a), F.col(b), lambda x, y: _fx((x - y) * (x - y)))
    )


@register(
    "sim_power_iteration",
    oracle=_pi_oracle(),
    tags=("similarity", "pca", "iterative"),
)
def sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration: 3 steps of v ← normalize(Xᵀ(Xv)) from
    a deterministic start (vector 1 normalized), emitting the dominant
    direction of the un-centered second-moment matrix XᵀX per coordinate
    plus the Rayleigh-style eigenvalue estimate ‖Xᵀ(Xv)‖ — the PCA
    front-end a curation pipeline runs before whitening or spectral
    blocking of embeddings, and with CC/PageRank/k-means/MMR the fifth
    canonical iterative algorithm expressed as ONE Catalyst plan (no
    driver loop state; a convergence-driven form would localCheckpoint
    rounds like dedup_connected_components).

    Scale shape per step: v is dim doubles — it broadcasts as one packed
    row; the score pass is a per-row fold (no explode, no shuffle); the
    update is the only exchange, a (pos)-keyed partial/final aggregate
    whose output is dim rows (the _centroids shape); the renorm is a
    1-row aggregate folded back by broadcast. Never does an O(N) row set
    cross the wire — each iteration ships exactly 2·dim + 1 numbers.
    Exactness: every fold uses the fixed-point int64 kernel (see
    _PI_SCALE) — truncation has no rounding ties, unlike the decimal
    casts the cosine family uses, which this corpus defeats with a
    product landing exactly on a scale-12 half-way point."""
    c = _corpus(spark, sf_dir, fan_out=True)
    n1 = (
        c.filter(F.col("vec_id") == 1)
        .select(
            F.col("v").alias("x0"),
            _fx_fold(
                F.transform("v", lambda e: _fx(e * e))
            ).alias("nn"),
        )
        .select(
            F.transform("x0", lambda e: e / F.sqrt(F.col("nn"))).alias("pv")
        )
    )
    pv = F.broadcast(n1)
    final = None
    for _ in range(_PI_ITERS):
        scored = c.crossJoin(pv).select(
            "vec_id",
            "v",
            _fx_fold(
                F.zip_with("v", "pv", lambda x, y: _fx(x * y))
            ).alias("d"),
        )
        w = (
            scored.select(F.posexplode("v").alias("pos0", "x"), "d")
            .select((F.col("pos0") + 1).alias("pos"), "x", "d")
            .groupBy("pos")
            .agg(
                (
                    F.sum(_fx(F.col("x") * F.col("d"))).cast("double")
                    / F.lit(1e12)
                ).alias("w")
            )
        )
        wn = w.agg(
            (
                F.sum(_fx(F.col("w") * F.col("w"))).cast("double")
                / F.lit(1e12)
            ).alias("nn")
        )
        wv = w.crossJoin(F.broadcast(wn)).select(
            "pos", (F.col("w") / F.sqrt("nn")).alias("vv"), "nn"
        )
        pv = F.broadcast(
            wv.groupBy().agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "vv"))),
                    lambda s: s["vv"],
                ).alias("pv"),
                F.max("nn").alias("nn"),
            )
        )
        final = pv
    return (
        final.select(
            F.posexplode("pv").alias("pos0", "component"), F.col("nn")
        )
        .select(
            (F.col("pos0") + 1).alias("pos"),
            "component",
            F.sqrt("nn").alias("eigval_estimate"),
        )
    )


# --------------------------------------------------------------------------
# Reciprocal Rank Fusion — hybrid lexical+vector retrieval
# --------------------------------------------------------------------------

_RRF_K = 60  # Cormack et al. 2009 damping constant
_RRF_LEG_N = 50  # candidates taken from each retrieval leg
_RRF_TOPN = 10


def _rrf_oracle() -> str:
    from stateflow_spark.queries.text import _BM25_TERMS, _BM25_K1, _BM25_B

    bm25_score = " + ".join(
        f"((n_docs - df_{w} + 0.5) / (df_{w} + 0.5))"
        f" * (CAST(tf_{w} AS DOUBLE) * ({_BM25_K1} + 1.0))"
        f" / (CAST(tf_{w} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}"
        f" + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))"
        for w in _BM25_TERMS
    )
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{w}')) AS tf_{w}" for w in _BM25_TERMS
    )
    stats_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df_{w}"
        for w in _BM25_TERMS
    )
    return f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    tf AS (SELECT doc_id, dl, {tf_cols} FROM d),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(CAST(SUM(CAST(dl AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               {stats_cols}
        FROM tf
    ),
    bm_leg AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM (SELECT doc_id, {bm25_score} AS score FROM tf, stats
              ORDER BY score DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    ex AS ({_EX_SQL}),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    dots AS (
        SELECT ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * qx.qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 AS dot,
               CAST(CAST(SUM(CAST(ex.x * ex.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                 AS norm2
        FROM ex JOIN qx USING (pos)
        GROUP BY ex.vec_id
    ),
    qn AS (SELECT CAST(CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
               AS qnorm2 FROM qx),
    cos_leg AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r
        FROM (SELECT vec_id, dot / (sqrt(norm2) * sqrt(qnorm2)) AS cosine
              -- norm guards: zero-norm rows rank nowhere (r9/r10)
              FROM dots, qn
              WHERE vec_id <> 0 AND norm2 > 0 AND qnorm2 > 0
              ORDER BY cosine DESC, vec_id LIMIT {_RRF_LEG_N})
    )
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           CAST(b.r AS BIGINT) AS bm25_rank,
           CAST(c.r AS BIGINT) AS cos_rank,
           COALESCE(1.0 / ({_RRF_K} + b.r), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + c.r), 0.0) AS rrf_score
    FROM bm_leg b FULL OUTER JOIN cos_leg c ON b.doc_id = c.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT {_RRF_TOPN}
    """


@register(
    "sim_rank_fusion",
    oracle=_rrf_oracle(),
    tags=("similarity", "retrieval", "fusion"),
)
def sim_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): fuse the lexical leg
    (text_bm25_retrieval's scorer over `documents`) with the vector leg
    (cosine-to-query over `embeddings`, vec_id ≡ doc_id) by summing
    1/(60+rank) across legs — the standard hybrid-search combiner, and
    the engine's demonstration that the text and embedding families
    compose into one retrieval pipeline.

    Scale shape: each leg is its own shuffle-free ranking (both are
    TakeOrdered top-{_RRF_LEG_N}; BM25's stats reduce to one broadcast
    row, cosine is a per-row broadcast fold), the rank window then runs
    over {_RRF_LEG_N}-row leg tables — never the corpus — and the fuse is
    a {_RRF_LEG_N}-row full outer join. Exactness: ranks are integers
    with deterministic doc_id tie-breaks; each RRF term is one double
    division of identical operands; the two terms add in literal order."""
    from pyspark.sql.window import Window as W

    from stateflow_spark.queries.text import bm25_scores

    # leg = top-50 of the shared scorer (TakeOrdered), then ranked by a
    # window over that 50-row table only
    bm_leg = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_LEG_N)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), "doc_id"))
            .alias("r"),
        )
    )
    # qnorm2/n2 > 0: zero-norm rows rank nowhere in the vector leg (the
    # lexical leg is unaffected) — r9/r10 similar-to-nothing convention;
    # n2 behind the _corpus_n2 barrier (r10 fold-reinline fix)
    c = _corpus_n2(spark, sf_dir)
    q = _query_vec(spark, sf_dir).filter(F.col("qnorm2") > 0)
    cos = dot_dec("v", "qv") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qnorm2")))
    cos_leg = (
        c.crossJoin(q)
        .filter((F.col("vec_id") != 0) & (F.col("n2") > 0))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_RRF_LEG_N)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("cosine").desc(), "doc_id"))
            .alias("r"),
        )
    )
    b = bm_leg.select("doc_id", F.col("r").alias("br"))
    cl = cos_leg.select("doc_id", F.col("r").alias("cr"))
    fused = (
        b.join(cl, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("br").cast("bigint").alias("bm25_rank"),
            F.col("cr").cast("bigint").alias("cos_rank"),
            (
                F.coalesce(1.0 / (_RRF_K + F.col("br")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("cr")), F.lit(0.0))
            ).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    return fused


# --- product quantization: PQ codes + asymmetric-distance top-k -------------
# M subspaces x SUB dims; K codes per subspace. The codebook is the K
# corpus vectors with the smallest md5(vec_id) — a deterministic sampled
# codebook (PQ random-init), so both engines derive the identical anchors
# with no training loop. Distances use the tie-free fixed-point kernel
# (trunc((x-a)^2 * 1e12) as int64 — see _fx/_PI_SCALE rationale).
_PQ_M = 16
_PQ_SUB = 4
_PQ_K = 64
_PQ_CAND = 100


def _pq_subdist_fx(vcol: F.Column, acol: F.Column, m: int) -> F.Column:
    """Int64 fixed-point squared distance between subspace m of two packed
    vectors: exact sum of 16 truncated terms, no rounding ties."""
    start = m * _PQ_SUB + 1
    return F.aggregate(
        F.zip_with(
            F.slice(vcol, start, _PQ_SUB),
            F.slice(acol, start, _PQ_SUB),
            lambda x, y: ((x - y) * (x - y) * F.lit(1e12)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def _pq_packed_anchors(corpus: DataFrame) -> DataFrame:
    """ONE broadcast row holding the 64-anchor deterministic sampled
    codebook, packed as array<array<double>> ordered by md5(vec_id)."""
    anchors = (
        corpus.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "v",
            F.md5(F.col("vec_id").cast("string")).alias("rk"),
        )
        .orderBy("rk", "vec_id")
        .limit(_PQ_K)
    )
    return F.broadcast(
        anchors.select(F.struct("rk", "vec_id", "v").alias("s")).agg(
            F.transform(
                F.sort_array(F.collect_list("s")), lambda s: s["v"]
            ).alias("A")
        )
    )


def _pq_qlut(q: DataFrame, packed: DataFrame) -> DataFrame:
    """Query-side 16x64 LUT of fixed-point subspace distances — one
    broadcast row (qv, luts)."""
    return F.broadcast(
        q.crossJoin(packed).select(
            "qv",
            F.array(
                *[
                    F.transform(
                        F.col("A"),
                        (lambda m: lambda a: _pq_subdist_fx(F.col("qv"), a, m))(m),
                    )
                    for m in range(_PQ_M)
                ]
            ).alias("luts"),
        )
    )


def _pq_encode(vecs: DataFrame, packed: DataFrame) -> DataFrame:
    """Per-row PQ encoding: adds code0..code15 (1-based anchor index per
    subspace; argmin via array_position(array_min) — first/lowest-c index
    wins ties, matching the oracle's ORDER BY (dfx, c))."""
    enc0 = vecs.crossJoin(packed).select(
        "vec_id",
        "v",
        *[
            F.transform(
                F.col("A"),
                (lambda m: lambda a: _pq_subdist_fx(F.col("v"), a, m))(m),
            ).alias(f"d{m}")
            for m in range(_PQ_M)
        ],
    )
    return enc0.select(
        "vec_id",
        "v",
        *[
            F.array_position(
                F.col(f"d{m}"), F.array_min(F.col(f"d{m}"))
            ).alias(f"code{m}")
            for m in range(_PQ_M)
        ],
    )


def _pq_adc_rerank(enc: DataFrame, qlut: DataFrame) -> DataFrame:
    """ADC scan (16 int64 LUT lookups per row) → top-100 candidates →
    exact decimal L2 rerank → top 10."""
    adc = enc.crossJoin(qlut).select(
        "vec_id",
        "v",
        "qv",
        sum(
            F.element_at(F.col("luts").getItem(m), F.col(f"code{m}").cast("int"))
            for m in range(_PQ_M)
        ).alias("adc_fx"),
    )
    cand = adc.orderBy("adc_fx", "vec_id").limit(_PQ_CAND)
    return (
        cand.select(
            "vec_id",
            "adc_fx",
            F.sqrt(sqdist_dec("v", "qv")).alias("l2_dist"),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


_PQ_ORACLE = f"""
    WITH ex AS ({_EX_SQL}),
    r16 AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS c
        FROM embeddings WHERE vec_id <> 0
        QUALIFY c <= {_PQ_K}
    ),
    ax AS (SELECT r.c, e.pos, e.x FROM r16 r JOIN ex e ON e.vec_id = r.vec_id),
    dist AS (
        SELECT e.vec_id, CAST((e.pos - 1) // {_PQ_SUB} AS BIGINT) AS m, a.c,
               SUM(CAST(trunc((e.x - a.x) * (e.x - a.x) * 1e12) AS BIGINT))
                 AS dfx
        FROM ex e JOIN ax a USING (pos)
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dfx, c)
                 AS rn
        FROM dist WHERE vec_id <> 0
        QUALIFY rn = 1
    ),
    lutd AS (SELECT m, c, dfx FROM dist WHERE vec_id = 0),
    adc AS (
        SELECT co.vec_id, CAST(SUM(l.dfx) AS BIGINT) AS adc_fx
        FROM codes co JOIN lutd l ON l.m = co.m AND l.c = co.c
        GROUP BY 1
    ),
    cand AS (
        SELECT vec_id, adc_fx FROM adc
        ORDER BY adc_fx, vec_id LIMIT {_PQ_CAND}
    ),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    rr AS (
        SELECT e.vec_id, cand.adc_fx,
               sqrt(CAST(CAST(SUM(CAST((e.x - qx.qv) * (e.x - qx.qv)
                                  AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)) AS l2_dist
        FROM ex e JOIN cand USING (vec_id) JOIN qx USING (pos)
        GROUP BY 1, 2
    )
    SELECT vec_id, adc_fx, l2_dist FROM rr
    ORDER BY l2_dist, vec_id LIMIT 10
"""


@register(
    "sim_pq_adc_topk",
    oracle=_PQ_ORACLE,
    tags=("similarity", "quantization", "ann"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization (Jégou et al., PAMI'11): the corpus is
    encoded as 16 subspace codes against a 64-anchor deterministic sampled
    codebook (the K vectors with smallest md5(vec_id) — PQ random-init,
    reproducible in both engines with no training loop); the query builds
    a 16x64 asymmetric-distance lookup table; each corpus vector's
    approximate distance is SIXTEEN int64 table lookups; exact decimal L2
    reranks the top-100 candidates (measured recall@10 = 0.9-1.0 vs the
    exact scan at sf0.001-0.01; the coarser 4x16 variant measured 0.1 —
    the parameter sweep is in the commit history). All quantization arithmetic is the
    tie-free fixed-point kernel, so the oracle pins code assignment and
    ADC ranking bit-for-bit, not just the reranked output.

    Scale shape: codebook + LUTs are ONE broadcast row (16 anchors and a
    4x16 int table); encoding and ADC are per-row projections — zero
    shuffles before the TakeOrdered candidate gather; the rerank touches
    50 rows. This is the memory-scale path beyond int8: 64 doubles
    (512 B) become 16 codes (16 B, 32x) — at 100 TB the codes column is
    what a scan reads (store codes at write time; the ADC scan then reads
    ~1/100th the bytes of the raw-vector scan), and re-coding after a
    codebook refresh is one embarrassingly-parallel pass.
    """
    corpus = _corpus(spark, sf_dir, fan_out=True)
    packed = _pq_packed_anchors(corpus)
    q = corpus.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    enc = _pq_encode(corpus.filter(F.col("vec_id") != 0), packed)
    return _pq_adc_rerank(enc, _pq_qlut(q, packed))


# --- IVF+PQ: partition-pruned compressed-domain ANN --------------------------
_IVFPQ_NPROBE = 3

_IVFPQ_ORACLE = f"""
    WITH ex AS ({_EX_SQL}),
    labeled AS (
        SELECT e.vec_id, emb.label, e.pos, e.x
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
    ),
    cent AS (
        SELECT label, pos,
               CAST(CAST(SUM(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM labeled GROUP BY label, pos
    ),
    qx AS (SELECT pos, x AS qv FROM ex WHERE vec_id = 0),
    probe AS (
        SELECT label,
               CAST(CAST(SUM(CAST(c * qv AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS cdot
        FROM cent JOIN qx USING (pos)
        GROUP BY label
        ORDER BY cdot DESC, label
        LIMIT {_IVFPQ_NPROBE}
    ),
    pv AS (
        SELECT DISTINCT l.vec_id
        FROM labeled l JOIN probe USING (label)
        WHERE l.vec_id <> 0
    ),
    r16 AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS c
        FROM embeddings WHERE vec_id <> 0
        QUALIFY c <= {_PQ_K}
    ),
    ax AS (SELECT r.c, e.pos, e.x FROM r16 r JOIN ex e ON e.vec_id = r.vec_id),
    dist AS (
        SELECT e.vec_id, CAST((e.pos - 1) // {_PQ_SUB} AS BIGINT) AS m, a.c,
               SUM(CAST(trunc((e.x - a.x) * (e.x - a.x) * 1e12) AS BIGINT))
                 AS dfx
        FROM ex e JOIN ax a USING (pos)
        WHERE e.vec_id = 0 OR e.vec_id IN (SELECT vec_id FROM pv)
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dfx, c)
                 AS rn
        FROM dist WHERE vec_id <> 0
        QUALIFY rn = 1
    ),
    lutd AS (SELECT m, c, dfx FROM dist WHERE vec_id = 0),
    adc AS (
        SELECT co.vec_id, CAST(SUM(l.dfx) AS BIGINT) AS adc_fx
        FROM codes co JOIN lutd l ON l.m = co.m AND l.c = co.c
        GROUP BY 1
    ),
    cand AS (
        SELECT vec_id, adc_fx FROM adc
        ORDER BY adc_fx, vec_id LIMIT {_PQ_CAND}
    ),
    rr AS (
        SELECT e.vec_id, cand.adc_fx,
               sqrt(CAST(CAST(SUM(CAST((e.x - qx.qv) * (e.x - qx.qv)
                                  AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE)) AS l2_dist
        FROM ex e JOIN cand USING (vec_id) JOIN qx USING (pos)
        GROUP BY 1, 2
    )
    SELECT vec_id, adc_fx, l2_dist FROM rr
    ORDER BY l2_dist, vec_id LIMIT 10
"""


@register(
    "sim_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    tags=("similarity", "ivf", "quantization", "ann"),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN — the production index layout (FAISS IVFPQ,
    Jégou et al. PAMI'11 §V): the inverted file prunes WHICH rows are
    scanned (probe the 3 label clusters whose centroids are closest to
    the query — a partition-pruning predicate when the corpus is
    label-partitioned) and product quantization prunes HOW MANY BYTES
    each scanned row costs (16 code lookups instead of a 64-double
    read). This composes the two orthogonal scale levers the family's
    single-lever queries demonstrate separately (sim_ivf_topk,
    sim_pq_adc_topk): at 100 TB the scan reads nprobe/nlist of the
    partitions × 1/32 of the bytes per row, so a 3-of-8-cluster probe
    on codes touches ~1% of the raw-corpus bytes. The codebook here is
    the global 64-anchor deterministic sample shared with
    sim_pq_adc_topk (production trains per-list residual codebooks;
    the shared-codebook variant keeps the assignment oracle-pinned —
    same trade as the hash-derived LSH planes).

    Exactness: probe ranking is decimal-exact centroid dots; code
    assignment and ADC ranking are the tie-free fixed-point kernel;
    the final rerank is exact decimal L2 on ≤100 rows — every pruning
    decision, not just the output, is hash-gated against DuckDB."""
    corpus_l = _corpus(spark, sf_dir, with_label=True, fan_out=True)
    cent = _centroids(spark, sf_dir)
    q = _query_vec(spark, sf_dir).select("qv")
    probed_labels = (
        cent.crossJoin(q)
        .select("label", dot_dec("cv", "qv").alias("cdot"))
        .orderBy(F.col("cdot").desc(), F.col("label"))
        .limit(_IVFPQ_NPROBE)
        .select("label")
    )
    packed = _pq_packed_anchors(corpus_l.select("vec_id", "v"))
    probed = (
        corpus_l.join(F.broadcast(probed_labels), "label")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "v")
    )
    enc = _pq_encode(probed, packed)
    return _pq_adc_rerank(enc, _pq_qlut(q, packed))


@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    anch AS (
        SELECT e.vec_id AS qid, emb.label AS qlabel, e.pos, e.x AS qv
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
        WHERE e.vec_id < 20
    ),
    norms AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT anch.qid, anch.qlabel, ex.vec_id,
               CAST(CAST(SUM(CAST(ex.x * anch.qv AS DECIMAL(38,12)))
                    AS VARCHAR) AS DOUBLE) AS dot
        FROM ex JOIN anch USING (pos)
        WHERE ex.vec_id <> anch.qid
        GROUP BY anch.qid, anch.qlabel, ex.vec_id
    ),
    scored AS (
        SELECT d.qid,
               CASE WHEN emb.label <> d.qlabel
                    THEN 'hard_neg' ELSE 'hard_pos' END AS kind,
               d.vec_id,
               dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
        FROM dots d
        JOIN embeddings emb ON emb.vec_id = d.vec_id
        JOIN norms na ON na.vec_id = d.qid
        JOIN norms nb ON nb.vec_id = d.vec_id
        -- n2 > 0: zero-norm vectors are similar to nothing (round-9)
        WHERE na.n2 > 0 AND nb.n2 > 0
    )
    SELECT qid, kind, vec_id AS neighbor_id, cosine, rnk FROM (
        SELECT qid, kind, vec_id, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY qid, kind
                   ORDER BY CASE WHEN kind = 'hard_neg'
                                 THEN -cosine ELSE cosine END, vec_id
               ) AS rnk
        FROM scored
    ) WHERE rnk <= CASE WHEN kind = 'hard_neg' THEN 3 ELSE 1 END
    """,
    tags=("similarity", "contrastive", "mining"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining: for each of 20 anchor vectors,
    the 3 HARDEST NEGATIVES (most-similar corpus vectors with a DIFFERENT
    label — the pairs a contrastive loss learns most from) and the 1
    HARDEST POSITIVE (least-similar vector with the SAME label). This is
    the triplet/InfoNCE mining step of an embedding-training data
    pipeline (the reference engine has no vector ops; SURVEY §2
    extension family).

    Plan shape: the anchor block (20 rows + labels + norms) broadcasts
    like sim_knn_join's query block; each labeled corpus row scores all
    anchors with per-pair decimal folds; ONE window pass handles both
    mining directions — partitioned by (qid, kind) and ordered by a
    kind-dependent sort key (-cosine for negatives, +cosine for
    positives), so hard-negative and hard-positive selection share a
    single shuffle of the scored pairs. At 100 TB the scored volume is
    corpus × n_anchors — mining runs against the IVF/PQ-pruned candidate
    set instead of the full corpus (compose with sim_ivf_knn_join); the
    mining window itself is already candidate-bounded.

    Exactness: cosines come from the decimal kernels (bit-identical
    across engines); the kind-dependent sort key negates a double (sign
    flip is exact) and ties break on vec_id."""
    corpus = _corpus(spark, sf_dir, with_label=True)
    # qn2/n2 > 0: zero-norm vectors mine nothing and are never mined
    # (the round-9 similar-to-nothing convention; unguarded, one
    # all-zero embedding raised ANSI DIVIDE_BY_ZERO)
    ablock = F.broadcast(
        corpus.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
            norm2_dec("v").alias("qn2"),
        )
        .filter(F.col("qn2") > 0)
    )
    # n2 behind the barrier (r10 fold-reinline fix, see _corpus_n2)
    probe = _corpus_n2(spark, sf_dir, with_label=True).filter(
        F.col("n2") > 0
    )
    scored = (
        probe.crossJoin(ablock)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.when(F.col("label") != F.col("qlabel"), F.lit("hard_neg"))
            .otherwise(F.lit("hard_pos"))
            .alias("kind"),
            "vec_id",
            (
                dot_dec("v", "qv")
                / (F.sqrt(F.col("n2")) * F.sqrt(F.col("qn2")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid", "kind").orderBy(
        F.when(F.col("kind") == "hard_neg", -F.col("cosine")).otherwise(
            F.col("cosine")
        ),
        "vec_id",
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(
            F.col("rnk")
            <= F.when(F.col("kind") == "hard_neg", F.lit(3)).otherwise(F.lit(1))
        )
        .select("qid", "kind", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
    )


_MINE_TOPK = 4
_MINE_MARGIN = 1.05


@register(
    "sim_bitext_mining",
    oracle=f"""
    WITH ex AS ({_EX_SQL}),
    norms AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    src AS (SELECT vec_id AS sid FROM embeddings WHERE label = 0),
    tgt AS (SELECT vec_id AS tid FROM embeddings WHERE label = 1),
    dots AS (
        SELECT s.sid, t.tid,
               CAST(CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS dot
        FROM src s
        JOIN ex a ON a.vec_id = s.sid
        JOIN tgt t ON TRUE
        JOIN ex b ON b.vec_id = t.tid AND b.pos = a.pos
        GROUP BY s.sid, t.tid
    ),
    scored AS (
        SELECT sid, tid,
               dot / (sqrt(ns.n2) * sqrt(nt.n2)) AS cosine
        FROM dots
        JOIN norms ns ON ns.vec_id = sid
        JOIN norms nt ON nt.vec_id = tid
        -- n2 > 0: a zero-norm source mines nothing and a zero-norm
        -- target is never mined (r9/r10 similar-to-nothing convention)
        WHERE ns.n2 > 0 AND nt.n2 > 0
    ),
    ranked AS (
        SELECT sid, tid, cosine,
               ROW_NUMBER() OVER (PARTITION BY sid
                                  ORDER BY cosine DESC, tid) AS rnk
        FROM scored
    ),
    folded AS (
        SELECT sid,
               MAX(CASE WHEN rnk = 1 THEN tid END) AS best_tid,
               MAX(CASE WHEN rnk = 1 THEN cosine END) AS best_cos,
               CAST(SUM(CASE WHEN rnk <= {_MINE_TOPK}
                    THEN CAST(trunc(cosine * 1e12) AS BIGINT) END)
                    AS DOUBLE) / 1e12 AS topk_sum,
               CAST(COUNT(CASE WHEN rnk <= {_MINE_TOPK} THEN 1 END)
                    AS BIGINT) AS topk_n
        FROM ranked GROUP BY sid
    )
    SELECT sid AS src_id, best_tid AS tgt_id, best_cos AS cosine,
           best_cos / (topk_sum / CAST(topk_n AS DOUBLE)) AS margin,
           best_cos / (topk_sum / CAST(topk_n AS DOUBLE)) >= {_MINE_MARGIN}
               AS accepted
    FROM folded
    """,
    tags=("similarity", "mining", "bitext"),
)
def sim_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER bitext-mining criterion): for every source-side
    vector (label 0 stands in for language A) the best target-side
    neighbor (label 1 = language B) is accepted only if its cosine
    stands out from the neighborhood — margin = best / mean(top-4) ≥
    1.05 — which kills the hubness false positives plain
    nearest-neighbor mining suffers.

    Plan shape: target block broadcasts against the fanned-out source
    side (the smaller side broadcasts — at corpus scale both sides
    shard and the scoring runs through the IVF probe like
    sim_ivf_knn_join, margin unchanged); ranking and the top-4 mean
    share ONE window shuffle on src_id; the mean accumulates through
    TRUNCATING fixed point (a decimal cast of derived cosines is the
    scale-12 tie hazard) so margin is one IEEE division of
    bit-identical operands.
    Emits every source row with its margin and the accept decision, so
    the gate hashes the criterion itself, not just the survivors."""
    corpus = _corpus(spark, sf_dir, with_label=True, fan_out=True)
    # norms behind _pin_n2 barriers AFTER the language filters (fold only
    # each side's rows, once — the r9 select+filter form re-inlined the
    # fold into the guard Filter; r10)
    tgt = F.broadcast(
        _pin_n2(corpus.filter(F.col("label") == 1))
        .select(
            F.col("vec_id").alias("tid"),
            F.col("v").alias("tv"),
            F.col("n2").alias("tn2"),
        )
        # tn2 > 0: a zero-norm target is never mined (r9/r10 convention)
        .filter(F.col("tn2") > 0)
    )
    src = (
        _pin_n2(corpus.filter(F.col("label") == 0))
        .select(
            F.col("vec_id").alias("sid"), "v", F.col("n2").alias("sn2")
        )
        # sn2 > 0: a zero-norm source mines nothing (r9/r10 convention)
        .filter(F.col("sn2") > 0)
    )
    scored = src.crossJoin(tgt).select(
        "sid",
        "tid",
        (
            dot_dec("v", "tv") / (F.sqrt(F.col("sn2")) * F.sqrt(F.col("tn2")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("sid").orderBy(F.col("cosine").desc(), "tid")
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    # truncating fixed-point top-k terms: the decimal cast of a DERIVED
    # double (cosine) is the scale-12 tie hazard the centroid family was
    # swept for (common.py) — trunc has no ties
    topk = F.when(
        F.col("rnk") <= _MINE_TOPK,
        (F.col("cosine") * F.lit(1e12)).cast("bigint"),
    )
    folded = ranked.groupBy("sid").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("tid"))).alias("best_tid"),
        F.max(F.when(F.col("rnk") == 1, F.col("cosine"))).alias("best_cos"),
        (F.sum(topk).cast("double") / F.lit(1e12)).alias("topk_sum"),
        F.count(topk).alias("topk_n"),
    )
    margin = F.col("best_cos") / (
        F.col("topk_sum") / F.col("topk_n").cast("double")
    )
    return folded.select(
        F.col("sid").alias("src_id"),
        F.col("best_tid").alias("tgt_id"),
        F.col("best_cos").alias("cosine"),
        margin.alias("margin"),
        (margin >= _MINE_MARGIN).alias("accepted"),
    )


# --------------------------------------------------------------------------
# Incremental ANN index maintenance — classify a delta against a STORED
# two-level IVF index (round-10 VERDICT #6: the production posture where
# every other sim_* row rebuilds its index per query)
# --------------------------------------------------------------------------

# nn-cosine >= tau → the delta row is flagged a near-dup. Calibrated to
# the SYNTHETIC corpus's median nn-cosine (~0.29 at sf0.01) so the driver
# gate hashes BOTH verdict branches — an aspirational 0.9+ threshold
# would make the verdict column constant 'new' at every shipped scale,
# the exact vacuous-stamp failure r10 fixed for the audio near-dup row.
# A real embedding corpus runs this at ~0.95.
_IVF_DELTA_DUP_TAU = 0.30
# target stored rows per sub-cell: each label cluster is subdivided into
# S = ceil(n/64) cells so the probed cell — hence the per-delta-row scan —
# stays ~constant as the corpus grows. Assignment to a cell goes through
# a COARSE level of ceil(sqrt(S)) seeds, so per-row assignment work is
# ~2·sqrt(S), not S (the flat form measured 1.7 s → 57 s over the
# sf0.1→sf1 decade when it probed whole label clusters; the same
# depth-vs-width trade as dedup_semantic_scaled's 3-level tree — add a
# level whenever sqrt(S) itself outgrows a broadcast fold).
_IVF_SUBCELL_POP = 64


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored IVF index for `sf_dir`'s embeddings: the OLD
    corpus (vec_id % 5 != 0 — the same existing/delta convention as
    dedup_incremental_index) written hive-PARTITIONED BY cluster id
    (cid = label, the inverted file sim_ivf_topk uses) and SUB-CELLED
    within each cluster. Sub-seeds are the ceil(n/64) members with the
    smallest md5(vec_id) (deterministic sampling, the PQ-codebook
    trick); the first ceil(sqrt(S)) of them double as the COARSE level;
    each fine seed hangs off its nearest coarse seed, and every stored
    row routes coarse→fine by the tie-free fixed-point kernel. Exact
    decimal norms ride along. Cached under the system temp dir as a
    build-once version keyed on the source file. At 100 TB this is the
    nightly index-build job; the maintenance query below is the
    daily-delta job that must never rescan this corpus."""
    import os
    import tempfile

    key = source_key(os.path.join(sf_dir, "embeddings.parquet"))
    return build_once(
        os.path.join(tempfile.gettempdir(), f"stateflow_ivf_index_v3_{key}"),
        lambda scratch: _build_ivf_index(spark, sf_dir, scratch),
    )


def _build_ivf_index(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Write _ivf_index_dir's layout (seeds, corpus, centroids) into
    `tmp`."""
    import os

    old = _corpus(spark, sf_dir, with_label=True).filter(
        F.col("vec_id") % 5 != 0
    )
    # fine seeds: per label, the ceil(n/POP) smallest-md5 members; the
    # first ceil(sqrt(S)) of them (same order) are also the coarse level
    wseed = Window.partitionBy("label").orderBy("rk", "vec_id")
    ranked = (
        old.select(
            "label",
            "vec_id",
            "v",
            F.md5(F.col("vec_id").cast("string")).alias("rk"),
        )
        .withColumn("rn", F.row_number().over(wseed))
        .withColumn(
            "n_lab", F.count(F.lit(1)).over(Window.partitionBy("label"))
        )
        .withColumn(
            "n_seeds",
            F.ceil(F.col("n_lab") / F.lit(_IVF_SUBCELL_POP)).cast("int"),
        )
        .filter(F.col("rn") <= F.col("n_seeds"))
    )
    fine = ranked.select(
        F.col("label").alias("cid"),
        F.col("vec_id").alias("seed_id"),
        F.col("v").alias("seed_v"),
        (F.col("rn") <= F.ceil(F.sqrt(F.col("n_seeds"))).cast("int")).alias(
            "is_coarse"
        ),
    )
    fine.write.parquet(os.path.join(tmp, "seeds_raw"))
    fine_r = spark.read.parquet(os.path.join(tmp, "seeds_raw"))
    coarse_r = F.broadcast(
        fine_r.filter("is_coarse").select(
            F.col("cid").alias("ccid"),
            F.col("seed_id").alias("coarse_id"),
            F.col("seed_v").alias("coarse_v"),
        )
    )
    # parent of each fine seed: nearest coarse seed within its label.
    # All three argmins below are struct-MIN aggregates keyed on the row
    # id, not row_number() windows (r10 VERDICT minor #3): a window
    # argmin sorts every candidate partition; MIN over struct(d, id) is
    # the same (d ASC, id ASC) tie order — bit-identical to the oracle's
    # ROW_NUMBER replay — with a map-side partial MIN and no sort, the
    # right shape for the nightly corpus-sized job.
    seeds = (
        fine_r.join(coarse_r, fine_r["cid"] == coarse_r["ccid"])
        .select(
            "cid",
            "seed_id",
            "seed_v",
            "is_coarse",
            F.struct(
                _sqdist_fx("seed_v", "coarse_v").alias("d"),
                F.col("coarse_id"),
            ).alias("dc"),
        )
        .groupBy("seed_id")
        .agg(
            F.first("cid").alias("cid"),
            F.first("seed_v").alias("seed_v"),
            F.first("is_coarse").alias("is_coarse"),
            F.min("dc").alias("m"),
        )
        .select(
            "cid", "seed_id", "seed_v", "is_coarse",
            F.col("m.coarse_id").alias("parent"),
        )
    )
    seeds.write.parquet(os.path.join(tmp, "seeds"))
    seeds_r = F.broadcast(spark.read.parquet(os.path.join(tmp, "seeds")))
    # route every old row coarse → fine (two ~sqrt(S)-sized broadcast folds)
    old_coarse = (
        old.join(coarse_r, old["label"] == coarse_r["ccid"])
        .select(
            "vec_id",
            "v",
            "label",
            F.struct(
                _sqdist_fx("v", "coarse_v").alias("d"), F.col("coarse_id")
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first("label").alias("label"),
            F.min("dc").alias("m"),
        )
        .select("vec_id", "v", "label", F.col("m.coarse_id").alias("coarse_id"))
    )
    assigned_old = (
        old_coarse.join(
            seeds_r,
            (old_coarse["label"] == seeds_r["cid"])
            & (old_coarse["coarse_id"] == seeds_r["parent"]),
        )
        .select(
            "vec_id",
            "v",
            "label",
            F.struct(
                _sqdist_fx("v", "seed_v").alias("d"), F.col("seed_id")
            ).alias("ds"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first("label").alias("label"),
            F.min("ds").alias("m"),
        )
        .select("vec_id", "v", "label", F.col("m.seed_id").alias("seed_id"))
    )
    assigned_old.select(
        F.col("label").alias("cid"),
        F.col("seed_id").alias("subcell"),
        F.col("vec_id").alias("sid"),
        F.col("v").alias("sv"),
        norm2_dec("v").alias("sn2"),
    ).write.partitionBy("cid").parquet(os.path.join(tmp, "corpus"))
    _centroids_from(old).select(
        F.col("label").alias("cid"), "cv"
    ).write.parquet(os.path.join(tmp, "centroids"))


# shared routing CTE block (fine seeds + coarse flags, fine→coarse
# parents, old-row routing, delta routing) — composed into the
# maintenance AND merge oracles so the replayed tree cannot diverge.
# The delta predicate is parameterized so the post-apply read-back
# oracle can replay a two-day split (day 1 = vec_id % 10 = 0 folded
# into the index by the apply job, day 2 = vec_id % 10 = 5 classified
# against the applied layout); the default is the standard daily delta.
def _ivf_route_ctes(delta_pred: str = "vec_id % 5 = 0") -> str:
    return f"""ex AS ({_EX_SQL}),
    old AS (
        SELECT e.vec_id, emb.label AS cid, e.pos, e.x
        FROM ex e JOIN embeddings emb ON emb.vec_id = e.vec_id
        WHERE e.vec_id % 5 <> 0
    ),
    cent AS (
        SELECT cid, pos,
               CAST(CAST(SUM(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                    AS VARCHAR) AS DOUBLE)
                 / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM old GROUP BY cid, pos
    ),
    seeds0 AS (
        SELECT cid, vec_id AS seed_id,
               rn <= CAST(ceil(sqrt(CAST(n_seeds AS DOUBLE))) AS INT)
                   AS is_coarse
        FROM (
            SELECT label AS cid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY label
                                      ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                               vec_id) AS rn,
                   CAST(ceil(CAST(COUNT(*) OVER (PARTITION BY label)
                                  AS DOUBLE) / {_IVF_SUBCELL_POP}) AS INT)
                       AS n_seeds
            FROM embeddings WHERE vec_id % 5 <> 0
        ) WHERE rn <= n_seeds
    ),
    sqd AS (
        -- vec x SEED pairs only: every consumer joins q.vb to a seed id
        -- (seeds0 here; new-seed candidates get their own sqdm CTE in
        -- the reasg block). The unrestricted all-pairs form spilled
        -- ~70 GB of DuckDB temp at sf0.1 in the post-resplit replay
        -- (|V|^2 x dim intermediate); this is |V| x |seeds| x dim.
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(CAST(trunc((a.x - b.x) * (a.x - b.x) * 1e12)
                    AS BIGINT)) AS DOUBLE) / 1e12 AS d
        FROM ex a JOIN ex b ON b.pos = a.pos
        WHERE b.vec_id IN (SELECT seed_id FROM seeds0)
        GROUP BY a.vec_id, b.vec_id
    ),
    parent AS (
        SELECT seed_id, coarse_id AS parent FROM (
            SELECT f.seed_id, c.seed_id AS coarse_id,
                   ROW_NUMBER() OVER (PARTITION BY f.seed_id
                                      ORDER BY q.d, c.seed_id) AS rn
            FROM seeds0 f
            JOIN seeds0 c ON c.cid = f.cid AND c.is_coarse
            JOIN sqd q ON q.va = f.seed_id AND q.vb = c.seed_id
        ) WHERE rn = 1
    ),
    oldrows AS (SELECT DISTINCT vec_id, cid FROM old),
    oldcoarse AS (
        SELECT vec_id, coarse_id FROM (
            SELECT o.vec_id, c.seed_id AS coarse_id,
                   ROW_NUMBER() OVER (PARTITION BY o.vec_id
                                      ORDER BY q.d, c.seed_id) AS rn
            FROM oldrows o
            JOIN seeds0 c ON c.cid = o.cid AND c.is_coarse
            JOIN sqd q ON q.va = o.vec_id AND q.vb = c.seed_id
        ) WHERE rn = 1
    ),
    oldcell AS (
        SELECT vec_id, subcell FROM (
            SELECT o.vec_id, f.seed_id AS subcell,
                   ROW_NUMBER() OVER (PARTITION BY o.vec_id
                                      ORDER BY q.d, f.seed_id) AS rn
            FROM oldrows o
            JOIN oldcoarse oc ON oc.vec_id = o.vec_id
            JOIN seeds0 f ON f.cid = o.cid
            JOIN parent p ON p.seed_id = f.seed_id
                         AND p.parent = oc.coarse_id
            JOIN sqd q ON q.va = o.vec_id AND q.vb = f.seed_id
        ) WHERE rn = 1
    ),
    delta AS (SELECT vec_id, pos, x FROM ex WHERE {delta_pred}),
    deltarows AS (SELECT DISTINCT vec_id FROM delta),
    cdist AS (
        SELECT d.vec_id, c.cid,
               CAST(SUM(CAST(trunc((d.x - c.c) * (d.x - c.c) * 1e12)
                    AS BIGINT)) AS DOUBLE) / 1e12 AS dist
        FROM delta d JOIN cent c ON c.pos = d.pos
        GROUP BY d.vec_id, c.cid
    ),
    asg AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    dcoarse AS (
        SELECT vec_id, coarse_id FROM (
            SELECT a.vec_id, c.seed_id AS coarse_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY q.d, c.seed_id) AS rn
            FROM asg a
            JOIN seeds0 c ON c.cid = a.cid AND c.is_coarse
            JOIN sqd q ON q.va = a.vec_id AND q.vb = c.seed_id
        ) WHERE rn = 1
    ),
    dcell AS (
        SELECT vec_id, subcell FROM (
            SELECT a.vec_id, f.seed_id AS subcell,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY q.d, f.seed_id) AS rn
            FROM asg a
            JOIN dcoarse dc ON dc.vec_id = a.vec_id
            JOIN seeds0 f ON f.cid = a.cid
            JOIN parent p ON p.seed_id = f.seed_id
                         AND p.parent = dc.coarse_id
            JOIN sqd q ON q.va = a.vec_id AND q.vb = f.seed_id
        ) WHERE rn = 1
    )"""


_IVF_ROUTE_CTES = _ivf_route_ctes()


# Widened-probe routing appendix (round-11 VERDICT #1): the rank ≤ k
# extension of asg/dcoarse/dcell. The rank-1 CTEs above stay the PRIMARY
# path (storage assignment); these only widen the classifier's candidate
# cell set, mirroring _ivf_route_delta's (nlabel, ncoarse, nprobe) knobs
# window for window — wc partitions per kept label (rl ↔ cid per vec),
# wf per kept coarse seed ((rl, rc) ↔ (rl, coarse_id) per vec: a coarse
# seed belongs to exactly one cid).
def _ivf_widened_ctes(nlabel: int, ncoarse: int, nprobe: int) -> str:
    return f"""asg_w AS (
        SELECT vec_id, cid, rl FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rl
            FROM cdist
        ) WHERE rl <= {nlabel}
    ),
    dcoarse_w AS (
        SELECT vec_id, cid, rl, coarse_id FROM (
            SELECT a.vec_id, a.cid, a.rl, c.seed_id AS coarse_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.rl
                                      ORDER BY q.d, c.seed_id) AS rc
            FROM asg_w a
            JOIN seeds0 c ON c.cid = a.cid AND c.is_coarse
            JOIN sqd q ON q.va = a.vec_id AND q.vb = c.seed_id
        ) WHERE rc <= {ncoarse}
    ),
    dcell_w AS (
        SELECT DISTINCT vec_id, cid, subcell FROM (
            SELECT dc.vec_id, dc.cid, f.seed_id AS subcell,
                   ROW_NUMBER() OVER (
                       PARTITION BY dc.vec_id, dc.rl, dc.coarse_id
                       ORDER BY q.d, f.seed_id) AS rn
            FROM dcoarse_w dc
            JOIN seeds0 f ON f.cid = dc.cid
            JOIN parent p ON p.seed_id = f.seed_id
                         AND p.parent = dc.coarse_id
            JOIN sqd q ON q.va = dc.vec_id AND q.vb = f.seed_id
        ) WHERE rn <= {nprobe}
    )"""


# the two-level routing is replayed layer by layer: every argmin a
# ROW_NUMBER over the shared fixed-point distance kernel
_IVF_MAINT_ORACLE = f"""
    WITH {_IVF_ROUTE_CTES},
    norms AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT dc.vec_id, oc.vec_id AS sid,
               CAST(CAST(SUM(CAST(o.x * d.x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS dot
        FROM dcell dc
        JOIN oldcell oc ON oc.subcell = dc.subcell
        JOIN delta d ON d.vec_id = dc.vec_id
        JOIN old o ON o.vec_id = oc.vec_id AND o.pos = d.pos
        GROUP BY dc.vec_id, oc.vec_id
    ),
    scored AS (
        SELECT dots.vec_id, sid, dot / (sqrt(nd.n2) * sqrt(ns.n2)) AS cosine
        FROM dots
        JOIN norms nd ON nd.vec_id = dots.vec_id
        JOIN norms ns ON ns.vec_id = sid
        -- n2 > 0: zero-norm vectors are similar to nothing (r9/r10)
        WHERE nd.n2 > 0 AND ns.n2 > 0
    ),
    nn AS (
        SELECT vec_id, sid, cosine FROM (
            SELECT vec_id, sid, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, sid) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cid, dcell.subcell, nn.sid AS nn_id,
           nn.cosine AS nn_cosine,
           CASE WHEN nn.cosine >= {_IVF_DELTA_DUP_TAU} THEN 'dup'
                ELSE 'new' END AS verdict
    FROM asg a
    JOIN dcell ON dcell.vec_id = a.vec_id
    LEFT JOIN nn ON nn.vec_id = a.vec_id
    """


@register(
    "sim_ivf_index_maintenance",
    oracle=_IVF_MAINT_ORACLE,
    tags=("similarity", "ivf", "incremental", "delta", "bench"),
)
def sim_ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-delta maintenance of a STORED two-level IVF index: classify
    today's arrivals (vec_id % 5 = 0) against the nightly index — assign
    each delta row to its nearest stored centroid, route coarse→fine to
    a sub-cell, probe ONLY that sub-cell's stored rows for the nearest
    neighbor, and emit a near-dup verdict — WITHOUT rescanning or
    re-clustering the corpus. The ANN analog of dedup_incremental_index
    (r7), closing the gap that every other sim_* row rebuilds its index
    per query.

    Scale shape (this is the point of the row): the stored corpus is
    hive-partitioned by cid, and the probe join broadcasts the assigned
    delta — so DYNAMIC PARTITION PRUNING turns the broadcast's cid set
    into a partition filter on the stored scan (plan-gated): the corpus
    side reads only the probed clusters' files, never the table. The
    sub-cell rule (S = ceil(n/64) cells per cluster) keeps the probed
    CELL ~64 rows regardless of N, and the coarse level (ceil(sqrt(S))
    seeds) keeps ASSIGNMENT work per row at ~2·sqrt(S) folds — the flat
    one-level form measured 1.7 s → 57 s across the sf0.1→sf1 decade
    because it probed whole label clusters (size ∝ N over a fixed label
    set); with the tree the per-delta work is bounded by cell population
    + sqrt-width fan-outs (the dedup_semantic_scaled depth trade — add
    a third level when sqrt(S) outgrows a broadcast fold). Every
    shuffle is delta-sized; centroids and seed tables are broadcasts.

    Exactness: centroids use the power-of-two fixed-point mean
    (_centroids), every routing level the truncating _sqdist_fx kernel
    (ties break on cid / seed_id), seeds are the smallest-md5(vec_id)
    members (engine-identical string md5), neighbor cosines the decimal
    kernels with the r9/r10 zero-norm guards — a zero-norm delta row
    routes normally (L2 distance is defined) but has no neighbor:
    verdict 'new' with NULL nn, in both engines."""
    # dn2 behind a barrier AFTER the delta filter: the withColumn form
    # let CollapseProject merge the fold into the post-crossJoin
    # projection — k redundant folds per delta row (r10)
    delta = _pin_n2(
        _corpus(spark, sf_dir, fan_out=True).filter(F.col("vec_id") % 5 == 0)
    ).withColumnRenamed("n2", "dn2")
    return _ivf_classify_delta(spark, delta, _ivf_index_dir(spark, sf_dir))


def _ivf_route_delta(
    spark: SparkSession, delta: DataFrame, base: str, nprobe: int = 1,
    ncoarse: int = 1, nlabel: int = 1,
) -> DataFrame:
    """Route a (vec_id, v, dn2) delta frame through the stored index's
    assignment tree → (vec_id, v, dn2, cid, subcell, probe_rank).
    Shared by the classifier (which then probes the cell(s) for a
    neighbor) and the merge-accounting row (which only needs the routed
    primary cell). (nlabel, ncoarse, nprobe) are the per-LEVEL IVF
    recall knobs — widen the label probe, the coarse probe under each
    kept label, and the fine probe under each kept coarse seed; the
    candidate cell set is their product. probe_rank == 1 marks the
    all-ranks-1 primary cell, which is ALWAYS the storage/merge
    assignment regardless of the knobs — extra ranks only widen the
    classifier's candidate fetch."""
    import os

    cent = F.broadcast(spark.read.parquet(os.path.join(base, "centroids")))
    seeds = spark.read.parquet(os.path.join(base, "seeds"))
    coarse = F.broadcast(
        seeds.filter("is_coarse").select(
            F.col("cid").alias("ccid"),
            F.col("seed_id").alias("coarse_id"),
            F.col("seed_v").alias("coarse_v"),
        )
    )
    wa = Window.partitionBy("vec_id").orderBy("dist", "cid")
    lab_assigned = (
        delta.crossJoin(cent)
        .select(
            "vec_id", "v", "dn2", "cid", _sqdist_fx("v", "cv").alias("dist")
        )
        .withColumn("rl", F.row_number().over(wa))
        .filter(F.col("rl") <= nlabel)
        .drop("dist")
    )
    wc = Window.partitionBy("vec_id", "rl").orderBy("d", "coarse_id")
    d_coarse = (
        lab_assigned.join(coarse, lab_assigned["cid"] == coarse["ccid"])
        .select(
            "vec_id", "v", "dn2", "cid", "rl", "coarse_id",
            _sqdist_fx("v", "coarse_v").alias("d"),
        )
        .withColumn("rc", F.row_number().over(wc))
        .filter(F.col("rc") <= ncoarse)
        .select("vec_id", "v", "dn2", "cid", "rl", "rc", "coarse_id")
    )
    wf = Window.partitionBy("vec_id", "rl", "rc").orderBy("d", "seed_id")
    assigned = (
        d_coarse.join(
            F.broadcast(seeds),
            (d_coarse["cid"] == seeds["cid"])
            & (d_coarse["coarse_id"] == seeds["parent"]),
        )
        .select(
            "vec_id", "v", "dn2", d_coarse["cid"].alias("cid"),
            "rl", "rc", "seed_id",
            _sqdist_fx("v", "seed_v").alias("d"),
        )
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= nprobe)
        .select(
            "vec_id", "v", "dn2", "cid",
            F.col("seed_id").alias("subcell"),
            # 1 iff primary at every level; widened probes rank > 1
            F.when(
                (F.col("rl") == 1) & (F.col("rc") == 1) & (F.col("rn") == 1),
                F.lit(1),
            ).otherwise(F.lit(2)).alias("probe_rank"),
        )
    )
    return assigned


def _ivf_classify_delta(
    spark: SparkSession, delta: DataFrame, base: str, nprobe: int = 1,
    ncoarse: int = 1, nlabel: int = 1,
    ckpts: list[DataFrame] | None = None,
) -> DataFrame:
    """Classify a (vec_id, v, dn2) delta frame against the stored index
    at `base` — shared by the batch row above and the streaming
    foreachBatch row below (one logic, two ingestion modes).
    (nlabel, ncoarse, nprobe) are the per-level IVF recall knobs:
    candidates come from the product of widened probes and nn_cosine is
    monotone in each knob. The registered rows pin (1,1,1), where the
    ORACLE replays the single-cell probe. Measured at sf0.1 against the
    brute-force verdict at the deliberately weak tau=0.30 (SCALING.md
    round-11): (1,1,1) agrees 0.60; fine-level widening alone plateaus
    at 0.66 (each coarse parent has only ~2-3 children here, and the
    misses live at the LABEL level — the cosine nn often sits in
    another L2 label on this unnormalized synthetic corpus); widening
    all levels to (2,2,2) reaches 0.975 and (3,3,3) 0.99 at ~the same
    wall (candidate volume is still cells×64 rows per vec). TRUE
    near-dups (cosine ≈ 1) land in the (1,1,1) cell by construction
    (planted tests), which is why the registered near-dup rows keep the
    cheap single-cell probe."""
    import os

    # the routed assignment feeds TWO consumers — the primary (rank-1)
    # storage cell on the left of the final join and the candidate-cell
    # broadcast of the probe — and its crossJoin + three-window fold
    # subtree would execute once per consumer (the r12 profile showed the
    # whole routing tree twice in the maintenance plan, ~half the fold
    # cpu of the query). localCheckpoint pins it to one execution, same
    # idiom as the resplit row's routed delta (guide §1.2/§3.3).
    assigned = _ivf_route_delta(
        spark, delta, base, nprobe, ncoarse, nlabel
    ).localCheckpoint(eager=False)
    if ckpts is not None:
        # a long-running caller (the streaming classify's per-micro-batch
        # foreachBatch) must unpersist after its write or delta-sized
        # checkpoint blocks accumulate for the session lifetime (r12
        # ADVICE); batch callers' blocks are released by the ContextCleaner
        # when the returned frame is garbage collected
        ckpts.append(assigned)
    primary = assigned.filter(F.col("probe_rank") == 1)
    stored = spark.read.parquet(os.path.join(base, "corpus"))
    # probe_rank >= 1 is vacuously true (ranks are 1 or 2) but it is the
    # selectivity marker Catalyst's PartitionPruning heuristic needs to
    # keep injecting the dynamicpruning PartitionFilter on the stored
    # scan now that the build side is a checkpointed RDD: the rn<=k
    # window filters that used to mark the lineage as selective live
    # BEHIND the checkpoint barrier. The cell set genuinely is
    # delta-bounded-selective against the corpus partitions (plan-gated).
    cand = assigned.filter(F.col("probe_rank") >= 1)
    # no dedup needed on the probe side: a cell has exactly one coarse
    # parent and one label, so distinct (rl, rc, rn) paths can never
    # reach the same (cid, subcell) for a vec
    if max(nprobe, ncoarse, nlabel) > 1:
        # widened probes: the assigned frame holds up to k³ rows per
        # vec — broadcasting it WITH the vector would ship each query
        # vector k³ times (~166 MB at sf10 for (2,2,2) vs ~21 MB
        # deduped). Ship the cell list vector-free and attach (v, dn2)
        # once per vec through a second delta-sized broadcast; the fold
        # volume (the recall price) is unchanged.
        probe = stored.join(
            F.broadcast(cand.select("vec_id", "cid", "subcell")),
            ["cid", "subcell"],
        ).join(
            F.broadcast(delta.select("vec_id", "v", "dn2")), ["vec_id"]
        )
    else:
        probe = stored.join(
            F.broadcast(
                cand.select("vec_id", "v", "dn2", "cid", "subcell")
            ),
            ["cid", "subcell"],
        )
    if max(nprobe, ncoarse, nlabel) > 1:
        # banded ARGMAX (r12 VERDICT #6 retry at the widened volume): the
        # exact BigDecimal dot runs only on candidates whose double-fold
        # cosine could still be the true maximum — survivor iff
        # fast + band >= max(fast - band) over the vec. Any non-survivor
        # is strictly below some candidate's exact cosine (the band is a
        # proven bound on |cos_dec - cos_f64|, see cosine_band), so the
        # exact rank-1 row — including exact ties, later broken by sid —
        # is unchanged: value-identical, law-tested. At k=1 (~64
        # candidates/vec) this measured 1.18x WORSE in r12 and the plain
        # decimal fold is kept below; at (2,2,2) the candidate volume is
        # ~8x and the fold is the row's dominant cpu.
        from stateflow_spark.functions.similarity import cosine_band, dot_f64

        denom = F.sqrt("sn2") * F.sqrt("dn2")
        fast = (
            probe.filter((F.col("sn2") > 0) & (F.col("dn2") > 0))
            .select(
                "vec_id", "sid", "sv", "v",
                (dot_f64("sv", "v") / denom).alias("fast"),
                cosine_band("sv", denom).alias("band"),
                denom.alias("denom"),
            )
        )
        wv = Window.partitionBy("vec_id")
        scored = (
            fast.withColumn(
                "lomax", F.max(F.col("fast") - F.col("band")).over(wv)
            )
            .filter(F.col("fast") + F.col("band") >= F.col("lomax"))
            .select(
                "vec_id",
                "sid",
                (dot_dec("sv", "v") / F.col("denom")).alias("cosine"),
            )
        )
    else:
        scored = (
            probe
            # sn2/dn2 > 0: zero-norm vectors are similar to nothing (r9/r10)
            .filter((F.col("sn2") > 0) & (F.col("dn2") > 0))
            .select(
                "vec_id",
                "sid",
                (
                    dot_dec("sv", "v") / (F.sqrt("sn2") * F.sqrt("dn2"))
                ).alias("cosine"),
            )
        )
    wn = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "sid")
    nn = (
        scored.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("sid").alias("nn_id"),
            F.col("cosine").alias("nn_cosine"),
        )
    )
    # nn is delta-bounded (<= 1 row per delta vec) — broadcast it so the
    # final attach is a BroadcastHashJoin instead of a SortMergeJoin of
    # two delta-sized sides (2 exchanges + 2 sorts for nothing; guide §3.1)
    return (
        primary.select("vec_id", "cid", "subcell")
        .join(F.broadcast(nn), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "subcell",
            "nn_id",
            "nn_cosine",
            F.when(F.col("nn_cosine") >= _IVF_DELTA_DUP_TAU, F.lit("dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


@register(
    "stream_ivf_delta_classify",
    oracle=_IVF_MAINT_ORACLE,
    tags=("similarity", "ivf", "incremental", "streaming"),
)
def stream_ivf_delta_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of sim_ivf_index_maintenance: delta embeddings
    arrive as a stream and every micro-batch classifies against the same
    STORED index via foreachBatch — the always-on ingest posture (new
    embeddings classified as they land) vs the batch row's nightly-delta
    posture, sharing one classification body (_ivf_classify_delta), so
    the two can never drift. foreachBatch rather than a pure streaming
    plan because the routing argmins are per-key windows/aggregates —
    three chained stateful operators, beyond what a single streaming
    query may hold; per-batch batch-plans are exactly how production
    runs this (the upsert_parquet_sink pattern). Run to the end of the
    source, the processed set is the whole delta, so the append sink
    equals the batch job and the SAME oracle hash-gates it. Per-row
    classification is batch-independent, so the equality holds for ANY
    micro-batch partitioning of the delta — a batch-boundary dependence
    would be a bug this gate catches."""
    from stateflow_spark.storage import unpersist_local_checkpoint

    base = _ivf_index_dir(spark, sf_dir)
    ckpts: list[DataFrame] = []

    def release() -> None:
        # the routed-assignment checkpoints of a batch whose output is on
        # disk: without this an always-on stream accumulates delta-sized
        # blocks forever
        while ckpts:
            unpersist_local_checkpoint(ckpts.pop())

    def classify(batch_df: DataFrame) -> DataFrame:
        release()
        delta = _pin_n2(
            batch_df.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("v"),
            ).repartition(stage_tasks(spark), "vec_id")
        ).withColumnRenamed("n2", "dn2")
        return _ivf_classify_delta(spark, delta, base, ckpts=ckpts)

    try:
        return stream_delta_classify(
            spark, sf_dir, "embeddings", "vec_id", classify
        )
    finally:
        release()


# Registered widened-probe knobs (round-11 VERDICT #1): (2,2,2) is the
# production recall posture DEPLOY.md recommends for weak-threshold range
# classification — measured 0.975 agreement with brute force at tau=0.30
# where the (1,1,1) rows sit at 0.595 (SCALING.md round 11).
_IVF_WIDE_K = 2


def _ivf_widened_oracle(nlabel: int, ncoarse: int, nprobe: int) -> str:
    """DuckDB replay of _ivf_classify_delta at widened per-level probe
    knobs: primary assignment stays the rank-1 tree (asg/dcell), the
    neighbor search runs over the UNION of the rank ≤ k candidate cells
    (asg_w/dcoarse_w/dcell_w) — the same split as the Spark body, where
    probe_rank == 1 picks the storage cell and all routed rows feed the
    candidate fetch."""
    return f"""
    WITH {_IVF_ROUTE_CTES},
    {_ivf_widened_ctes(nlabel, ncoarse, nprobe)},
    norms AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT dw.vec_id, oc.vec_id AS sid,
               CAST(CAST(SUM(CAST(o.x * d.x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS dot
        FROM dcell_w dw
        JOIN oldcell oc ON oc.subcell = dw.subcell
        JOIN delta d ON d.vec_id = dw.vec_id
        JOIN old o ON o.vec_id = oc.vec_id AND o.pos = d.pos
        GROUP BY dw.vec_id, oc.vec_id
    ),
    scored AS (
        SELECT dots.vec_id, sid, dot / (sqrt(nd.n2) * sqrt(ns.n2)) AS cosine
        FROM dots
        JOIN norms nd ON nd.vec_id = dots.vec_id
        JOIN norms ns ON ns.vec_id = sid
        -- n2 > 0: zero-norm vectors are similar to nothing (r9/r10)
        WHERE nd.n2 > 0 AND ns.n2 > 0
    ),
    nn AS (
        SELECT vec_id, sid, cosine FROM (
            SELECT vec_id, sid, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, sid) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cid, dcell.subcell, nn.sid AS nn_id,
           nn.cosine AS nn_cosine,
           CASE WHEN nn.cosine >= {_IVF_DELTA_DUP_TAU} THEN 'dup'
                ELSE 'new' END AS verdict
    FROM asg a
    JOIN dcell ON dcell.vec_id = a.vec_id
    LEFT JOIN nn ON nn.vec_id = a.vec_id
    """


@register(
    "sim_ivf_widened_classify",
    oracle=_ivf_widened_oracle(_IVF_WIDE_K, _IVF_WIDE_K, _IVF_WIDE_K),
    tags=("similarity", "ivf", "incremental", "delta", "recall", "bench"),
)
def sim_ivf_widened_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_index_maintenance at the PRODUCTION recall posture
    (round-11 VERDICT #1): the same shared classify body, with every
    per-level probe knob widened to k = _IVF_WIDE_K — each delta row
    keeps its k nearest labels, the k nearest coarse seeds under each,
    and the k
    nearest fine cells under each of those, and the neighbor search runs
    over the union of candidate cells while the PRIMARY (rank-1) cell
    remains the storage assignment. This is the setting a production user
    of weak-threshold range classification actually runs — measured
    0.975 agreement with the brute-force verdict at tau=0.30 where the
    single-cell probe sits at 0.595 (SCALING.md round 11) — now under
    the DuckDB gate instead of a unit test: the oracle replays the
    widened routing rank-for-rank (asg_w/dcoarse_w/dcell_w mirror
    _ivf_route_delta's three windows) and the widened candidate union.

    Scale shape: identical to the (1,1,1) row — candidate volume is
    cells×~64 rows per delta vec (k³ = 8 cells instead of 1), stored
    reads keep their DPP partition filters, every shuffle stays
    delta-sized. Measured wall at sf0.1: 2.21 s vs the narrow row's
    1.50 s (interleaved best-of-5, round 12) — 1.48× for 8× the
    candidate cells, because routing folds and the probe join's
    delta side dominate, not the per-cell scan. Law test pins that the
    (1,1,1) verdicts are a subset-consistent restriction: widened
    nn_cosine ≥ narrow nn_cosine per vec, so narrow 'dup' implies
    widened 'dup'."""
    delta = _pin_n2(
        _corpus(spark, sf_dir, fan_out=True).filter(F.col("vec_id") % 5 == 0)
    ).withColumnRenamed("n2", "dn2")
    return _ivf_classify_delta(
        spark, delta, _ivf_index_dir(spark, sf_dir),
        nprobe=_IVF_WIDE_K, ncoarse=_IVF_WIDE_K, nlabel=_IVF_WIDE_K,
    )


# a routed cell holding more than 2x its target population is flagged for
# re-split at the next nightly build (daily merges stay cheap appends;
# structural work is deferred to the job that already pays a corpus pass)
_IVF_SPLIT_FACTOR = 2


@register(
    "sim_ivf_index_merge",
    oracle=f"""
    WITH {_IVF_ROUTE_CTES},
    oldcnt AS (
        SELECT o.cid, oc.subcell, COUNT(*) AS old_n
        FROM oldrows o JOIN oldcell oc ON oc.vec_id = o.vec_id
        GROUP BY o.cid, oc.subcell
    ),
    addcnt AS (
        SELECT a.cid, dc.subcell, COUNT(*) AS added_n
        FROM asg a JOIN dcell dc ON dc.vec_id = a.vec_id
        GROUP BY a.cid, dc.subcell
    )
    SELECT ad.cid, ad.subcell,
           CAST(COALESCE(oc.old_n, 0) AS BIGINT) AS old_n,
           CAST(ad.added_n AS BIGINT) AS added_n,
           CAST(COALESCE(oc.old_n, 0) + ad.added_n AS BIGINT) AS new_n,
           COALESCE(oc.old_n, 0) + ad.added_n
               > {_IVF_SPLIT_FACTOR * _IVF_SUBCELL_POP} AS needs_split
    FROM addcnt ad LEFT JOIN oldcnt oc
      ON oc.cid = ad.cid AND oc.subcell = ad.subcell
    """,
    tags=("similarity", "ivf", "incremental", "merge"),
)
def sim_ivf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge accounting for the daily delta: route today's arrivals into
    their stored sub-cells (the classifier's routing, shared code) and
    emit, per TOUCHED cell, the stored population, the appended count,
    the merged total, and whether the cell now exceeds 2× its target
    population — the re-split worklist for the next nightly build. This
    completes the index LIFECYCLE: build (nightly) → probe/classify
    (daily, batch + streaming) → merge + deferred split (this row).
    Appending routed rows to a hive-partitioned layout is a partition-
    local file write; the structural decision (which cells to re-seed)
    is exactly this output.

    Scale shape: the delta routes through the same ~2·sqrt(S)-fold tree
    as the classifier; the stored side is counted ONLY for touched
    cells — the count aggregate runs UNDER the broadcast join with the
    delta's (cid, subcell) set, so dynamic partition pruning skips
    untouched cid partitions entirely and the output is bounded by the
    delta's cell set, never the index size. Exactness: routing is the
    shared fixed-point tree (oracle-replayed); counts are exact; the
    split flag is integer arithmetic."""
    base = _ivf_index_dir(spark, sf_dir)
    routed = _ivf_routed_delta_df(spark, sf_dir, base)
    return _ivf_merged_cells(
        spark, base, routed, cap=_IVF_SPLIT_FACTOR * _IVF_SUBCELL_POP
    )


def _ivf_routed_delta_df(
    spark: SparkSession, sf_dir: str, base: str
) -> DataFrame:
    """Today's arrivals routed through the stored index's assignment
    tree — shared by the merge-accounting and re-split rows."""
    delta = _pin_n2(
        _corpus(spark, sf_dir, fan_out=True).filter(F.col("vec_id") % 5 == 0)
    ).withColumnRenamed("n2", "dn2")
    return _ivf_route_delta(spark, delta, base)


def _ivf_merged_cells(
    spark: SparkSession, base: str, routed: DataFrame, cap: int
) -> DataFrame:
    """Per-TOUCHED-cell merge accounting (old_n, added_n, new_n,
    needs_split vs `cap`) — the body of sim_ivf_index_merge, shared with
    the re-split job that consumes its worklist."""
    import os

    touched = routed.groupBy("cid", "subcell").agg(
        F.count(F.lit(1)).alias("added_n")
    )
    stored = spark.read.parquet(os.path.join(base, "corpus"))
    old_cnt = (
        stored.join(F.broadcast(touched.select("cid", "subcell")),
                    ["cid", "subcell"])
        .groupBy("cid", "subcell")
        .agg(F.count(F.lit(1)).alias("old_n"))
    )
    # old_cnt is one row per TOUCHED cell (delta-bounded — the broadcast
    # above already restricted the stored side), so the accounting attach
    # broadcasts instead of sort-merging two delta-sized aggregates
    # (2 exchanges + 2 sorts per plan instance; the resplit row inlines
    # this subtree several times — guide §3.1)
    return (
        touched.join(F.broadcast(old_cnt), ["cid", "subcell"], "left")
        .select(
            "cid",
            "subcell",
            F.coalesce(F.col("old_n"), F.lit(0)).alias("old_n"),
            "added_n",
            (F.coalesce(F.col("old_n"), F.lit(0)) + F.col("added_n")).alias(
                "new_n"
            ),
        )
        .withColumn("needs_split", F.col("new_n") > cap)
    )


# Registered-row re-split constants: same FORMULAS as production (cap =
# 2x target pop, split into ceil(n/pop) cells) but a smaller target
# population, so the driver's sf0.01/sf0.1 gates exercise real splits —
# at the production 64-row target no synthetic-corpus cell ever flags
# (max merged cell 59 at sf0.01 / 120 at sf0.1) and the row would emit
# zero rows at every shipped scale, the vacuous-stamp failure mode r10
# fixed for the audio row. The planted test runs the production
# constants against a genuinely over-full cell.
_IVF_RESPLIT_POP = 16


def _ivf_resplit_cells(
    spark: SparkSession, base: str, routed: DataFrame, pop: int, cap: int
) -> DataFrame:
    """Consume the merge worklist: for every cell whose merged population
    exceeds `cap`, pick ceil(n/pop) sub-seeds among the MERGED members —
    the old seed always stays seed #1 (its row in the stored seeds table
    keeps both its fine and possible coarse roles, so the seeds update is
    append-only and no cell is ever orphaned), the rest are the
    smallest-md5 members (the build's deterministic-sampling rule) — and
    reassign every member to its nearest new seed by the tie-free
    fixed-point kernel. Returns the post-split accounting
    (cid, subcell, new_subcell, n_members, still_hot).

    Scale shape: members come only from FLAGGED cells — the stored scan
    is pruned to flagged cids at runtime (broadcast join → dynamic
    partition pruning, plan-gated) and the work is bounded by the
    worklist, never the index. The within-cell windows partition by
    (cid, subcell): a cell is at most a few multiples of `pop` rows by
    construction, so per-partition sorts are tiny."""
    reasg = _ivf_resplit_cells_assignments(spark, base, routed, pop, cap)
    return (
        reasg.groupBy("cid", "subcell", "new_subcell")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("still_hot", F.col("n_members") > cap)
    )


# Re-split replay CTE block (flag worklist → merged members → new seed
# pick → per-member reassignment) — shared by the resplit-accounting
# oracle and the post-apply read-back oracle so the two replays of the
# SAME structural decision can never diverge. Composes after the route
# CTEs (uses oldrows/oldcell/asg/dcell/sqd).
def _ivf_reasg_ctes(pop: int, cap: int) -> str:
    return f"""oldcnt AS (
        SELECT o.cid, oc.subcell, COUNT(*) AS old_n
        FROM oldrows o JOIN oldcell oc ON oc.vec_id = o.vec_id
        GROUP BY o.cid, oc.subcell
    ),
    addcnt AS (
        SELECT a.cid, dc.subcell, COUNT(*) AS added_n
        FROM asg a JOIN dcell dc ON dc.vec_id = a.vec_id
        GROUP BY a.cid, dc.subcell
    ),
    flagged AS (
        SELECT ad.cid, ad.subcell
        FROM addcnt ad LEFT JOIN oldcnt oc
          ON oc.cid = ad.cid AND oc.subcell = ad.subcell
        WHERE COALESCE(oc.old_n, 0) + ad.added_n > {cap}
    ),
    members AS (
        SELECT f.cid, f.subcell, oc.vec_id
        FROM flagged f
        JOIN oldrows o ON o.cid = f.cid
        JOIN oldcell oc ON oc.vec_id = o.vec_id AND oc.subcell = f.subcell
        UNION ALL
        SELECT f.cid, f.subcell, dc.vec_id
        FROM flagged f
        JOIN asg a ON a.cid = f.cid
        JOIN dcell dc ON dc.vec_id = a.vec_id AND dc.subcell = f.subcell
    ),
    ranked AS (
        SELECT cid, subcell, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY cid, subcell
                   ORDER BY CASE WHEN vec_id = subcell THEN 0 ELSE 1 END,
                            md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk,
               COUNT(*) OVER (PARTITION BY cid, subcell) AS n
        FROM members
    ),
    seeds2 AS (
        SELECT cid, subcell, vec_id AS new_subcell FROM ranked
        WHERE rk <= CAST(ceil(CAST(n AS DOUBLE) / {pop}) AS INT)
    ),
    sqdm AS (
        -- vec x NEW-SEED-candidate pairs (seeds2.new_subcell is a
        -- flagged-cell member, not a seeds0 seed, so the restricted
        -- sqd above cannot serve these joins). Same kernel expression,
        -- so any pair present in both CTEs carries the same d.
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(CAST(trunc((a.x - b.x) * (a.x - b.x) * 1e12)
                    AS BIGINT)) AS DOUBLE) / 1e12 AS d
        FROM ex a JOIN ex b ON b.pos = a.pos
        WHERE b.vec_id IN (SELECT new_subcell FROM seeds2)
        GROUP BY a.vec_id, b.vec_id
    ),
    reasg AS (
        SELECT cid, subcell, vec_id, new_subcell FROM (
            SELECT m.cid, m.subcell, m.vec_id, s.new_subcell,
                   ROW_NUMBER() OVER (
                       PARTITION BY m.cid, m.subcell, m.vec_id
                       ORDER BY q.d, s.new_subcell) AS rn
            FROM members m
            JOIN seeds2 s ON s.cid = m.cid AND s.subcell = m.subcell
            JOIN sqdm q ON q.va = m.vec_id AND q.vb = s.new_subcell
        ) WHERE rn = 1
    )"""


def _ivf_resplit_oracle(pop: int, cap: int) -> str:
    """DuckDB replay of _ivf_resplit_cells atop the shared routing tree."""
    return f"""
    WITH {_IVF_ROUTE_CTES},
    {_ivf_reasg_ctes(pop, cap)}
    SELECT cid, subcell, new_subcell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           COUNT(*) > {cap} AS still_hot
    FROM reasg GROUP BY cid, subcell, new_subcell
    """


@register(
    "sim_ivf_index_resplit",
    oracle=_ivf_resplit_oracle(_IVF_RESPLIT_POP, 2 * _IVF_RESPLIT_POP),
    tags=("similarity", "ivf", "incremental", "resplit", "bench"),
)
def sim_ivf_index_resplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute sim_ivf_index_merge's re-split worklist (round-10 VERDICT
    #4): cells whose merged population exceeds 2× the target are re-
    seeded in place — ceil(n/pop) sub-seeds (old seed retained as #1,
    rest by smallest md5), members reassigned by the shared fixed-point
    argmin — and the output is the post-split population per new cell
    with the cleared/uncleared flag. ivf_apply_resplit below performs
    the corresponding partition-local rewrite; this row is the
    structural decision + accounting, oracle-replayed end to end.

    The registered row runs the production FORMULAS at a 16-row target
    population (cap 32) so the driver gates hash real splits at
    sf0.01/sf0.1 (see _IVF_RESPLIT_POP note); the planted test exercises
    the production 64/128 constants on a genuinely over-full cell and
    pins that the flag clears."""
    base = _ivf_index_dir(spark, sf_dir)
    # the routed delta feeds THREE consumers (flag accounting, member
    # fetch, reassignment) and its 3-window routing subtree would re-run
    # in each; localCheckpoint pins it to one execution — the frame is
    # delta-sized by construction (measured 4.8 s → ~2 s at sf0.1)
    routed = _ivf_routed_delta_df(spark, sf_dir, base).localCheckpoint(
        eager=False
    )
    return _ivf_resplit_cells(
        spark, base, routed, _IVF_RESPLIT_POP, 2 * _IVF_RESPLIT_POP
    )


def _link_or_copy_tree(
    src: str, dst: str, skip_dirs: frozenset[str] = frozenset()
) -> None:
    """Mirror `src` into `dst` with HARDLINKS (fallback: copy across
    devices), skipping any directory whose basename is in `skip_dirs` —
    the publish primitive of the versioned apply jobs: untouched files
    cost an inode reference, never a data copy, and stay byte-identical
    (same blocks) to the source. Only DATA files are linked; commit
    markers (_SUCCESS, .crc) are copied, because Hadoop's committer
    overwrites them IN PLACE on a later append into the new tree — a
    hardlinked marker would let that write mutate the source's inode."""
    import os
    import shutil

    for root, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if d not in skip_dirs]
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            if f.endswith(".parquet") or f.endswith(".parquet.crc"):
                try:
                    os.link(s, d)
                    continue
                except OSError:
                    pass
            shutil.copy2(s, d)


def ivf_apply_resplit(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    pop: int = _IVF_SUBCELL_POP,
    cap: int = _IVF_SPLIT_FACTOR * _IVF_SUBCELL_POP,
    delta: DataFrame | None = None,
) -> str:
    """EXECUTE the re-split against an index directory and PUBLISH the
    result as a NEW index version: fold the routed delta into the
    flagged cids' partitions, write ONLY those partitions fresh
    (untouched cids' files are hardlinked — an inode reference, never a
    data copy, byte-identical to the source), append the new fine seeds
    (parent = the split cell's parent, so probes route to them through
    the same coarse level; the old seed keeps its row and roles), and
    atomically rename the fully-built version into place. The work is
    delta-sized: members and rewritten rows are bounded by the flagged
    cells' cids.

    Concurrency contract (round-11 VERDICT #4 + ADVICE medium): the
    SOURCE directory is never mutated — every read (corpus, seeds,
    routing) comes from `index_dir` (or the session-cached nightly
    snapshot when None), and the new version is published with
    versioning.build_once. A concurrent prober therefore sees either the
    fully-old index (the source, untouched throughout) or the fully-new
    one (the returned path, which exists only after the rename) — never
    a corpus/seeds mixed state. Production repoints its CURRENT pointer
    at the returned path (DEPLOY.md). Returns the new version's
    directory (or the source itself when the worklist is empty —
    nothing changed, so the old version IS the new one)."""
    import os
    import uuid

    source = (
        index_dir if index_dir is not None else _ivf_index_dir(spark, sf_dir)
    )
    if delta is None:
        delta = _pin_n2(
            _corpus(spark, sf_dir, fan_out=True).filter(
                F.col("vec_id") % 5 == 0
            )
        ).withColumnRenamed("n2", "dn2")
    # five consumers (flag worklist, flagged cids, merged rows' delta
    # side, reassignment, new-seed vectors) — pin the routing subtree to
    # one execution; the frame is delta-sized
    routed = _ivf_route_delta(spark, delta, source).localCheckpoint(
        eager=False
    )
    # the flagged worklist is driver-role by design (it decides which
    # partition directories to link vs rewrite) and bounded by the
    # flagged-cell count, never the index; shared with the reassignment
    # below so the accounting subtree executes exactly once
    flagged_pairs = _flagged_split_pairs(spark, source, routed, cap)
    flagged_cid_set = {c for c, _ in flagged_pairs}
    if not flagged_cid_set:
        return source  # empty worklist: the old version stays current
    flagged_cids = local_frame(
        spark, [(c,) for c in sorted(flagged_cid_set)], "cid int"
    )

    def build(tmp: str) -> None:
        # untouched cid partitions, the seeds files, and the centroids are
        # hardlinked; flagged partitions and the new seed rows are written
        # fresh below
        _link_or_copy_tree(
            source, tmp,
            skip_dirs=frozenset(f"cid={c}" for c in flagged_cid_set),
        )
        # post-split assignment for the flagged cells
        reasg = _ivf_resplit_cells_assignments(
            spark, source, routed, pop, cap
        )
        stored = spark.read.parquet(os.path.join(source, "corpus"))
        merged_rows = (
            stored.join(F.broadcast(flagged_cids), "cid")
            .select("cid", "subcell", "sid", "sv", "sn2")
            .unionByName(
                routed.join(F.broadcast(flagged_cids), "cid").select(
                    "cid", "subcell", F.col("vec_id").alias("sid"),
                    F.col("v").alias("sv"), F.col("dn2").alias("sn2"),
                )
            )
        )
        rewritten = (
            merged_rows.join(
                reasg.select(
                    "cid", "subcell", F.col("vec_id").alias("sid"),
                    "new_subcell",
                ),
                ["cid", "subcell", "sid"],
                "left",
            )
            .select(
                "cid",
                F.coalesce(F.col("new_subcell"), F.col("subcell")).alias(
                    "subcell"
                ),
                "sid", "sv", "sn2",
            )
        )
        # the scratch corpus holds only unflagged partitions, so a plain
        # partitioned append writes exactly the flagged cids' files
        rewritten.select("subcell", "sid", "sv", "sn2", "cid").write.mode(
            "append"
        ).partitionBy("cid").parquet(os.path.join(tmp, "corpus"))
        # append-only seeds update: the NEW seeds (old seed excluded — its
        # row already exists) hang off the old cell's parent
        seeds = spark.read.parquet(os.path.join(source, "seeds"))
        new_seed_rows = (
            reasg.select("cid", "subcell", "new_subcell")
            .distinct()
            .filter(F.col("new_subcell") != F.col("subcell"))
            .join(
                seeds.select(
                    F.col("cid").alias("cid"),
                    F.col("seed_id").alias("subcell"),
                    "parent",
                ),
                ["cid", "subcell"],
            )
            .join(
                stored.select(
                    "cid", F.col("sid").alias("new_subcell"),
                    F.col("sv").alias("seed_v"),
                ).unionByName(
                    routed.select(
                        "cid", F.col("vec_id").alias("new_subcell"),
                        F.col("v").alias("seed_v"),
                    )
                ).distinct(),
                ["cid", "new_subcell"],
            )
            .select(
                "cid", F.col("new_subcell").alias("seed_id"), "seed_v",
                F.lit(False).alias("is_coarse"), "parent",
            )
        )
        new_seed_rows.write.mode("append").parquet(
            os.path.join(tmp, "seeds")
        )

    return build_once(
        source.rstrip("/") + ".applied." + uuid.uuid4().hex[:8], build
    )


def _flagged_split_pairs(
    spark: SparkSession, base: str, routed: DataFrame, cap: int
) -> list[tuple]:
    """The re-split worklist as a DRIVER list of flagged (cid, subcell)
    pairs — the same bounded driver-role read-back class as
    ivf_apply_resplit's flagged-cid set (it decides which partitions to
    rewrite) and bounded by the delta's touched-cell count, never the
    index."""
    flagged = (
        _ivf_merged_cells(spark, base, routed, cap)
        .filter("needs_split")
        .select("cid", "subcell")
    )
    return sorted((r.cid, r.subcell) for r in flagged.collect())


def _ivf_resplit_cells_assignments(
    spark: SparkSession, base: str, routed: DataFrame, pop: int, cap: int,
    flagged_pairs: list[tuple] | None = None,
) -> DataFrame:
    """Per-member post-split assignment (cid, subcell, vec_id,
    new_subcell) — the row-level form of _ivf_resplit_cells, consumed by
    the apply job's partition rewrite."""
    import os

    # The flagged worklist is read back once and applied as LITERAL
    # filters (r13, guide §1.2/§7.2): the earlier broadcast-join form
    # inlined the whole merge-accounting subtree (routed agg + stored
    # count + joins) into BOTH member fetches, which Catalyst re-walked
    # per copy (~2.5 s driver-side plan time per invocation at sf0.1),
    # and pruned the stored scan only at runtime via dynamicpruning.
    # Literal IN filters prune the cid partitions STATICALLY at plan
    # time — strictly earlier than DPP — and the accounting subtree now
    # executes exactly once, as the worklist job.
    if flagged_pairs is None:
        flagged_pairs = _flagged_split_pairs(spark, base, routed, cap)
    cids = sorted({c for c, _ in flagged_pairs})
    if flagged_pairs:
        pair_sql = ", ".join(f"({c}, {s}L)" for c, s in flagged_pairs)
        in_pairs = F.col("cid").isin(cids) & F.expr(
            f"(cid, subcell) IN ({pair_sql})"
        )
    else:
        in_pairs = F.lit(False)  # empty worklist → statically empty plan
    stored = spark.read.parquet(os.path.join(base, "corpus"))
    m_old = stored.filter(in_pairs).select(
        "cid", "subcell", F.col("sid").alias("vec_id"),
        F.col("sv").alias("v"),
    )
    m_new = routed.filter(in_pairs).select(
        "cid", "subcell", "vec_id", "v"
    )
    members = m_old.unionByName(m_new)
    wcell = Window.partitionBy("cid", "subcell")
    wrank = wcell.orderBy(
        (F.col("vec_id") != F.col("subcell")).cast("int"),
        F.md5(F.col("vec_id").cast("string")),
        "vec_id",
    )
    ranked = members.select(
        "cid", "subcell", "vec_id", "v",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wcell).alias("n"),
    )
    seeds2 = ranked.filter(
        F.col("rk") <= F.ceil(F.col("n") / F.lit(pop)).cast("int")
    ).select(
        "cid", "subcell", F.col("vec_id").alias("new_subcell"),
        F.col("v").alias("seed_v"),
    )
    return (
        members.join(F.broadcast(seeds2), ["cid", "subcell"])
        .select(
            "cid", "subcell", "vec_id",
            F.struct(
                _sqdist_fx("v", "seed_v").alias("d"), F.col("new_subcell")
            ).alias("ds"),
        )
        .groupBy("cid", "subcell", "vec_id")
        .agg(F.min("ds").alias("m"))
        .select("cid", "subcell", "vec_id", F.col("m.new_subcell").alias("new_subcell"))
    )


# Two-day split for the post-apply read-back row: day 1 is folded into
# the index by ivf_apply_resplit, day 2 is classified against the
# APPLIED layout — both halves of the standard vec_id % 5 = 0 delta, so
# neither is in the nightly corpus.
_IVF_DAY1_PRED = "vec_id % 10 = 0"
_IVF_DAY2_PRED = "vec_id % 10 = 5"


def _ivf_post_resplit_oracle(pop: int, cap: int) -> str:
    """DuckDB replay of the FULL apply-then-probe chain: route day 1,
    flag + re-split (shared reasg CTEs), materialize the applied layout
    (flagged cids merged + reassigned, other cids untouched, new fine
    seeds appended under the split cell's parent), then classify day 2
    against that layout — every step the SQL twin of ivf_apply_resplit +
    _ivf_classify_delta, so the driver stamp covers the rewrite itself."""
    return f"""
    WITH {_ivf_route_ctes(_IVF_DAY1_PRED)},
    {_ivf_reasg_ctes(pop, cap)},
    flagged_cids AS (SELECT DISTINCT cid FROM flagged),
    newseeds AS (
        SELECT s.cid, s.new_subcell AS seed_id, p.parent
        FROM (SELECT DISTINCT cid, subcell, new_subcell FROM reasg
              WHERE new_subcell <> subcell) s
        JOIN parent p ON p.seed_id = s.subcell
    ),
    seeds_app AS (
        SELECT s0.cid, s0.seed_id, p.parent
        FROM seeds0 s0 JOIN parent p ON p.seed_id = s0.seed_id
        UNION ALL
        SELECT cid, seed_id, parent FROM newseeds
    ),
    day1p AS (
        SELECT a.vec_id, a.cid, dc.subcell
        FROM asg a JOIN dcell dc ON dc.vec_id = a.vec_id
    ),
    corpus_app AS (
        SELECT o.cid, oc.subcell, o.vec_id AS sid
        FROM oldrows o JOIN oldcell oc ON oc.vec_id = o.vec_id
        WHERE o.cid NOT IN (SELECT cid FROM flagged_cids)
        UNION ALL
        SELECT m.cid, COALESCE(r.new_subcell, m.subcell) AS subcell, m.sid
        FROM (
            SELECT o.cid, oc.subcell, o.vec_id AS sid
            FROM oldrows o JOIN oldcell oc ON oc.vec_id = o.vec_id
            WHERE o.cid IN (SELECT cid FROM flagged_cids)
            UNION ALL
            SELECT cid, subcell, vec_id AS sid FROM day1p
            WHERE cid IN (SELECT cid FROM flagged_cids)
        ) m
        LEFT JOIN reasg r ON r.cid = m.cid AND r.subcell = m.subcell
                         AND r.vec_id = m.sid
    ),
    delta2 AS (SELECT vec_id, pos, x FROM ex WHERE {_IVF_DAY2_PRED}),
    cdist2 AS (
        SELECT d.vec_id, c.cid,
               CAST(SUM(CAST(trunc((d.x - c.c) * (d.x - c.c) * 1e12)
                    AS BIGINT)) AS DOUBLE) / 1e12 AS dist
        FROM delta2 d JOIN cent c ON c.pos = d.pos
        GROUP BY d.vec_id, c.cid
    ),
    asg2 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM cdist2
        ) WHERE rn = 1
    ),
    dcoarse2 AS (
        SELECT vec_id, coarse_id FROM (
            SELECT a.vec_id, c.seed_id AS coarse_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY q.d, c.seed_id) AS rn
            FROM asg2 a
            JOIN seeds0 c ON c.cid = a.cid AND c.is_coarse
            JOIN sqd q ON q.va = a.vec_id AND q.vb = c.seed_id
        ) WHERE rn = 1
    ),
    sqd_app AS (
        -- seeds_app spans seeds0 (covered by sqd) and appended new
        -- seeds (covered by sqdm); UNION dedupes the overlap, which is
        -- exact because both CTEs share the one fixed-point kernel.
        SELECT va, vb, d FROM sqd
        UNION
        SELECT va, vb, d FROM sqdm
    ),
    dcell2 AS (
        SELECT vec_id, cid, subcell FROM (
            SELECT a.vec_id, a.cid, s.seed_id AS subcell,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY q.d, s.seed_id) AS rn
            FROM asg2 a
            JOIN dcoarse2 dc2 ON dc2.vec_id = a.vec_id
            JOIN seeds_app s ON s.cid = a.cid AND s.parent = dc2.coarse_id
            JOIN sqd_app q ON q.va = a.vec_id AND q.vb = s.seed_id
        ) WHERE rn = 1
    ),
    norms AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS n2
        FROM ex GROUP BY vec_id
    ),
    dots AS (
        SELECT dc.vec_id, ca.sid,
               CAST(CAST(SUM(CAST(o.x * d.x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS dot
        FROM dcell2 dc
        JOIN corpus_app ca ON ca.cid = dc.cid AND ca.subcell = dc.subcell
        JOIN delta2 d ON d.vec_id = dc.vec_id
        JOIN ex o ON o.vec_id = ca.sid AND o.pos = d.pos
        GROUP BY dc.vec_id, ca.sid
    ),
    scored AS (
        SELECT dots.vec_id, sid, dot / (sqrt(nd.n2) * sqrt(ns.n2)) AS cosine
        FROM dots
        JOIN norms nd ON nd.vec_id = dots.vec_id
        JOIN norms ns ON ns.vec_id = sid
        -- n2 > 0: zero-norm vectors are similar to nothing (r9/r10)
        WHERE nd.n2 > 0 AND ns.n2 > 0
    ),
    nn AS (
        SELECT vec_id, sid, cosine FROM (
            SELECT vec_id, sid, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, sid) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cid, dcell2.subcell, nn.sid AS nn_id,
           nn.cosine AS nn_cosine,
           CASE WHEN nn.cosine >= {_IVF_DELTA_DUP_TAU} THEN 'dup'
                ELSE 'new' END AS verdict
    FROM asg2 a
    JOIN dcell2 ON dcell2.vec_id = a.vec_id
    LEFT JOIN nn ON nn.vec_id = a.vec_id
    """


def _ivf_applied_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once APPLIED index for the post-resplit read-back row: day 1
    of the two-day split folded in by ivf_apply_resplit at the
    registered-row constants, then RENAMED to a deterministic sibling of
    the nightly snapshot (itself mtime-keyed, so a corpus rewrite
    re-applies). The rename gives cross-process reuse — without it every
    session would publish a fresh uuid-named version of the SAME
    deterministic content and leak it for the life of /tmp, the
    accumulation class round-11 ADVICE flagged on the delta dumps. The
    day-1 delta and the apply are deterministic, so renaming the
    published version is exactly the CURRENT-pointer swap of the
    DEPLOY.md contract; a concurrent loser deletes its own version."""
    base = _ivf_index_dir(spark, sf_dir)
    det = f"{base}.applied.post-resplit-{_IVF_RESPLIT_POP}"
    if is_ready(det):
        return det
    day1 = _pin_n2(
        _corpus(spark, sf_dir, fan_out=True).filter(_IVF_DAY1_PRED)
    ).withColumnRenamed("n2", "dn2")
    applied = ivf_apply_resplit(
        spark, sf_dir,
        pop=_IVF_RESPLIT_POP, cap=2 * _IVF_RESPLIT_POP, delta=day1,
    )
    if applied == base:  # empty worklist: nothing was published
        return base
    return publish(applied, det)


@register(
    "sim_ivf_post_resplit_classify",
    oracle=_ivf_post_resplit_oracle(_IVF_RESPLIT_POP, 2 * _IVF_RESPLIT_POP),
    tags=("similarity", "ivf", "incremental", "resplit", "delta", "bench"),
)
def sim_ivf_post_resplit_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Second-day delta classified against the APPLIED (re-split) index
    (round-11 VERDICT #2): day 1 of the split delta is folded into the
    index by ivf_apply_resplit — flagged cells re-seeded, members
    reassigned, partitions rewritten, new fine seeds appended, published
    as a new index version — and day 2 then routes and probes through
    that REWRITTEN layout via the unchanged classify body. The oracle
    replays the entire chain (routing → flag → re-split → applied
    corpus + seeds → day-2 probe), so the driver stamp proves the
    rewrite itself serves probes correctly — before this row the applied
    layout was planted-test-only.

    Scale shape: the apply job is worklist-bounded (flagged cids only;
    untouched partitions are hardlinks) and the day-2 classify keeps the
    (1,1,1) row's shape — DPP-pruned stored reads, delta-sized shuffles,
    broadcast probe join (plan-gated against the APPLIED dir)."""
    applied = _ivf_applied_dir(spark, sf_dir)
    day2 = _pin_n2(
        _corpus(spark, sf_dir, fan_out=True).filter(_IVF_DAY2_PRED)
    ).withColumnRenamed("n2", "dn2")
    return _ivf_classify_delta(spark, day2, applied)
