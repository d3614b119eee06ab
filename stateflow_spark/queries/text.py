"""Text-analysis queries over the `documents` table — the training-data
pipeline surface: token counting, quality scoring, language-ID heuristic,
document fingerprinting. All expressions stay JVM-side (built-in functions +
higher-order lambdas), no Python UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stateflow_spark.catalog import load, stage_tasks, table_path
from stateflow_spark.queries.common import register, stream_delta_classify
from stateflow_spark.storage import local_frame, register_bucketed, write_bucketed_files
from stateflow_spark.versioning import build_once, source_key

STOPWORDS = ("the", "a", "of", "and", "to")
STOP_SQL = "('the', 'a', 'of', 'and', 'to')"


def _tokens():
    return F.split(F.col("text"), " ")


@register(
    "text_token_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
           MAX(len(string_split(text, ' '))) AS max_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting aggregated per language label."""
    d = load(spark, sf_dir, "documents")
    ntok = F.size(_tokens())
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        (F.sum(ntok).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_tokens"
        ),
        F.max(ntok).alias("max_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN {STOP_SQL})) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
           (len(string_split(text, ' ')) BETWEEN 20 AND 2000
            AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.25)
               AS quality_ok
    FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, type/token ratio, stopword
    ratio, and a boolean quality gate (the C4/Gopher-style length+repetition
    filters, minus punctuation rules the synthetic corpus can't exercise)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    ntok = F.size(toks)
    ndis = F.size(F.array_distinct(toks))
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    nstop = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_list}))"))
    distinct_ratio = ndis.cast("double") / ntok.cast("double")
    stopword_ratio = nstop.cast("double") / ntok.cast("double")
    return d.select(
        "doc_id",
        ntok.alias("n_tokens"),
        ndis.alias("n_distinct"),
        distinct_ratio.alias("distinct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        (ntok.between(20, 2000) & (distinct_ratio > 0.25)).alias("quality_ok"),
    )


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t = 'the' OR t = 'a')) * 10
                     >= len(string_split(text, ' ')) THEN 'en'
                ELSE 'other' END AS pred_lang,
           (lang = CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t = 'the' OR t = 'a')) * 10
                     >= len(string_split(text, ' ')) THEN 'en'
                ELSE 'other' END) AS agrees
    FROM documents
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-marker token frequency ≥ 10% → 'en'.
    (A real n-gram profile model slots in here; the synthetic corpus shares
    one vocabulary so only the deterministic rule is checkable.)"""
    d = load(spark, sf_dir, "documents")
    nmark = F.size(F.expr("filter(split(text, ' '), t -> t = 'the' OR t = 'a')"))
    ntok = F.size(_tokens())
    pred = F.when(nmark * 10 >= ntok, F.lit("en")).otherwise(F.lit("other"))
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (F.col("lang") == pred).alias("agrees"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           md5(concat(lang, ':', text)) AS fp_keyed,
           substr(md5(text), 1, 8) AS fp_short
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 full + truncated + key-salted) — the exact
    building block of exact-dedup and shard-stable document ids."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text"))).alias("fp_keyed"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("fp_short"),
    )


@register(
    "text_length_histogram",
    oracle="""
    SELECT (len(string_split(text, ' ')) // 10) * 10 AS token_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("text", "histogram"),
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram in buckets of 10 (corpus shape profiling)."""
    d = load(spark, sf_dir, "documents")
    bucket = (F.floor(F.size(_tokens()) / 10) * 10).cast("bigint")
    return d.groupBy(bucket.alias("token_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# GPT-2-style pretokenizer approximation: optional-space letter runs, digit
# runs, punctuation runs, whitespace runs — plain alternation only, so the
# Java (Spark) and RE2 (DuckDB) regex engines tokenize identically
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS bpe_per_word
    FROM documents
    """,
    tags=("text", "tokens", "bpe"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document. The regex runs
    JVM-side (regexp_extract_all inside codegen) — the pretokenization pass
    of an LLM data pipeline without a Python UDF in the hot path; a real
    BPE merge step would follow as a pandas UDF over these pretokens."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(_tokens())
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)"))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (bpe.cast("double") / ws.cast("double")).alias("bpe_per_word"),
    )


@register(
    "text_rolling_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                   t -> CAST(list_reduce(list_transform(range(1, 5),
                            j -> CAST(strpos('0123456789abcdef',
                                      substr(md5(t), j, 1)) - 1 AS BIGINT)),
                            (a, b) -> a * 16 + b) AS BIGINT)) AS vs
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    )
    SELECT doc_id,
           list_min(list_transform(range(1, len(vs) - 6),
               i -> list_reduce(list_transform(range(0, 8), j -> vs[i + j]),
                                (acc, v) -> acc * 31 + v))) AS fingerprint,
           len(vs) - 7 AS n_windows
    FROM toks
    """,
    tags=("text", "fingerprint", "rolling-hash"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint: per token a 16-bit
    md5-derived value, per 8-token window a base-31 polynomial hash, per
    document the MIN window hash (the winnowing selection). Bounds:
    65535 * 31^7 * 8 < 2^63, so the arithmetic is exact int64 on both
    engines — no mod step needed. Everything runs inside array lambdas
    (whole-stage codegen), one row per document, no explode shuffle."""
    d = load(spark, sf_dir, "documents")
    vs = F.expr(
        """
        transform(split(text, ' '),
            t -> cast(conv(substring(md5(t), 1, 4), 16, 10) AS BIGINT))
        """
    )
    return (
        d.filter(F.size(F.split(F.col("text"), " ")) >= 8)
        .select("doc_id", vs.alias("vs"))
        .select(
            "doc_id",
            F.expr(
                """
                array_min(transform(sequence(1, size(vs) - 7),
                    i -> aggregate(sequence(0, 7), 0L,
                         (acc, j) -> acc * 31L + element_at(vs, i + j))))
                """
            ).alias("fingerprint"),
            (F.size(F.col("vs")) - 7).alias("n_windows"),
        )
    )


_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 32  # stride (50% overlap)


@register(
    "text_chunking",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id, w,
               unnest(range(0, (len(w) + {_CHUNK_S - 1}) // {_CHUNK_S}))
                 AS chunk_idx
        FROM w
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(len(list_slice(w, chunk_idx * {_CHUNK_S} + 1,
                               chunk_idx * {_CHUNK_S} + {_CHUNK_W}))
                AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(w, chunk_idx * {_CHUNK_S} + 1,
                                          chunk_idx * {_CHUNK_S} + {_CHUNK_W}),
                               ' ')) AS chunk_hash
    FROM c
    """,
    tags=("text", "chunking"),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 32-token
    stride) — the doc→training-sequence / RAG-passage splitter. Emits
    (doc_id, chunk_idx, start, length, content hash) per chunk; the hash
    doubles as the chunk-level dedup key downstream.

    The word array is pinned behind the same keyed-aggregate barrier as
    dedup._shingles_df: the chunk explode multiplies rows by ~len/stride,
    and with ``w = split(text)`` inlined by generate-filter pushdown every
    post-explode slice(w, ...) would re-split the document — O(len²/S)
    per doc, the exact trap SCALING.md documents for minhash. Behind the
    barrier each chunk row slices a materialized array. One explode, no
    joins, no aggregation: embarrassingly parallel at any scale."""
    d = load(spark, sf_dir, "documents").repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    w = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .groupBy("doc_id")
        .agg(F.first("w").alias("w"))
    )
    chunks = w.select(
        "doc_id",
        "w",
        F.explode(
            F.expr(f"sequence(0, (size(w) + {_CHUNK_S - 1}) div {_CHUNK_S} - 1)")
        ).alias("ci"),
    )
    sl = f"slice(w, ci * {_CHUNK_S} + 1, {_CHUNK_W})"
    return chunks.select(
        "doc_id",
        F.col("ci").cast("bigint").alias("chunk_idx"),
        (F.col("ci") * _CHUNK_S).cast("bigint").alias("start_tok"),
        F.expr(f"size({sl})").cast("bigint").alias("n_tok"),
        F.md5(F.expr(f"concat_ws(' ', {sl})")).alias("chunk_hash"),
    )


@register(
    "text_token_rarity",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM w GROUP BY 1, 2),
    c AS (SELECT tok, SUM(k) AS cnt FROM dt GROUP BY 1)
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(k * cnt) AS DOUBLE) / CAST(SUM(k) AS DOUBLE)
             AS mean_token_freq
    FROM dt JOIN c USING (tok)
    GROUP BY doc_id
    """,
    tags=("text", "rarity", "lm", "bench"),
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal per document: hapax-legomenon count
    (tokens occurring exactly once in the ENTIRE corpus — high density
    flags OCR noise, codes, mojibake) and mean corpus frequency of the
    doc's tokens (low = exotic vocabulary, high = boilerplate) — the
    exact-count core of a unigram LM score, kept in integer arithmetic so
    it hash-gates cross-engine (log-prob summation is order-dependent in
    doubles and engine-specific in libm, so the LM form ships the same
    plan with one extra log lookup column).

    Plan shape for 100 TB: tokens are pre-aggregated per (doc, token)
    BEFORE the corpus-count join, so the join carries distinct-per-doc
    rows, not raw occurrences. The (doc,token) aggregate is deliberately
    computed in BOTH branches (join input + corpus counts): unifying them
    behind one exchange would require repartitioning RAW token rows by
    the Zipf-skewed token key ('the' touches every doc — the hot-partition
    regime), while the double-computed form shuffles only uniformly-keyed
    partial aggregates twice — map-side combine makes the recompute the
    cheaper side of that trade at scale (a deployment with cheap local
    disk can instead persist the (doc,token) aggregate once). Skew in the
    JOIN itself gets the same mitigation ladder as the shingle pipeline:
    broadcast the head of the count table / AQE skew-split; the
    stop-shingle cap demo (tests/test_skew.py) shows the measured effect."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    dt = words.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    counts = dt.groupBy("tok").agg(F.sum("k").alias("cnt"))
    return (
        dt.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            (
                F.sum(F.col("k") * F.col("cnt")).cast("double")
                / F.sum("k").cast("double")
            ).alias("mean_token_freq"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style repetition filter (Rae et al. 2021, §A1.1 repetition rules)
# --------------------------------------------------------------------------

# Thresholds sized so the gate splits the synthetic corpus both ways
# (medians at sf0.01: top-word .093, top-bigram .066, top-trigram .060);
# the Gopher paper's own values (.2/.18/.16 over *character* fractions)
# gate real web text, not this vocabulary-30 corpus.
_REP_MAX_TOP_WORD = 0.10
_REP_MAX_TOP_BIGRAM = 0.08
_REP_MAX_TOP_TRIGRAM = 0.09
_REP_MAX_DUP_5GRAM = 0.10


def _gram_concat_expr(arr: str, n: int) -> str:
    """SQL expr: array of the space-joined n-grams of token array ``arr``,
    built by DIRECT indexed concat — the round-8 gram kernel shared by
    text_repetition_filter and text_memorization_audit. element_at +
    concat allocates no per-gram sliced array (the slice + array_join /
    concat_ws forms cost 6× more at sf10); the IF guard avoids Spark's
    descending sequence() when the doc is shorter than n (which would
    fabricate grams). NOTE for callers: if the token array is an inlined
    expression (e.g. split(text)) and a generator/filter gets pushed
    below the projection, every element_at reference re-evaluates it —
    pin the array behind a keyed-aggregate barrier first (see
    _shingles_df and text_memorization_audit)."""
    if n == 1:
        return arr
    cat = "concat(" + ", ' ', ".join(
        f"element_at({arr}, i + {j})" for j in range(n)
    ) + ")"
    return (
        f"if(size({arr}) >= {n},"
        f" transform(sequence(1, size({arr}) - {n} + 1), i -> {cat}),"
        f" CAST(array() AS ARRAY<STRING>))"
    )


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
        UNION ALL
        SELECT doc_id, 2 AS n,
               unnest([array_to_string(t[i:i+1], ' ')
                       for i in range(1, len(t))]) AS g
        FROM toks
        UNION ALL
        SELECT doc_id, 3 AS n,
               unnest([array_to_string(t[i:i+2], ' ')
                       for i in range(1, len(t)-1)]) AS g
        FROM toks
        UNION ALL
        SELECT doc_id, 5 AS n,
               unnest([array_to_string(t[i:i+4], ' ')
                       for i in range(1, len(t)-3)]) AS g
        FROM toks
    ),
    cnt AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3),
    per AS (
        SELECT doc_id, n, MAX(c) AS top_c,
               COALESCE(SUM(c) FILTER (c >= 2), 0) AS dup_c,
               SUM(c) AS tot_c
        FROM cnt GROUP BY 1, 2
    ),
    m AS (
        SELECT doc_id,
               CAST(MAX(CASE WHEN n = 1 THEN tot_c END) AS BIGINT) AS n_tokens,
               CAST(MAX(CASE WHEN n = 1 THEN top_c END) AS DOUBLE)
                 / CAST(MAX(CASE WHEN n = 1 THEN tot_c END) AS DOUBLE)
                 AS top_word_frac,
               CAST(2 * MAX(CASE WHEN n = 2 THEN top_c END) AS DOUBLE)
                 / CAST(MAX(CASE WHEN n = 1 THEN tot_c END) AS DOUBLE)
                 AS top_bigram_frac,
               CAST(3 * MAX(CASE WHEN n = 3 THEN top_c END) AS DOUBLE)
                 / CAST(MAX(CASE WHEN n = 1 THEN tot_c END) AS DOUBLE)
                 AS top_trigram_frac,
               CAST(MAX(CASE WHEN n = 5 THEN dup_c END) AS DOUBLE)
                 / CAST(MAX(CASE WHEN n = 5 THEN tot_c END) AS DOUBLE)
                 AS dup_5gram_frac
        FROM per GROUP BY doc_id
    )
    SELECT *,
           (top_word_frac <= {_REP_MAX_TOP_WORD}
            AND top_bigram_frac <= {_REP_MAX_TOP_BIGRAM}
            AND top_trigram_frac <= {_REP_MAX_TOP_TRIGRAM}
            AND dup_5gram_frac <= {_REP_MAX_DUP_5GRAM}) AS repetition_ok
    FROM m
    """,
    # deliberately NOT bench-tagged: isolated it is flat 0.56 s (SCALING
    # decade row), but in the shared bench session its sort-heavy
    # projections run ~4× slower from cross-query contention — the line
    # would add noise, not signal (same call as sim_kmeans_iterations)
    tags=("text", "quality", "repetition"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of tokens
    claimed by the most frequent unigram / bigram / trigram, fraction of
    5-gram occurrences that are duplicates, and the conjunctive quality
    gate over all four (Rae et al. 2021 repetition rules, token-based).

    Plan shape for 100 TB: ZERO shuffles. The round-6 rewrite replaced
    the unified gram explode (~4 rows/token) + two doc_id-keyed
    aggregation exchanges with per-document in-array computation: each
    n-gram array is sort_array'd (O(L log L) per doc, JVM-side) and a
    single aggregate() run-length scan extracts the max run (= top gram
    count) and the duplicated-occurrence total in one pass — every
    signal the old (doc_id, n, g) count table carried, computed without
    materializing it. The corpus pass is one codegen'd projection; the
    measured decade factor dropped from 5.9× (the sf1 bandwidth knee of
    the 4-rows/token shuffle, SCALING.md) to flat. All expressions are
    JVM built-ins; fractions are single double divisions of
    bit-identical integer operands on both engines — the unchanged
    oracle is the regression net for the rewrite.

    Two round-6 hardening fixes after sf10 profiling: (1) the corpus is
    repartitioned to stage_tasks width (the 14-split sf10 scan ran this
    projection 4x slower than the 64-split one); (2) each sorted gram
    array is referenced exactly ONCE (by its run-length scan) — the gram
    totals are computed arithmetically from the token count instead of
    size(g_n), because ProjectCollapse inlines the array expression into
    every consumer and size() was re-building + re-sorting all four gram
    arrays per row."""
    d = load(spark, sf_dir, "documents").repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    t = d.select("doc_id", F.split("text", " ").alias("t"))

    def gram_sorted(n: int) -> str:
        # round-8 kernel fix: the shared direct-indexed-concat builder
        # (_gram_concat_expr) instead of the previous slice + array_join
        # + named_struct + unwrap chain — same strings, same sorted
        # order, same oracle, but no per-gram array slice or struct
        # allocation. Measured at sf10: the build stage fell 23.8 →
        # 3.6 s, the whole query 32.9 → 6.5 s (sf1 3.84 → 1.30).
        return f"sort_array({_gram_concat_expr('t', n)})"

    def scan(arr: str) -> str:
        # one pass over the sorted gram array: top = longest equal run
        # (count of the most frequent gram), dup = total occurrences in
        # runs of length >= 2; the finish lambda flushes the last run
        return f"""
        aggregate(
            {arr},
            named_struct('prev', CAST(NULL AS STRING),
                         'run', 0L, 'top', 0L, 'dup', 0L),
            (a, x) -> named_struct(
                'prev', x,
                'run', IF(x <=> a.prev, a.run + 1L, 1L),
                'top', GREATEST(a.top, IF(x <=> a.prev, a.run + 1L, 1L)),
                'dup', a.dup + IF(x <=> a.prev, 0L,
                                  IF(a.run >= 2L, a.run, 0L))),
            a -> named_struct(
                'top', a.top,
                'dup', a.dup + IF(a.run >= 2L, a.run, 0L)))
        """

    # tot_n = max(L - n + 1, 0) arithmetically — NOT size(g_n), which
    # would re-evaluate the inlined transform+sort per reference
    stats = t.select(
        "doc_id",
        *[
            F.greatest(
                F.size("t") - F.lit(n - 1), F.lit(0)
            ).alias(f"tot{n}")
            for n in (1, 2, 3, 5)
        ],
        *[F.expr(scan(gram_sorted(n))).alias(f"st{n}") for n in (1, 2, 3, 5)],
    )
    ntok = F.col("tot1").cast("double")

    def frac(num, tot_col):
        # (doc, n) rows with no grams are ABSENT in the count-table form
        # → NULL fractions; reproduce that exactly
        return F.when(F.col(tot_col) > 0, num).otherwise(F.lit(None))

    m = stats.select(
        "doc_id",
        F.col("tot1").alias("n_tokens"),
        (F.col("st1.top").cast("double") / ntok).alias("top_word_frac"),
        frac((F.col("st2.top") * 2).cast("double") / ntok, "tot2").alias(
            "top_bigram_frac"
        ),
        frac((F.col("st3.top") * 3).cast("double") / ntok, "tot3").alias(
            "top_trigram_frac"
        ),
        frac(
            F.col("st5.dup").cast("double") / F.col("tot5").cast("double"),
            "tot5",
        ).alias("dup_5gram_frac"),
    )
    ok = (
        (F.col("top_word_frac") <= _REP_MAX_TOP_WORD)
        & (F.col("top_bigram_frac") <= _REP_MAX_TOP_BIGRAM)
        & (F.col("top_trigram_frac") <= _REP_MAX_TOP_TRIGRAM)
        & (F.col("dup_5gram_frac") <= _REP_MAX_DUP_5GRAM)
    )
    return m.withColumn("repetition_ok", ok)


# --------------------------------------------------------------------------
# Corpus-learned vocabulary coverage (OOV-rate encoding readiness gate)
# --------------------------------------------------------------------------

_VOCAB_SIZE = 20
_VOCAB_MAX_OOV = 0.34


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY 1),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_SIZE}),
    per AS (
        SELECT w.doc_id, COUNT(*) AS n_tokens,
               COUNT(*) FILTER (v.tok IS NULL) AS n_oov
        FROM w LEFT JOIN vocab v USING (tok) GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate,
           (CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              <= {_VOCAB_MAX_OOV}) AS vocab_covered
    FROM per
    """,
    tags=("text", "vocab", "tokenizer"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-readiness gate: learn a top-V vocabulary from the corpus
    itself (count-ranked, lexicographic tiebreak — the unigram front-end
    of BPE/WordPiece training), then score every document's out-of-vocab
    token rate against it. Docs above the OOV ceiling would shred into
    byte-fallback tokens and dilute training, so they fail the gate.

    Scale shape — two passes, both shuffle-bounded: (1) the corpus token
    count is the same Zipf-skewed (tok)-keyed aggregate as
    text_token_rarity (map-side combine absorbs the skew: each partition
    emits ≤|vocab| partial rows regardless of token heat), and the top-V
    cut is a TakeOrdered over the |vocab|-row count table — never a
    corpus sort. (2) per-doc scoring pre-aggregates (doc_id, tok) — so
    the vocab probe touches distinct-per-doc tokens, not raw occurrences
    — then LEFT-joins the BROADCAST V-row vocab and folds counts back by
    uniformly-keyed doc_id. No corpus-sized shuffle carries a skewed
    key."""
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dt = w.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    vocab = F.broadcast(
        dt.groupBy("tok")
        .agg(F.sum("k").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    per = (
        dt.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    rate = F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        rate.alias("oov_rate"),
        (rate <= _VOCAB_MAX_OOV).alias("vocab_covered"),
    )


# --------------------------------------------------------------------------
# BM25-core retrieval scoring (Robertson et al.; log-free idf variant)
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 20


@register(
    "text_bm25_retrieval",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, dl,
               {", ".join(
                   f"len(list_filter(t, x -> x = '{w}')) AS tf_{w}"
                   for w in _BM25_TERMS)}
        FROM d
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(CAST(SUM(CAST(dl AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avgdl,
               {", ".join(
                   f"CAST(SUM(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END)"
                   f" AS DOUBLE) AS df_{w}"
                   for w in _BM25_TERMS)}
        FROM tf
    )
    SELECT doc_id,
           {", ".join(f"tf_{w}" for w in _BM25_TERMS)},
           {" + ".join(
               f"((n_docs - df_{w} + 0.5) / (df_{w} + 0.5))"
               f" * (CAST(tf_{w} AS DOUBLE) * ({_BM25_K1} + 1.0))"
               f" / (CAST(tf_{w} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}"
               f" + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))"
               for w in _BM25_TERMS)} AS score
    FROM tf, stats
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPN}
    """,
    tags=("text", "retrieval", "bm25"),
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-core retrieval: score every document against a fixed query
    term set and return the top-20. The full score table lives in
    bm25_scores() below — sim_rank_fusion reuses it with a wider leg.
    Uses the saturating tf normalization
    and length penalty of BM25 exactly (k1=1.2, b=0.75) with the idf's
    log dropped — (N−df+.5)/(df+.5) is a strictly monotone transform of
    Robertson idf per term, kept log-free so every arithmetic step is an
    IEEE double op on bit-identical operands in both engines (libm's ln
    is not bit-pinned across engines; rankings differ only where true
    BM25's inter-term weighting would, documented here). The per-doc sum
    adds the per-term contributions in LITERAL expression order, not via
    an aggregation, so no float reassociation exists anywhere.

    Scale shape: term frequencies are per-row higher-order filters on the
    token array — no explode, no (doc,term) shuffle; the corpus statistics
    (N, decimal-exact avgdl, per-term document frequencies) reduce to ONE
    broadcast row in a single partial/final aggregate; scoring is then a
    stateless per-row expression and the top-20 is a TakeOrdered — the
    whole retrieval is two corpus scans and zero pre-TakeOrdered
    shuffles. Adding query terms widens the stats row, never the plan."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPN)
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 score table (doc_id, tf_*, score) over the corpus —
    shared by text_bm25_retrieval (top-20) and sim_rank_fusion (top-50
    lexical leg)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    ).withColumn("dl", F.size("t"))
    tf = d.select(
        "doc_id",
        "dl",
        *[
            F.size(F.expr(f"filter(t, x -> x = '{w}')")).alias(f"tf_{w}")
            for w in _BM25_TERMS
        ],
    )
    stats = F.broadcast(
        tf.groupBy().agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            (
                F.sum(F.col("dl").cast("decimal(38,4)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avgdl"),
            *[
                F.sum(F.when(F.col(f"tf_{w}") > 0, 1).otherwise(0))
                .cast("double")
                .alias(f"df_{w}")
                for w in _BM25_TERMS
            ],
        )
    )
    k1, b = _BM25_K1, _BM25_B

    def term_score(w: str) -> F.Column:
        idf = (F.col("n_docs") - F.col(f"df_{w}") + 0.5) / (
            F.col(f"df_{w}") + 0.5
        )
        tfd = F.col(f"tf_{w}").cast("double")
        return idf * (tfd * (k1 + 1.0)) / (
            tfd + k1 * (1.0 - b + b * (F.col("dl").cast("double") / F.col("avgdl")))
        )

    score = term_score(_BM25_TERMS[0])
    for w in _BM25_TERMS[1:]:
        score = score + term_score(w)
    return tf.crossJoin(stats).select(
        "doc_id",
        *[f"tf_{w}" for w in _BM25_TERMS],
        score.alias("score"),
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' host 10.0.'
                                 || CAST(doc_id % 256 AS VARCHAR) || '.7'
                            ELSE '' END
                    || CASE WHEN doc_id % 5 = 0
                            THEN ' call +31 555 0199' ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t,
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '\\+\\d{2} \\d{3} \\d{4}'))
                AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '<IP>', 'g'),
               '\\+\\d{2} \\d{3} \\d{4}', '<PHONE>', 'g')) AS redacted_hash
    FROM aug
    """,
    tags=("text", "pii", "scrub", "bench"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact — the scrub pass every LLM training-data
    pipeline runs first (emails / IPv4 / phone numbers; kernels in
    functions/pii.py with the Java-regex ∩ RE2 dialect constraint
    documented there). The synthetic corpus carries no digits at all, so
    the query demonstrates the scrub on DETERMINISTICALLY AUGMENTED text
    (an email per doc, an IP on every 3rd, a phone on every 5th, built
    from doc_id in-plan) — counts vary per doc and the redacted-text md5
    pins exact match spans cross-engine; realistic free-form PII recall
    is pinned by tests/test_pii.py on planted strings.

    Scale shape: one projection over the corpus scan — no shuffle, no
    explode, no Python; regexp matching rides whole-stage codegen, so
    the pass is embarrassingly parallel and I/O-bound at 100 TB (the
    ideal scrub-operator profile)."""
    from stateflow_spark.functions.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        pii_count,
        pii_redact,
    )

    # footer-conditional fan-out (r13 session 2): the regex scrub is
    # compute-dense per byte and ran scan-fused on ONE task with the
    # single-row-group test footer (sweep: 0.58 s cpu serial); at
    # production layouts the repartition vanishes. Interleaved A/B:
    # best 0.28 vs 0.62 s (0.46×), every pass ahead.
    d = load(spark, sf_dir, "documents", fanout="doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call +31 555 0199"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        pii_count("t", EMAIL_RE).alias("n_emails"),
        pii_count("t", IPV4_RE).alias("n_ips"),
        pii_count("t", PHONE_RE).alias("n_phones"),
        F.md5(pii_redact("t")).alias("redacted_hash"),
    )


# --------------------------------------------------------------------------
# Per-source distribution drift vs the corpus (total-variation distance)
# --------------------------------------------------------------------------


@register(
    "text_source_drift",
    oracle="""
    WITH tc AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
        SELECT source, tok, COUNT(*) AS c FROM tc GROUP BY 1, 2
    ), tt AS (
        SELECT tok, SUM(c) AS ct FROM c GROUP BY 1
    ), st AS (
        SELECT source, SUM(c) AS ns FROM c GROUP BY 1
    ), n AS (
        SELECT SUM(c) AS n FROM c
    ), terms AS (
        SELECT c.source,
               ABS(c.c * n.n - tt.ct * st.ns) AS term,
               tt.ct AS cov_term
        FROM c JOIN tt USING (tok) JOIN st USING (source) CROSS JOIN n
    )
    SELECT t.source,
           CAST(st.ns AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_seen,
           CAST(SUM(t.term) + st.ns * (n.n - SUM(t.cov_term)) AS BIGINT)
             AS tv_num,
           CAST(SUM(t.term) + st.ns * (n.n - SUM(t.cov_term)) AS DOUBLE)
             / (2.0 * CAST(st.ns AS DOUBLE) * CAST(n.n AS DOUBLE))
             AS tv_distance
    FROM terms t JOIN st USING (source) CROSS JOIN n
    GROUP BY t.source, st.ns, n.n
    """,
    tags=("text", "drift", "audit"),
)
def text_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-feed drift monitor: for every corpus source, the exact
    total-variation distance between its token distribution and the
    whole corpus's — TV(s, corpus) = ½ Σ_t |p_s(t) − p(t)|. The number a
    pipeline tracks per feed per snapshot; a spike means a source changed
    its content mix and the mixture weights need re-balancing before the
    next training run. Computed in EXACT integer arithmetic: the
    numerator Σ_t |c_s(t)·N − c(t)·N_s| (+ the mass of tokens the source
    never emits, folded in closed form as N_s·(N − Σ_{t∈s} c(t))) is an
    int64 sum; the single double division at the end has bit-identical
    operands on both engines. Magnitudes stay < 2^53 through sf1; at
    100 TB emit the decimal numerator instead of the double ratio.

    Scale shape: ONE corpus scan and ONE corpus-sized shuffle (the
    (source, tok) count, whose composite key splits each Zipf-hot token
    across sources and map-side combine absorbs the heat). The windowed
    vocab table is localCheckpoint'd — the per-source totals and corpus
    scalar branches read the materialized vocab-sized table instead of
    re-stating the explode subtree (Catalyst restates shared subtrees
    per branch; without the checkpoint the static plan scanned the
    corpus three times). Everything downstream is vocab-sized: the
    per-token total rides a window (≤ |sources| rows per token — no
    skew), totals are broadcast (the only crossJoin is a 1-row
    aggregate), and the final fold is a 20-group aggregate with
    map-side partials.
    """
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    c = d.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    c = c.withColumn("ct", F.sum("c").over(Window.partitionBy("tok")))
    c = c.localCheckpoint()  # one corpus pass; branches below are vocab-sized
    st = c.groupBy("source").agg(F.sum("c").alias("ns"))
    n = c.agg(F.sum("c").alias("n"))
    terms = c.join(F.broadcast(st), "source").crossJoin(F.broadcast(n))
    return (
        terms.groupBy("source", "ns", "n")
        .agg(
            F.count(F.lit(1)).alias("vocab_seen"),
            F.sum(F.abs(F.col("c") * F.col("n") - F.col("ct") * F.col("ns"))).alias(
                "term_sum"
            ),
            F.sum("ct").alias("cov"),
        )
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_tokens"),
            F.col("vocab_seen").cast("bigint").alias("vocab_seen"),
            (F.col("term_sum") + F.col("ns") * (F.col("n") - F.col("cov")))
            .cast("bigint")
            .alias("tv_num"),
            (
                (F.col("term_sum") + F.col("ns") * (F.col("n") - F.col("cov"))).cast(
                    "double"
                )
                / (
                    F.lit(2.0)
                    * F.col("ns").cast("double")
                    * F.col("n").cast("double")
                )
            ).alias("tv_distance"),
        )
    )


@register(
    "text_ngram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks CROSS JOIN unnest(range(1, len(t))) AS u(i)
    ),
    stats AS (
        SELECT w1, w2,
               CAST(floor(1e12 * (CAST(COUNT(*) AS DOUBLE)
                    / CAST(SUM(COUNT(*)) OVER (PARTITION BY w1) AS DOUBLE)))
                    AS BIGINT) AS p_fx
        FROM bg GROUP BY w1, w2
    ),
    scored AS (
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(s.p_fx) AS BIGINT) AS sum_fx
        FROM bg JOIN stats s ON s.w1 = bg.w1 AND s.w2 = bg.w2
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams,
           (CAST(sum_fx AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) / 1e12
             AS lm_score
    FROM scored
    ORDER BY lm_score, doc_id
    LIMIT 20
    """,
    tags=("text", "quality", "lm", "bench"),
)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model quality score: estimate
    P(w2|w1) by MLE over the whole corpus, then score each document by the
    mean transition probability of its own bigrams and surface the 20
    LEAST-probable documents — the statistical-LM face of quality filtering
    (CCNet/Gopher-style perplexity gates, here with the corpus as its own
    LM so no external model is needed). Low scorers are gibberish,
    boilerplate-free noise, or wrong-language slices.

    Plan: one explode to bigram occurrences, a (w1,w2) partial/final agg
    for the LM (the conditional is a window over the per-w1 partition of
    the ALREADY-aggregated bigram table — vocab², not corpus, rows), then
    one shuffle join of occurrences back to the broadcast-unfriendly but
    uniformly-keyed stats table and a per-doc agg. At 100 TB: the bigram
    vocabulary grows sub-linearly (Heaps), hot bigrams ("of the") skew the
    join's build side but AQE's skew-join split handles replicated stats
    rows; everything is codegen'd built-ins. Exactness: the conditional is
    one double division of exact int64 counts (bit-identical both
    engines), snapped to fixed-point via floor (no rounding ties), summed
    as int64 — the per-doc mean is two divisions of bit-identical
    operands. Extends the text-quality family (SURVEY.md §2 extension:
    text analysis)."""
    # footer-conditional fan-out (r13 session 2, the q1 idiom): with the
    # single-row-group test footer BOTH scan-fused bigram branches ran on
    # ONE task (sweep: 1.29 s + 0.42 s cpu serial); at production layouts
    # the condition is false and the repartition vanishes. Interleaved
    # A/B: all five pairwise sweeps ahead, best 1.11 vs 1.17 s.
    d = load(spark, sf_dir, "documents", fanout="doc_id")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    # single-token guard: Spark's sequence(1, 0) DESCENDS ([1, 0]), so an
    # unguarded one-word doc evaluates t[-1] — INVALID_ARRAY_INDEX under
    # ANSI mode where DuckDB's empty range simply emits no bigrams
    # (round-9 edge audit; the corpus never has one-word docs, the guard
    # keeps the kernel total)
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS w1, t[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    w_from = Window.partitionBy("w1")
    stats = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .select(
            "w1",
            "w2",
            F.floor(
                F.lit(1e12)
                * (
                    F.col("c12").cast("double")
                    / F.sum("c12").over(w_from).cast("double")
                )
            ).alias("p_fx"),
        )
    )
    scored = (
        bg.join(stats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_fx").alias("sum_fx"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            (
                (F.col("sum_fx").cast("double") / F.col("n_bigrams").cast("double"))
                / F.lit(1e12)
            ).alias("lm_score"),
        )
        .orderBy("lm_score", "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: fasttext-style hashed linear classifier
# ---------------------------------------------------------------------------
# The production pattern (CCNet / fastText quality gates): hash each token
# unigram+bigram into a fixed feature space, dot with a learned weight
# vector, threshold the mean activation. Weights here are hash-derived so
# the oracle can replay them; a real model swaps in a broadcast weight
# array and the plan is IDENTICAL — one per-row transform + fold, zero
# shuffles, no UDF.
_CLF_BUCKET_HEX = 3  # 3 hex chars -> 4096 feature buckets
_CLF_WSPAN = 2001  # weights in [-1000, 1000]


def _clf_weights() -> list:
    """The 4096-entry weight vector, derived once from md5 (standing in
    for a trained model; a real model ships exactly like this — a
    broadcast-sized array looked up by feature bucket). Deriving it
    driver-side removes the per-feature second md5 the first version
    paid inside the scan (measured 2.8x on the corpus pass at sf1);
    hashlib.md5 == Spark MD5 == DuckDB md5, so both engines embed the
    IDENTICAL literal table."""
    import hashlib

    return [
        int(hashlib.md5(f"w{b}".encode()).hexdigest()[:4], 16) % _CLF_WSPAN
        - 1000
        for b in range(16 ** _CLF_BUCKET_HEX)
    ]


_CLF_W = _clf_weights()

# DuckDB-side hex parse (first k chars of md5(expr) as bigint)
def _duck_hex(expr: str, k: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {k + 1}),"
        f" j -> CAST(strpos('0123456789abcdef', substr(md5({expr}), j, 1)) - 1"
        f" AS BIGINT)), (a, b) -> a * 16 + b)"
    )


# bucket -> weight via the literal table (1-indexed lists both dialects)
_CLF_W_DUCK = (
    f"[{','.join(str(w) for w in _CLF_W)}]"
    f"[{_duck_hex('t', _CLF_BUCKET_HEX)} + 1]"
)

_CLF_W_SPARK = (
    "element_at(__clf_w, CAST(CONV(SUBSTRING(MD5(t), 1, 3), 16, 10)"
    " AS INT) + 1)"
)


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               string_split(text, ' ')
               || list_transform(
                      range(1, len(string_split(text, ' '))),
                      i -> string_split(text, ' ')[i] || ' '
                           || string_split(text, ' ')[i + 1]) AS feats
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(len(feats) AS INT) AS n_features,
               CAST(list_reduce(
                   list_transform(feats, t -> {_CLF_W_DUCK}),
                   (a, b) -> a + b) AS BIGINT) AS score
        FROM feat
    )
    SELECT doc_id, lang, n_features, score,
           CAST(score AS DOUBLE) / CAST(n_features AS DOUBLE) AS mean_score,
           CASE WHEN CAST(score AS DOUBLE) / CAST(n_features AS DOUBLE) >= 0
                THEN 'keep' ELSE 'drop' END AS label
    FROM scored
    """,
    tags=("text", "classifier", "quality", "bench"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE over hashed
    unigram+bigram features — the model-based quality gate of a CCNet/LLM
    data pipeline, run as pure Catalyst expressions.

    Per doc: features = tokens + adjacent bigrams (built in-array — the
    bigram list is a sequence/transform over the token array, no explode);
    each feature hashes to one of 4096 buckets (first 3 md5 hex chars) and
    looks up a weight (md5-derived int in [-1000, 1000] — standing in for
    a trained vector; a real model broadcasts its weight array and the
    plan shape is unchanged); the doc's score is the exact int64 fold of
    its feature weights, the gate thresholds the mean activation at 0.

    Scale shape: ZERO shuffles — one projection pass over the corpus;
    every doc is scored independently inside its scan task (the same
    embarrassingly-parallel shape as text_repetition_filter). At 100 TB
    this is scan-bandwidth-bound, which is exactly what a production
    quality gate must be. Exactness: integer weight sums, one final
    double division of bit-identical ints."""
    d = load(spark, sf_dir, "documents")
    # tokens materialize ONCE per row before the bigram lambda — putting
    # split(text) inside the lambda re-splits the string per element
    # (O(L^2) splits/doc; measured 6x on the sf1 corpus pass — the same
    # double-eval trap the round-5 repetition-filter fix documented)
    feats = F.expr(
        """
        toks ||
        CASE WHEN size(toks) > 1
             THEN transform(sequence(1, size(toks) - 1),
                            i -> concat(element_at(toks, i), ' ',
                                        element_at(toks, i + 1)))
             ELSE CAST(array() AS ARRAY<STRING>) END
        """
    )
    # the weight table ships as a 1-row BROADCAST relation (how real
    # model weights ship) — embedding it as a 4096-literal expression
    # makes every pass pay a 4096-node CreateArray per row plus
    # seconds of analyzer time on the bloated tree (both measured)
    wdf = F.broadcast(
        local_frame(spark, [(_CLF_W,)], "__clf_w array<int>")
    )
    # fan-out: the higher-order md5 fold runs interpreted (the similarity
    # module's fan_out rationale)
    fanned = d.repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    scored = fanned.select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    ).crossJoin(wdf).select(
        "doc_id",
        "lang",
        feats.alias("feats"),
        "__clf_w",
    ).select(
        "doc_id",
        "lang",
        F.size("feats").alias("n_features"),
        F.expr(
            f"aggregate(transform(feats, t -> {_CLF_W_SPARK}),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("score"),
    )
    mean = F.col("score").cast("double") / F.col("n_features").cast("double")
    return scored.select(
        "doc_id",
        "lang",
        "n_features",
        "score",
        mean.alias("mean_score"),
        F.when(mean >= 0, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (merge-rule learning)
# ---------------------------------------------------------------------------
_BPE_STEPS = 6

# Applying a merge (a,b) to a symbol array is inherently sequential
# (greedy left-to-right, a merged pair consumes its right symbol), which
# does not fold into an order-independent aggregate. It DOES have a
# positional closed form: overlapping matches only happen in runs where
# a == b, and there a match starts a merge iff its consecutive-match
# streak has ODD length. So per position i (1-based):
#   m[i]      = 1 if (sym[i], sym[i+1]) == (a, b)
#   streak[i] = i - (last j < i with m[j] = 0, else 0)
#   start[i]  = m[i] = 1 AND streak[i] is odd
#   out       = positions not consumed by a start at i-1; starts emit a||b
# Everything is list_transform/filter arithmetic — identical in Spark and
# DuckDB, so the oracle replays the merge application bit-for-bit. The
# inner streak scan is O(L^2) per word in the symbol length L — words are
# short and the vocab table is tiny next to the corpus, so this is noise
# at any scale.


def _bpe_m_spark(sym: str) -> str:
    return f"""CASE WHEN size({sym}) < 2 THEN CAST(array() AS ARRAY<INT>)
    ELSE transform(sequence(1, size({sym}) - 1),
         i -> IF(element_at({sym}, i) = pa
                 AND element_at({sym}, i + 1) = pb, 1, 0)) END"""


def _bpe_starts_spark(m: str) -> str:
    # padded with a trailing 0 to length size(sym) so the consumer's
    # element_at never indexes past the end under ANSI mode
    return f"""CASE WHEN size({m}) = 0 THEN CAST(array(0) AS ARRAY<INT>)
    ELSE concat(transform(sequence(1, size({m})),
         i -> IF(element_at({m}, i) = 1
                 AND (i - coalesce(array_max(filter(sequence(1, size({m})),
                          j -> j < i AND element_at({m}, j) = 0)), 0)) % 2 = 1,
                 1, 0)), array(0)) END"""


def _bpe_apply_spark(sym: str, st: str) -> str:
    return f"""CASE WHEN size({sym}) < 2 THEN {sym}
    ELSE filter(transform(sequence(1, size({sym})),
         i -> CASE WHEN i >= 2 AND element_at({st}, i - 1) = 1
                   THEN CAST(NULL AS STRING)
                   WHEN element_at({st}, i) = 1 THEN concat(pa, pb)
                   ELSE element_at({sym}, i) END),
         x -> x IS NOT NULL) END"""


def _bpe_m_duck(sym: str) -> str:
    return f"""CASE WHEN len({sym}) < 2 THEN CAST([] AS INTEGER[])
    ELSE list_transform(range(1, len({sym})),
         i -> CASE WHEN {sym}[i] = a AND {sym}[i + 1] = b
                   THEN 1 ELSE 0 END) END"""


def _bpe_starts_duck(m: str) -> str:
    return f"""CASE WHEN len({m}) = 0 THEN CAST([0] AS INTEGER[])
    ELSE list_transform(range(1, len({m}) + 1),
         i -> CASE WHEN {m}[i] = 1
                   AND (i - coalesce(list_max(list_filter(
                            range(1, len({m}) + 1),
                            j -> j < i AND {m}[j] = 0)), 0)) % 2 = 1
                   THEN 1 ELSE 0 END) || [0] END"""


def _bpe_apply_duck(sym: str, st: str) -> str:
    return f"""CASE WHEN len({sym}) < 2 THEN {sym}
    ELSE list_filter(list_transform(range(1, len({sym}) + 1),
         i -> CASE WHEN i >= 2 AND {st}[i - 1] = 1 THEN NULL
                   WHEN {st}[i] = 1 THEN a || b
                   ELSE {sym}[i] END),
         x -> x IS NOT NULL) END"""


def _bpe_ctes() -> str:
    """Shared CTE chain: v1 (char-split word-frequency table), then per
    step k the pair counts p{k}, winner w{k}, and merged vocab v{k+1}."""
    sql = """
    WITH v1 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               list_transform(range(1, len(word) + 1),
                              i -> substr(word, i, 1)) AS sym
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0 AND strpos(word, '|') = 0
        GROUP BY word
    )"""
    for k in range(1, _BPE_STEPS + 1):
        sql += f""",
    p{k} AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS c
        FROM (SELECT freq, unnest(list_transform(range(1, len(sym)),
                     i -> sym[i] || '|' || sym[i + 1])) AS pair
              FROM v{k})
        GROUP BY pair
    ),
    w{k} AS (
        SELECT split_part(pair, '|', 1) AS a, split_part(pair, '|', 2) AS b, c
        FROM p{k}
        ORDER BY c DESC, split_part(pair, '|', 1), split_part(pair, '|', 2)
        LIMIT 1
    ),
    v{k + 1} AS (
        SELECT word, freq, {_bpe_apply_duck("sym", "starts")} AS sym
        FROM (SELECT word, freq, sym, a, b,
                     {_bpe_starts_duck("m")} AS starts
              FROM (SELECT word, freq, sym, a, b, {_bpe_m_duck("sym")} AS m
                    FROM v{k}, w{k}))
    )"""
    return sql


def _bpe_oracle() -> str:
    return _bpe_ctes() + f"""
    {" UNION ALL ".join(
        f"SELECT {k} AS step, a AS sym_a, b AS sym_b, c AS pair_count FROM w{k}"
        for k in range(1, _BPE_STEPS + 1))}
    """


def _bpe_compression_oracle() -> str:
    return _bpe_ctes() + f"""
    {" UNION ALL ".join(
        f"SELECT {s} AS step,"
        f" CAST(SUM(freq * len(sym)) AS BIGINT) AS total_symbols,"
        f" CAST(SUM(freq * len(word)) AS BIGINT) AS total_chars,"
        f" CAST(SUM(freq * len(sym)) AS DOUBLE)"
        f" / CAST(SUM(freq * len(word)) AS DOUBLE) AS symbols_per_char"
        f" FROM v{s + 1}"
        for s in range(_BPE_STEPS + 1))}
    """


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    want_totals: bool,
    keep_final_vocab: bool = False,
):
    """Run the 6-step distributed merge-learning chain. Returns
    (merge tuples [(step, sym_a, sym_b, pair_count)], per-step total
    DataFrames, final vocab or None). Winners are 1-row TakeOrdered
    reads (bounded, driver-role) applied to the next vocab as literals;
    the vocab and total frames read their own materialized
    (localCheckpoint) blocks, so the intermediate vocabs are released as
    the chain advances; with ``keep_final_vocab`` the post-merge vocab's
    blocks stay live for the caller (the APPLY path)."""
    from stateflow_spark.storage import unpersist_local_checkpoint

    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        (F.length("word") > 0) & (~F.col("word").contains("|"))
    )
    v = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            ).alias("sym"),
        )
        .localCheckpoint()
    )

    def totals_of(vk, step: int):
        sym_mass = F.sum(F.col("freq") * F.size("sym")).alias("total_symbols")
        char_mass = F.sum(F.col("freq") * F.length("word")).alias("total_chars")
        return (
            vk.agg(sym_mass, char_mass)
            .select(
                F.lit(step).alias("step"),
                "total_symbols",
                "total_chars",
                (
                    F.col("total_symbols").cast("double")
                    / F.col("total_chars").cast("double")
                ).alias("symbols_per_char"),
            )
            .localCheckpoint()
        )

    merges, totals = [], []
    if want_totals:
        totals.append(totals_of(v, 0))
    for k in range(1, _BPE_STEPS + 1):
        pairs = v.select(
            "freq",
            F.explode(
                F.expr(
                    "CASE WHEN size(sym) < 2 THEN"
                    " CAST(array() AS ARRAY<STRUCT<pa: STRING, pb: STRING>>)"
                    " ELSE transform(sequence(1, size(sym) - 1),"
                    " i -> struct(element_at(sym, i) AS pa,"
                    "             element_at(sym, i + 1) AS pb)) END"
                )
            ).alias("p"),
        ).select("freq", "p.pa", "p.pb")
        # the 1-row winner comes back to the driver (a bounded,
        # driver-role read like the resplit worklist guard): one
        # TakeOrdered job replaces the former winner-checkpoint job PLUS
        # its isEmpty probe, and the next vocab applies the winner as
        # literals instead of a crossJoin broadcast — two driver jobs
        # and one BroadcastExchange fewer per merge step (guide §1.2)
        won = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "pa", "pb")
            .limit(1)
            .take(1)
        )
        if not won:
            # pair space exhausted (degenerate corpus of single-symbol
            # words): stepping with the empty winner would silently empty
            # the vocab for all later steps — stop here, keeping the last
            # valid vocab so the APPLY path still tokenizes (round-6 ADVICE)
            break
        wa, wb, wc = won[0].pa, won[0].pb, won[0].c
        merges.append((k, wa, wb, wc))
        if k < _BPE_STEPS or want_totals or keep_final_vocab:
            stepped = (
                v.withColumn("pa", F.lit(wa))
                .withColumn("pb", F.lit(wb))
                .withColumn("m", F.expr(_bpe_m_spark("sym")))
                .withColumn("starts", F.expr(_bpe_starts_spark("m")))
                .select(
                    "word",
                    "freq",
                    F.expr(_bpe_apply_spark("sym", "starts")).alias("sym"),
                )
            )
            nxt = stepped.localCheckpoint()
            unpersist_local_checkpoint(v)
            v = nxt
            if want_totals:
                totals.append(totals_of(v, k))
    if keep_final_vocab:
        return merges, totals, v
    # outputs read only driver-held winner tuples / materialized total
    # rows — the last vocab's blocks can go too
    unpersist_local_checkpoint(v)
    return merges, totals, None


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "bench"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): learn
    the first 6 merge rules over the corpus — the tokenizer-fitting step
    of an LLM data pipeline, where text_bpe_token_count is the apply
    side. Output is the merge table itself: (step, sym_a, sym_b,
    pair_count), i.e. the learned artifact, trajectory-pinned.

    Distributed shape (the standard scalable BPE formulation): pair
    counting runs over the WORD-FREQUENCY table, not the corpus — one
    corpus scan builds (word, freq, symbol-array), and every merge step
    is (1) an adjacent-pair partial/final aggregate weighted by freq over
    the vocab, (2) a 1-row TakeOrdered winner (count desc, pair asc —
    deterministic where textbook BPE leaves ties unspecified) read back
    to the driver and re-applied as literals, and (3) a per-row
    positional merge application (odd-streak rule above — no sequential
    fold, no UDF). The vocab localCheckpoints per step, so step k+1's
    lineage starts from materialized blocks instead of re-running all
    prior steps (the same iterative-algorithm treatment as connected
    components); driver-side data flow is ONE ROW per merge step — the
    bounded coordination read every production BPE trainer makes, not a
    data-path collect. At 100 TB the corpus scan happens once; per-step
    cost is vocab-sized (millions of rows), independent of corpus size.

    Exactness: all counts are int64; winner selection and merge
    application are integer/string ops — the whole 6-step trajectory
    hash-gates against the generated per-step CTE oracle."""
    merges, _, _ = _bpe_train(spark, sf_dir, want_totals=False)
    # degenerate corpus (empty merges) collapses into the same local
    # frame; the merge table is driver-held winner tuples, so the output
    # is a LocalTableScan — no executor blocks to re-read at output time
    return local_frame(
        spark, merges, "step INT, sym_a STRING, sym_b STRING, pair_count BIGINT"
    )


@register(
    "text_bpe_compression",
    oracle=_bpe_compression_oracle(),
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training curve: corpus token mass after each learned merge —
    the readout a tokenizer-training pipeline monitors (every merge must
    strictly shrink total symbols, by exactly the winning pair's count).
    Output: (step, total_symbols, total_chars, symbols_per_char) for
    step = 0 (raw characters) through 6; invariant total_symbols[k] =
    total_symbols[k-1] - pair_count[k] ties this query to
    text_bpe_train_merges' merge table and is pinned by a test.

    Same distributed chain as the trainer (shared `_bpe_train`); each
    per-step total is a 1-row aggregate over the vocab-frequency table —
    freq-weighted, so the corpus itself is scanned exactly once at step
    0. Exactness: pure int64 masses, one final double division."""
    _, totals, _ = _bpe_train(spark, sf_dir, want_totals=True)
    out = totals[0]
    for t in totals[1:]:
        out = out.unionByName(t)
    return out


@register(
    "text_keyword_extraction",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM w GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM dt GROUP BY 1),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT dt.doc_id, dt.tok,
               (CAST(dt.k AS DOUBLE) / CAST(dl.n AS DOUBLE))
               * ((CAST(nn.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
                  / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS score
        FROM dt
        JOIN dl USING (doc_id)
        JOIN dfreq USING (tok), nn
    )
    SELECT doc_id, tok AS keyword, score, rnk FROM (
        SELECT doc_id, tok, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, tok) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("text", "tfidf", "keywords"),
)
def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF — the
    tagging/indexing step of a document pipeline. IDF uses the log-free
    monotone surrogate (N - df + 0.5)/(df + 0.5) (same dialect-exactness
    trade as text_bm25_retrieval: Java's Math.log is not guaranteed
    correctly rounded, the rational form is bit-identical IEEE
    arithmetic on exact integer counts and ranks identically).

    Plan shape: per-(doc, token) counts aggregate once off the exploded
    scan; document frequency is a second vocab-sized aggregate joined
    back on token (AQE broadcasts it when the vocab fits, shuffles
    otherwise); the corpus-row count is a 1-row broadcast; the top-3
    window shuffles scored (doc, token) pairs once on doc_id. At 100 TB
    every shuffle carries pre-aggregated pairs, never raw token
    instances."""
    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(_tokens()).alias("tok"))
    dt = w.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    dl = dt.groupBy("doc_id").agg(F.sum("k").alias("n"))
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nn = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    scored = (
        dt.join(dl, "doc_id")
        .join(dfreq, "tok")
        .crossJoin(nn)
        .select(
            "doc_id",
            "tok",
            (
                (F.col("k").cast("double") / F.col("n").cast("double"))
                * (
                    (
                        F.col("n_docs").cast("double")
                        - F.col("df").cast("double")
                        + F.lit(0.5)
                    )
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("tok").alias("keyword"), "score", "rnk")
    )


@register(
    "text_bpe_apply",
    oracle=_bpe_ctes() + f"""
    , wl AS (SELECT word, len(sym) AS n_bpe FROM v{_BPE_STEPS + 1})
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
           CAST(SUM(wl.n_bpe) AS BIGINT) AS n_tokens_bpe
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents) dw
    JOIN wl USING (word)
    WHERE len(word) > 0 AND strpos(word, '|') = 0
    GROUP BY doc_id
    """,
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY at corpus scale: per-document token count
    under the 6 learned merges — the inference side of
    text_bpe_train_merges (the number a sequence-packing / length-bucket
    stage consumes). Because BPE merges are word-local, applying the
    tokenizer to a document reduces to looking its words up in the
    TRAINED vocab's symbol counts: the corpus never re-runs the merge
    fold. The word→|symbols| table is vocab-sized and broadcasts; at
    100 TB the apply is one corpus scan + broadcast join + per-doc
    aggregate (AQE shuffles the join only if the vocab outgrows the
    broadcast threshold). OOV words cannot exist by construction (the
    vocab was built from this corpus; a train/apply split would add a
    char-count fallback for misses (len(word) symbols), the standard
    byte/char-fallback policy."""
    _, _, vocab = _bpe_train(
        spark, sf_dir, want_totals=False, keep_final_vocab=True
    )
    wl = vocab.select("word", F.size("sym").alias("n_bpe"))
    d = load(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter((F.length("word") > 0) & (~F.col("word").contains("|")))
    return (
        dw.join(wl, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_ws"),
            F.sum("n_bpe").alias("n_tokens_bpe"),
        )
    )


@register(
    "text_memorization_audit",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(string_split(text, ' ')) < 8
                    THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        range(1, len(string_split(text, ' ')) - 6),
                        i -> array_to_string(
                            list_slice(string_split(text, ' '), i, i + 7),
                            ' ')) END) AS grams
        FROM documents
    ),
    cnt AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS example_doc_id
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        GROUP BY gram
    )
    SELECT gram, n_docs, example_doc_id
    FROM cnt
    ORDER BY n_docs DESC, gram
    LIMIT 20
    """,
    tags=("text", "memorization", "dedup"),
)
def text_memorization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk audit: the 20 8-token sequences shared by the
    most distinct documents — the repeated-passage census behind
    substring dedup (Lee et al. 2022: sequences repeated across training
    docs are what models memorize verbatim). Output is the readable
    artifact (gram, n_docs, example doc) a data audit reports.

    Plan shape: the gram set builds IN-ARRAY per doc (slice + concat_ws
    over the token array — no token explode) and dedups per doc
    (array_distinct) BEFORE the corpus-wide count, so the shuffle
    carries each doc's distinct grams once; the census is one
    partial/final count + TakeOrdered(20). At 100 TB the gram strings
    would carry as 64-bit rolling hashes (text_rolling_fingerprint's
    arithmetic) with strings recovered for the top-k only — same plan,
    1/6 the shuffle bytes; kept as strings here so the DuckDB oracle
    pins the census end-to-end."""
    # round-8 kernel fix (the repetition-filter finding): grams by direct
    # indexed concat — the slice+concat_ws form allocated a sliced array
    # per gram. Needs the _shingles_df barrier: the explode below makes
    # InferFiltersFromGenerate add a size(grams) > 0 filter, and pushdown
    # substitutes the FULL gram expression (with toks = split(text)
    # inlined) below the exchange — 8 element_at references per gram then
    # re-split the whole document 8× (measured sf0.1 4.5 → 18.2 s
    # WITHOUT the barrier; 2.9 s with it). The keyed-aggregate barrier
    # pins toks as a materialized attribute pushdown cannot substitute.
    d = load(spark, sf_dir, "documents").repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    toks_once = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .groupBy("doc_id")
        .agg(F.first("toks").alias("toks"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct({_gram_concat_expr('toks', 8)})"
            ).alias("grams"),
        )
    )
    return (
        toks_once.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(20)
    )


# 8-hex-char md5 prefix folded to a BIGINT, DuckDB side (the _WORD_HASH_SQL
# construction over a parameterized hex window)
def _hex_fold_duck(expr: str, start: int, n: int) -> str:
    return (
        f"list_reduce(list_transform(range({start}, {start + n}),"
        f" j -> CAST(strpos('0123456789abcdef', substr(md5({expr}), j, 1)) - 1"
        " AS BIGINT)), (a, b) -> a * 16 + b)"
    )


@register(
    "text_fim_split",
    oracle=f"""
    WITH cuts AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
               {_hex_fold_duck('text', 1, 8)} % (length(text) + 1) AS p1,
               {_hex_fold_duck('text', 9, 8)} % (length(text) + 1) AS p2,
               ({_hex_fold_duck('text', 17, 2)} % 2 = 0) AS fim_applied
        FROM documents
    )
    SELECT doc_id, fim_applied,
           LEAST(p1, p2) AS cut_lo, GREATEST(p1, p2) AS cut_hi,
           CASE WHEN fim_applied THEN
               '<PRE>' || substr(text, 1, CAST(LEAST(p1, p2) AS INTEGER))
             || '<SUF>' || substr(text, CAST(GREATEST(p1, p2) + 1 AS INTEGER))
             || '<MID>' || substr(text, CAST(LEAST(p1, p2) + 1 AS INTEGER),
                                  CAST(GREATEST(p1, p2) - LEAST(p1, p2)
                                       AS INTEGER))
           ELSE text END AS sample
    FROM cuts
    """,
    tags=("text", "fim", "pretraining"),
)
def text_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    Training of Language Models to Fill in the Middle") — the PSM
    rewrite a code/text pretraining pipeline applies to a fraction of
    documents: split each doc at two pivots into prefix/middle/suffix
    and emit `<PRE>prefix<SUF>suffix<MID>middle`, leaving the rest
    verbatim (50% FIM rate here).

    Everything is DETERMINISTIC and hash-derived (the curation-family
    rule: no rand()): pivots are two independent 32-bit md5 windows of
    the text reduced mod L+1, the apply decision one more hex window mod
    2 — so the transformation is reproducible across engines, runs, and
    partitionings, and the oracle replays byte-identical samples. Plan
    shape: a pure per-row projection — no shuffle, no UDF, whole-stage
    codegen end to end; at 100 TB this runs at scan speed as one stage
    fused into whatever consumes it."""
    d = load(spark, sf_dir, "documents")

    def hx(start: int, n: int):
        return F.conv(F.substring(F.md5("text"), start, n), 16, 10).cast(
            "bigint"
        )

    L = F.length("text").cast("bigint")
    p1 = hx(1, 8) % (L + 1)
    p2 = hx(9, 8) % (L + 1)
    lo, hi = F.least(p1, p2), F.greatest(p1, p2)
    applied = (hx(17, 2) % 2) == 0
    t = F.col("text")
    psm = F.concat(
        F.lit("<PRE>"), t.substr(F.lit(1).cast("int"), lo.cast("int")),
        F.lit("<SUF>"), t.substr((hi + 1).cast("int"), (L - hi).cast("int")),
        F.lit("<MID>"), t.substr((lo + 1).cast("int"), (hi - lo).cast("int")),
    )
    return d.select(
        "doc_id",
        applied.alias("fim_applied"),
        lo.alias("cut_lo"),
        hi.alias("cut_hi"),
        F.when(applied, psm).otherwise(t).alias("sample"),
    )


# Cross-document duplicated-span removal (C4 / Lee et al. 2021 style):
# a 3-word span occurring in more than _BOILER_MIN_DOCS distinct
# documents is boilerplate; every token it covers is removed from every
# document that carries it. Constants are tuned to the synthetic
# corpus' tiny vocabulary (3-word spans repeat across documents; longer
# spans are unique) — production corpora would use longer spans with
# the identical plan.
_BOILER_N = 3
_BOILER_MIN_DOCS = 3


@register(
    "text_boilerplate_spans",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS a,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    spans AS (
        SELECT doc_id, i AS spos,
               md5(array_to_string(a[i : i + {_BOILER_N - 1}], ' ')) AS skey
        FROM arrs,
             LATERAL (SELECT unnest(range(1, n - {_BOILER_N} + 2)) AS i) r(i)
    ),
    boiler AS (
        SELECT skey FROM spans
        GROUP BY skey HAVING COUNT(DISTINCT doc_id) > {_BOILER_MIN_DOCS}
    ),
    occ AS (
        SELECT s.doc_id, s.spos FROM spans s JOIN boiler b ON b.skey = s.skey
    ),
    cov AS (
        SELECT DISTINCT doc_id, spos + d AS cpos
        FROM occ, LATERAL (SELECT unnest(range(0, {_BOILER_N})) AS d) g(d)
    ),
    occ_per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler_occ
        FROM occ GROUP BY doc_id
    ),
    toks AS (
        SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS w
        FROM arrs
    ),
    kept AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(t.w, ' ' ORDER BY t.pos)) AS cleaned_md5
        FROM toks t
        LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.cpos = t.pos
        WHERE c.cpos IS NULL
        GROUP BY t.doc_id
    )
    SELECT a.doc_id,
           a.n AS n_tokens,
           GREATEST(a.n - {_BOILER_N - 1}, 0) AS n_spans,
           COALESCE(o.n_boiler_occ, 0) AS n_boiler_occ,
           a.n - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
    FROM arrs a
    LEFT JOIN occ_per_doc o ON o.doc_id = a.doc_id
    LEFT JOIN kept k ON k.doc_id = a.doc_id
    """,
    tags=("text", "dedup", "boilerplate", "bench"),
)
def text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global boilerplate-span removal: flag every positional
    3-word span shared by more than _BOILER_MIN_DOCS distinct documents,
    then rewrite each document with every covered token dropped — the
    cross-document sibling of text_repetition_filter's within-document
    rules (C4's repeated-span discipline; Lee et al. 2021, arXiv
    2107.06499). Emits per document the span/occurrence accounting and
    the md5 of the cleaned text, so the rewrite itself is under the
    oracle hash.

    Plan shape for 100 TB: token-level work never shuffles. The word
    array is pinned behind the keyed-aggregate barrier (_shingles_df's
    rationale: generator-pushed filters would otherwise re-split the
    document per element reference), spans are direct-indexed grams
    (shared _gram_concat_expr kernel), and the only exchanges are (1)
    the span groupBy for the global document-frequency count, (2) the
    span->flagged-span join (AQE-sized; the flagged set is the HAVING
    survivors, orders of magnitude smaller than the span stream), both
    keyed by the raw 3-word gram (the stored delta legs key on its md5),
    and (3) the per-doc occurrence fold keyed by doc_id. Coverage
    expansion, token filtering, and reassembly run in-array per document
    (flatten/filter/transform HOFs over the barrier-pinned attribute), so
    the corpus-sized final pass is one codegen'd projection with zero
    additional shuffle bytes."""
    base = _boiler_base(
        spark, load(spark, sf_dir, "documents"),
        [table_path(sf_dir, "documents")],
    )
    # RAW gram keys (r13 session 2): md5 is only an internal proxy key in
    # this batch row (the output never carries it, and gram equality ==
    # md5 equality), so grouping/probing on the gram string drops two md5
    # evaluations per span AND shuffles fewer bytes (grams average well
    # under the 32-hex digest). Idle-box interleaved A/Bs: means 0.93-
    # 0.94, majority of pairs ahead in both runs. The STORED delta legs
    # below keep md5 skeys — their bucketed (skey, ndocs) table is the
    # nightly layout and the probe key must match it.
    spans = _boiler_spans(base, hashed=False)
    boiler = (
        spans.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > _BOILER_MIN_DOCS)
        .select("g")
    )
    occ2 = (
        spans.join(boiler, "g")
        .groupBy("doc_id")
        .agg(
            F.collect_set("spos").alias("sposs"),
            F.count(F.lit(1)).alias("n_boiler_occ"),
        )
    )
    return _boiler_assemble(base, occ2)


def _boiler_base(
    spark: SparkSession, docs: DataFrame, sources: Iterable[str] = ()
) -> DataFrame:
    """Barrier-pinned per-document word arrays (doc_id, w) — the shared
    front of every boilerplate-span consumer; `sources` are the parquet
    paths `docs` reads (for stage_tasks).

    The explicit isnotnull mirrors the filter the outer join would
    infer on one branch only: with it on ALL branches the consumers of
    `base` canonicalize identically below the exchange, so
    ReuseExchange writes the corpus shuffle once and the span
    derivations + the final assembly read the same shuffle files.
    text-notnull keeps the engines aligned on degenerate corpora
    (Spark's size(NULL) = -1 vs the oracle's NULL arithmetic); both
    filters are declared in the oracles' arrs CTEs too. The
    keyed-aggregate barrier is _shingles_df's rationale: without it,
    generator-pushed filters re-split the document per element
    reference."""
    d = (
        docs.filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        ).repartition(stage_tasks(spark, sources), "doc_id")
    )
    return (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .groupBy("doc_id")
        .agg(F.first("w").alias("w"))
    )


def _boiler_spans(base: DataFrame, hashed: bool = True) -> DataFrame:
    """Positional 3-word spans over the barrier-pinned word arrays —
    direct-indexed grams via the shared _gram_concat_expr kernel.
    hashed=True emits (doc_id, spos, skey = md5(gram)) — the key form
    the STORED bucketed (skey, ndocs) table and its delta probes use;
    hashed=False emits the raw gram (doc_id, spos, g) for the batch row,
    where the digest is a pure proxy (same equality, two md5 evaluations
    per span saved, fewer shuffle bytes)."""
    key = F.md5("g").alias("skey") if hashed else F.col("g")
    return base.select(
        "doc_id",
        F.posexplode(F.expr(_gram_concat_expr("w", _BOILER_N))).alias(
            "spos0", "g"
        ),
    ).select(
        "doc_id",
        (F.col("spos0") + 1).cast("bigint").alias("spos"),
        key,
    )


def _boiler_assemble(base: DataFrame, occ2: DataFrame) -> DataFrame:
    """Per-document accounting + cleaned-text md5 from the flagged-span
    occurrences (doc_id, sposs, n_boiler_occ).

    cov is materialized as its own projection attribute: referenced
    from inside the filter() lambda below, an INLINED expression would
    be rebuilt once per TOKEN (HOF lambdas get no loop-invariant
    hoisting — the fold-reinline trap; the r12 review measured 3.3x on
    the saturated sf10 corpus); as an attribute it is computed once per
    row and CollapseProject keeps a non-cheap multi-referenced alias in
    its own Project (same rationale as _shingles_df's barrier note)."""
    cov = (
        "array_distinct(flatten(transform("
        f"coalesce(sposs, CAST(array() AS ARRAY<BIGINT>)),"
        f" s -> sequence(s, s + {_BOILER_N - 1}))))"
    )
    kept = (
        "filter(transform(w, (x, i) -> named_struct('p', CAST(i + 1 AS"
        " BIGINT), 'x', x)), s -> NOT array_contains(cov, s.p))"
    )
    return (
        base.join(occ2, "doc_id", "left")
        .select("doc_id", "w", "n_boiler_occ", F.expr(cov).alias("cov"))
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            F.greatest(
                F.size("w") - F.lit(_BOILER_N - 1), F.lit(0)
            ).cast("bigint").alias("n_spans"),
            F.coalesce("n_boiler_occ", F.lit(0).cast("bigint")).alias(
                "n_boiler_occ"
            ),
            F.expr("CAST(size(cov) AS BIGINT)").alias("n_removed"),
            F.expr(
                f"md5(concat_ws(' ', transform({kept}, s -> s.x)))"
            ).alias("cleaned_md5"),
        )
    )


_BOILER_IDX_BUCKETS = 16


def _span_count_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once STORED span document-frequency table for `sf_dir`'s
    OLD documents (doc_id % 5 != 0): (skey, ndocs) written BUCKETED BY
    skey (the storage.py co-located-join layout), so every delta probe
    joins the counts with ZERO exchange on the stored side — the
    boilerplate family's nightly layout, the third stored-index family
    after IVF and the MinHash postings."""
    import os
    import tempfile

    key = source_key(os.path.join(sf_dir, "documents.parquet"))
    tbl = f"boiler_index_{key}"
    if spark.catalog.tableExists(tbl):
        return tbl

    def build(scratch: str) -> None:
        old = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 != 0
        )
        counts = (
            _boiler_spans(
                _boiler_base(spark, old, [table_path(sf_dir, "documents")])
            )
            .groupBy("skey")
            .agg(F.countDistinct("doc_id").alias("ndocs"))
        )
        write_bucketed_files(
            counts, ["skey"], _BOILER_IDX_BUCKETS, scratch, sort_keys=["skey"]
        )

    path = build_once(
        os.path.join(tempfile.gettempdir(), f"stateflow_boiler_index_{key}"),
        build,
    )
    return register_bucketed(
        spark, tbl, "skey STRING, ndocs BIGINT", ["skey"],
        _BOILER_IDX_BUCKETS, path,
    )


def _boiler_classify_delta(
    spark: SparkSession, delta_docs: DataFrame, tbl: str
) -> DataFrame:
    """Classify DELTA documents against the stored span counts: a span
    is boilerplate for an arriving document iff the STORED corpus
    already carries it in >= _BOILER_MIN_DOCS distinct documents (the
    document itself is the +1 that crosses the > threshold). The
    verdict depends only on the doc and the stored table — never on
    other delta docs — so any micro-batch partitioning of the delta
    yields identical rows (the same boundary-independence posture as
    _mh_classify_delta; delta-internal repetition is deliberately left
    to the next nightly recount, exactly like the MinHash delta probe
    leaves delta-internal duplicates)."""
    base = _boiler_base(spark, delta_docs)
    spans = _boiler_spans(base)
    hot = (
        spark.table(tbl)
        .filter(F.col("ndocs") >= _BOILER_MIN_DOCS)
        .select("skey")
    )
    occ2 = (
        spans.join(hot, "skey")
        .groupBy("doc_id")
        .agg(
            F.collect_set("spos").alias("sposs"),
            F.count(F.lit(1)).alias("n_boiler_occ"),
        )
    )
    return _boiler_assemble(base, occ2)


# Shared by the batch and streaming delta-classify rows (same body →
# same oracle, the minhash/ivf family pattern): old counts replayed
# from the documents table, hot = stored ndocs >= threshold, then the
# batch row's coverage/assembly CTEs restricted to delta docs.
_BOILER_DELTA_ORACLE = f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS a,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    spans AS (
        SELECT doc_id, i AS spos,
               md5(array_to_string(a[i : i + {_BOILER_N - 1}], ' ')) AS skey
        FROM arrs,
             LATERAL (SELECT unnest(range(1, n - {_BOILER_N} + 2)) AS i) r(i)
    ),
    hot AS (
        SELECT skey FROM spans WHERE doc_id % 5 <> 0
        GROUP BY skey HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    ),
    occ AS (
        SELECT s.doc_id, s.spos FROM spans s JOIN hot h ON h.skey = s.skey
        WHERE s.doc_id % 5 = 0
    ),
    cov AS (
        SELECT DISTINCT doc_id, spos + d AS cpos
        FROM occ, LATERAL (SELECT unnest(range(0, {_BOILER_N})) AS d) g(d)
    ),
    occ_per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler_occ
        FROM occ GROUP BY doc_id
    ),
    toks AS (
        SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS w
        FROM arrs WHERE doc_id % 5 = 0
    ),
    kept AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(t.w, ' ' ORDER BY t.pos)) AS cleaned_md5
        FROM toks t
        LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.cpos = t.pos
        WHERE c.cpos IS NULL
        GROUP BY t.doc_id
    )
    SELECT a.doc_id,
           a.n AS n_tokens,
           GREATEST(a.n - {_BOILER_N - 1}, 0) AS n_spans,
           COALESCE(o.n_boiler_occ, 0) AS n_boiler_occ,
           a.n - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
    FROM arrs a
    LEFT JOIN occ_per_doc o ON o.doc_id = a.doc_id
    LEFT JOIN kept k ON k.doc_id = a.doc_id
    WHERE a.doc_id % 5 = 0
    """


@register(
    "text_boilerplate_delta_classify",
    oracle=_BOILER_DELTA_ORACLE,
    tags=("text", "dedup", "boilerplate", "incremental", "delta", "bench"),
)
def text_boilerplate_delta_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INCREMENTAL leg of text_boilerplate_spans: today's arriving
    documents (doc_id % 5 == 0) are cleaned against the STORED span
    document-frequency table built from the old corpus — the
    boilerplate family's daily-ingest posture, completing the third
    stored-layout lifecycle (IVF, MinHash postings, span counts).

    Plan shape for 100 TB: the nightly shuffle is amortized into the
    bucketed (skey, ndocs) table; the probe joins it with ZERO exchange
    on the stored side (plan-gated) and only delta-sized work
    elsewhere — the delta's spans shuffle to the bucket layout, the
    ndocs >= threshold filter reaches the parquet scan as a pushed
    filter, and coverage/assembly reuse the batch row's in-array
    machinery over the delta barrier."""
    delta = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return _boiler_classify_delta(
        spark, delta, _span_count_table(spark, sf_dir)
    )


@register(
    "stream_boilerplate_delta_classify",
    oracle=_BOILER_DELTA_ORACLE,
    tags=("text", "dedup", "boilerplate", "incremental", "streaming"),
)
def stream_boilerplate_delta_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CONTINUOUS form of text_boilerplate_delta_classify — the
    boilerplate sibling of stream_minhash_delta_classify, sharing ONE
    classification body (_boiler_classify_delta) with the batch row so
    the two can never drift. foreachBatch because the classify body
    holds per-doc aggregation + the stored-table join; per-batch
    batch-plans are exactly how a continuous ingest pipeline runs this.
    Run to the end of the source, the processed set is the whole delta,
    so the append sink equals the batch job and the SAME oracle
    hash-gates it; per-doc verdicts depend only on the doc + the stored
    counts, so the equality holds for ANY micro-batch partitioning of
    the delta."""
    tbl = _span_count_table(spark, sf_dir)
    return stream_delta_classify(
        spark, sf_dir, "documents", "doc_id",
        lambda batch_df: _boiler_classify_delta(spark, batch_df, tbl),
    )
