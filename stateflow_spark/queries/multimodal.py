"""Multimodal-column queries: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (documented stub) — but the Spark-side plumbing is real:
binary columns, typed metadata structs, Arrow-batched mapInPandas with an
explicit output schema, and partition-size control for large blobs. See
stateflow_spark/functions/multimodal.py for the pipeline pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stateflow_spark.catalog import load, stage_tasks, table_path
from stateflow_spark.functions.similarity import banded_hamming_pairs
from stateflow_spark.queries.common import register


@register(
    "multimodal_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash,
           ascii(substr(text, 1, 1)) AS first_byte,
           octet_length(encode(text)) // 256 AS size_bucket
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat content as an opaque binary column and compute typed metadata
    JVM-side (length, hash, magic byte, size bucket) — the always-cheap
    pre-decode pass that prunes work before any Python decode touches data."""
    d = load(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5("text").alias("content_hash"),
        F.ascii(F.substring("text", 1, 1)).alias("first_byte"),
        F.floor(F.octet_length(blob) / 256).cast("bigint").alias("size_bucket"),
    )


# the stub decoder derives features from the md5 hex digest; DuckDB can
# replay that byte-for-byte, so even the Python mapInPandas stage gets a
# full value oracle: byte i of the digest = hex pair (2i, 2i+1) scaled /256.
# Features are emitted as scalar feat_0..feat_7 columns (not array<double>):
# the driver canonicalizes results with pandas sort_values over every column,
# which cannot hash list cells.
_HEXB = (
    "(CAST(strpos('0123456789abcdef', substr(md5(text), {a}, 1)) - 1 AS BIGINT)"
    " * 16 + strpos('0123456789abcdef', substr(md5(text), {b}, 1)) - 1)"
)
_FEAT_EXPRS = [
    _HEXB.format(a=2 * i + 1, b=2 * i + 2) + " / 256.0" for i in range(8)
]
_FEAT_SQL = ", ".join(
    e + f" AS feat_{i}" for i, e in enumerate(_FEAT_EXPRS)
)


@register(
    "multimodal_decode_features",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash,
           {_FEAT_SQL},
           'ok' AS decode_status
    FROM documents
    """,
    tags=("multimodal", "mapinpandas"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract stage: Arrow-batched mapInPandas over
    binary payloads with an explicit output schema. The 'decoder' is the
    deterministic stub from functions/multimodal.py (real codecs are not in
    this container); swap `fake_decode_features` for a real one and nothing
    else changes."""
    from stateflow_spark.functions.multimodal import decode_features

    d = load(spark, sf_dir, "documents")
    blobs = d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        ).alias("meta"),
    )
    return decode_features(blobs)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH probed AS (
        SELECT doc_id, md5(text) AS h,
               (octet_length(encode(text)) // 256) % 4 + 1 AS n_frames
        FROM documents
    )
    SELECT doc_id, i.i AS frame_idx, md5(h || ':' || CAST(i.i AS VARCHAR)) AS frame_hash
    FROM probed, (SELECT unnest(range(0, 4)) AS i) i
    WHERE i.i < n_frames
    """,
    tags=("multimodal", "mapinpandas", "frame-sample"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over binary payloads: one row in, 1-4 frame rows out
    (data-dependent fan-out through mapInPandas — the shape a video
    pipeline's decode+sample stage needs). Frame hashes are md5-derived in
    the stub, so DuckDB replays the exact output."""
    from stateflow_spark.functions.multimodal import frame_sample

    d = load(spark, sf_dir, "documents")
    blobs = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return frame_sample(blobs)


# --------------------------------------------------------------------------
# Perceptual-hash near-dup + cross-modal retrieval (round 8)
# --------------------------------------------------------------------------

_PHASH_BITS = 60  # fits a signed 64-bit int; same budget as SimHash
_PHASH_MAX_HAMMING = 3
_PHASH_BANDS, _PHASH_BAND_BITS = 4, 15  # pigeonhole: 4 bands > hamming 3

# 60-bit base hash of one visual word, DuckDB-replayable: first 15 hex
# chars of md5 parsed to a bigint (the _SIMHASH_SQL construction).
_WORD_HASH_SQL = (
    "list_reduce(list_transform(range(1, 16),"
    " j -> CAST(strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1"
    " AS BIGINT)), (a, b) -> a * 16 + b)"
)

_PHASH_SQL = f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ), bk AS (
            SELECT doc_id, {_WORD_HASH_SQL} % {_PHASH_BITS} AS bucket
            FROM words
        ), bits AS (
            SELECT doc_id, bucket, CAST(COUNT(*) % 2 AS BIGINT) AS bit
            FROM bk GROUP BY doc_id, bucket
        )
        SELECT doc_id,
               CAST(SUM(bit * (CAST(1 AS BIGINT) << bucket)) AS BIGINT)
                 AS phash
        FROM bits GROUP BY doc_id
"""


def _phash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 60-bit perceptual hash of the decoded payload.

    The stub 'decode' treats the payload's token stream as the media's
    bag of visual words (a real image pipeline would emit SIFT/patch
    descriptors from the decoded pixels — see functions/multimodal.py for
    where that mapInPandas stage slots in; the stub extraction is
    expressible natively, so it stays JVM-side). The signature is a
    histogram-parity sketch: hash every visual word into one of 60
    buckets and take each bucket's occurrence-count parity as a bit —
    the bag-of-features analog of aHash's block-mean bits. Locality:
    changing k word occurrences flips at most k (expected ~k) bits, so
    near-identical media land within a small Hamming radius while
    unrelated media differ in ~30 of 60 bits (measured: 33 corpus pairs
    within hamming 3 at sf0.01, ~125k total pairs — no random
    collisions). Plan: one explode + ONE hash aggregate per doc (the
    two-level groupBy folds to partial aggregates map-side). An in-array
    XOR-fold form (parity = XOR of per-token bits, no explode/aggregate)
    was tried in r13 and REJECTED: value-identical and oracle-MATCHED,
    but higher-order aggregate lambdas run interpreted while the
    explode+hash-aggregate runs in whole-stage codegen — measured warm
    signature-stage cpu 16.0 vs 17.8 s (-10%) with worse GC, wall flat
    (interleaved best-of-4 1.83 vs 1.84 s). The fan-out is footer-
    conditional (r13): on a single-row-group split it hash-repartitions
    by doc_id to parallelize per-token md5 AND is reused by both
    aggregates (zero extra exchange); at production layouts the scan is
    already parallel, the repartition vanishes, and the groupBy's own
    exchange carries only (doc_id, bucket) pairs — the text column never
    shuffles."""
    d = load(spark, sf_dir, "documents", fanout="doc_id")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint")
        % _PHASH_BITS
    )
    bits = (
        words.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg((F.count(F.lit(1)) % 2).alias("bit"))
    )
    return bits.groupBy("doc_id").agg(
        F.expr(
            "CAST(SUM(bit * shiftleft(CAST(1 AS BIGINT),"
            " CAST(bucket AS INT))) AS BIGINT)"
        ).alias("phash")
    )


@register(
    "multimodal_phash",
    oracle=f"{_PHASH_SQL}",
    tags=("multimodal", "phash", "dedup"),
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload 60-bit perceptual hash (histogram-parity sketch over
    the stub-decoded visual words) — the signature stage of
    multimodal_phash_neardup, value-pinned on its own."""
    return _phash_df(spark, sf_dir)


@register(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH ph AS ({_PHASH_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_MAX_HAMMING}
    """,
    tags=("multimodal", "phash", "dedup", "bench"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over binary payloads (hamming ≤ 3
    of 60 bits) — image-style near-duplicate detection where the media
    bytes, not the text semantics, define similarity.

    Blocking runs over DISTINCT SIGNATURES, not documents: mass-
    duplicated media collapse to one signature row each (the "exact
    dedup first" an image pipeline always does, built into the plan),
    then the shared banded_hamming_pairs machinery (4 bands × 15 bits;
    pigeonhole recall exactly 1 at hamming ≤ 3) pairs the distinct
    signatures, and doc pairs expand back from the per-signature doc
    lists — within-signature pairs at hamming 0, cross-signature pairs
    at the signature distance. Output is IDENTICAL to banding the raw
    doc table (every doc pair within hamming 3; oracle brute-forces
    that definition), but in-bucket pair work is quadratic in distinct
    signatures instead of documents: at sf1 the corpus has 50 k docs
    but 4,986 distinct signatures (10× replication), and the raw-doc
    form expanded 104 M in-bucket candidates (22.8 s) where this form's
    buckets hold signature rows only (1.9 s, flat into sf10). The
    signature-group table is localCheckpoint'd once — it feeds the band
    pairs, the within-group expansion, and both doc-list joins.

    At 100 TB: one corpus pass for signatures, one signature-keyed
    exchange to group, one (band, band_val) shuffle of distinct
    16-byte signature rows; low-entropy corpora (small vocabularies,
    near-constant media) concentrate DISTINCT signatures in few buckets
    — that residual is bounded by signature-space entropy, and the
    within-bucket expansion stays in-array."""
    ph = _phash_df(spark, sf_dir)
    groups = (
        ph.groupBy("phash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .localCheckpoint()
    )
    # hamming-0 pairs: all doc pairs sharing one signature (in-array)
    within = (
        groups.filter(F.size("docs") > 1)
        .select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(docs, (x, i) ->
                        transform(slice(docs, i + 2, size(docs) - i - 1),
                                  y -> struct(x AS doc_a, y AS doc_b))))
                    """
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", F.lit(0).alias("hamming"))
    )
    # cross-signature pairs: band the DISTINCT signatures (xor = 0 is
    # impossible between distinct values, so these are disjoint from
    # `within`), then expand each signature pair's doc-list cross
    # product, normalizing pair order
    sig_pairs = banded_hamming_pairs(
        groups.select("phash"),
        "phash",
        "phash",
        n_bands=_PHASH_BANDS,
        band_bits=_PHASH_BAND_BITS,
        max_hamming=_PHASH_MAX_HAMMING,
        sig_bits=60,
        bucket_tasks=stage_tasks(spark, [table_path(sf_dir, "documents")]),
    )
    cross = (
        sig_pairs.join(
            groups.select(F.col("phash").alias("id_a"), F.col("docs").alias("da")),
            "id_a",
        )
        .join(
            groups.select(F.col("phash").alias("id_b"), F.col("docs").alias("db")),
            "id_b",
        )
        .select(
            "hamming",
            F.explode(
                F.expr(
                    """
                    flatten(transform(da, x ->
                        transform(db, y -> struct(least(x, y) AS doc_a,
                                                  greatest(x, y) AS doc_b))))
                    """
                )
            ).alias("p"),
        )
        .select("p.doc_a", "p.doc_b", "hamming")
    )
    return within.unionByName(cross)


# the decimal-sum → VARCHAR → DOUBLE round trip (see queries/common.py
# oracle_dsum rationale) over the 8 shared positions
_XMODAL_DOT = (
    "CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
)


@register(
    "multimodal_crossmodal_retrieval",
    oracle=f"""
    WITH cap AS (
        SELECT doc_id, [{", ".join(_FEAT_EXPRS)}] AS cv
        FROM documents WHERE doc_id < 20
    ),
    cex AS (
        SELECT doc_id, generate_subscripts(cv, 1) AS pos, unnest(cv) AS x
        FROM cap
    ),
    iex AS (
        SELECT vec_id, pos, y FROM (
            SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS y
            FROM embeddings
        ) WHERE pos <= 8
    ),
    qn AS (
        SELECT doc_id,
               CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS qn2
        FROM cex GROUP BY doc_id
    ),
    vn AS (
        SELECT vec_id,
               CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS VARCHAR)
                    AS DOUBLE) AS vn2
        FROM iex GROUP BY vec_id
    ),
    dots AS (
        SELECT c.doc_id, i.vec_id, {_XMODAL_DOT.replace("x * y", "c.x * i.y")} AS dot
        FROM cex c JOIN iex i USING (pos)
        GROUP BY c.doc_id, i.vec_id
    ),
    scored AS (
        SELECT d.doc_id AS qid, d.vec_id,
               d.dot / (sqrt(qn.qn2) * sqrt(vn.vn2)) AS cosine
        FROM dots d
        JOIN qn ON qn.doc_id = d.doc_id
        JOIN vn ON vn.vec_id = d.vec_id
        -- qn2/vn2 > 0: zero-norm captions retrieve nothing, zero-norm
        -- image slices are never retrieved (r9/r10 convention)
        WHERE qn.qn2 > 0 AND vn.vn2 > 0
    )
    SELECT qid, vec_id AS neighbor_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cosine DESC, vec_id
        ) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("multimodal", "crossmodal", "retrieval", "bench"),
)
def multimodal_crossmodal_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modal retrieval: caption features → image-embedding space,
    top-3 cosine neighbors per caption — the CLIP-style caption↔image
    lookup a multimodal curation pipeline runs (e.g. to mine
    caption-image training pairs or audit alt-text). The caption side
    runs the REAL multimodal decode stage (Arrow-batched mapInPandas,
    functions/multimodal.py decode_features — its stub features are
    md5-derived, so DuckDB replays them bit-for-bit); the 'projection
    head' aligning the 64-dim image embeddings to the 8-dim caption
    features is a deterministic slice-to-8 stub (a real one is a learned
    matmul — same shape, still one array op per row).

    Plan shape = sim_knn_join's: the 20-caption block (features + norms,
    post-decode) broadcasts; each embedding row scores all captions via
    per-pair decimal folds inside the broadcast nested-loop projection;
    a per-qid top-k window ranks. One corpus pass, no pos-explosion, no
    norm re-joins. At 100 TB the caption block stays driver-small by
    construction (a retrieval batch), and the corpus side scales
    linearly — the IVF-pruned form (sim_ivf_knn_join) is the posture
    when the query side grows too."""
    from stateflow_spark.functions.multimodal import FEAT_COLS, decode_features
    from stateflow_spark.functions.similarity import dot_dec, norm2_dec

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    blobs = d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        ).alias("meta"),
    )
    qv = decode_features(blobs).select(
        F.col("doc_id").alias("qid"), F.array(*FEAT_COLS).alias("qv")
    )
    # qn2/vn2 > 0: cosine undefined for zero-norm sides — a zero-feature
    # caption retrieves nothing, a zero image slice is never retrieved
    qblock = F.broadcast(
        qv.withColumn("qn2", norm2_dec("qv")).filter(F.col("qn2") > 0)
    )
    probe = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"), 1, 8).alias("v"),
        )
        .repartition(
            stage_tasks(spark, [table_path(sf_dir, "embeddings")]), "vec_id"
        )
        # vn2 behind a keyed-aggregate barrier (exchange-free atop the
        # repartition) so the guard filter can't re-inline the decimal
        # fold into the Filter condition (r10 fold-reinline fix — see
        # similarity._corpus_n2)
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first(norm2_dec("v")).alias("vn2"),
        )
        .filter(F.col("vn2") > 0)
    )
    scored = probe.crossJoin(qblock).select(
        "qid",
        "vec_id",
        (dot_dec("v", "qv") / (F.sqrt("vn2") * F.sqrt("qn2"))).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# Audio-style energy / voice-activity segmentation (round 8)
# --------------------------------------------------------------------------

_VAD_FRAME = 16  # stub "samples" per frame (bytes of the payload)
_VAD_THRESHOLD = 1450  # frame-energy gate (byte-sum; probed on the corpus:
# frame sums span 97..1697 with median ~1503, so 1450 splits real docs
# into 1-9 voiced segments instead of one-segment-per-doc)


@register(
    "multimodal_audio_vad_segments",
    oracle=f"""
    WITH fr AS (
        SELECT doc_id, f,
               list_reduce(list_transform(range(1, {_VAD_FRAME + 1}), j ->
                   CASE WHEN f*{_VAD_FRAME} + j <= length(text)
                        THEN ascii(substr(text, CAST(f*{_VAD_FRAME} + j AS INTEGER), 1))
                        ELSE 0 END),
                   (a, b) -> a + b) AS energy
        FROM (SELECT doc_id, text,
                     unnest(range(0, CAST(ceil(length(text) / {_VAD_FRAME}.0)
                                          AS BIGINT))) AS f
              FROM documents)
    ),
    seg AS (
        SELECT doc_id, f, energy,
               f - ROW_NUMBER() OVER (PARTITION BY doc_id,
                                      energy >= {_VAD_THRESHOLD}
                                      ORDER BY f) AS grp,
               energy >= {_VAD_THRESHOLD} AS v
        FROM fr
    )
    SELECT doc_id, MIN(f) AS start_frame, MAX(f) AS end_frame,
           COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM seg WHERE v GROUP BY doc_id, grp
    """,
    tags=("multimodal", "audio", "vad"),
)
def multimodal_audio_vad_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio-style voice-activity segmentation over binary payloads: frame
    the byte stream (16 stub 'samples' per frame), compute per-frame
    energy (byte sum — a real pipeline decodes PCM and sums squared
    amplitudes; same plan, different kernel inside the lambda), and emit
    the maximal runs of frames above the energy gate as voiced segments
    (start/end frame, frame count, total energy) — the VAD front-end an
    audio curation pipeline runs before transcription.

    Plan shape: ZERO shuffles. Per-doc frame energies build in-array (one
    transform), and the gaps-and-islands collapse is ONE aggregate()
    run-length fold over the energy array (the text_repetition_filter
    scan pattern) — no window function, no per-frame row explosion
    before the final per-segment explode. The energy array is pinned
    behind the keyed-aggregate barrier (the _shingles_df trick): the
    downstream explode would otherwise push a size() filter that inlines
    the whole frame transform into every fold step — O(frames²) per doc.
    The oracle replays the identical segmentation declaratively
    (ROW_NUMBER islands over exploded frames); frame energies are exact
    integer byte sums on both engines."""
    d = load(spark, sf_dir, "documents").repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    # empty-payload guard: Spark's sequence(0, -1) DESCENDS ([0, -1] —
    # unlike DuckDB's empty range), so a zero-length payload would grow
    # two phantom frames and silently diverge from the oracle's "no
    # frames" (round-9 edge audit; the corpus has no empty docs, the
    # guard keeps the kernel total)
    es_expr = f"""
        CASE WHEN length(text) < 1 THEN CAST(array() AS ARRAY<BIGINT>) ELSE
        transform(sequence(0, CAST(ceil(length(text) / {_VAD_FRAME}.0) AS INT) - 1),
            f -> aggregate(sequence(1, {_VAD_FRAME}), 0L,
                 (acc, j) -> acc + IF(f*{_VAD_FRAME} + j <= length(text),
                                      ascii(substring(text, f*{_VAD_FRAME} + j, 1)),
                                      0))) END
    """
    es = (
        d.select("doc_id", F.expr(es_expr).alias("es"))
        .groupBy("doc_id")
        .agg(F.first("es").alias("es"))
    )
    seg_t = (
        "ARRAY<STRUCT<s: INT, e: INT, n: INT, te: BIGINT>>"
    )
    fold = f"""
        CASE WHEN size(es) = 0 THEN CAST(array() AS {seg_t}) ELSE
        aggregate(
            sequence(0, size(es) - 1),
            named_struct('segs', CAST(array() AS {seg_t}),
                         'cs', -1, 'cn', 0, 'cte', 0L),
            (a, f) -> IF(element_at(es, f + 1) >= {_VAD_THRESHOLD}L,
                named_struct('segs', a.segs,
                             'cs', IF(a.cn = 0, f, a.cs),
                             'cn', a.cn + 1,
                             'cte', a.cte + element_at(es, f + 1)),
                named_struct('segs', IF(a.cn > 0,
                        array_append(a.segs, named_struct(
                            's', a.cs, 'e', a.cs + a.cn - 1,
                            'n', a.cn, 'te', a.cte)),
                        a.segs),
                    'cs', -1, 'cn', 0, 'cte', 0L)),
            a -> IF(a.cn > 0,
                    array_append(a.segs, named_struct(
                        's', a.cs, 'e', a.cs + a.cn - 1,
                        'n', a.cn, 'te', a.cte)),
                    a.segs)) END
    """
    return (
        es.select("doc_id", F.explode(F.expr(fold)).alias("g"))
        .select(
            "doc_id",
            F.col("g.s").cast("bigint").alias("start_frame"),
            F.col("g.e").cast("bigint").alias("end_frame"),
            F.col("g.n").cast("bigint").alias("n_frames"),
            F.col("g.te").alias("seg_energy"),
        )
    )


# --------------------------------------------------------------------------
# Audio fingerprint near-dup over the temporal energy envelope (round 9)
# --------------------------------------------------------------------------

_AFP_BITS = 60
_AFP_MAX_HAMMING = 3
_AFP_BANDS, _AFP_BAND_BITS = 4, 15  # pigeonhole: 4 bands > hamming 3

# chromaprint-style whole-clip bit signature, DuckDB-replayable: split the
# payload into 60 equal TIME WINDOWS (window i covers 1-based positions
# floor(i·L/60)+1 .. floor((i+1)·L/60) — a partition of 1..L), energy =
# byte-value sum, bit i = 1 iff window i's MEAN energy exceeds the clip
# mean — compared as the exact integer cross-product w_i·L > T·n_i, so
# both engines decide every bit identically with no division.
_AFP_SQL = """
        WITH base AS (
            SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
                   list_transform(range(1, length(text) + 1),
                       j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1))
                                 AS BIGINT)) AS bs
            FROM documents),
        -- list_sum, not list_reduce: list_reduce raises on the empty list
        -- a zero-length payload produces (round-9 edge audit)
        tt AS (SELECT doc_id, L, bs,
                      CAST(COALESCE(list_sum(bs), 0) AS BIGINT) AS T
               FROM base)
        SELECT doc_id,
               list_reduce(list_transform(range(0, 60), i ->
                   CASE WHEN COALESCE(list_sum(list_slice(bs,
                                 CAST(i*L//60 + 1 AS INTEGER),
                                 CAST((i+1)*L//60 AS INTEGER))), 0) * L
                             > T * ((i+1)*L//60 - i*L//60)
                        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                        ELSE CAST(0 AS BIGINT) END),
                   (a, b) -> a + b) AS afp
        FROM tt
"""

_AFP_EXPR = """
    aggregate(sequence(0, 59), 0L, (acc, i) ->
      acc + IF(
        aggregate(slice(bs,
                        CAST((CAST(i AS BIGINT) * size(bs)) DIV 60 AS INT) + 1,
                        CAST((CAST(i+1 AS BIGINT) * size(bs)) DIV 60
                             - (CAST(i AS BIGINT) * size(bs)) DIV 60 AS INT)),
                  0L, (a, b) -> a + b) * size(bs)
          > T * ((CAST(i+1 AS BIGINT) * size(bs)) DIV 60
                 - (CAST(i AS BIGINT) * size(bs)) DIV 60),
        shiftleft(1L, i), 0L))
"""


def _afp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 60-bit audio fingerprint of the payload's energy envelope.

    The stub treats the payload bytes as the decoded sample stream (a
    real pipeline would decode PCM first — same plan, different kernel
    inside the transform, exactly like the VAD row); the signature is
    the chromaprint idea reduced to one bit per time window: 60 equal
    windows over the clip, bit = window mean energy above clip mean,
    decided by exact integer cross-multiplication (w·L > T·n, no
    division, bit-identical cross-engine). Windows are POSITIONS in the
    stream, so this captures temporal envelope structure — near-identical
    clips with a small local amplitude edit flip only the touched
    window's bits (mean-preserving edits flip ≤ the edited windows),
    while unrelated clips differ in ~30 of 60 bits (measured 29.6 mean
    pairwise hamming at sf0.01, zero accidental pairs within 3).

    Plan shape: zero shuffles beyond the keyed repartition. The byte
    array and its total build once per doc and are PINNED behind the
    keyed-aggregate barrier (the VAD/_shingles_df trick) — without it
    the 60-window fold inlines the O(L) byte transform into every
    window, O(60·L) per doc."""
    d = load(spark, sf_dir, "documents").repartition(
        stage_tasks(spark, [table_path(sf_dir, "documents")]), "doc_id"
    )
    pre = (
        d.select(
            "doc_id",
            # empty-payload guard: sequence(1, 0) DESCENDS in Spark
            # ([1, 0]) where DuckDB's range(1, 1) is empty — an empty
            # clip would grow two phantom bytes and silently diverge
            # (round-9 edge audit)
            F.expr(
                "CASE WHEN length(text) < 1"
                " THEN CAST(array() AS ARRAY<BIGINT>)"
                " ELSE transform(sequence(1, length(text)), j -> "
                "CAST(ascii(substring(text, j, 1)) AS BIGINT)) END"
            ).alias("bs"),
        )
        .select(
            "doc_id", "bs",
            F.expr("aggregate(bs, 0L, (a, b) -> a + b)").alias("T"),
        )
        .groupBy("doc_id")
        .agg(F.first("bs").alias("bs"), F.first("T").alias("T"))
    )
    return pre.select("doc_id", F.expr(_AFP_EXPR).alias("afp"))


@register(
    "multimodal_audio_fingerprint",
    oracle=f"{_AFP_SQL}",
    tags=("multimodal", "audio", "fingerprint", "dedup"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload 60-bit temporal-energy fingerprint (chromaprint-style
    window-mean-vs-clip-mean bits) — the signature stage of
    multimodal_audio_fingerprint_neardup, value-pinned on its own."""
    return _afp_df(spark, sf_dir)


@register(
    "multimodal_audio_fingerprint_neardup",
    oracle=f"""
    WITH s AS ({_AFP_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.afp, b.afp)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= {_AFP_MAX_HAMMING}
    """,
    tags=("multimodal", "audio", "fingerprint", "dedup", "bench"),
)
def multimodal_audio_fingerprint_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-duplicate pairs by temporal energy envelope (hamming ≤ 3
    of 60 fingerprint bits) — re-recorded/re-encoded clip detection,
    where the TIME STRUCTURE of the signal defines similarity (the
    pHash row's bag-of-features signature is order-insensitive; this one
    is order-sensitive — the two catch different duplicate classes,
    exactly like audio vs image near-dup in a real curation stack).

    Blocking is the shared banded_hamming_pairs machinery (round 8;
    4 bands × 15 bits, pigeonhole recall exactly 1 at hamming ≤ 3) over
    the per-doc fingerprints — one (band, band_val) shuffle of 16-byte
    rows, in-bucket pair expansion in-array, never all-pairs. Identical
    clips collide at hamming 0 through the same path. The corpus at
    sf0.01 contains no temporal near-dups (the honest answer is the
    empty set, which the brute-force oracle confirms); the planted
    recall/precision suite pins the semantics and sf0.1 carries the
    8 exact-dup pairs. At 100 TB: signature build is one linear scan,
    the hot-bucket residual (mass-duplicated audio → one signature
    value) is the documented exact-dedup-first / AQE-skew posture shared
    with dedup_simhash_pairs."""
    sig = _afp_df(spark, sf_dir)
    pairs = banded_hamming_pairs(
        sig, "doc_id", "afp",
        n_bands=_AFP_BANDS, band_bits=_AFP_BAND_BITS,
        max_hamming=_AFP_MAX_HAMMING, sig_bits=_AFP_BITS,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


# the 4 band predicates of the oracle's candidate join, OR-amplified —
# the SQL replay of the (band, band_val) blocking self-join below
_AFP_BAND_MATCH = " OR ".join(
    f"((a.afp >> {b * _AFP_BAND_BITS}) & {(1 << _AFP_BAND_BITS) - 1})"
    f" = ((b.afp >> {b * _AFP_BAND_BITS}) & {(1 << _AFP_BAND_BITS) - 1})"
    for b in range(_AFP_BANDS)
)


@register(
    "multimodal_audio_fingerprint_nn",
    oracle=f"""
    WITH s AS ({_AFP_SQL}),
    cand AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS nn,
               bit_count(xor(a.afp, b.afp)) AS h
        FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE {_AFP_BAND_MATCH}
    )
    SELECT doc_id, nn AS nn_doc, h AS nn_hamming FROM (
        SELECT doc_id, nn, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY h, nn) AS rnk
        FROM cand
    ) WHERE rnk = 1
    """,
    tags=("multimodal", "audio", "fingerprint", "knn"),
)
def multimodal_audio_fingerprint_nn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-clip nearest banded candidate: for every clip that shares at
    least one fingerprint band bucket with another clip, the candidate at
    minimal Hamming distance (ties → smaller doc_id). The driver-scale
    companion to multimodal_audio_fingerprint_neardup (r9 VERDICT #4):
    that row's thresholded pair set is honestly EMPTY at sf0.01, so its
    stamp hash-matched the empty set and could never fail on content —
    this row runs the SAME blocking machinery (band extraction, bucket
    grouping, in-bucket pair expansion, xor/bit_count Hamming) and is
    non-empty at every shipped scale (152 rows at sf0.01), so the gate
    exercises actual pair semantics every round.

    Plan shape: UNLIKE the thresholded rows, candidate enumeration here
    STREAMS through a (band, band_val) self-join rather than the
    zero-join in-bucket array expansion — an unthresholded NN must
    enumerate every in-bucket pair, and the eager transform() pair
    array is bucket-size² MEMORY in one task: at sf10 the envelope
    corpus holds 2,118-doc band buckets (periodic envelopes pile onto
    alternating-bit band values), a ~90 MB pair array per hot bucket
    per branch, and the round-10 first cut died in GC exactly there. A
    join emits the same pairs row-by-row and AQE's skew-join splits the
    hot buckets across tasks. The signature table is localCheckpointed
    (500k × 16-byte rows) so both join branches read one build. The
    join yields both orientations directly (a ≠ b), and the per-doc
    min-struct aggregate does partial MIN map-side — duplicates from
    multi-band agreement are free under MIN."""
    mask = (1 << _AFP_BAND_BITS) - 1
    sig = _afp_df(spark, sf_dir).localCheckpoint(eager=False)
    bands = sig.select(
        "doc_id",
        "afp",
        F.explode(
            F.array(*[F.lit(b) for b in range(_AFP_BANDS)])
        ).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"(afp >> (band * {_AFP_BAND_BITS})) & {mask}"),
    )
    a = bands.select("band", "band_val", F.col("doc_id").alias("doc_id"),
                     F.col("afp").alias("sa"))
    b = bands.select("band", "band_val", F.col("doc_id").alias("nn"),
                     F.col("afp").alias("sb"))
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_id") != F.col("nn"))
        .select(
            "doc_id",
            "nn",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
    )
    best = cand.groupBy("doc_id").agg(
        F.min(F.struct("hamming", "nn")).alias("m")
    )
    # no explicit unpersist: the caller executes the returned frame after
    # this function exits, so the checkpoint blocks must outlive it (the
    # ContextCleaner reclaims them; the iterative algos release eagerly
    # only because they materialize each round themselves)
    return best.select(
        "doc_id",
        F.col("m.nn").alias("nn_doc"),
        F.col("m.hamming").alias("nn_hamming"),
    )
