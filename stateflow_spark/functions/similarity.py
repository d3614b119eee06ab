"""Array-native similarity kernels over packed ``array<double>`` vectors.

Vectors stay whole (no posexplode): dot products and norms are per-row
higher-order expressions, so a cosine needs zero shuffles and joins carry
one row per vector instead of dim× rows. Two kernel families:

- ``*_dec`` — decimal-exact folds used by every oracled similarity query.
  Each element product rounds to scale 12 exactly like the oracle's
  ``SUM(CAST(x*y AS DECIMAL(38,12)))`` and accumulates through
  decimal(30,12) — under precision 38 at every step, so the fold is exact
  and order-independent, hence bit-identical to DuckDB's decimal SUM.
  (Precision sizing argument: see queries/dedup.py dedup_embedding_cosine.
  A (38,12)+(38,12) fold would hit Spark's precision-loss rule and round
  every step.)
- ``*_f64`` — plain double-precision sequential folds for hot paths where
  cross-engine bit-equality is not required (ANN candidate scoring,
  bench exploration). ~2-3× cheaper than the decimal fold; tests pin the
  two families to agree within 1e-9 on the test corpus.

Reference parity: the reference engine has no vector kernels; this module
backs the LLM-pipeline similarity family (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ACC = "decimal(30,12)"
_ELEM = "decimal(24,12)"


def fold_dec(arr: Column | str) -> Column:
    """Exact decimal fold of an array of decimal(24,12) terms -> double."""
    zero = F.lit(0).cast(_ACC)
    return F.aggregate(arr, zero, lambda acc, v: (acc + v).cast(_ACC)).cast(
        "double"
    )


def dot_dec(a: Column | str, b: Column | str) -> Column:
    """Decimal-exact dot product of two array<double> columns -> double."""
    return fold_dec(F.zip_with(a, b, lambda x, y: (x * y).cast(_ELEM)))


def norm2_dec(a: Column | str) -> Column:
    """Decimal-exact squared L2 norm of an array<double> column -> double."""
    return fold_dec(F.transform(a, lambda x: (x * x).cast(_ELEM)))


def sqdist_dec(a: Column | str, b: Column | str) -> Column:
    """Decimal-exact squared euclidean distance -> double (for centroid
    assignment; matches SUM(CAST((x-c)*(x-c) AS DECIMAL(38,12)))."""
    return fold_dec(
        F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast(_ELEM))
    )


_FXP_SCALE = 1099511627776.0  # 2^40 — exact double scaling (exponent shift)


def sqdist_fxp(
    a: Column | str, b: Column | str, guard: bool = False
) -> Column:
    """Fixed-point EXACT squared euclidean distance for argmin RANKING:
    each term trunc((x−y)²·2^40) as int64, summed exactly -> bigint.

    Both engines compute (x−y) and its square with identical IEEE
    roundings, the ·2^40 scale is an exponent shift (exact), and the
    truncation + int64 sum are exact — so the value is bit-identical
    cross-engine with NO decimal lanes. ~4× cheaper than sqdist_dec
    (long ops instead of BigDecimal inside the interpreted fold;
    measured 24.8 s → 6.5 s on the sf10 SemDeDup coarse pass — the same
    cost as a plain double fold). Quantization is 2^-40 per term, which
    only reorders candidates whose true distances agree to ~1e-12 —
    and identically on both engines, so oracles replay ties exactly
    (the sim_centroid_distance fixed-point convention).

    Overflow bound (round-9 ADVICE low #5 — the old "per-term ≤ int64"
    claim ignored the SUM): the dim-term int64 sum stays in range iff
    (x−y)² ≤ 2^23/dim per term, i.e. |x−y| ≤ 2896/√dim (≤ 362 at dim 64,
    ≤ 91 at dim 1024). Out of range, Spark's non-ANSI bigint sum wraps
    silently while DuckDB's SUM(BIGINT) promotes to HUGEINT — a silent
    cross-engine argmin mismatch, not an error. Embeddings are
    O(1)-magnitude so every current corpus is far inside the bound;
    pass guard=True (debug) to raise on any out-of-range term instead."""
    out = F.aggregate(
        F.zip_with(
            a, b, lambda x, y: ((x - y) * (x - y) * _FXP_SCALE).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    if guard:
        limit = F.lit(float(1 << 23)) / F.size(a).cast("double")
        bad = F.exists(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y) > limit),
            lambda v: v,
        )
        out = F.when(
            bad,
            F.raise_error(
                F.lit(
                    "sqdist_fxp overflow: a term exceeds (x-y)^2 <= 2^23/dim"
                )
            ).cast("bigint"),
        ).otherwise(out)
    return out


def cosine_dec(a: Column | str, b: Column | str) -> Column:
    """Decimal-exact cosine similarity; recomputes both norms — prefer
    precomputing norm2_dec once per side when a side is reused."""
    return dot_dec(a, b) / (F.sqrt(norm2_dec(a)) * F.sqrt(norm2_dec(b)))


_EPS_F64 = 2.220446049250313e-16  # IEEE-754 binary64 machine epsilon


def cosine_band(a: Column | str, denom: Column) -> Column:
    """Per-row bound on |cosine_dec − cosine_f64| for a pair whose shared
    denominator is `denom` (√na2·√nb2 from the decimal-exact norms) —
    the band derivation documented on cosine_ge_banded, factored out so
    the banded ARGMAX (r12: _ivf_classify_delta) and the banded
    threshold share one formula: 4 · n · (u + 5e-13/denom)."""
    return (
        F.size(a).cast("double")
        * F.lit(4.0)
        * (F.lit(_EPS_F64 / 2) + F.lit(5e-13) / denom)
    )


def cosine_ge_banded(
    a: Column | str,
    b: Column | str,
    na2: Column | str,
    nb2: Column | str,
    tau: float,
    band: float | None = None,
) -> Column:
    """Decimal-exact `cosine(a, b) >= tau` with a double fast path.

    The expensive per-pair work in a THRESHOLD test is the BigDecimal
    dot fold — but exactness only matters when the double approximation
    could land on the wrong side of tau: decide with the native double
    cosine when it clears tau by more than the band (conditional
    codegen branches — the decimal fold never executes for those rows),
    and fall back to the exact decimal fold only INSIDE the band. Same
    boolean as the pure-decimal form on every pair, ~the cost of a
    native fold on almost all of them. na2/nb2 must be the
    decimal-exact squared norms (norm2_dec), shared by both paths so
    the denominators are bit-identical.

    Band derivation (round-8 ADVICE — the old fixed 1e-6 constant was
    justified only for 64-dim O(1)-magnitude vectors): the band is
    computed PER ROW from the array length and the shared denominator.
    Both paths divide by the SAME denom (built from the shared
    decimal-exact norms), so the band only needs to cover the
    NUMERATOR divergence |dot_f64 − dot_dec| / denom. Two terms:
    (1) float fold error — sequential summation of n products has
    |fl(dot) − dot| ≤ γ_n·Σ|aᵢbᵢ| (Higham, Accuracy and Stability of
    Numerical Algorithms, §3.1; γ_n ≈ n·u, u = ε/2), and Cauchy–Schwarz
    gives Σ|aᵢbᵢ| ≤ √(Σaᵢ²·Σbᵢ²) = denom, so this term / denom ≤ n·u
    for ANY magnitudes; (2) decimal lane quantization — dot_dec rounds
    every product to scale 12 (decimal(24,12)), up to 5e-13 absolute
    per term, so ≤ n·5e-13 / denom (this term DOMINATES and is
    norm-dependent: measured 9.8e-14 on 64-dim unit-ish vectors where
    n·u alone is 7e-15 — the reason a fixed ε-scaled band is wrong).
    Division/sqrt rounding adds ~4u·|cos|. Default band:
    4 · n · (u + 5e-13/denom) — a ≥3.9× margin over the worst case,
    valid for every dimension and magnitude that doesn't overflow the
    decimal lanes, pinned by the high-dim/large-magnitude kernel test.
    Pass an explicit float to override."""
    denom = F.sqrt(na2) * F.sqrt(nb2)
    fast = dot_f64(a, b) / denom
    if band is None:
        band_c = cosine_band(a, denom)
    else:
        band_c = F.lit(float(band))
    # zero-norm guard (round-9 edge audit): cosine is UNDEFINED for a
    # zero vector — the convention here is "similar to nothing" (FALSE).
    # Unguarded, Spark's ANSI division raised DIVIDE_BY_ZERO (loud crash
    # of the whole query for one bad row) while DuckDB's NaN-compares-
    # greatest semantics would have called every zero-pair similar —
    # oracles carry the matching `n2 > 0` predicate.
    return (
        F.when(denom == F.lit(0.0), F.lit(False))
        .when(fast >= F.lit(tau) + band_c, F.lit(True))
        .when(fast < F.lit(tau) - band_c, F.lit(False))
        .otherwise(dot_dec(a, b) / denom >= F.lit(tau))
    )


def dot_f64(a: Column | str, b: Column | str) -> Column:
    """Fast double dot product: sequential left fold, deterministic within
    Spark but not guaranteed to bit-match other engines' summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2_f64(a: Column | str) -> Column:
    """Fast double squared L2 norm (sequential fold)."""
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_f64(a: Column | str, b: Column | str) -> Column:
    """Fast double cosine similarity for ANN candidate scoring."""
    return dot_f64(a, b) / (F.sqrt(norm2_f64(a)) * F.sqrt(norm2_f64(b)))


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
    *,
    sig_bits: int,
    bucket_tasks: int | None = None,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs whose bit signatures are within
    ``max_hamming``, via band blocking — the shared machinery behind
    SimHash near-dup pairs (dedup_simhash_pairs) and the perceptual-hash
    image near-dup row (multimodal_phash_neardup).

    Pigeonhole guarantee: two signatures within hamming ``max_hamming``
    agree EXACTLY on at least one of ``n_bands`` contiguous bit bands
    whenever ``n_bands > max_hamming`` (asserted) — so blocking on
    (band_idx, band_value) has recall exactly 1, never all-pairs.

    Zero-join form: group each (band, band_val) bucket, expand the
    ordered pairs inside the collected array with the Hamming distance
    computed in place (bit_count of xor — JVM codegen). One shuffle of
    (id, sig) rows ×n_bands; a self-join form would recompute the whole
    upstream signature pipeline on both branches (ReuseExchange does not
    fire across renamed self-join branches). A pair within the threshold
    can agree on several bands → byte-identical rows; distinct after the
    hamming filter has shrunk the set. Bucket lists are small when the
    band-value space (2^band_bits per band) is wide relative to the
    corpus; hot buckets (mass-duplicated signatures) are an AQE-skew /
    upstream-exact-dedup concern, same posture as dedup_simhash_pairs."""
    assert n_bands > max_hamming, (
        f"pigeonhole needs n_bands > max_hamming ({n_bands} <= {max_hamming})"
    )
    pairs = banded_candidate_pairs(
        sig, id_col, sig_col, n_bands, band_bits, sig_bits=sig_bits,
        bucket_tasks=bucket_tasks,
    )
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


def banded_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int,
    band_bits: int,
    *,
    sig_bits: int,
    bucket_tasks: int | None = None,
) -> DataFrame:
    """The candidate stage of ``banded_hamming_pairs``: every ordered
    (id_a < id_b) pair sharing at least one (band, band_val) bucket, with
    the exact Hamming distance — BEFORE the threshold filter, and NOT
    dedup'd (a pair agreeing on k bands appears k times; callers that
    need set semantics distinct(); per-id MIN aggregations are
    duplicate-insensitive and skip it). Split out in round 10 so the
    blocking machinery itself is unit-checkable on corpora where the
    thresholded pair set is empty — it uses the in-bucket array
    expansion, so it wants band-value spaces wide relative to the
    corpus; callers with pathological hot buckets (the audio
    fingerprint NN at sf10) stream an equivalent (band, band_val)
    self-join through AQE's skew split instead."""
    # any blocking guarantee needs the bands to COVER every signature
    # bit — a 64-bit signature banded 4×15 leaves 4 bits no band sees,
    # and two signatures differing only there never share a bucket
    # (round-9 ADVICE low #4; round-10 ADVICE moved the check here so
    # direct candidate-stage callers validate too, not only the
    # thresholded entry point; round-11 ADVICE made sig_bits a REQUIRED
    # keyword — a defaulted width let a 64-bit caller banded 4×15
    # silently pass the check at the default 60)
    assert n_bands * band_bits >= sig_bits, (
        f"bands must cover the signature: {n_bands}×{band_bits} "
        f"= {n_bands * band_bits} < {sig_bits} bits"
    )
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"(sig >> (band * {band_bits})) & {(1 << band_bits) - 1}"),
    )
    if bucket_tasks:
        # the in-bucket pair expansion is compute-dense per byte (O(k²)),
        # the stage class AQE's size-based coalescing collapses to 1 task
        # on byte-small inputs (r13: multimodal_phash_neardup's bucket
        # stage ran 1 task × 0.7-1.5 s cpu). The keyed repartition is
        # reused by the groupBy; callers pass catalog.stage_tasks.
        bands = bands.repartition(bucket_tasks, "band", "band_val")
    pairs = (
        bands.groupBy("band", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sig"))).alias("ds"))
        .filter(F.size("ds") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        """
                        transform(ds, (x, i) ->
                            transform(slice(ds, i + 2, size(ds) - i - 1),
                                      y -> struct(
                                          x.id AS id_a, y.id AS id_b,
                                          bit_count(x.sig ^ y.sig)
                                              AS hamming)))
                        """
                    )
                )
            ).alias("p")
        )
        .select("p.*")
    )
    return pairs
