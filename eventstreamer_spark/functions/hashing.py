"""Engine-independent hashing building blocks for dedup / similarity.

Everything here is expressed over md5 — the one hash both Spark and
DuckDB implement identically — so every signature (minhash, simhash,
LSH band keys, random-projection planes) is bit-for-bit reproducible
by the ANSI-SQL oracle. Performance note: md5 is ~3× slower than
xxhash64; a production deployment would swap `F.xxhash64` in (the
structure is hash-agnostic), trading oracle checkability for speed.

The paired ``*_sql`` helpers emit the DuckDB twin of each Spark
expression from the same parameters, so the two dialects cannot drift.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization + shingling (word n-grams)
# ---------------------------------------------------------------------------

# Spark SQL and DuckDB lambda dialects differ slightly; both sides are
# generated from the same structural parameters.

TOKENS_SPARK = "filter(split(trim({col}), ' '), x -> x != '')"
TOKENS_DUCK = "list_filter(string_split(trim({col}), ' '), x -> x != '')"


def tokens_expr(col: str = "text") -> Column:
    """Whitespace tokens, empty strings dropped (consistent with the
    DuckDB twin for trailing-space behavior)."""
    return F.expr(TOKENS_SPARK.format(col=col))


# Shingle builders take a PRE-MATERIALIZED token-array column, never
# the raw text: inlining the tokenizer would re-evaluate split() once
# per element access (measured 6s → 1s on 5000 docs just for shingling).


def shingles_from_tokens_expr(toks: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    Guarded with CASE: Spark's sequence(1, k) DESCENDS when k < 1,
    which would fabricate shingles for docs shorter than n tokens.
    """
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', "
        + ", ".join(f"element_at({toks}, i + {j})" for j in range(n))
        + "))) ELSE array() END"
    )


def shingles_from_tokens_duck(toks: str, n: int = 3) -> str:
    """DuckDB twin: identical distinct word n-grams (1-based lists)."""
    parts = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> {parts})) ELSE [] END"
    )


def shingles_expr(col: str = "text", n: int = 3) -> Column:
    """Shingles straight from text — only for single-use contexts."""
    return shingles_from_tokens_expr(TOKENS_SPARK.format(col=col), n)


def shingles_duck(col: str = "text", n: int = 3) -> str:
    return shingles_from_tokens_duck(TOKENS_DUCK.format(col=col), n)


# ---------------------------------------------------------------------------
# MinHash (k md5 permutations) + LSH banding
# ---------------------------------------------------------------------------

MINHASH_K = 12
LSH_BANDS = 4  # 4 bands × 3 rows: P(candidate) ≈ 1-(1-j^3)^4 — >0.97 at j=0.8


def minhash_sig_expr(shingles_col: str) -> Column:
    """k-element minhash signature: sig[i] = min over shingles of
    md5(i:shingle). Pure array expressions — no shuffle, no UDF."""
    mins = ", ".join(
        f"array_min(transform({shingles_col}, s -> md5(concat('{i}:', s))))"
        for i in range(MINHASH_K)
    )
    return F.expr(f"array({mins})")


def minhash_sig_duck(shingles_sql: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({shingles_sql}, s -> md5('{i}:' || s)))"
        for i in range(MINHASH_K)
    )
    return f"[{mins}]"


def band_keys_expr(sig_col: str) -> Column:
    """LSH band keys: md5 of each contiguous signature band."""
    r = MINHASH_K // LSH_BANDS
    keys = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"element_at({sig_col}, {b * r + j + 1})" for j in range(r))
        + f", 'band{b}'))"
        for b in range(LSH_BANDS)
    )
    return F.expr(f"array({keys})")


def band_keys_duck(sig_sql: str) -> str:
    r = MINHASH_K // LSH_BANDS
    keys = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"({sig_sql})[{b * r + j + 1}]" for j in range(r))
        + f", 'band{b}'))"
        for b in range(LSH_BANDS)
    )
    return f"[{keys}]"


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived token bits)
# ---------------------------------------------------------------------------

# 32 bits = one bit per md5 hex digit (high-bit test on each of the 32
# hex chars). 16 bits proved too coarse on template-heavy corpora:
# hamming ≤ 3 of 16 matched 3.5M pairs at sf0.1 (~every doc paired).
SIMHASH_BITS = 32
_HI_HEX = "('8','9','a','b','c','d','e','f')"

# Token hashes are computed ONCE into an array column and the 32 bit
# tests read substrings of those hashes — inlining md5 into each bit's
# filter would evaluate the hash 32× per token (Catalyst does not CSE
# across lambda bodies; measured 5× slowdown on doc_fingerprints).

TOKEN_HASHES_SPARK = "transform({toks}, t -> md5(t))"
TOKEN_HASHES_DUCK = "list_transform({toks}, t -> md5(t))"


def simhash_expr(hashes_col: str) -> Column:
    """0/1 string (SIMHASH_BITS chars) from a precomputed md5-per-token
    array: bit b is the majority of hex digit b high-bits (token
    multiplicity counts, as in real simhash)."""
    bits = ", ".join(
        f"IF(2 * size(filter({hashes_col}, h -> substring(h, {b + 1}, 1) IN {_HI_HEX}))"
        f" >= size({hashes_col}), '1', '0')"
        for b in range(SIMHASH_BITS)
    )
    return F.expr(f"concat_ws('', array({bits}))")


def simhash_duck(hashes_sql: str) -> str:
    bits = ", ".join(
        f"CASE WHEN 2 * len(list_filter({hashes_sql}, h -> substring(h, {b + 1}, 1) IN {_HI_HEX}))"
        f" >= len({hashes_sql}) THEN '1' ELSE '0' END"
        for b in range(SIMHASH_BITS)
    )
    return f"concat_ws('', {bits})"


# ---------------------------------------------------------------------------
# Random hyperplanes for sign-bit (SRP) LSH over embeddings
# ---------------------------------------------------------------------------

N_PLANES = 8
EMB_DIM = 64


def hyperplanes() -> list[list[float]]:
    """Fixed literal hyperplanes (seed 42), rounded to 4 decimals so
    the SQL literal and the Spark literal are the same numbers."""
    rng = np.random.RandomState(42)
    return [[round(float(x), 4) for x in row] for row in rng.randn(N_PLANES, EMB_DIM)]


def srp_bucket_expr(vec_col: str) -> Column:
    """Sign-bit bucket string for an ARRAY<FLOAT> embedding column."""
    planes = hyperplanes()
    bits = []
    for p in planes:
        arr = "array(" + ", ".join(f"{w}D" for w in p) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
            f"0D, (acc, v) -> acc + v)"
        )
        bits.append(f"IF({dot} >= 0, '1', '0')")
    return F.expr("concat_ws('', array(" + ", ".join(bits) + "))")


def _flip_bit(bucket: str, i: int, if_fn: str) -> str:
    """bucket string with 1-based bit i flipped (engine-neutral parts)."""
    flip = (
        f"{if_fn}(substring({bucket}, {i}, 1) = '1', '0', '1')"
        if if_fn == "IF"
        else f"CASE WHEN substring({bucket}, {i}, 1) = '1' THEN '0' ELSE '1' END"
    )
    parts = []
    if i > 1:
        parts.append(f"substring({bucket}, 1, {i - 1})")
    parts.append(flip)
    if i < N_PLANES:
        parts.append(f"substring({bucket}, {i + 1}, {N_PLANES - i})")
    return "concat(" + ", ".join(parts) + ")"


def srp_probe_buckets_expr(bucket_col: str) -> Column:
    """Multi-probe set: the bucket itself plus every Hamming-1
    neighbor (one sign bit flipped) — the standard recall lift for
    SRP-LSH at ~(planes+1)× candidate cost, same plan shape."""
    probes = [bucket_col] + [
        _flip_bit(bucket_col, i, "IF") for i in range(1, N_PLANES + 1)
    ]
    return F.expr("array(" + ", ".join(probes) + ")")


def srp_probe_buckets_duck(bucket_col: str) -> str:
    probes = [bucket_col] + [
        _flip_bit(bucket_col, i, "CASE") for i in range(1, N_PLANES + 1)
    ]
    return "[" + ", ".join(probes) + "]"


def srp_bucket_duck(vec_col: str) -> str:
    planes = hyperplanes()
    bits = []
    for p in planes:
        arr = "[" + ", ".join(str(w) for w in p) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, len({vec_col})), "
            f"i -> CAST({vec_col}[i] AS DOUBLE) * ({arr})[i]))"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return "concat_ws('', " + ", ".join(bits) + ")"


# ---------------------------------------------------------------------------
# Banded SRP (sign-bit LSH bands) for embedding near-dup prefiltering
# ---------------------------------------------------------------------------
# MinHash-LSH's band trick applied to sign-random-projection bits: a
# pair is a candidate if ANY band's bit string matches exactly. Band
# bit strings are NESTED (band b's r-bit bucket is the first r chars
# of its SRP_BAND_BITS-bit string), so callers can pick the band
# LENGTH adaptively from the corpus size with a plain substring —
# which is what lets a static SQL oracle mirror the adaptivity.

SRP_BANDS = 6
SRP_BAND_BITS = 12


def band_hyperplanes() -> list[list[list[float]]]:
    """SRP_BANDS independent banks of SRP_BAND_BITS hyperplanes
    (seed 777, rounded to 4 decimals so the SQL literal and the Spark
    literal are the same numbers)."""
    rng = np.random.RandomState(777)
    flat = rng.randn(SRP_BANDS * SRP_BAND_BITS, EMB_DIM)
    return [
        [
            [round(float(x), 4) for x in flat[b * SRP_BAND_BITS + i]]
            for i in range(SRP_BAND_BITS)
        ]
        for b in range(SRP_BANDS)
    ]


def srp_band_buckets_expr(uq_col: str) -> Column:
    """ARRAY of SRP_BANDS sign-bit strings (SRP_BAND_BITS chars each)
    from a QUANTIZED unit vector column (``with_quantized_unit``).

    Sign bits come from pure integer dot products — quantized vector
    components (≤1e6) times integer-scaled plane weights (w·1e4) — so
    the dot is an exact int64 sum in any order and the engines can
    never disagree by an ulp at the 0 boundary (the tolerance the old
    raw-float formulation relied on)."""
    bands = []
    for bank in band_hyperplanes():
        bits = []
        for p in bank:
            arr = (
                "array("
                + ", ".join(f"{int(round(w * 10000))}L" for w in p)
                + ")"
            )
            dot = (
                f"aggregate(zip_with({uq_col}, {arr}, (x, y) -> x * y), "
                f"0L, (acc, v) -> acc + v)"
            )
            bits.append(f"IF({dot} >= 0, '1', '0')")
        bands.append("concat_ws('', array(" + ", ".join(bits) + "))")
    return F.expr("array(" + ", ".join(bands) + ")")


def srp_band_buckets_duck(uq_col: str) -> str:
    """DuckDB twin over the same quantized unit vector: 72 sign bits
    via native ``list_dot_product`` — which is EXACT here, not
    tolerance-matched: every term is an integer (|uq·w·1e4| ≤ 4e10)
    and the 64-term sum stays below 2^53, so float summation returns
    the exact integer in any association order, bit-identical to
    Spark's sequential int64 fold."""
    vecd = f"CAST({uq_col} AS DOUBLE[])"
    bands = []
    for bank in band_hyperplanes():
        bits = []
        for p in bank:
            arr = "[" + ", ".join(str(int(round(w * 10000))) for w in p) + "]"
            dot = f"list_dot_product({vecd}, {arr})"
            bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        bands.append("concat_ws('', " + ", ".join(bits) + ")")
    return "[" + ", ".join(bands) + "]"


def srp_band_bits_for(n_rows: int) -> int:
    """Adaptive band length: r = clamp(ceil(0.75·log2(n)), 5, 12).

    Bucket count per band is 2^r, so candidate pairs per band scale as
    n²/2^r ≈ n^(2-0.75·…) — sublinear growth in candidates while the
    band-match probability (recall) degrades gracefully. Exact powers
    of two are the only n where 0.75·log2(n) can land on an integer,
    and IEEE log2 is exact there, so the Spark-side Python ceil and the
    DuckDB SQL ceil can never disagree."""
    import math

    return max(5, min(SRP_BAND_BITS, int(math.ceil(0.75 * math.log2(max(2, n_rows))))))


SRP_BAND_BITS_DUCK = (
    "GREATEST(5, LEAST(12, CAST(ceil(0.75 * log2({n})) AS INT)))"
)


# ---------------------------------------------------------------------------
# Cosine similarity (exact, sequential-order dot product)
# ---------------------------------------------------------------------------

# Cosine terms are rounded to integers at 1e12 scale before summing:
# identical inputs then produce identical integer sums in any summation
# order, so Spark and the oracle agree on every cosine bit-for-bit
# (a straight double fold differs by an ulp between engines and can
# flip a rounding boundary). Max |term| ≈ 64·1e10 ≪ 2^53 — exact.
_SCALE = "1000000000000"  # 1e12

# --- Quantized-unit-vector fast path -------------------------------------
# For pairwise workloads (near-dup, top-k) the norms must not be
# recomputed per pair. Each vector is normalized once and quantized to
# a BIGINT grid: u[i] = round(x[i] / ‖x‖ · 1e6). Pair scoring is then a
# pure integer dot product (codegen multiply-add, no rounding in the
# hot loop) and cosine ≈ dot/1e12 with ~1e-5 absolute quantization
# error — identical in both engines because the integers are identical.

_QSCALE = "1000000"  # 1e6 per-component grid


def with_quantized_unit(
    df, vec: str, out: str, barrier_partitions: int = 32, drop_zero_norm: bool = False
):
    """Two-stage quantization with a real materialization barrier.

    A plain two-projection split does NOT work: the element lambda
    references the norm column once *syntactically*, so CollapseProject
    inlines it and the norm AGGREGATE re-evaluates per element at
    runtime (measured 2-4× slowdown + bloated codegen). The
    ``repartition`` between the stages is an Exchange Catalyst cannot
    collapse through — the norm is computed exactly once per row. The
    rows at this point are (id, vec, norm) — small — and every caller
    is about to shuffle or collect anyway.
    """
    nsq = (
        f"aggregate(transform({vec}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_SCALE}, 0) AS BIGINT)), "
        f"0L, (acc, v) -> acc + v)"
    )
    norm_col = f"__norm_{out}"
    # nullif: zero-norm vectors quantize to NULLs, matching the
    # DuckDB twin (where CAST(NaN AS BIGINT) would error instead)
    staged = df.withColumn(
        norm_col, F.expr(f"nullif(sqrt(({nsq}) / CAST({_SCALE} AS DOUBLE)), 0)")
    )
    if drop_zero_norm:
        # numpy kernels (np.asarray on the quantized array) cannot take
        # NULL elements — callers feeding mapInPandas/applyInPandas drop
        # zero-norm vectors here, mirroring the oracle's corpus filter
        staged = staged.filter(F.col(norm_col).isNotNull())
    return (
        staged.repartition(barrier_partitions)
        .withColumn(
            out,
            F.expr(
                f"transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) / {norm_col} * {_QSCALE}, 0) AS BIGINT))"
            ),
        )
        .drop(norm_col)
    )


def quantized_unit_duck(vec: str) -> str:
    nsq = (
        f"list_sum(list_transform({vec}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_SCALE}, 0) AS BIGINT)))"
    )
    norm = f"nullif(sqrt(({nsq}) / CAST({_SCALE} AS DOUBLE)), 0)"
    return (
        f"list_transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) / ({norm}) * {_QSCALE}, 0) AS BIGINT))"
    )


def qcosine_expr(ua: str, ub: str) -> Column:
    """Cosine from two quantized unit vectors: integer dot / 1e12."""
    dot = f"aggregate(zip_with({ua}, {ub}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    return F.expr(f"({dot}) / CAST({_SCALE} AS DOUBLE)")


def qcosine_duck(ua: str, ub: str) -> str:
    dot = f"list_sum(list_transform(generate_series(1, len({ua})), i -> ({ua})[i] * ({ub})[i]))"
    return f"(({dot}) / CAST({_SCALE} AS DOUBLE))"
