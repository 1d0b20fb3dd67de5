"""Hash / signature expressions — pure Spark SQL, JVM-side, codegen-friendly.

Everything here compiles to built-in expressions (no Python boundary) and is
ANSI-safe (Spark 4 enables ANSI mode by default): all modular arithmetic is
first reduced with ``pmod(x, P31)`` so products stay < 2^62.

MinHash math: h_i(s) = (a_i * x(s) + b_i) mod P, P = 2^31 - 1 (prime),
x(s) = xxhash64(shingle) mod P, a_i ∈ [1, P), b_i ∈ [0, P) seeded.
Signature_i = min over shingles. Banding: b bands × r rows, band key =
xxhash64(band_id, slice) — an equi-joinable 64-bit key.

Replaces the reference's single SHA-256 content hash (pkg/dupe/parse/
parse.go:217-231) with the near-dup signature family the north_rule adds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

P31 = (1 << 31) - 1  # Mersenne prime 2^31-1


def perm_coeffs(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, P31, num_perm)).tolist()
    b = (rng.integers(0, P31, num_perm)).tolist()
    return a, b


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a space-separated text column.

    Texts shorter than k words yield one shingle (the whole text), so every
    non-empty caption has ≥1 shingle and identical short texts still match.
    """
    words = F.split(F.trim(col), r"\s+")
    n = F.size(words)
    shingled = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    return F.array_distinct(shingled)


def hashed_shingles(shingles: Column) -> Column:
    """shingle strings → int64 in [0, P31): xxhash64 then pmod."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(P31)))


def minhash_signature(hashed: Column, num_perm: int = 126, seed: int = 42) -> Column:
    """array<long> minhash signature from a hashed-shingle array.

    One nested higher-order expression: for each (a_i, b_i) literal pair,
    min over shingles of (a_i * x + b_i) mod P. a_i*x < 2^31 * 2^31 = 2^62,
    so the product never overflows int64 (ANSI-safe).
    """
    a, b = perm_coeffs(num_perm, seed)
    perms = F.array(*[
        F.struct(F.lit(int(ai)).alias("a"), F.lit(int(bi)).alias("b"))
        for ai, bi in zip(a, b)
    ])
    return F.transform(
        perms,
        lambda p: F.array_min(
            F.transform(hashed, lambda x: F.pmod(p["a"] * x + p["b"], F.lit(P31)))
        ),
    )


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """signature → array<struct<band:int, key:long>> for LSH banding.

    key = xxhash64(band_id, slice) — collisions across different slices are
    ~2^-64 and additionally guarded by joining on (band, key).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bnd: F.struct(
            bnd.cast("int").alias("band"),
            F.xxhash64(bnd, F.slice(sig, bnd * rows + 1, rows)).alias("key"),
        ),
    )


def hashed_tokens(tokens: Column, seed: int = 0) -> Column:
    """token strings → xxhash64 longs (compute once, reuse per bit)."""
    return F.transform(tokens, lambda t: F.xxhash64(t, F.lit(seed)))


def simhash_from_hashed(hashed: Column, n_bits: int = 64) -> Column:
    """SimHash from pre-hashed tokens — pure SQL bit arithmetic.

    bit_b = sign of Σ_tokens (2*((h(t) >> b) & 1) - 1). The bit positions
    are unrolled Python-side (shift amounts must be literals). Empty token
    array → 0.
    """

    def bit_counter(b: int):
        # exactly-2-arg lambda: _create_lambda passes one variable per param
        return lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)

    val: Column = F.lit(0).cast("long")
    for b in range(n_bits):
        cnt = F.aggregate(hashed, F.lit(0).cast("long"), bit_counter(b))
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        val = val.bitwiseOR(
            F.when(cnt > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return val


def simhash64(tokens: Column, seed: int = 0) -> Column:
    """64-bit SimHash of a token array (xxhash64 token hashes, production)."""
    return simhash_from_hashed(hashed_tokens(tokens, seed), 64)


def simhash_poly(tokens: Column, n_bits: int = 30,
                 mod: int = 1_000_000_007) -> Column:
    """Cross-engine SimHash: token hash is the polynomial rolling hash
    (poly_hash), so DuckDB reproduces the exact VALUES — this is the
    value-oracle twin of :func:`simhash64`. n_bits ≤ 30 because the poly
    hash only carries ~30 bits of entropy (mod < 2^30).
    """
    hashed = F.transform(tokens, lambda t: poly_hash(t, mod))
    return simhash_from_hashed(hashed, n_bits)


def hamming64(a: Column, b: Column) -> Column:
    """popcount(a XOR b) — Spark built-in bit_count, zero UDF."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming_blocks(key: Column, radius: int) -> Column:
    """Split a 64-bit key into (radius+1) blocks → array<struct<blk:int,val:long>>.

    Pigeonhole: two keys within Hamming distance ``radius`` agree exactly on
    at least one block, so an equi-join on (blk, val) finds all candidates —
    the multi-index Hamming-ball probe (SURVEY §2.3) without exploding
    masked variants.
    """
    nblocks = radius + 1
    width = 64 // nblocks
    parts = []
    for j in range(nblocks):
        lo = j * width
        w = width if j < nblocks - 1 else 64 - lo
        if w >= 64:
            val = key
        else:
            mask = F.lit((1 << w) - 1)
            val = F.shiftrightunsigned(key, lo).bitwiseAND(mask)
        parts.append(F.struct(F.lit(j).alias("blk"), val.alias("val")))
    return F.array(*parts)


def poly_hash(col: Column, mod: int = 1_000_000_007) -> Column:
    """Cross-engine polynomial rolling hash over ASCII codes of a string:
    acc = (acc*31 + ascii(char_i)) mod M — value-identical SQL exists in
    DuckDB (list_reduce), enabling a DuckDB-oracle check on hash VALUES.
    acc < 2^30, acc*31 + 255 < 2^35: ANSI-safe.
    """
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, i: F.pmod(acc * 31 + F.ascii(col.substr(i, F.lit(1))), F.lit(mod)),
    )
