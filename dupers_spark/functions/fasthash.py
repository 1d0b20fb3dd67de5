"""Arrow-vectorized signature kernels (pandas UDFs, numpy inside).

Why these exist: Spark's higher-order functions (transform/aggregate) are
evaluated interpreted — NOT whole-stage-codegen'd — so an n-permutation
minhash written as nested ``transform`` costs ~ms/row in boxed allocations.
The numpy kernels below do the same math at ~100 µs/row in Arrow batches,
which is the difference between feasible and not at 10^12 rows. This is the
"vectorized pandas/Arrow UDFs only" slow-path sanctioned by the BASELINE
input_hint — never per-row Python.

Hashing: zlib.crc32 (C-speed, deterministic everywhere) avalanched through
splitmix64 in numpy uint64 — engine-internal only (LSH banding needs
consistency, not portability). Oracle-checked paths keep the portable
polynomial hash in functions/hashing.py.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from dupers_spark.functions.hashing import P31, perm_coeffs


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit avalanche (public-domain splitmix64 constants)."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _crc_hashes(strings: list[str], seed: int = 0) -> np.ndarray:
    """list of strings → avalanched uint64 hashes."""
    crcs = np.fromiter(
        (zlib.crc32(s.encode("utf-8"), seed) for s in strings),
        dtype=np.uint64,
        count=len(strings),
    )
    return _splitmix64(crcs)


def caption_signature_udf(shingle_k: int, num_perm: int, bands: int,
                          rows: int, seed: int = 42) -> Column:
    """Factory: ONE fused pandas UDF caption → struct(shingles, bands).

    Does shingling, minhash, and LSH banding in a single numpy pass so no
    interpreted Spark HOF touches the hot path (HOF evaluation is both
    slow and JIT-variable — observed 3× CPU swings run-to-run). Band key
    j = splitmix64-fold of the j-th r-row signature slice.
    """
    a, b = perm_coeffs(num_perm, seed)
    A = np.array(a, dtype=np.int64)[:, None]
    B = np.array(b, dtype=np.int64)[:, None]
    GOLD = np.uint64(0x9E3779B97F4A7C15)

    from pyspark.sql.types import StringType, StructField, StructType

    out_type = StructType([
        StructField("shingles", ArrayType(StringType())),
        StructField("bands", ArrayType(LongType())),
    ])

    @pandas_udf(out_type)
    def fused(captions: pd.Series) -> pd.DataFrame:
        sh_out, band_out = [], []
        empty_sig = ((B.ravel()) % P31).astype(np.uint64)
        for text in captions:
            toks = (text or "").split()
            if len(toks) <= shingle_k:
                shingles = [" ".join(toks)] if toks else [""]
            else:
                seen = dict.fromkeys(
                    " ".join(toks[i:i + shingle_k])
                    for i in range(len(toks) - shingle_k + 1)
                )
                shingles = list(seen)
            x = (_crc_hashes(shingles).astype(np.int64) & np.int64(0x7FFFFFFF)) % P31
            sig = ((A * x[None, :] + B) % P31).min(axis=1).astype(np.uint64)
            with np.errstate(over="ignore"):
                folded = np.zeros(bands, dtype=np.uint64)
                sl = sig[: bands * rows].reshape(bands, rows)
                for j in range(rows):
                    folded = _splitmix64(folded ^ (sl[:, j] + GOLD * np.uint64(j + 1)))
                # mix in the band index so identical slices in different
                # bands never collide
                folded = _splitmix64(folded ^ (np.arange(bands, dtype=np.uint64) + GOLD))
            sh_out.append(shingles)
            band_out.append(folded.astype(np.int64).tolist())
        return pd.DataFrame({"shingles": sh_out, "bands": band_out})

    return fused


def _stack_vecs(series: pd.Series) -> np.ndarray:
    """pd.Series of array<float> cells → (n, dim) float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def cosine_pair_udf() -> Column:
    """Factory: pandas UDF (array a, array b) → double cosine.

    One einsum per Arrow batch instead of an interpreted zip_with+aggregate
    per row — at dim 512–1024 the HOF form is both plan bloat (per-element
    lambda eval) and the documented 3× JIT-variance hot path. The HOF
    variant (operators/ann.cosine) stays as the DuckDB-oracle twin.
    """

    @pandas_udf("double")
    def cos2(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        A = _stack_vecs(a)
        B = _stack_vecs(b)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return cos2


def srp_table_keys_udf(dim: int, n_tables: int, n_planes: int,
                       seed: int = 42) -> Column:
    """Factory: pandas UDF array<float> vec → array<long> of n_tables SRP
    bucket keys (OR-construction / banding for embeddings).

    All n_tables·n_planes hyperplane dot products are ONE (batch × dim) @
    (dim × L·p) matmul per Arrow batch; key_l packs table l's sign bits.
    Replaces the per-plane literal-array HOF (12k plan literals at dim 768 ×
    16 planes, interpreted per-row eval).
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="object")
        X = _stack_vecs(vecs)
        bits = (X @ planes.T) > 0  # (n, L*p)
        per_table = [
            bits[:, t * n_planes:(t + 1) * n_planes].astype(np.int64) @ weights
            for t in range(n_tables)
        ]
        return pd.Series(np.stack(per_table, axis=1).tolist())

    return keys


def simhash64_udf(seed: int = 0) -> Column:
    """Factory: pandas UDF array<string> tokens → long simhash.

    bit_b = sign of Σ_tokens ±1 per bit of the token hash — numpy
    bit-unpacking instead of 64 interpreted aggregates.
    """
    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf(LongType())
    def sh(tokens: pd.Series) -> pd.Series:
        out = np.zeros(len(tokens), dtype=np.int64)
        for i, lst in enumerate(tokens):
            if lst is None or len(lst) == 0:
                continue
            h = _crc_hashes(list(lst), seed)
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            word = np.uint64(0)
            setbits = np.nonzero(votes > 0)[0]
            for bpos in setbits:
                word |= np.uint64(1) << np.uint64(bpos)
            out[i] = word.astype(np.int64)
        return pd.Series(out)

    return sh
