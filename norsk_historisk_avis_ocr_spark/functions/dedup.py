"""Shared column expressions for deduplication operators.

MinHash/SimHash/Jaccard primitives as native Column expressions so the
dedup operators in :mod:`..operators.dedup` stay fully relational
(explode → agg → join), i.e. shuffle-based and horizontally scalable, with
exact DuckDB oracle equivalents. Hash parameters are fixed constants —
determinism is part of the contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash family: h_i(x) = (A_i * H(x) + B_i) mod P over the 60-bit portable
# hash. P is a large prime below 2^61 so products stay in signed-64 range
# only if we mod A_i*H first — instead compute in two mod steps.
MINHASH_PRIME = 2305843009213693951  # 2^61 - 1 (Mersenne)
N_MINHASH = 16
N_BANDS = 4  # 4 bands × 4 rows — LSH for Jaccard ≈ 0.7+
MINHASH_A = [2 * i + 3 for i in range(N_MINHASH)]   # small odd multipliers
MINHASH_B = [1000003 * (i + 1) for i in range(N_MINHASH)]


def word_shingles_of(toks: Column, k: int = 3) -> Column:
    """k-word shingles (space-joined) of a pre-split token-array column.

    Callers should bind the tokenization to a real column (one projection
    below) rather than passing ``tokens(text)`` inline: a ``split`` nested
    inside the ``transform`` lambda is re-evaluated per shingle — O(words²)
    re-tokenization per document (measured 1.3× on the minhash signature
    leg at sf0.1). Values are identical either way.
    """
    n = F.size(toks)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, k))))
