"""Hot-key skew handling: salted two-phase aggregation.

The north rule calls for explicit skew handling; the classic case in a
web-pages corpus is hot *hosts* (one host owning a large share of urls —
the synthetic pages table plants exactly this: host0 holds ~1/3 of rows).
A straight ``groupBy(host)`` sends every host0 row to one reducer; salting
splits the hot key across ``n_salts`` reducers and re-combines:

    phase 1: groupBy(key, salt)  — partial aggregate, salt = hash(row) % S
    phase 2: groupBy(key)        — combine the S partials

Catalyst's own partial aggregation already does map-side combining for
algebraic aggregates, so salting matters when phase-1 *results* are still
skewed (huge distinct-sets per key, percentile sketches, collect-type
aggregates) or when AQE skew handling is unavailable (non-join stages).
The operator is generic over algebraic (sum/count-shaped) measures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic row salt in [0, n_salts): hash of the given columns
    (default: all input columns) — no RNG, so retried tasks are stable
    (re-execution under speculative retry must not re-shuffle rows)."""
    basis = [F.col(c) for c in (cols or df.columns)]
    return df.withColumn("_salt", F.pmod(F.xxhash64(*basis), F.lit(n_salts)))


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase salted row count per key (count is re-aggregable)."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias("n_rows"))


def salted_sum(df: DataFrame, key: str, value: Column, alias: str,
               n_salts: int = 16) -> DataFrame:
    """Two-phase salted sum of an (exact-integer) measure per key."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key, "_salt").agg(F.sum(value).alias("_s"))
    return partial.groupBy(key).agg(F.sum("_s").cast("long").alias(alias))
