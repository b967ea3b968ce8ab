"""Text-analysis column expressions: language-ID, quality, tokens,
fingerprints.

All of these are built from native ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs — so they run at scan speed over a
100 TB corpus and have exact ANSI-SQL oracle equivalents (see
``__spark_entry__.py``).

The portable 56-bit hash used across dedup/fingerprint operators is
``conv(substr(md5(s), 1, 14), 16, 10)`` — identical in Spark and DuckDB
(``('0x' || substr(md5(s),1,14))::BIGINT``), so value-level oracle checks
hold. 56 bits (not 60) so MinHash's ``h * A`` stays inside signed-64 for
the multiplier family in ``functions/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language classifier (whitespace-tokenized languages only — CJK needs a
# different tokenizer and is classified 'und' here). The oracle SQL builds
# its marker table from this same dict (__spark_entry__.py), so the two
# engines cannot drift.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "no": ["og", "det", "som", "på", "av", "ikke", "hvad", "å", "jeg"],
    "da": ["og", "det", "som", "af", "ikke", "hvad", "jeg", "en", "til"],
    "sv": ["och", "det", "som", "av", "inte", "jag", "en", "till", "på"],
    "de": ["und", "der", "die", "das", "nicht", "ist", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que"],
    "es": ["el", "los", "las", "una", "pero", "por", "para", "con", "más"],
}


def portable_hash60(col: Column) -> Column:
    """Deterministic 56-bit hash of a string, identical across engines.

    (Name kept for history; width is 56 bits = 14 hex digits of md5.)
    """
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the basic token counter's unit)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)) \
            .otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavored token estimate: word-piece regex split — runs of
    letters, runs of digits, or single non-space symbols."""
    pattern = r"[\p{L}]+|[0-9]+|[^\s\p{L}0-9]"
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def quality_score(col: Column) -> Column:
    """Composite document quality in [0, 1]: length score × alpha ratio ×
    (1 − punctuation excess). Deterministic, SQL-expressible."""
    n = F.length(col)
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-zÆØÅæøå]", ""))
    alpha_ratio = alpha / F.greatest(n, F.lit(1))
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?|]", ""))
    punct_ratio = punct / F.greatest(n, F.lit(1))
    return (len_score * alpha_ratio * (F.lit(1.0) - F.least(punct_ratio * 5,
                                                            F.lit(1.0)))).alias("quality")


def char_shingles(col: Column, k: int = 8) -> Column:
    """All k-character shingles of a string as an array (document
    fingerprinting unit; empty array when shorter than k)."""
    n = F.length(col)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: col.substr(i, F.lit(k))))


def fingerprint(col: Column, k: int = 8) -> Column:
    """Winnowing-style document fingerprint: min portable hash over the
    document's k-char shingles (deterministic rolling-hash analog)."""
    hashed = F.transform(char_shingles(col, k), portable_hash60)
    return F.array_min(hashed)
