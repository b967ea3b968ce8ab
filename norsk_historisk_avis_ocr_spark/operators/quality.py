"""Text-analysis operators over a documents-shaped table: language-ID,
quality scoring, token counting, fingerprinting.

All native Column expressions (whole-stage codegen, no Python in the hot
path); each has an exact ANSI-SQL oracle in ``__spark_entry__.py``. These are
the corpus-hygiene stages a 100 TB training-data pipeline runs between
extraction and dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textqual import (
    STOPWORDS, bpe_ish_token_count, fingerprint, quality_score, token_count,
    tokens,
)


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Composite quality in [0,1] + its components."""
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-zÆØÅæøå]", ""))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars_computed"),
        F.round(alpha / F.greatest(n, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )


def _lang_hit_cols() -> list:
    """Per-language marker-hit columns of the ``text`` column (each
    evaluated once in its own projection — the two-step select keeps the
    array scans out of the winner expressions)."""
    toks = tokens(F.lower(F.col("text")))

    def _hits(lang):
        sw = F.array(*[F.lit(x) for x in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) \
            .cast("long").alias(f"hits_{lang}")

    return [_hits(lang) for lang in sorted(STOPWORDS)]


def _lang_winner():
    """(pred_lang, best_hits) expressions over the named hit columns."""
    langs = sorted(STOPWORDS)
    best_hits = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when((best_hits > 0) & (F.col(f"hits_{lang}") == best_hits),
                      F.lit(lang)).otherwise(pred)
    return pred, best_hits


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language classifier, shuffle-free: per language,
    hits = count of tokens in the marker set via array ``filter`` (the
    marker table is a literal — the degenerate broadcast); winner = max
    hits, ties → lexicographic language; zero hits → 'und'.

    (The explode → broadcast-join → window formulation computes the same
    thing with two shuffles; this stays inside one project node — at
    10^12 rows that is the difference between a scan and a job.)
    """
    scored = docs.select("doc_id", *_lang_hit_cols())
    pred, best_hits = _lang_winner()
    return scored.select(
        "doc_id", pred.alias("pred_lang"),
        F.when(best_hits > 0, best_hits).otherwise(F.lit(0).cast("long"))
         .alias("marker_hits"))


def corpus_prep(docs: DataFrame, min_quality: float = 0.6,
                langs: tuple[str, ...] = ("en",)) -> DataFrame:
    """Composed corpus hygiene — the prep a training-data pipeline runs
    between extraction and tokenization, in one operator: exact dedup
    (keep-first), language allowlist, quality floor, token counts.

    Scale shape: the dedup is one hash aggregation + semi-join; language,
    quality, and token counting are column expressions in a single
    projection over the surviving rows (no further shuffle, no UDF) —
    adding the hygiene columns to a 100 TB pass costs scan time only.
    """
    from .dedup import dedup_keep_first
    kept = dedup_keep_first(docs).select("doc_id", "text")
    s1 = kept.select("doc_id", "text", *_lang_hit_cols())
    pred, _best = _lang_winner()
    scored = s1.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"))
    return scored.filter((F.col("quality") >= min_quality) &
                         F.col("pred_lang").isin(*langs))


def fingerprints(docs: DataFrame, k: int = 8) -> DataFrame:
    """Winnowing-style min-hash fingerprint over k-char shingles (the
    rolling-hash document signature)."""
    return docs.select(
        "doc_id", fingerprint(F.col("text"), k).alias("fp"))


def stopword_ratios(docs: DataFrame) -> DataFrame:
    """Per-document English stopword ratio (quality heuristic component)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    toks = tokens(F.lower(F.col("text")))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return docs.select(
        "doc_id",
        F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)
         .alias("en_stopword_ratio"))


# PII-ish pattern classes for corpus scrubbing. Conservative shared
# Java-regex/RE2 syntax so the DuckDB oracle runs the identical patterns
# (both engines' \s and char classes are ASCII here; leftmost greedy
# matching agrees).
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9][0-9 \-]{6,}[0-9]"


def pattern_hygiene(docs: DataFrame) -> DataFrame:
    """Per-document counts of scrub-relevant pattern classes (emails,
    URLs, phone-shaped digit runs) and the digit ratio — the pre-scrub
    audit a training pipeline runs before masking. Pure column
    expressions, shuffle-free, scan-speed."""
    text = F.col("text")
    digits = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.round(digits / F.greatest(F.length(text), F.lit(1)), 6)
         .alias("digit_ratio"),
    )


def scrub_patterns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails and URLs in ``text_col`` with typed placeholder tokens
    (URLs first — an address inside a URL is part of the URL). Other
    columns pass through; same plan shape as any projection."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), URL_RE, "[URL]"),
        EMAIL_RE, "[EMAIL]")
    return docs.withColumn(text_col, scrubbed)


def char_bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level character-bigram counts over lowercased text.

    The explode emits length−1 rows per document, but the groupBy's
    map-side partial aggregation collapses them to the (tiny) bigram
    vocabulary before the one shuffle — the word-count plan at character
    granularity. Docs shorter than 2 chars contribute nothing.
    """
    # bind lower(text) to a real column first: nested inside the transform
    # lambda it is re-lowered once per bigram — O(chars²) per document
    lowered = docs.select(F.lower(F.col(text_col)).alias("_lt"))
    return (lowered.select(F.explode(_bigrams_of("_lt")).alias("bigram"))
                   .groupBy("bigram").agg(F.count("*").alias("cnt")))


def _bigrams_of(col_name: str):
    """Character-bigram array of a pre-lowered string column.
    sequence(1, 0) would be DESCENDING in Spark — guard short docs."""
    t = F.col(col_name)
    return F.when(
        F.length(t) >= 2,
        F.expr(f"transform(sequence(1, length({col_name}) - 1), "
               f"i -> substring({col_name}, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))


def bigram_familiarity(docs: DataFrame, min_count: int = 100,
                       text_col: str = "text") -> DataFrame:
    """Corpus-relative fluency score: the fraction of a document's
    character bigrams that are *common* in the corpus (count ≥
    ``min_count``). OCR garbage and mojibake are full of rare character
    combinations, so low familiarity flags them — a perplexity-style
    signal built from integer counting only (log-based scores are not
    portable across engines bit-for-bit; this is, and its oracle is
    value-exact).

    Plan: one bigram-count aggregation (shared with
    :func:`char_bigram_counts`), a broadcast join of the small common-
    bigram set against the exploded doc bigrams, and one groupBy on
    doc_id — two shuffles total at any corpus size. Docs with fewer than
    2 characters have no bigrams and are absent from the output (same
    contract as the oracle).
    """
    common = (char_bigram_counts(docs, text_col)
              .filter(F.col("cnt") >= min_count).select("bigram"))
    lowered = docs.select("doc_id", F.lower(F.col(text_col)).alias("_lt"))
    doc_grams = lowered.select(
        "doc_id", F.explode(_bigrams_of("_lt")).alias("bigram"))
    flagged = doc_grams.join(
        F.broadcast(common.withColumn("is_common", F.lit(1))),
        "bigram", "left")
    return (flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.coalesce(F.col("is_common"), F.lit(0))).alias("n_common"))
        .select(
            "doc_id", "n_bigrams", "n_common",
            F.round(F.col("n_common") / F.col("n_bigrams"), 6)
             .alias("familiarity")))
