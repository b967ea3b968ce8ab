"""Arrow-batched UDFs wrapping the pure stage library.

The whole reference pipeline is, in Spark terms, one scalar map
(SURVEY.md §2.11): ``bytes → struct`` per document, embarrassingly
row-parallel. It is expressed here as a single ``mapInPandas`` stage so one
Python-worker round-trip covers decode → segment → extract → clean →
combine → reflow → normalize → spans, with numpy/pandas doing the batch
work. No per-row Python ever runs on the driver.
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..stages.htmlparse import extract_sections
from ..stages.normalize import OrthographyNormalizer
from ..stages.textops import (
    clean_divider_noise, combine_sections, readable_diff, reflow_text,
    section_spans, transcribe_sections,
)

SPAN_TYPE = ArrayType(StructType([
    StructField("section", StringType(), False),
    StructField("start", LongType(), False),
    StructField("end", LongType(), False),
]))

METRICS_TYPE = StructType([
    StructField("n_blocks", IntegerType(), False),
    StructField("n_cols", IntegerType(), False),
    StructField("n_dropped_lines", IntegerType(), False),
    StructField("n_joined_hyphens", IntegerType(), False),
    StructField("html_bytes", LongType(), False),
    StructField("has_masthead", BooleanType(), False),
])

RESULT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("header", StringType(), True),
    StructField("columns", ArrayType(StringType()), False),
    StructField("combined", StringType(), False),
    StructField("transcribed", StringType(), False),
    StructField("normalized", StringType(), True),
    StructField("correction_changes", StringType(), True),
    StructField("final", StringType(), False),
    StructField("spans", SPAN_TYPE, False),
    StructField("metrics", METRICS_TYPE, False),
])

_SHORT_LINE = re.compile(r"^\s*\S{1,2}\s*$")
_HYPHEN_BREAK = re.compile(r"-\n\s*")


def extract_one(url: str, html: bytes, normalizer: OrthographyNormalizer | None,
                wants: frozenset | None = None):
    """Full per-page extraction: the Spark analog of
    ``TesseractEngine.process_file`` (``engines/tesseract_engine.py:113-192``)
    with the LLM correction pass replaced by trie normalization.

    ``wants``: the result fields the caller will keep (None = all). Fields
    outside the set are returned as None and their computation skipped —
    the in-UDF projection lever: a ``final``+``spans`` consumer never pays
    for metrics counting or the combined join, and the word diff runs only
    when ``correction_changes`` is wanted. Values of computed fields are
    identical regardless of ``wants``.
    """
    header_raw, column_raws = extract_sections(html)

    sections: list[str] = []
    labels: list[str] = []
    if header_raw is not None:
        sections.append(clean_divider_noise(header_raw))
        labels.append("header")
    for i, raw in enumerate(column_raws, 1):
        sections.append(clean_divider_noise(raw))
        labels.append(f"column-{i}")

    all_fields = wants is None
    combined = (combine_sections(sections)
                if all_fields or "combined" in wants else None)
    transcribed = transcribe_sections(sections)
    spans = (section_spans(sections, labels)
             if all_fields or "spans" in wants else None)

    normalized = None
    changes = None
    if normalizer is not None:
        # normalize the flowing text (sans trailing newline), mirroring the
        # correction pass input (``tesseract_claude_engine.py:108-122``);
        # the word-level change report mirrors correction-changes.txt
        # (``tesseract_claude_engine.py:126-133``)
        normalized = normalizer.normalize_framed(transcribed)
        if all_fields or "correction_changes" in wants:
            changes = readable_diff(transcribed[:-1], normalized[:-1])

    metrics = None
    cols = sections[1:] if header_raw is not None else sections
    if all_fields or "metrics" in wants:
        raws = ([header_raw] if header_raw is not None else []) + column_raws
        # C-speed forms of the regex counters (equivalence pinned by
        # tests): _SHORT_LINE matches iff the stripped line is 1-2 chars
        # (a <=2-char strip residue cannot contain whitespace), and every
        # non-overlapping _HYPHEN_BREAK match starts at a distinct "-\n".
        n_dropped = sum(1 for raw in raws for ln in raw.split("\n")
                        if 0 < len(ln.strip()) <= 2)
        n_hyphens = sum(s.count("-\n") for s in sections)
        metrics = {
            "n_blocks": len(sections),
            "n_cols": len(cols),
            "n_dropped_lines": int(n_dropped),
            "n_joined_hyphens": int(n_hyphens),
            "html_bytes": len(html) if html is not None else 0,
            "has_masthead": header_raw is not None,
        }

    return {
        "url": url,
        "header": sections[0] if header_raw is not None else None,
        "columns": cols,
        "combined": combined,
        "transcribed": transcribed,
        "normalized": normalized,
        "correction_changes": changes,
        # X5 best-of fallback: corrected text if the correction pass ran,
        # else the reflowed text (``coalesce`` semantics,
        # ``tesseract_claude_engine.py:134-137``)
        "final": normalized if normalized is not None else transcribed,
        "spans": spans,
        "metrics": metrics,
    }


def projected_schema(output_columns: list[str] | None) -> StructType:
    """RESULT_SCHEMA restricted to the requested columns (declared order)."""
    if not output_columns:
        return RESULT_SCHEMA
    want = set(output_columns) | {"url"}
    return StructType([f for f in RESULT_SCHEMA.fields if f.name in want])


def extract_map_fn(normalize_table: tuple[dict, set] | None,
                   output_columns: list[str] | None = None):
    """Build the ``mapInPandas`` function. ``normalize_table`` is the
    broadcast-safe plain-dict form of the trie (rebuilt once per executor —
    the J3 broadcast-lookup pattern).

    ``output_columns`` pushes projection *into* the UDF: Catalyst cannot
    prune inside a mapInPandas stage, so a downstream ``select`` still pays
    the full Arrow transfer and compute. Requesting a subset both trims the
    Arrow payload and skips work — e.g. without ``correction_changes`` the
    quadratic word diff never runs.
    """
    fields = [f.name for f in projected_schema(output_columns).fields]
    wants = frozenset(fields)

    def fn(batches):
        import pandas as pd
        normalizer = (OrthographyNormalizer(normalize_table[0],
                                            normalize_table[1])
                      if normalize_table is not None else None)
        for pdf in batches:
            rows = [extract_one(u, h, normalizer, wants=wants)
                    for u, h in zip(pdf["url"].tolist(),
                                    pdf["html"].tolist())]
            # column-wise assembly: pd.DataFrame(list-of-dicts) re-infers
            # per row; a dict of per-field lists is one C pass per column
            # (and yields the projected columns only, in declared order)
            yield pd.DataFrame({f: [r[f] for r in rows] for f in fields},
                               columns=fields)
    return fn


def make_normalize_udf(spark, normalizer: OrthographyNormalizer):
    """Standalone string→string normalization pandas UDF (broadcast trie).

    The ``pd.Series`` type hints must be resolvable from this module's
    globals when pyspark evaluates them (PEP 563 stringifies them here),
    so pandas is imported at call time into the module namespace — a
    function-local import leaves pyspark's hint resolver with bare
    strings and an UNSUPPORTED_SIGNATURE error.
    """
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    table = normalizer.to_table()
    bc = spark.sparkContext.broadcast(table)

    @pandas_udf(StringType())
    def normalize(s: pd.Series) -> pd.Series:
        local = OrthographyNormalizer(bc.value[0], bc.value[1])
        return s.map(lambda t: local.normalize(t) if t is not None else None)

    return normalize
