"""The extraction pipeline operator: ``pages`` → ``results``.

Spark-first design notes (scale target: 10^12 rows / 100 TB):

- **Map-only.** The whole pipeline is one ``mapInPandas`` stage — no shuffle
  in the hot path. The only shuffle in a production run is the resume
  anti-join, and a fresh pass skips it (``operators/resume.py``).
- **Quarantine.** A malformed page must not kill a 1000-executor job. The
  reference catches per-file exceptions (``ocr.py:159-163``); here rows are
  gated *before* the UDF (null/oversized html) into an errors DataFrame,
  and the parser itself is total (stdlib HTMLParser never raises on bad
  markup; undecodable bytes are replaced).
- **Arrow batches.** ``spark.sql.execution.arrow.maxRecordsPerBatch`` is
  tuned down in ``plans/session.py`` so multi-MB html payloads don't blow up
  Python-worker memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import extract_map_fn
from ..stages.normalize import default_normalizer

# Pages above this are quarantined, mirroring the reference's hard 5 MB
# decoded-image budget (``claude_vision_engine.py:92-95``) scaled to html.
MAX_HTML_BYTES = 16 * 1024 * 1024


def split_quarantine(pages: DataFrame, max_bytes: int = MAX_HTML_BYTES,
                     observation=None) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined). Quarantined rows keep url + reason for the
    errors table (S5 in SURVEY.md §2.1).

    With an ``Observation``, the action that consumes ``good`` also counts
    the quarantined rows as metric ``n_bad``, in the same scan."""
    reason = (
        F.when(F.col("html").isNull(), F.lit("null_html"))
        .when(F.length("html") > max_bytes, F.lit("oversized_html"))
    )
    with_reason = pages.withColumn("quarantine_reason", reason)
    tagged = with_reason if observation is None else with_reason.observe(
        observation, F.count("quarantine_reason").alias("n_bad"))
    good = tagged.filter(F.col("quarantine_reason").isNull()) \
                 .drop("quarantine_reason")
    bad = with_reason.filter(F.col("quarantine_reason").isNotNull()) \
                     .select("url", "quarantine_reason")
    return good, bad


def explode_sections(results: DataFrame) -> DataFrame:
    """Wide result rows → one row per layout section (the ``blocks`` shape
    of the SURVEY data model): (url, section, ord, start, end, text).

    Reading order is the span order (header first, then columns left→right,
    ``tesseract_engine.py:158-190``); section text is sliced from
    ``combined`` by its span, so this is pure column algebra — no UDF, no
    reparse.
    """
    sec = F.posexplode("spans").alias("ord", "span")
    exploded = results.select("url", "combined", sec)
    # spans are UTF-8 *byte* offsets; slice the encoded form
    data = F.encode(F.col("combined"), "UTF-8")
    body = F.decode(
        # substring is 1-based; length = end - start
        F.substring(data, F.col("span.start") + 1,
                    F.col("span.end") - F.col("span.start")), "UTF-8")
    return exploded.select(
        "url",
        F.col("span.section").alias("section"),
        F.col("ord").cast("int").alias("ord"),
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        body.alias("text"),
    )


def extract_pages(pages: DataFrame, normalize: bool = True,
                  output_columns: list[str] | None = None) -> DataFrame:
    """Run the full extraction over a pages DataFrame → RESULT_SCHEMA rows.

    ``output_columns``: project inside the UDF (Catalyst cannot prune
    through mapInPandas — a downstream select still pays full transfer and
    compute). ``url`` is always included.
    """
    from ..functions.udfs import projected_schema
    table = default_normalizer().to_table() if normalize else None
    return pages.select("url", "html").mapInPandas(
        extract_map_fn(table, output_columns),
        schema=projected_schema(output_columns))
