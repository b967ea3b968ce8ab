"""Incremental (Structured Streaming) ingest of a growing pages table.

The reference is a batch pipeline with file-granularity resume
(``ocr.py:45-47``), and the batch path here mirrors that via anti-join +
atomic commits (:mod:`..operators.resume`). A continuously-crawled corpus
also wants the *incremental* shape: new page files land in a directory and
only they are processed. Because the extraction stage is a stateless map
(one ``mapInPandas``), the exact same operator runs unchanged on a
streaming DataFrame — Structured Streaming's file source + sink checkpoint
then provides the done-marker semantics for free (exactly-once per input
file, resumable after a kill), which is the streaming analog of
``run_with_resume``.

No watermarks or stateful operators are needed for extraction itself (the
reference has none — SURVEY.md §2.10); the event-time/sessionization logic
that would back a stateful variant lives as batch window operators in
:mod:`..operators.windows` and would transfer to
``applyInPandasWithState`` if ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of a pages directory (parquet file source). File
    sources require an explicit schema — reuses the batch generator's
    ``PAGES_SCHEMA`` (single source of truth: a column added there reaches
    the incremental path too)."""
    from ..sources.pages import PAGES_SCHEMA
    return spark.readStream.schema(PAGES_SCHEMA).parquet(path)


def run_incremental(spark: SparkSession, in_path: str, out_path: str,
                    checkpoint_path: str,
                    extract_kwargs: dict | None = None,
                    quarantine_path: str | None = None) -> None:
    """Process all pages files not yet seen by this checkpoint, then stop
    (``availableNow`` trigger — the batch-of-the-backlog mode). Re-running
    after new files land processes only the new files; re-running after a
    kill resumes from the checkpoint without duplicating committed output
    (file-source progress + file-sink manifest are both in the
    checkpoint). With ``quarantine_path``, rejected rows (null/oversized
    html) are committed to their own errors table through a sibling
    checkpointed query (S5 semantics, matching the batch path)."""
    from ..operators.extract import extract_pages, split_quarantine

    pages = read_pages_stream(spark, in_path)
    good, bad = split_quarantine(pages)
    results = extract_pages(good, **(extract_kwargs or {}))
    queries = [results.writeStream.format("parquet")
               .option("path", out_path)
               .option("checkpointLocation", checkpoint_path)
               .trigger(availableNow=True)
               .start()]
    if quarantine_path is not None:
        queries.append(bad.writeStream.format("parquet")
                       .option("path", quarantine_path)
                       .option("checkpointLocation",
                               checkpoint_path + "_quarantine")
                       .trigger(availableNow=True)
                       .start())
    for q in queries:
        q.awaitTermination()
