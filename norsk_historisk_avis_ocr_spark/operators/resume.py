"""Checkpoint-resume (J1/S2) and per-partition lineage metrics.

The reference resumes by probing for ``combined.txt`` per file
(``ocr.py:45-47,151-181``). At table scale that existence probe is a
**left-anti join** of the input against the committed results keys — a real
relational operator here. The done-set can be huge in absolute terms, so
the join is left to the planner (a shuffle join unless AQE sees a small
side).
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StructField, StructType,
)


def resume_filter(pages: DataFrame, done_urls: DataFrame,
                  key_col: str = "url") -> DataFrame:
    """Rows of ``pages`` not yet committed: ``pages ⟕̸ done ON key``."""
    return pages.join(done_urls.select(key_col).distinct(), key_col,
                      "left_anti")


class _LineageAccParam(AccumulatorParam):
    """Dict accumulator {partition_id: [n_urls, bytes_in, n_blocks,
    n_mastheads]} merged by per-key elementwise addition."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            a[k] = [x + y for x, y in zip(cur, v)] if cur else list(v)
        return a


# Every lineage file has exactly this schema: parquet appends to one
# lineage dir must not mix INT32 and INT64 files in a column. The counts
# are LONG (the pre-accumulator writer inferred int64 from Python ints);
# committed_at is INT epoch seconds, as the lineage files written so far
# hold it, so a pass after 2038-01-19 fails to build its rows instead of
# appending an INT64 file.
LINEAGE_SCHEMA = StructType(
    [StructField(c, LongType()) for c in (
        "partition_id", "n_urls", "bytes_in", "n_blocks", "n_mastheads")]
    + [StructField("committed_at", IntegerType(), False),
       StructField("committed", BooleanType(), False)])


def with_lineage_stats(results: DataFrame, acc) -> DataFrame:
    """Pass-through stage that accumulates per-partition lineage stats
    while the batch streams to the sink — commit-stats in ONE scan (the
    round-2 shape persisted the batch DISK_ONLY and read it three times).

    Accumulator exactly-once caveat: Spark applies accumulator updates from
    *successful result-stage tasks* exactly once, and a sink write is a
    result stage (each task commits), so retried/speculative tasks don't
    double-count. Updates from re-run shuffle-stage tasks can double-count
    — don't put a shuffle between this stage and the write."""
    has_metrics = "metrics" in results.columns

    def fn(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        for pdf in batches:
            n = len(pdf)
            if n:
                if has_metrics:
                    ms = pdf["metrics"]
                    stats = [n, int(sum(m["html_bytes"] for m in ms)),
                             int(sum(m["n_blocks"] for m in ms)),
                             int(sum(1 for m in ms if m["has_masthead"]))]
                else:  # projected output: row counts only
                    stats = [n, 0, 0, 0]
                acc.add({pid: stats})
            yield pdf

    return results.mapInPandas(fn, schema=results.schema)


def lineage_rows_from_stats(spark: SparkSession, stats: dict,
                            committed_at: int) -> DataFrame:
    """One pass's lineage rows, one per task partition, as an Arrow table:
    Spark plans it as a ``LocalTableScan``, so writing them starts no
    Python worker (a list of tuples would be a Python RDD)."""
    import pyarrow as pa
    rows = [(pid, *v, committed_at, True) for pid, v in sorted(stats.items())]
    return spark.createDataFrame(
        pa.table(list(zip(*rows)), names=LINEAGE_SCHEMA.names), LINEAGE_SCHEMA)


def run_with_resume(spark: SparkSession, pages: DataFrame, out_path: str,
                    lineage_path: str | None = None,
                    extract_kwargs: dict | None = None,
                    transform=None, key_col: str = "url",
                    quarantine_path: str | None = None) -> int:
    """One resumable batch: anti-join done keys, process, commit, lineage.

    ``transform`` is the batch pipeline (DataFrame → DataFrame); the
    default is the html extraction path (quarantine split +
    ``extract_pages``). Pass e.g. ``segment_image_pages`` with
    ``key_col="page_id"`` for a resumable raster-geometry backfill — the
    resume/commit/lineage machinery is payload-agnostic as long as the
    output carries ``key_col``.

    Returns the number of newly committed rows. Idempotent: re-running after
    a kill processes only un-committed keys (parquet job commits are atomic;
    with Iceberg this is a snapshot append). Before the first commit there
    is nothing to anti-join against, so the join is skipped and the batch
    streams from its input splits straight into the UDF, with no shuffle.

    Commit-stats lineage: the per-partition counts/bytes/blocks ride a dict
    accumulator on the write pass itself (``with_lineage_stats``), so the
    batch is extracted and scanned exactly ONCE — no persist, no re-read of
    the batch, and the committed output table is never re-read either. The
    lineage rows (one per task partition, tiny) are created driver-side
    from the accumulator AFTER the commit succeeds, so a killed run never
    records lineage for an uncommitted batch. They are built as an Arrow
    table in :data:`LINEAGE_SCHEMA` with the commit time (epoch seconds)
    and ``committed=True`` filled in, a local relation that Spark writes
    as one file without a Python worker.

    The done set is read from each committed table's key column typed as
    in ``pages`` (``pages.schema[key_col]``), so reading it starts no
    schema-inference job.

    Quarantine (default html path only): the rows ``split_quarantine``
    rejects are counted by an ``Observation`` on the same write pass, and
    only a non-zero count triggers their append to ``quarantine_path``
    after the commit. The quarantined urls belong to the done set like
    the committed ones, so a resumed run never meets them again: a url
    stays quarantined until it is removed from that table.
    """
    from ..sources.sinks import (
        has_committed, read_done_urls, write_lineage, write_results,
    )

    if transform is not None and quarantine_path:
        raise ValueError("quarantine_path applies to the default html "
                         "path; a transform quarantines in-row")
    done = [read_done_urls(spark, p, pages.schema[key_col])
            for p in (out_path, quarantine_path)
            if p and has_committed(spark, p)]
    todo = resume_filter(pages, reduce(DataFrame.union, done),
                         key_col=key_col) if done else pages
    observed = Observation("quarantine") if quarantine_path else None
    if transform is None:
        from .extract import extract_pages, split_quarantine
        good, bad = split_quarantine(todo, observation=observed)
        results = extract_pages(good, **(extract_kwargs or {}))
    else:
        results = transform(todo)
    acc = spark.sparkContext.accumulator({}, _LineageAccParam())
    write_results(with_lineage_stats(results, acc), out_path)
    stats = acc.value
    n = sum(v[0] for v in stats.values())
    if n and lineage_path:
        write_lineage(lineage_rows_from_stats(spark, stats, int(time.time())),
                      lineage_path)
    if observed is not None and observed.get["n_bad"]:
        bad.write.mode("append").parquet(quarantine_path)
    return n
