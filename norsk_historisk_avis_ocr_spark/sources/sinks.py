"""Result sinks with resume semantics (S2/S6/S7 + north-rule checkpointing).

The reference marks a document done when ``combined.txt`` exists in its
output dir (``ocr.py:45-47``) and skips it on the next run
(``ocr.py:151-181``). Here the done-marker is the committed results table
itself: a successful write lands an atomic parquet directory (Iceberg
snapshot in production — the sandbox has no Iceberg runtime jar, so the
parquet + ``_SUCCESS``-manifest fallback described in SURVEY.md §4.2 is
used), and the next run anti-joins ``pages`` against the committed urls
(``operators/resume.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    return "org.apache.iceberg.spark.SparkCatalog" in \
        spark.conf.get("spark.sql.catalog.spark_catalog", "")


def write_results(df: DataFrame, path: str) -> None:
    """Commit a results batch. Parquet append is atomic per job on a local
    filesystem (``_SUCCESS`` marker); with an Iceberg catalog configured the
    same call path would use ``writeTo(...).append()`` for snapshot
    isolation."""
    spark = df.sparkSession
    if _iceberg_available(spark):  # pragma: no cover - not present in sandbox
        df.writeTo(path).append()
        return
    df.write.mode("append").option("compression", "zstd").parquet(path)


def has_committed(path: str) -> bool:
    """True once a commit has landed a parquet file under ``path``."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path))


def read_done_urls(spark: SparkSession, path: str,
                   key_col: str = "url") -> DataFrame:
    """Keys already committed to the sink at ``path``, which must hold a
    committed file (:func:`has_committed`)."""
    return spark.read.parquet(path).select(key_col)


def write_lineage(metrics_df: DataFrame, path: str) -> None:
    """Per-partition lineage + extraction metrics (north rule): one row per
    task partition with counts/bytes/elapsed, appended alongside results
    as one file per pass."""
    metrics_df.withColumn("committed", F.lit(True)).coalesce(1) \
        .write.mode("append").option("compression", "zstd").parquet(path)
