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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


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


def has_committed(spark: SparkSession, path: str) -> bool:
    """True once a commit has landed a parquet file under ``path``, looked
    up through the path's Hadoop ``FileSystem`` so that ``file://``,
    ``hdfs://`` and ``s3a://`` paths resolve as Spark's writer sees them."""
    files = spark._jvm.org.apache.hadoop.fs.Path(path, "*.parquet")
    fs = files.getFileSystem(
        spark._jsparkSession.sessionState().newHadoopConf())
    return bool(fs.globStatus(files))  # None when the path does not exist


def read_done_urls(spark: SparkSession, path: str,
                   key: StructField) -> DataFrame:
    """The ``key`` column (e.g. ``pages.schema["url"]``) of the sink at
    ``path``, which must hold a committed file (:func:`has_committed`).
    The column is read with its declared type, so no schema-inference job
    runs."""
    return spark.read.schema(StructType([key])).parquet(path)


def write_lineage(lineage: DataFrame, path: str) -> None:
    """Append one pass's lineage rows (one per task partition, in
    ``operators.resume.LINEAGE_SCHEMA``: counts, bytes, commit time) to
    the lineage table alongside the results, as one file."""
    lineage.coalesce(1).write.mode("append").option("compression", "zstd") \
        .parquet(path)
