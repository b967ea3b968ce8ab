"""Incremental ingest: Structured Streaming file source → extraction →
checkpointed sink (the streaming analog of run_with_resume)."""

import os

from pyspark.sql import functions as F

from norsk_historisk_avis_ocr_spark.operators.extract import extract_pages
from norsk_historisk_avis_ocr_spark.sources import pages_df
from norsk_historisk_avis_ocr_spark.streaming import run_incremental


def test_incremental_quarantine_sink(spark, sf_dir, tmp_path):
    """The incremental quarantine branch: rejected rows land in their own
    checkpointed errors table (S5 parity with the batch path) and are
    not re-emitted on a later run."""
    import datetime

    from norsk_historisk_avis_ocr_spark.streaming import run_incremental

    in_path = str(tmp_path / "q_in")
    out = str(tmp_path / "q_out")
    ckpt = str(tmp_path / "q_ckpt")
    qpath = str(tmp_path / "q_bad")

    good = pages_df(spark, sf_dir).limit(8)
    bad = spark.createDataFrame(
        [("bad-url", datetime.datetime(2024, 1, 1), None, "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    good.write.mode("append").parquet(in_path)
    bad.write.mode("append").parquet(in_path)

    run_incremental(spark, in_path, out, ckpt, quarantine_path=qpath)
    run_incremental(spark, in_path, out, ckpt, quarantine_path=qpath)

    assert spark.read.parquet(out).count() == 8
    q = spark.read.parquet(qpath).collect()
    assert [(r.url, r.quarantine_reason) for r in q] == \
        [("bad-url", "null_html")]


def test_incremental_matches_batch_and_resumes(spark, sf_dir, tmp_path):
    in_path = str(tmp_path / "incoming")
    out = str(tmp_path / "stream_results")
    ckpt = str(tmp_path / "ckpt")

    pages = pages_df(spark, sf_dir).cache()
    first = pages.filter(F.xxhash64("url") % 2 == 0)
    second = pages.filter(F.xxhash64("url") % 2 != 0)
    n_first, n_second = first.count(), second.count()
    assert n_first and n_second

    # batch 1 lands → only it is processed
    first.write.mode("append").parquet(in_path)
    run_incremental(spark, in_path, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == n_first

    # batch 2 lands → same checkpoint processes ONLY the new files
    second.write.mode("append").parquet(in_path)
    run_incremental(spark, in_path, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n_first + n_second
    assert got.select("url").distinct().count() == n_first + n_second

    # rerun with nothing new: no duplicates (exactly-once per input file)
    run_incremental(spark, in_path, out, ckpt)
    assert spark.read.parquet(out).count() == n_first + n_second

    # content identical to the batch operator on the same input
    batch = extract_pages(pages)
    a = {(r.url, r.final) for r in
         got.select("url", "final").collect()}
    b = {(r.url, r.final) for r in
         batch.select("url", "final").collect()}
    assert a == b
    pages.unpersist()
    assert os.path.isdir(ckpt)
