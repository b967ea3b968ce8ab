"""``jobs/extract.py --quarantine`` end to end: good rows commit, rejected
rows land in the quarantine table exactly once across resumed runs (a
resumed pass treats them as done and writes no quarantine file), the
quarantine count rides the commit pass (no separate ``count`` job), and
lineage is one file per pass whose ``n_urls`` sum to the rows committed."""

import os

from norsk_historisk_avis_ocr_spark.operators.extract import MAX_HTML_BYTES
from norsk_historisk_avis_ocr_spark.sources import pages_df

_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _group_plans(spark, group):
    """Physical plans of the SQL executions that ran a job of ``group``."""
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [e.physicalPlanDescription()
            for e in (execs.apply(i) for i in range(execs.size()))
            if any(e.jobs().contains(j) for j in jobs)]


def test_quarantine_job_end_to_end(spark, sf_dir, tmp_path):
    import jobs.extract as job
    good = [tuple(r) for r in pages_df(spark, sf_dir).limit(5)
            .select("url", "warc_ts", "html", "text", "lang").collect()]
    ts = good[0][1]
    bad = [("bad-null", ts, None, "t", "no"),
           ("bad-big", ts, bytearray(b"x" * (MAX_HTML_BYTES + 1)), "t", "no")]
    inp, out, lin, quar = (str(tmp_path / d)
                           for d in ("pages", "results", "lineage", "q"))
    spark.createDataFrame(good[:3] + bad, _SCHEMA).repartition(2) \
        .write.parquet(inp)
    argv = ["--input", inp, "--output", out, "--lineage", lin,
            "--quarantine", quar, "--master", "local[4]"]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("quarantine-pass-1", "first pass")
        job.main(argv)
        plans = _group_plans(spark, "quarantine-pass-1")
        quarantine_files = len(_parquet_files(quar))
        # a resumed pass over two new pages: the quarantined rows are done,
        # so they are neither scanned for nor appended a second time
        spark.createDataFrame(good[3:], _SCHEMA).write.mode("append") \
            .parquet(inp)
        sc.setJobGroup("quarantine-pass-2", "resumed pass")
        job.main(argv)
        plans += _group_plans(spark, "quarantine-pass-2")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)

    # every query of both passes is a write: no count ran beside them
    assert len(plans) >= 4
    assert all("Execute InsertIntoHadoopFsRelationCommand" in p
               for p in plans), plans
    committed = spark.read.parquet(out)
    assert sorted(r.url for r in committed.select("url").collect()) == \
        sorted(g[0] for g in good)
    assert sorted(tuple(r) for r in spark.read.parquet(quar).collect()) == \
        [("bad-big", "oversized_html"), ("bad-null", "null_html")]
    # the resumed pass wrote no quarantine file, not even an empty one
    assert len(_parquet_files(quar)) == quarantine_files
    assert len(_parquet_files(lin)) == 2  # one lineage file per pass
    assert spark.read.parquet(lin).agg({"n_urls": "sum"}).first()[0] == \
        committed.count() == 5
