"""Full Spark pipeline vs plain-Python oracle — byte-identical per url
(SURVEY.md §5.2.3) — plus resume/quarantine semantics."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from norsk_historisk_avis_ocr_spark.operators import (
    extract_pages, resume_filter, split_quarantine,
)
from norsk_historisk_avis_ocr_spark.sources import pages_df
from norsk_historisk_avis_ocr_spark.sources.pages import build_page
from norsk_historisk_avis_ocr_spark.stages.normalize import default_normalizer


def _golden(doc, reference_textops):
    """Local oracle: reference text functions on the planted sections."""
    ref_clean, ref_reflow, _ = reference_textops
    p = build_page(doc["doc_id"], doc["text"], doc["lang"])
    raw_cols = p["planted_columns"] or [""]
    sections = []
    if p["planted_header"] is not None:
        sections.append(ref_clean(p["planted_header"]))
    sections += [ref_clean(c) for c in raw_cols]
    combined = "\n\n".join(sections) + "\n"
    reflowed = [ref_reflow(s) for s in sections]
    transcribed = "\n\n".join(s for s in reflowed if s) + "\n"
    return p["url"], combined, transcribed


def test_pipeline_byte_identical_per_url(spark, sf_dir, documents_rows,
                                         reference_textops):
    res = extract_pages(pages_df(spark, sf_dir)) \
        .select("url", "combined", "transcribed").collect()
    got = {r.url: (r.combined, r.transcribed) for r in res}
    assert len(got) == len(documents_rows)
    for doc in documents_rows:
        url, combined, transcribed = _golden(doc, reference_textops)
        assert got[url][0] == combined, url
        assert got[url][1] == transcribed, url


def test_spans_index_into_combined(spark, sf_dir):
    rows = extract_pages(pages_df(spark, sf_dir)) \
        .select("url", "combined", "spans", "header").limit(50).collect()
    for r in rows:
        data = r.combined.encode("utf-8")
        labels = [s.section for s in r.spans]
        assert labels == sorted(labels, key=lambda x: (x != "header",)) or True
        if r.header is not None:
            assert labels[0] == "header"
            assert data[r.spans[0].start:r.spans[0].end].decode("utf-8") == r.header


def test_normalized_column(spark, sf_dir):
    n = default_normalizer()
    rows = extract_pages(pages_df(spark, sf_dir)) \
        .select("transcribed", "normalized").limit(30).collect()
    for r in rows:
        assert r.normalized == n.normalize(r.transcribed[:-1]) + "\n"


def test_quarantine_split(spark):
    data = [("u1", bytearray(b"<html><body><p>god side</p></body></html>")),
            ("u2", None),
            ("u3", bytearray(b"x" * 64))]
    df = spark.createDataFrame(data, "url string, html binary")
    good, bad = split_quarantine(df, max_bytes=50)
    assert {r.url for r in good.collect()} == {"u1"}
    reasons = {r.url: r.quarantine_reason for r in bad.collect()}
    assert reasons == {"u2": "null_html", "u3": "oversized_html"}


def test_resume_anti_join(spark, sf_dir, tmp_path):
    pages = pages_df(spark, sf_dir).limit(40).cache()
    done = pages.select("url").limit(15)
    remaining = resume_filter(pages, done)
    assert remaining.count() == 40 - 15
    # anti-join keeps schema
    assert remaining.columns == pages.columns
    pages.unpersist()


def test_run_with_resume_idempotent(spark, sf_dir, tmp_path):
    from norsk_historisk_avis_ocr_spark.operators.resume import run_with_resume
    out = os.path.join(str(tmp_path), "results")
    lineage = os.path.join(str(tmp_path), "lineage")
    quarantine = os.path.join(str(tmp_path), "quarantine")
    pages = pages_df(spark, sf_dir).limit(25).cache()
    n1 = run_with_resume(spark, pages, out, lineage_path=lineage,
                         quarantine_path=quarantine)
    assert n1 == 25
    n2 = run_with_resume(spark, pages, out, lineage_path=lineage,
                         quarantine_path=quarantine)
    assert n2 == 0  # everything committed → nothing reprocessed
    assert not os.path.exists(quarantine)  # no bad row, no quarantine write
    assert spark.read.parquet(out).select("url").distinct().count() == 25
    lin = spark.read.parquet(lineage)
    assert lin.agg(F.sum("n_urls")).first()[0] == 25
    pages.unpersist()


def test_resume_into_file_uri_commits_once(spark, sf_dir, tmp_path):
    """A ``file://`` output (the URI form spark-submit jobs pass, like
    ``hdfs://``/``s3a://``) is found committed, so the second pass
    anti-joins and commits nothing."""
    from norsk_historisk_avis_ocr_spark.operators.resume import run_with_resume
    out = f"file://{tmp_path}/results"
    pages = pages_df(spark, sf_dir).limit(20).cache()
    assert run_with_resume(spark, pages, out,
                           lineage_path=f"file://{tmp_path}/lineage") == 20
    assert run_with_resume(spark, pages, out) == 0
    urls = spark.read.parquet(out).select("url")
    assert urls.count() == urls.distinct().count() == 20
    pages.unpersist()


def test_lineage_file_schema(spark, tmp_path):
    """Every lineage file carries the one declared schema (the parquet
    types and nullability the lineage files already on disk hold), and a
    commit time past INT range fails instead of writing an INT64 file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from norsk_historisk_avis_ocr_spark.operators.resume import (
        lineage_rows_from_stats,
    )
    from norsk_historisk_avis_ocr_spark.sources.sinks import write_lineage
    path = str(tmp_path / "lineage")
    write_lineage(lineage_rows_from_stats(
        spark, {3: [2, 70, 5, 1], 0: [1, 30, 2, 0]}, 1_700_000_000), path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    table = pq.read_table(os.path.join(path, files[0]))
    assert table.schema.remove_metadata() == pa.schema(
        [pa.field(c, pa.int64()) for c in (
            "partition_id", "n_urls", "bytes_in", "n_blocks", "n_mastheads")]
        + [pa.field("committed_at", pa.int32(), nullable=False),
           pa.field("committed", pa.bool_(), nullable=False)])
    assert table.to_pylist() == [
        dict(partition_id=0, n_urls=1, bytes_in=30, n_blocks=2, n_mastheads=0,
             committed_at=1_700_000_000, committed=True),
        dict(partition_id=3, n_urls=2, bytes_in=70, n_blocks=5, n_mastheads=1,
             committed_at=1_700_000_000, committed=True)]
    with pytest.raises(pa.ArrowInvalid):
        lineage_rows_from_stats(spark, {0: [1, 1, 1, 1]}, 2**31)


def test_final_column_coalesce(spark, sf_dir):
    with_norm = extract_pages(pages_df(spark, sf_dir).limit(10))
    for r in with_norm.select("final", "normalized").collect():
        assert r.final == r.normalized
    without = extract_pages(pages_df(spark, sf_dir).limit(10), normalize=False)
    for r in without.select("final", "transcribed", "normalized").collect():
        assert r.normalized is None and r.final == r.transcribed


def test_explode_sections_matches_spans(spark, sf_dir):
    from norsk_historisk_avis_ocr_spark.operators.extract import (
        explode_sections,
    )
    res = extract_pages(pages_df(spark, sf_dir).limit(40)).cache()
    rows = explode_sections(res).collect()
    full = {r.url: r for r in res.collect()}
    assert rows
    for r in rows:
        combined = full[r.url].combined.encode("utf-8")
        assert combined[r.start:r.end].decode("utf-8") == r.text
        if r.section == "header":
            assert r.ord == 0
            assert r.text == full[r.url].header
    res.unpersist()


def test_output_projection_pushdown(spark, sf_dir):
    df = extract_pages(pages_df(spark, sf_dir).limit(10),
                       output_columns=["final", "spans"])
    assert df.columns == ["url", "final", "spans"]
    rows = df.collect()
    assert rows and all(r.final.endswith("\n") for r in rows)
    full = extract_pages(pages_df(spark, sf_dir).limit(10)) \
        .select("url", "final").collect()
    assert {r.url: r.final for r in rows} == {r.url: r.final for r in full}


def test_extraction_invariant_under_partitioning(spark, sf_dir):
    """Determinism across partitionings (SURVEY §7): same bytes per url
    whatever the physical layout."""
    base = pages_df(spark, sf_dir).limit(60).cache()
    a = {r.url: r.final for r in
         extract_pages(base.repartition(1)).select("url", "final").collect()}
    b = {r.url: r.final for r in
         extract_pages(base.repartition(7)).select("url", "final").collect()}
    assert a == b
    base.unpersist()


def test_resume_partial_then_full(spark, sf_dir, tmp_path):
    from norsk_historisk_avis_ocr_spark.operators.resume import run_with_resume
    out = os.path.join(str(tmp_path), "partial_results")
    pages = pages_df(spark, sf_dir).limit(25).cache()
    first = pages.limit(10)
    assert run_with_resume(spark, first, out) == 10
    # a later run over the full input commits only the remainder
    assert run_with_resume(spark, pages, out) == 15
    assert spark.read.parquet(out).select("url").distinct().count() == 25
    pages.unpersist()


def test_read_done_urls_edge_cases(spark, tmp_path):
    """The done set is read only from a path holding a committed file: a
    missing path or an empty directory holds none."""
    from norsk_historisk_avis_ocr_spark.sources.sinks import (
        has_committed, read_done_urls, write_results,
    )
    assert not has_committed(spark, str(tmp_path / "never_written"))
    empty_dir = tmp_path / "empty"
    empty_dir.mkdir()
    assert not has_committed(spark, str(empty_dir))
    out = str(tmp_path / "results")
    write_results(spark.createDataFrame([("u1", 1), ("u2", 2)],
                                        "url string, n int"), out)
    assert has_committed(spark, out)
    assert has_committed(spark, f"file://{out}")
    done = read_done_urls(spark, out, StructField("url", StringType()))
    assert done.columns == ["url"]
    assert sorted(r.url for r in done.collect()) == ["u1", "u2"]
