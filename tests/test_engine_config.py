"""Engine-config parity: the reference's engines as named configs."""

from norsk_historisk_avis_ocr_spark.plans.config import ENGINES


def test_engine_names_stable():
    assert ENGINES["plain"].name == "extract-plain"
    assert ENGINES["normalized"].name == "extract-norm"
    assert ENGINES["normalized-nodiff"].name == "extract-norm-nodiff"


def test_engine_kwargs_shape():
    kw = ENGINES["normalized-nodiff"].extract_kwargs()
    assert kw["normalize"] is True
    assert "correction_changes" not in kw["output_columns"]
    assert "final" in kw["output_columns"]
    assert ENGINES["plain"].extract_kwargs()["normalize"] is False


def test_engine_cli_end_to_end(spark, sf_dir, tmp_path):
    import jobs.extract as job
    out = str(tmp_path / "engines")
    for engine in ["plain", "normalized-nodiff"]:
        job.main(["--synthesize", sf_dir, "--output", out,
                  "--engine", engine, "--master", "local[4]"])
    plain = spark.read.parquet(f"{out}/extract-plain")
    norm = spark.read.parquet(f"{out}/extract-norm-nodiff")
    assert plain.count() == norm.count() == 500
    # neither engine writes the changes artifact (tesseract has no
    # correction pass; claude-vision writes no separate diff file)
    assert "correction_changes" not in plain.columns
    assert "correction_changes" not in norm.columns
    assert plain.filter("normalized IS NOT NULL").count() == 0
    assert norm.filter("normalized IS NULL").count() == 0
