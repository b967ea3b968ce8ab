"""Benchmark suite — prints ONE JSON line for the driver.

Runs the headline extraction pipeline plus representative analytics/dedup
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32).

Design notes (see BENCH/BASELINE.md for the scaling-efficiency evidence):

- The synthetic pages table is materialized to parquet once (untimed):
  production input is a stored pages table, and chaining the generator UDF
  into the extraction stage would measure an artifact (two Python workers
  per task slot) instead of the pipeline.
- Extraction is timed against a noop sink (measures compute + Arrow
  transfer, not local-disk write).
- Every timed query runs once warm (the first run pays one-time Python
  worker imports, reported separately as warmup).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from norsk_historisk_avis_ocr_spark.operators import dedup as dd  # noqa: E402
from norsk_historisk_avis_ocr_spark.operators import extract_pages  # noqa: E402
from norsk_historisk_avis_ocr_spark.operators import quality as q  # noqa: E402
from norsk_historisk_avis_ocr_spark.operators import similarity as sim  # noqa: E402
from norsk_historisk_avis_ocr_spark.operators import windows as w  # noqa: E402
from norsk_historisk_avis_ocr_spark.plans import build_session  # noqa: E402
from norsk_historisk_avis_ocr_spark.sources import pages_df  # noqa: E402

REPLICATE = int(os.environ.get("NHAO_BENCH_REPLICATE", "24"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _calibrate() -> float:
    """Fixed pure-CPU workload (no Spark, single core): a deterministic
    FNV-1a-style hash loop over a fixed buffer. Its wall time calibrates
    the host regime — this box has noisy co-tenants (readings vary ±3×,
    see CLAUDE.md), so the driver's per-round bench JSON self-documents
    how loaded the window was and cross-round comparisons can be
    normalized against it (BENCH/BASELINE.md records the quiet-window
    reference value)."""
    t0 = time.time()
    h = 0xcbf29ce484222325
    for i in range(2_000_000):
        h = ((h ^ (i & 0xFF)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    assert h != 0
    return round(time.time() - t0, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    spark = build_session("bench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # make every small file its own input split (see t() below)
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))

    tmp = tempfile.mkdtemp(prefix="nhao_bench_")
    pages_path = os.path.join(tmp, "pages")

    _tables: dict[str, str] = {}

    def t(name):
        # testdata tables are single tiny parquet files → one input split →
        # narrow (shuffle-free) queries would run on one core. Production
        # scans are multi-file/splittable; model that by pre-materializing a
        # multi-file copy (untimed) and weighting file open cost so each
        # file is its own split.
        if name not in _tables:
            path = os.path.join(tmp, f"t_{name}")
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")) \
                .repartition(cpus).write.parquet(path)
            _tables[name] = path
        return spark.read.parquet(_tables[name])

    try:
        # untimed: materialize the synthetic pages table (production shape)
        pages_df(spark, sf_dir, replicate=REPLICATE,
                 partitions=cpus * 4).write.parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        n_docs = pages.count()

        results: dict[str, float] = {}

        # headline: extraction throughput (min of 3 timed runs, 1 warm run;
        # the host has noisy co-tenants)
        ext = extract_pages(pages)
        t0 = time.time()
        _noop(ext)
        warmup_sec = time.time() - t0
        ext_times = []
        for _ in range(3):
            t0 = time.time()
            _noop(ext)
            ext_times.append(time.time() - t0)
        extract_sec = min(ext_times)
        results["extract_pipeline"] = round(extract_sec, 3)

        # projected variant: output pruning pushed into the UDF (the lever a
        # downstream consumer actually uses — final text + spans only)
        proj = extract_pages(pages, output_columns=["final", "spans"])
        _noop(proj)
        proj_times = []
        for _ in range(2):
            t0 = time.time()
            _noop(proj)
            proj_times.append(time.time() - t0)
        results["extract_projected"] = round(min(proj_times), 3)

        # raster leg: PNG decode → grayscale → L1-L4 geometry (the
        # reference's native input class). Page synthesis is untimed for
        # the same reason the html pages table is pre-materialized.
        from norsk_historisk_avis_ocr_spark.operators.raster import (
            segment_image_pages,
        )
        from norsk_historisk_avis_ocr_spark.sources.rasters import (
            raster_pages_df,
        )
        raster_path = os.path.join(tmp, "rasters")
        raster_pages_df(spark, sf_dir, limit=1024, partitions=cpus) \
            .write.parquet(raster_path)
        rasters = spark.read.parquet(raster_path)
        n_pages = rasters.count()
        seg = segment_image_pages(rasters)
        _noop(seg)  # warm
        seg_times = []
        for _ in range(2):
            t0 = time.time()
            _noop(seg)
            seg_times.append(time.time() - t0)
        results["raster_segment"] = round(min(seg_times), 3)
        raster_pages_per_sec = round(n_pages / min(seg_times), 1)

        # JPEG leg (round 3; color + restart lanes round 4): baseline
        # gray/color decode → geometry on 700×520 pages. arms excludes the
        # progressive compatibility path (per-symbol Python, ~20× slower
        # per page) so the leg characterizes the production lockstep
        # decoder; progressive stays covered by the raster_verified_jpeg
        # contract row and pytest exactness.
        from norsk_historisk_avis_ocr_spark.sources.rasters import (
            jpeg_pages_df,
        )
        jpeg_path = os.path.join(tmp, "jpegs")
        jpeg_pages_df(spark, sf_dir, limit=256, partitions=cpus,
                      arms=("gray", "color")).write.parquet(jpeg_path)
        jpegs = spark.read.parquet(jpeg_path)
        n_jpegs = jpegs.count()
        jseg = segment_image_pages(jpegs)
        _noop(jseg)  # warm
        jseg_times = []
        for _ in range(2):
            t0 = time.time()
            _noop(jseg)
            jseg_times.append(time.time() - t0)
        results["jpeg_segment"] = round(min(jseg_times), 3)
        jpeg_pages_per_sec = round(n_jpegs / min(jseg_times), 1)

        # PDF leg (round 4): the reference's PRIMARY input format —
        # xref/object-graph parse → image XObject → DCT (restart lanes →
        # lockstep decoder) or Flate+PNG-predictor decode → geometry.
        from norsk_historisk_avis_ocr_spark.sources.rasters import (
            pdf_pages_df,
        )
        pdf_path = os.path.join(tmp, "pdfs")
        pdf_pages_df(spark, sf_dir, limit=256,
                     partitions=cpus).write.parquet(pdf_path)
        pdfs = spark.read.parquet(pdf_path)
        n_pdfs = pdfs.count()
        pseg = segment_image_pages(pdfs)
        _noop(pseg)  # warm
        pseg_times = []
        for _ in range(2):
            t0 = time.time()
            _noop(pseg)
            pseg_times.append(time.time() - t0)
        results["pdf_segment"] = round(min(pseg_times), 3)
        pdf_pages_per_sec = round(n_pdfs / min(pseg_times), 1)

        analytics = {
            "w1_islands": lambda: w.runlength_islands(t("events")),
            "w4_reading_order": lambda: w.reading_order_concat(t("lineitem")),
            "sessionize": lambda: w.sessionize(t("events")),
            "agg_pricing": lambda: t("lineitem")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                           .cast("long")).alias("sum_cents"),
                     F.count("*").alias("n")),
            "broadcast_join": lambda: t("orders")
                .join(t("customer"), F.col("o_custkey") == F.col("c_custkey"))
                .join(F.broadcast(t("nation")),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy("n_name").agg(F.count("*").alias("n")),
            "dedup_minhash_lsh": lambda: dd.minhash_lsh_pairs(
                t("documents"), est_threshold=0.125),
            "simhash_values": lambda: dd.simhash_values(t("documents")),
            "emb_cosine_topk": lambda: sim.cosine_topk(t("embeddings"), 0),
            "lang_id": lambda: q.language_id(t("documents")),
            "fingerprints": lambda: q.fingerprints(t("documents")),
        }
        for name, fn in analytics.items():
            df = fn()
            runs = []
            for _ in range(2):  # min-of-2: noisy co-tenant host
                t0 = time.time()
                _noop(df)
                runs.append(time.time() - t0)
            results[name] = round(min(runs), 3)

        total = round(sum(results.values()), 3)
        print(json.dumps({
            "metric": "bench suite wall time (headline: extract_docs_per_sec)",
            "value": total,
            "unit": "sec",
            "queries": results,
            "sf": sf,
            "docs": n_docs,
            "extract_docs_per_sec": round(n_docs / extract_sec, 1),
            "raster_pages_per_sec": raster_pages_per_sec,
            "jpeg_pages_per_sec": jpeg_pages_per_sec,
            "pdf_pages_per_sec": pdf_pages_per_sec,
            "extract_warmup_sec": round(warmup_sec, 3),
            "calib_sec": min(_calibrate(), _calibrate()),
            "cpus": cpus,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
