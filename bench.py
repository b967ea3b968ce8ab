"""Benchmark suite — prints ONE JSON line.

Runs the headline extraction pipeline plus representative analytics/dedup
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32).

Usage: python bench.py [leg ...]   (default: every leg of ``LEGS``)

Env: ``NHAO_BENCH_REPLICATE`` pages per document (default 24);
``NHAO_BENCH_PAGES`` a stored pages parquet table to read instead of
synthesizing one (``tools/bench_scaling.py`` keeps one table for every
core count).

``LEGS`` is the one definition of each leg; ``tools/ab.py`` (A/B across
checkouts and core counts) and ``tools/plans.py`` (plans) read it.

Design notes (see BENCH/BASELINE.md for the scaling-efficiency evidence):

- Every input is materialized to parquet once, untimed, on first use:
  production input is a stored table, and chaining the generator UDF
  into the extraction stage would measure an artifact (two Python workers
  per task slot) instead of the pipeline.
- Each leg is timed against a noop sink (measures compute + Arrow
  transfer, not local-disk write).
- Each leg runs once warm (the first run pays one-time Python worker
  imports and fills lazy localCheckpoints; extraction's is reported as
  ``extract_warmup_sec``), then reports the minimum of its timed runs:
  the host has noisy co-tenants.
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
from norsk_historisk_avis_ocr_spark.operators.raster import (  # noqa: E402
    segment_image_pages,
)
from norsk_historisk_avis_ocr_spark.plans import build_session  # noqa: E402
from norsk_historisk_avis_ocr_spark.sources import pages_df  # noqa: E402
from norsk_historisk_avis_ocr_spark.sources.rasters import (  # noqa: E402
    jpeg_pages_df, pdf_pages_df, raster_pages_df,
)

REPLICATE = int(os.environ.get("NHAO_BENCH_REPLICATE", "24"))

# Synthesized inputs, by name. Any other name is a testdata table.
SOURCES = {
    "pages": lambda spark, sf_dir, cpus: pages_df(
        spark, sf_dir, replicate=REPLICATE, partitions=cpus * 4),
    "rasters": lambda spark, sf_dir, cpus: raster_pages_df(
        spark, sf_dir, limit=1024, partitions=cpus),
    # arms excludes the progressive compatibility path (per-symbol Python,
    # ~20× slower per page) so the JPEG leg characterizes the production
    # lockstep decoder; progressive stays covered by the
    # raster_verified_jpeg contract row and pytest exactness.
    "jpegs": lambda spark, sf_dir, cpus: jpeg_pages_df(
        spark, sf_dir, limit=256, partitions=cpus, arms=("gray", "color")),
    "pdfs": lambda spark, sf_dir, cpus: pdf_pages_df(
        spark, sf_dir, limit=256, partitions=cpus),
}

# leg -> (timed runs, DataFrame builder over the materialized inputs `t`).
# Table order is run order and the order of the "queries" key.
LEGS = {
    # headline: extraction throughput
    "extract_pipeline": (3, lambda t: extract_pages(t("pages"))),
    # output pruning pushed into the UDF (the lever a downstream consumer
    # actually uses — final text + spans only)
    "extract_projected": (2, lambda t: extract_pages(
        t("pages"), output_columns=["final", "spans"])),
    # PNG decode → grayscale → L1-L4 geometry (the reference's native
    # input class)
    "raster_segment": (2, lambda t: segment_image_pages(t("rasters"))),
    # baseline gray/color JPEG (restart lanes) → geometry on 700×520 pages
    "jpeg_segment": (2, lambda t: segment_image_pages(t("jpegs"))),
    # the reference's PRIMARY input format: xref/object-graph parse →
    # image XObject → DCT or Flate+PNG-predictor decode → geometry
    "pdf_segment": (2, lambda t: segment_image_pages(t("pdfs"))),
    "w1_islands": (2, lambda t: w.runlength_islands(t("events"))),
    "w4_reading_order": (2, lambda t: w.reading_order_concat(t("lineitem"))),
    "sessionize": (2, lambda t: w.sessionize(t("events"))),
    "agg_pricing": (2, lambda t: t("lineitem")
                    .groupBy("l_returnflag", "l_linestatus")
                    .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                               .cast("long")).alias("sum_cents"),
                         F.count("*").alias("n"))),
    "broadcast_join": (2, lambda t: t("orders")
                       .join(t("customer"),
                             F.col("o_custkey") == F.col("c_custkey"))
                       .join(F.broadcast(t("nation")),
                             F.col("c_nationkey") == F.col("n_nationkey"))
                       .groupBy("n_name").agg(F.count("*").alias("n"))),
    "dedup_minhash_lsh": (2, lambda t: dd.minhash_lsh_pairs(
        t("documents"), est_threshold=0.125)),
    "simhash_values": (2, lambda t: dd.simhash_values(t("documents"))),
    "emb_cosine_topk": (2, lambda t: sim.cosine_topk(t("embeddings"), 0)),
    "lang_id": (2, lambda t: q.language_id(t("documents"))),
    "fingerprints": (2, lambda t: q.fingerprints(t("documents"))),
}

# headline rate -> (leg, input whose rows it divides by the leg's time)
RATES = {
    "extract_docs_per_sec": ("extract_pipeline", "pages"),
    "raster_pages_per_sec": ("raster_segment", "rasters"),
    "jpeg_pages_per_sec": ("jpeg_segment", "jpegs"),
    "pdf_pages_per_sec": ("pdf_segment", "pdfs"),
}


def session(app: str, cpus: int):
    spark = build_session(app, master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # make every small file its own input split (see inputs())
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
    return spark


def inputs(spark, sf_dir: str, cpus: int, tmp: str):
    """The leg builders' input reader: ``t(name)`` writes the named input
    to parquet under ``tmp`` on first use (untimed) and reads it back."""
    paths = {}
    if os.environ.get("NHAO_BENCH_PAGES"):
        paths["pages"] = os.environ["NHAO_BENCH_PAGES"]

    def t(name):
        if name not in paths:
            path = os.path.join(tmp, name)
            if name in SOURCES:
                df = SOURCES[name](spark, sf_dir, cpus)
            else:
                # testdata tables are single tiny parquet files → one input
                # split → narrow (shuffle-free) queries would run on one
                # core. Production scans are multi-file/splittable; model
                # that with a multi-file copy (each file its own split).
                df = spark.read.parquet(
                    os.path.join(sf_dir, f"{name}.parquet")).repartition(cpus)
            df.write.parquet(path)
            paths[name] = path
        return spark.read.parquet(paths[name])
    return t


def time_leg(df, runs: int) -> tuple[float, float]:
    """One warm run, then ``runs`` timed runs: (warm seconds, minimum)."""
    times = []
    for _ in range(runs + 1):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return times[0], min(times[1:])


def _calibrate() -> float:
    """Fixed pure-CPU workload (no Spark, single core): a deterministic
    FNV-1a-style hash loop over a fixed buffer. Its wall time calibrates
    the host regime — this box has noisy co-tenants (readings vary ±3×,
    see CLAUDE.md), so each bench JSON line self-documents how loaded the
    window was and cross-round comparisons can be normalized against it
    (BENCH/BASELINE.md records the quiet-window reference value)."""
    t0 = time.time()
    h = 0xcbf29ce484222325
    for i in range(2_000_000):
        h = ((h ^ (i & 0xFF)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    assert h != 0
    return round(time.time() - t0, 3)


def main(argv: list[str]):
    unknown = sorted(set(argv) - set(LEGS))
    if unknown:
        raise SystemExit(f"unknown leg(s) {unknown}; legs: {list(LEGS)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    spark = session("bench", cpus)
    tmp = tempfile.mkdtemp(prefix="nhao_bench_")
    t = inputs(spark, sf_dir, cpus, tmp)
    try:
        warm: dict[str, float] = {}
        best: dict[str, float] = {}
        for name, (runs, build) in LEGS.items():
            if argv and name not in argv:
                continue
            spark.sparkContext.setJobDescription(f"bench:{name}")
            warm[name], best[name] = time_leg(build(t), runs)

        results = {name: round(sec, 3) for name, sec in best.items()}
        out = {
            "metric": "bench suite wall time (headline: extract_docs_per_sec)",
            "value": round(sum(results.values()), 3),
            "unit": "sec",
            "queries": results,
            "sf": sf,
        }
        counts = {source: t(source).count()
                  for leg, source in RATES.values() if leg in best}
        if "pages" in counts:
            out["docs"] = counts["pages"]
        for key, (leg, source) in RATES.items():
            if leg in best:
                out[key] = round(counts[source] / best[leg], 1)
        if "extract_pipeline" in warm:
            out["extract_warmup_sec"] = round(warm["extract_pipeline"], 3)
        out["calib_sec"] = min(_calibrate(), _calibrate())
        out["cpus"] = cpus
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
