"""Same-window A/B of the raster_segment bench leg across two binaries.

Round-4 VERDICT marked `raster_segment` weak: driver windows read
217 -> 106 -> 62 pages/s across rounds 2 -> 3 -> 4 on an unchanged code
path, and host-regime evidence (calib_sec) explained only part of it.
This harness settles it: run the IDENTICAL leg (raster_pages_df
limit=1024 -> parquet -> segment_image_pages, min-of-N timed no-op sinks)
against two repo checkouts, interleaved A/B/A/B... in ONE window, with a
calib reading per run, and print one JSON line per run.

Usage:
    python tools/ab_raster.py <repoA> <repoB> [rounds=3]

Each run is a fresh subprocess (fresh JVM) so the binaries never share a
session. Interleaving means any host-regime drift hits both arms
equally; the paired ratio is the verdict.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_CHILD = r"""
import json, os, sys, tempfile, time, shutil
repo = sys.argv[1]
sys.path.insert(0, repo)

def calib():
    t0 = time.time()
    h = 0xcbf29ce484222325
    for i in range(2_000_000):
        h = ((h ^ (i & 0xFF)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    assert h != 0
    return round(time.time() - t0, 3)

from norsk_historisk_avis_ocr_spark.plans import build_session
from norsk_historisk_avis_ocr_spark.operators.raster import segment_image_pages
from norsk_historisk_avis_ocr_spark.sources.rasters import raster_pages_df

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = build_session("ab_raster", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
tmp = tempfile.mkdtemp(prefix="nhao_ab_")
try:
    c0 = calib()
    path = os.path.join(tmp, "rasters")
    raster_pages_df(spark, sf_dir, limit=1024, partitions=cpus) \
        .write.parquet(path)
    rasters = spark.read.parquet(path)
    n = rasters.count()
    seg = segment_image_pages(rasters)

    def noop():
        seg.write.format("noop").mode("overwrite").save()

    noop()  # warm
    times = []
    for _ in range(2):
        t0 = time.time()
        noop()
        times.append(round(time.time() - t0, 3))
    c1 = calib()
    print(json.dumps({"repo": repo, "n_pages": n, "times": times,
                      "raster_segment": min(times),
                      "pages_per_sec": round(n / min(times), 1),
                      "calib_pre": c0, "calib_post": c1}))
finally:
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
"""


def run_one(repo: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, repo],
        capture_output=True, text=True, cwd="/tmp", timeout=900)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"A/B child for {repo} failed (rc={out.returncode}): "
            f"{out.stderr.strip().splitlines()[-5:]}")
    return json.loads(lines[-1])


def main():
    repo_a, repo_b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    runs = []
    for i in range(rounds):
        for repo in (repo_a, repo_b):
            t0 = time.time()
            r = run_one(repo)
            r["round"] = i
            r["wall"] = round(time.time() - t0, 1)
            runs.append(r)
            print(json.dumps(r), flush=True)
    for repo in (repo_a, repo_b):
        best = min(r["raster_segment"] for r in runs if r["repo"] == repo)
        cal = min(r["calib_pre"] for r in runs if r["repo"] == repo)
        print(f"# {repo}: best {best}s "
              f"({max(r['pages_per_sec'] for r in runs if r['repo'] == repo)}"
              f" p/s), best calib {cal}s", flush=True)


if __name__ == "__main__":
    main()
