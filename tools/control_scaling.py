"""Spark-free scaling control: the exact extraction function under plain
multiprocessing. Separates hardware saturation from engine overhead —
compare its N→4N efficiency with tools/bench_scaling.py's.

Each process extracts the same 500 bench-shaped pages
(``profile_extract.load_pages``), with this checkout's package.

Usage: python tools/control_scaling.py
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from profile_extract import load_pages  # noqa: E402

PAGES = None
EXTRACT = None
NORM = None


def _init():
    global PAGES, EXTRACT, NORM
    from norsk_historisk_avis_ocr_spark.functions.udfs import extract_one
    from norsk_historisk_avis_ocr_spark.stages.normalize import (
        default_normalizer,
    )
    PAGES = load_pages(500)
    EXTRACT = extract_one
    NORM = default_normalizer()


def _work(reps: int) -> int:
    for _ in range(reps):
        for p in PAGES:
            EXTRACT(p["url"], p["html"], NORM)
    return len(PAGES) * reps


def main():
    reps = 8
    rates = {}
    for n in [1, 8, 32]:
        with mp.Pool(n, initializer=_init) as pool:
            t0 = time.time()
            total = sum(pool.map(_work, [reps] * n))
            e = time.time() - t0
        rates[n] = total / e
        print(f"procs={n:2d} docs={total} wall={e:.2f}s "
              f"rate={total / e:,.0f} docs/s")
    print(f"efficiency 8->32: {(rates[32] / rates[8]) / 4:.3f}")


if __name__ == "__main__":
    main()
