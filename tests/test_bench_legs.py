"""bench.py's leg table and the measurement scripts, checked without Spark:
tier-1 never runs the scripts, so a broken one would otherwise go
unnoticed."""

import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# bench.py's "queries" keys, in run order (ROADMAP invariant: the JSON keys
# stay)
QUERIES = [
    "extract_pipeline", "extract_projected", "raster_segment",
    "jpeg_segment", "pdf_segment", "w1_islands", "w4_reading_order",
    "sessionize", "agg_pricing", "broadcast_join", "dedup_minhash_lsh",
    "simhash_values", "emb_cosine_topk", "lang_id", "fingerprints",
]

SCRIPTS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py")))


def test_bench_legs_are_the_queries_keys():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert list(bench.LEGS) == QUERIES
    assert {leg for leg, _ in bench.RATES.values()} <= set(bench.LEGS)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_compiles(path):
    with open(path) as f:
        compile(f.read(), path, "exec")
