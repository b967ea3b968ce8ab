"""Dump formatted physical plans → BENCH/PLANS.md: the key contract
queries, the single-call plans of operators whose contract row merges two
arms, and every bench.py leg over the materialized inputs bench.py times.

The plan-quality *assertions* live in tests/test_plans.py; this artifact
makes the full plans reviewable without running Spark.

Usage: python tools/plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402


def _single_arm():
    """Production-shape (single-parameterization) plans for operators
    whose CONTRACT row is a round-4 merged union of two arms: the union
    row exists to keep both variants inside the driver gate's 50-query
    window, but a production job calls the operator once — these are the
    plans that run at corpus scale, and the ones the plan gates in
    tests/test_plans.py assert."""
    from pyspark.sql import functions as F

    from norsk_historisk_avis_ocr_spark.operators import dedup as dd
    from norsk_historisk_avis_ocr_spark.operators import quality as q
    from norsk_historisk_avis_ocr_spark.operators import similarity as sim
    from norsk_historisk_avis_ocr_spark.operators import skew as sk

    def table(spark, sf, name):
        return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))

    return {
        "dedup_ngram_capped (operator arm)":
            lambda s, sf: dd.ngram_jaccard_pairs(
                table(s, sf, "documents"), k=3, threshold=0.12,
                max_shingle_df=3),
        "emb_lsh_topk (operator arm)":
            lambda s, sf: sim.lsh_bucket_topk(
                table(s, sf, "embeddings"), 0, k=5, dim=64),
        "salted_hot_key_sum (operator arm)":
            lambda s, sf: sk.salted_sum(
                table(s, sf, "events"), "user_id",
                F.round(F.col("value") * 1000).cast("long"),
                "value_milli", n_salts=16),
        "simhash_dup_pairs (operator arm)":
            lambda s, sf: dd.simhash_dup_pairs(
                table(s, sf, "documents"), max_hamming=3),
        "pattern_hygiene (operator arm)":
            lambda s, sf: q.pattern_hygiene(
                table(s, sf, "documents")),
    }


AUDIT = [
    "extract_pipeline", "raster_layout", "multimodal_features",
    "w1_runlength_islands", "w2_largest_island",
    "w4_reading_order", "j1_resume_antijoin", "broadcast_dim_join",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_components",
    "emb_cosine_topk", "emb_lsh_topk", "emb_dup_pairs_lsh", "lang_id",
    "salted_hot_keys", "topk_per_group", "value_histogram",
    "corpus_prep", "corpus_split_sample", "pack_sequences",
    "dedup_simhash_h6_c7", "multimodal_frames", "multimodal_resize",
    "lexicon_top_tokens", "pattern_audit", "text_stats",
    "bigram_familiarity",
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = bench.session("plans", 4)
    tmp = tempfile.mkdtemp(prefix="nhao_plans_")
    qs = entrymod.queries()
    out = ["# Physical plans (explain formatted) — key contract queries",
           "",
           "Generated by `python tools/plans.py` (`make plans`); plan-quality",
           "assertions live in `tests/test_plans.py`.",
           "",
           "Round-4 note: contract rows that MERGE two operator arms",
           "(tagged unions / same-key joins, introduced to fit the driver",
           "gate's 50-query window) intentionally run the operator twice,",
           "so their Exchange counts are ~2× the production shape. The",
           "'(operator arm)' sections below show the single-call plans a",
           "production job actually executes — those are what the plan",
           "gates assert.",
           "",
           "The '(bench leg)' sections are `bench.py`'s legs at local[4],",
           "over the inputs it materializes (under `<tmp>`) and times.", ""]
    sections = [(name, partial(qs[name], spark, sf_dir)) for name in AUDIT]
    sections += [(name, partial(fn, spark, sf_dir))
                 for name, fn in sorted(_single_arm().items())]
    t = bench.inputs(spark, sf_dir, 4, tmp)
    sections += [(f"{name} (bench leg)", partial(build, t))
                 for name, (_, build) in bench.LEGS.items()]
    try:
        for name, build in sections:
            df = build()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue().replace(tmp, "<tmp>")
            exchanges = plan.count("Exchange")
            out += [f"## {name}", "",
                    f"Exchanges: {exchanges}", "", "```", plan.rstrip(),
                    "```", ""]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
