"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted.

`.explain`-driven checks (SURVEY.md §4): column pruning must reach the
parquet scan under the extraction UDF, small dims must broadcast, the
resume anti-join must not blow up, and the pipeline must stay map-only.
"""

import os

import pytest
from pyspark.sql import functions as F

from norsk_historisk_avis_ocr_spark.operators import extract_pages, resume_filter
from norsk_historisk_avis_ocr_spark.operators import windows as w


@pytest.fixture(scope="module")
def pages_parquet(spark, sf_dir, tmp_path_factory):
    from norsk_historisk_avis_ocr_spark.sources import pages_df
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_df(spark, sf_dir).write.parquet(path)
    return path


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_scan_prunes_columns(spark, pages_parquet):
    """The extraction UDF needs url+html only; warc_ts/text/lang must be
    pruned at the scan (ReadSchema), not filtered later."""
    df = extract_pages(spark.read.parquet(pages_parquet))
    plan = _plan(df)
    scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_line, plan
    schema = scan_line[0].split("ReadSchema:")[1]
    assert "html" in schema and "url" in schema
    assert "warc_ts" not in schema and "lang" not in schema, schema


def test_extract_is_map_only(spark, pages_parquet):
    df = extract_pages(spark.read.parquet(pages_parquet))
    assert "Exchange" not in _plan(df)


def test_broadcast_dim_join_broadcasts(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    joined = orders.join(customer, F.col("o_custkey") == F.col("c_custkey")) \
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    assert "BroadcastHashJoin" in _plan(joined)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = docs.filter(F.col("n_chars") > 300).select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]" \
        in plan or "GreaterThan(n_chars,300)" in plan, plan


def test_resume_antijoin_single_join(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    done = pages.select("url").limit(10)
    plan = _plan(resume_filter(pages, done))
    assert "LeftAnti" in plan
    assert plan.count("Join") == 1, plan


def _write_plans(spark, path):
    """Final physical plans of this session's SQL executions that wrote
    ``path``, oldest first."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())]
    return [p for p in plans if f"Arguments: file:{path}, " in p]


def test_resume_joins_only_once_committed(spark, sf_dir, tmp_path):
    """Before the first commit the anti-join is skipped, so the fresh
    write plan streams input splits into the UDF with no Join and no
    Exchange, and keeps the lineage MapInPandas above the extraction one;
    a resumed pass keeps the LeftAnti join."""
    from norsk_historisk_avis_ocr_spark.operators.resume import (
        run_with_resume,
    )
    from norsk_historisk_avis_ocr_spark.sources import pages_df
    first, more = str(tmp_path / "first"), str(tmp_path / "more")
    pages_df(spark, sf_dir).limit(12).write.parquet(first)
    pages_df(spark, sf_dir).limit(20).write.parquet(more)
    out = str(tmp_path / "results")
    assert run_with_resume(spark, spark.read.parquet(first), out) == 12
    fresh, = _write_plans(spark, out)
    assert "Join" not in fresh and "Exchange" not in fresh, fresh
    tree = fresh.split("\n\n")[0]
    assert tree.count("MapInPandas") == 2, tree
    assert run_with_resume(spark, spark.read.parquet(more), out) == 8
    resumed = _write_plans(spark, out)[1]
    assert "LeftAnti" in resumed, resumed


def test_window_ops_single_exchange(spark):
    df = spark.createDataFrame(
        [(1, "a", i) for i in range(5)],
        "user_id long, event_type string, event_id long")
    plan = _plan(w.runlength_islands(df))
    # one shuffle for the window, reused by the aggregation on a superset key
    assert plan.count("Exchange") <= 2


def test_kmeans_assignment_is_shuffle_free(spark, sf_dir):
    """Round-2 fix: Lloyd argmin must not shuffle points per iteration —
    the final assignment plan is a pure Project over the checkpointed
    scan (centroid literals + array_min), no Exchange keyed on vec_id."""
    from norsk_historisk_avis_ocr_spark.operators.kmeans import kmeans_assign
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    plan = _plan(kmeans_assign(emb, k=4, iters=2))
    assert "Exchange" not in plan, plan


def test_hyperplane_signature_has_no_hashing_in_plan(spark, sf_dir):
    """Round-2 fix: the ±1 sign matrix is precomputed into literals — the
    per-row expression must contain no md5/conv calls."""
    from norsk_historisk_avis_ocr_spark.operators.similarity import (
        hyperplane_signature,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    plan = _plan(hyperplane_signature(emb, n_planes=4))
    assert "md5" not in plan and "conv(" not in plan, plan


def test_ngram_jaccard_capped_shares_shingle_subtree(spark, sf_dir):
    """Round-2 fix: the shingle set is checkpointed so its explode+distinct
    subtree is not re-derived per reuse (was 44 Exchanges)."""
    from norsk_historisk_avis_ocr_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(ngram_jaccard_pairs(docs, k=3, threshold=0.12,
                                     max_shingle_df=3))
    assert plan.count("Exchange") <= 14, plan.count("Exchange")


def test_simhash_pairs_share_signature_subtree(spark, sf_dir):
    """Round-3 fix: chunk keys ride a posexplode over the checkpointed
    signature — the union-of-selects formulation re-derived the full
    simhash subtree per chunk per join side (58 Exchanges at chunks=7)."""
    from norsk_historisk_avis_ocr_spark.operators.dedup import (
        simhash_dup_pairs,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(simhash_dup_pairs(docs, max_hamming=6, chunks=7))
    assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_corpus_split_and_sample_are_shuffle_free(spark, sf_dir):
    """Split assignment and stratified sampling are hash arithmetic in the
    scan projection — at 100 TB they must cost scan time only."""
    from norsk_historisk_avis_ocr_spark.operators.corpus import (
        deterministic_split, stratified_sample,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert "Exchange" not in _plan(deterministic_split(docs.select("doc_id")))
    assert "Exchange" not in _plan(
        stratified_sample(docs, rate=0.2, rates={"en": 0.5}))


def test_pack_sequences_single_exchange_on_group(spark, sf_dir):
    """Packing is one window per source shard: exactly one shuffle, keyed
    on the group column — parallelism follows shard count, not rows."""
    from norsk_historisk_avis_ocr_spark.operators.corpus import pack_sequences
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(pack_sequences(docs, budget=512))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(source" in plan, plan


def test_pattern_ops_are_shuffle_free(spark, sf_dir):
    """PII audit and scrub are pure projections: zero Exchanges, filters
    and counts all inside whole-stage codegen."""
    import os

    from norsk_historisk_avis_ocr_spark.operators.quality import (
        pattern_hygiene, scrub_patterns,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert "Exchange" not in _plan(pattern_hygiene(docs))
    assert "Exchange" not in _plan(scrub_patterns(docs))


def test_lexicon_frequency_plan_is_one_aggregation(spark, sf_dir):
    """Token-frequency induction is the classic word-count plan: exactly
    one hash-partitioned Exchange (partial agg map-side), plus the
    single-partition gather for the bounded top-N."""
    import os

    from pyspark.sql import functions as F

    from norsk_historisk_avis_ocr_spark.operators.lexicon import (
        token_frequencies,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    freq = token_frequencies(docs)
    plan = _plan(freq)
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    topn = freq.orderBy(F.desc("cnt"), F.asc("token")).limit(50)
    assert "TakeOrderedAndProject" in _plan(topn), _plan(topn)


def test_pack_sequences_sub_shards_exchange_keyed_on_bucket(spark, sf_dir):
    """De-skewed packing still shuffles exactly once, keyed on
    (group, pack_bucket) — a hot shard fans out over sub_shards tasks."""
    from norsk_historisk_avis_ocr_spark.operators.corpus import pack_sequences
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(pack_sequences(docs, budget=512, sub_shards=8))
    assert plan.count("Exchange") == 1, plan
    part_key = plan.split("hashpartitioning(source", 1)
    assert len(part_key) == 2, plan
    assert "pack_bucket" in part_key[1][:120], plan


# Current Exchange counts of the merged (tagged-union / same-key-join)
# contract rows, pinned as CEILINGS (VERDICT r4 #7): the production
# single-call plans are gated above, but a regression inside one *arm*
# of a merged row would otherwise surface only as a slower driver query.
# Merged rows intentionally run their operator per-arm, so these counts
# are ~2× the production plans — that is the documented trade-off
# (BENCH/PLANS.md), not headroom to grow into.
_MERGED_ROW_EXCHANGE_CEILINGS = {
    "text_stats": 2,
    "pattern_audit": 1,
    "salted_hot_keys": 5,
    "corpus_split_sample": 0,
    "pack_sequences": 2,
    "dedup_ngram_jaccard": 12,
    "dedup_components": 2,
    "dedup_survivors": 5,
    "dedup_simhash": 4,
    "dedup_simhash_h6_c7": 2,
    "emb_lsh_topk": 6,
    "emb_dup_pairs_lsh": 3,
    "emb_ivf_topk": 3,
    "value_histogram": 1,
    "exact_quantiles": 1,
}


@pytest.mark.parametrize(
    "key,ceiling", sorted(_MERGED_ROW_EXCHANGE_CEILINGS.items()))
def test_merged_contract_row_exchange_ceiling(spark, sf_dir, key, ceiling):
    import __spark_entry__ as entrymod
    df = entrymod.queries()[key](spark, sf_dir)
    plan = _plan(df)
    got = plan.count("Exchange")
    assert got <= ceiling, (key, got, ceiling)
