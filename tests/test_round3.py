"""Round-3 additions: self-verifying contract rows, parameterized simhash
banding, engine-reproducible k-means, lazy LSH plan construction, PNG CRC,
star-CC convergence contract."""

import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from norsk_historisk_avis_ocr_spark.operators import dedup as dd
from norsk_historisk_avis_ocr_spark.operators import similarity as sim
from norsk_historisk_avis_ocr_spark.operators.kmeans import kmeans_assign
from norsk_historisk_avis_ocr_spark.refexec import golden_text
from norsk_historisk_avis_ocr_spark.sources.pages import build_page
from norsk_historisk_avis_ocr_spark.stages.png import decode_png, encode_png


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# --- self-verifying contract rows ----------------------------------------

def test_extract_verified_reports_zero_mismatch(spark, sf_dir,
                                                documents_rows):
    row = entry.queries()["extract_verified"](spark, sf_dir).collect()
    assert len(row) == 1
    assert row[0].n_checked == len(documents_rows)
    assert row[0].n_mismatch == 0


def test_raster_verified_reports_zero_mismatch(spark, sf_dir,
                                               documents_rows):
    row = entry.queries()["raster_verified"](spark, sf_dir).collect()
    assert len(row) == 1
    assert row[0].n_checked == min(len(documents_rows), 40)
    assert row[0].n_mismatch == 0


def test_golden_text_matches_pipeline_derivation(reference_textops):
    """refexec.golden_text IS the byte-identity derivation the pipeline
    test uses — and it actually detects drift (negative control)."""
    ref_clean, ref_reflow, _ = reference_textops
    p = build_page(5, "ord " * 60, "no")
    combined, transcribed = golden_text(p["planted_header"],
                                        p["planted_columns"])
    sections = []
    if p["planted_header"] is not None:
        sections.append(ref_clean(p["planted_header"]))
    sections += [ref_clean(c) for c in (p["planted_columns"] or [""])]
    assert combined == "\n\n".join(sections) + "\n"
    reflowed = [ref_reflow(s) for s in sections]
    assert transcribed == "\n\n".join(s for s in reflowed if s) + "\n"
    # drift in any planted section changes the golden → a mismatch count
    drifted, _ = golden_text(p["planted_header"],
                             list(p["planted_columns"]) + ["EXTRA"])
    assert drifted != combined


# --- parameterized simhash banding ----------------------------------------

def test_simhash_chunk_spans_partition_the_hash():
    for chunks in (1, 4, 5, 7, 14, 56):
        spans = dd.simhash_chunk_spans(chunks)
        assert len(spans) == chunks
        assert sum(w for _, w in spans) == dd.SIMHASH_BITS
        # contiguous, low-to-high
        pos = 0
        for shift, width in spans:
            assert shift == pos and width >= 1
            pos += width
    with pytest.raises(ValueError):
        dd.simhash_chunk_spans(0)
    with pytest.raises(ValueError):
        dd.simhash_chunk_spans(57)


def test_simhash_chunks7_full_recall_at_h6(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    values = {r.doc_id: r.simhash
              for r in dd.simhash_values(docs).collect()}
    want = set()
    ids = sorted(values)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(values[a] ^ values[b]).count("1") <= 6:
                want.add((a, b))
    got = {(r.doc_a, r.doc_b)
           for r in dd.simhash_dup_pairs(docs, max_hamming=6,
                                         chunks=7).collect()}
    assert got == want  # d+1 chunks ⇒ pigeonhole full recall at d


def test_simhash_default_chunks_unchanged(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    a = {(r.doc_a, r.doc_b, r.hamming)
         for r in dd.simhash_dup_pairs(docs, max_hamming=3).collect()}
    b = {(r.doc_a, r.doc_b, r.hamming)
         for r in dd.simhash_dup_pairs(docs, max_hamming=3,
                                       chunks=4).collect()}
    assert a == b


# --- k-means: ragged guard + quantized reproducibility --------------------

def test_kmeans_ragged_vectors_excluded(spark):
    rows = [(0, [1.0, 2.0, 3.0]), (1, [2.0, 1.0, 0.0]),
            (2, [9.0]),            # ragged: wrong dimensionality
            (3, None),             # null: no geometry
            (4, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kmeans_assign(df, k=2, iters=3).collect()
    assert {r.vec_id for r in got} == {0, 1, 4}
    assert all(r.cell is not None for r in got)


def test_kmeans_short_first_vector_not_anchor(spark):
    """A malformed SHORT vector at the lowest vec_id must be the outlier
    (majority dim wins), not silently drop the whole corpus as ragged."""
    rows = [(0, [9.0])] + [(i, [float(i), 1.0, 2.0]) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = kmeans_assign(df, k=3, iters=3).collect()
    assert {r.vec_id for r in got} == set(range(1, 8))
    # seeds re-collected from the valid rows: cells are valid vec_ids
    assert {r.cell for r in got} <= set(range(1, 8))


def test_kmeans_quantize_deterministic(spark, sf_dir):
    a = sorted((r.vec_id, r.cell) for r in
               kmeans_assign(_emb(spark, sf_dir), k=4, iters=3,
                             quantize=6).collect())
    b = sorted((r.vec_id, r.cell) for r in
               kmeans_assign(_emb(spark, sf_dir), k=4, iters=3,
                             quantize=6).collect())
    assert a == b and len(a) > 0


# --- LSH: plan construction must stay lazy when dim is known --------------

def test_lsh_dim_passthrough_no_eager_action(spark, sf_dir, monkeypatch):
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError("eager .first() during plan construction")

    emb = _emb(spark, sf_dir)
    monkeypatch.setattr(DataFrame, "first", _boom)
    # building all three LSH plans must not run a Spark action
    sim.lsh_bucket_topk(emb, 0, k=5, dim=64)
    sim.lsh_bucket_topk(emb, 0, k=5, multi_probe=True, dim=64)
    sim.embedding_dup_pairs_lsh(emb, threshold=0.3, dim=64)


# --- PNG: loud-failure contract on corrupted payloads ----------------------

def test_png_crc_mismatch_raises():
    img = (np.arange(40 * 30, dtype=np.uint32) % 251).astype(np.uint8) \
        .reshape(40, 30)
    data = bytearray(encode_png(img))
    # flip one bit inside the IDAT body (not the length/tag/CRC fields)
    idat = bytes(data).index(b"IDAT")
    data[idat + 10] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))
    # untouched payload still round-trips
    assert (decode_png(encode_png(img)) == img).all()


def test_png_truncated_chunk_raises():
    img = np.full((8, 8), 200, dtype=np.uint8)
    data = encode_png(img)
    with pytest.raises(ValueError):
        decode_png(data[:len(data) - 6])  # IEND cut mid-chunk


# --- corpus assembly ops ----------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_deterministic_split_properties(spark, sf_dir):
    from norsk_historisk_avis_ocr_spark.operators.corpus import (
        deterministic_split,
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    full = {r.doc_id: r.split
            for r in deterministic_split(docs).collect()}
    assert set(full.values()) <= {"train", "val", "test"}
    assert sum(1 for v in full.values() if v == "train") > len(full) * 0.7
    # stability: a subset of the corpus gets the identical assignments
    sub = {r.doc_id: r.split
           for r in deterministic_split(docs.limit(20)).collect()}
    assert all(full[k] == v for k, v in sub.items())
    with pytest.raises(ValueError, match="sum to 1"):
        deterministic_split(docs, weights=(("a", 0.5), ("b", 0.2)))


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from norsk_historisk_avis_ocr_spark.operators.corpus import (
        stratified_sample,
    )
    docs = _docs(spark, sf_dir)
    a = {r.doc_id for r in
         stratified_sample(docs, rate=0.2, rates={"en": 0.5}).collect()}
    b = {r.doc_id for r in
         stratified_sample(docs, rate=0.2, rates={"en": 0.5}).collect()}
    assert a == b and 0 < len(a) < docs.count()
    # raising a stratum's rate only ever ADDS members of that stratum
    c = {r.doc_id for r in
         stratified_sample(docs, rate=0.2, rates={"en": 0.9}).collect()}
    assert a <= c
    extra_langs = {r.lang for r in docs.filter(
        F.col("doc_id").isin([x for x in c - a])).collect()}
    assert extra_langs <= {"en"}


def test_pack_sequences_block_semantics(spark, sf_dir):
    from norsk_historisk_avis_ocr_spark.operators.corpus import pack_sequences
    rows = pack_sequences(_docs(spark, sf_dir), budget=512).collect()
    assert rows
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.source, []).append(r)
    for grp, rs in by_grp.items():
        rs.sort(key=lambda r: r.doc_id)
        start = 0
        for r in rs:
            assert r.pack_id == start // 512, (grp, r.doc_id)
            start += r.n_tokens


def test_prepare_corpus_cli_end_to_end(spark, sf_dir, tmp_path):
    """spark-submit-shaped corpus job: documents in → split-partitioned
    packed corpus out, with hygiene verdicts attached."""
    import jobs.prepare_corpus as job
    out = str(tmp_path / "corpus")
    job.main(["--input", os.path.join(sf_dir, "documents.parquet"),
              "--output", out, "--langs", "en", "--min-quality", "0.4",
              "--budget", "512", "--master", "local[4]"])
    got = spark.read.parquet(out)
    assert set(got.select("split").distinct().toPandas()["split"]) \
        <= {"train", "val", "test"}
    rows = got.collect()
    assert rows and all(r.pred_lang == "en" and r.quality >= 0.4
                        and r.pack_id >= 0 for r in rows)
    # split hygiene: no context block spans splits — pack ids are dense
    # per (split, source) starting at 0
    by = {}
    for r in rows:
        by.setdefault((r.split, r.source), []).append(r)
    for (_s, _src), rs in by.items():
        rs.sort(key=lambda r: r.doc_id)
        start = 0
        for r in rs:
            assert r.pack_id == start // 512, (_s, _src, r.doc_id)
            start += r.n_tokens
    # deterministic: a second run commits the identical corpus
    out2 = str(tmp_path / "corpus2")
    job.main(["--input", os.path.join(sf_dir, "documents.parquet"),
              "--output", out2, "--langs", "en", "--min-quality", "0.4",
              "--budget", "512", "--master", "local[4]"])
    a = sorted((r.doc_id, r.split, r.pack_id) for r in rows)
    b = sorted((r.doc_id, r.split, r.pack_id)
               for r in spark.read.parquet(out2).collect())
    assert a == b


# --- star CC: truncated run must not pass silently -------------------------

def test_star_cc_warns_when_not_converged(spark):
    # a 12-node path graph needs >1 star round to collapse
    edges = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        dd.connected_components_star(pairs, max_iter=1).collect()
    # converged run stays silent and labels the path as one component
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = dd.connected_components_star(pairs, max_iter=20).collect()
    assert {r.component_id for r in labels} == {0}
    assert len(labels) == 13


def test_pack_sequences_sub_shards_de_skews(spark, sf_dir):
    """sub_shards= routes docs to deterministic hash buckets and packs
    within (group, bucket): same block semantics per bucket, deterministic
    across reruns, token totals conserved (VERDICT r3 item 5)."""
    from norsk_historisk_avis_ocr_spark.operators.corpus import pack_sequences
    plain = pack_sequences(_docs(spark, sf_dir), budget=512).collect()
    salted = pack_sequences(_docs(spark, sf_dir), budget=512,
                            sub_shards=4).collect()
    # default schema unchanged; salted carries the bucket column
    assert "pack_bucket" not in plain[0].asDict()
    assert all(0 <= r.pack_bucket < 4 for r in salted)
    # token counts identical row-for-row (routing never changes content)
    assert {(r.doc_id, r.n_tokens) for r in plain} == \
        {(r.doc_id, r.n_tokens) for r in salted}
    # block semantics hold within each (group, bucket)
    by_gb: dict = {}
    for r in salted:
        by_gb.setdefault((r.source, r.pack_bucket), []).append(r)
    assert len({b for _, b in by_gb}) == 4  # all buckets populated
    for key, rs in by_gb.items():
        rs.sort(key=lambda r: r.doc_id)
        start = 0
        for r in rs:
            assert r.pack_id == start // 512, (key, r.doc_id)
            start += r.n_tokens
    # deterministic: rerun yields identical assignment
    again = pack_sequences(_docs(spark, sf_dir), budget=512,
                           sub_shards=4).collect()
    assert sorted((r.doc_id, r.pack_bucket, r.pack_id) for r in salted) == \
        sorted((r.doc_id, r.pack_bucket, r.pack_id) for r in again)
