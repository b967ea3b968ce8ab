"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Everything is relational (explode → aggregate → join) so it scales
horizontally: no pairwise O(n²) comparisons except *within LSH candidate
buckets*, which is the entire point of the banding scheme. Hash functions
are the portable 56-bit md5 hash (``functions/textqual.py``) so the DuckDB
oracle computes identical values.

Scale shape per operator (n docs, s shingles/doc):
- exact: one shuffle on the text hash.
- minhash signatures: explode (n·s rows) → groupBy doc (partial aggs
  map-side) → one shuffle.
- LSH candidates: signatures → band keys (n·B rows) → self-join on band key:
  shuffle sized by bucket occupancy, not n².
- simhash: explode tokens → per-bit contributions aggregated relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import (
    MINHASH_A, MINHASH_B, MINHASH_PRIME, N_BANDS, N_MINHASH,
    word_shingles_of,
)
from ..functions.textqual import portable_hash60, tokens

SIMHASH_BITS = 56  # width of the portable hash


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by text hash: keeper = min doc_id per group (S2-style
    keep-first semantics). Returns groups with ≥ 2 members."""
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_members"),
    ).filter("n_members >= 2")


def dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Exact-dedup materializer: the corpus with only the keeper (min
    doc_id) of each identical-text group — the row-level counterpart of
    :func:`exact_duplicates`. One aggregation + one self-semi-join on the
    keeper key; no window over the full corpus."""
    keepers = docs.groupBy(F.md5("text").alias("_h")) \
        .agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keepers.select("doc_id"), "doc_id", "left_semi")


def drop_near_duplicates(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Remove near-duplicates given a (doc_a < doc_b) pairs DataFrame (from
    minhash_lsh_pairs / simhash_dup_pairs / ngram_jaccard_pairs): every doc
    that appears as the *larger* id of a pair is dropped, keeping the
    smallest id of each duplicate chain reachable by descending ids.

    (Full transitive clustering is a connected-components job — iterative,
    out of scope for one pass; keep-smallest-of-pair is the standard
    one-pass policy and is idempotent.)
    """
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate clusters from a near-dup pairs table: (doc_id,
    component_id) with component_id = min doc id in the component.

    Min-label propagation over the undirected edge set: each round joins
    every node's current label against its neighbors' labels and keeps the
    minimum, until a fixpoint (counted via a changed-labels aggregate).
    O(diameter) rounds; duplicate clusters in web corpora are shallow
    (near-cliques), so this converges in 2-3 rounds. Labels are
    ``localCheckpoint``-ed per round to cut the iterative lineage —
    at 10^12-row scale each round would be a table write instead (and the
    alternating large-star/small-star variant halves round count; plain
    propagation is kept for auditability).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.unionAll(rev).distinct().localCheckpoint(eager=False)

    labels = edges.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node")) \
        .localCheckpoint(eager=False)
    for _ in range(max_iter):
        nmin = edges.alias("e").join(
            labels.alias("l"), F.col("e.dst") == F.col("l.node")) \
            .groupBy(F.col("e.src").alias("node")) \
            .agg(F.min("l.label").alias("nmin"))
        new_labels = labels.alias("c").join(
            nmin.alias("m"), F.col("c.node") == F.col("m.node"), "left") \
            .select(F.col("c.node").alias("node"),
                    F.least(F.col("c.label"),
                            F.coalesce(F.col("m.nmin"), F.col("c.label")))
                    .alias("label")) \
            .localCheckpoint(eager=False)
        changed = new_labels.alias("n").join(
            labels.alias("o"), F.col("n.node") == F.col("o.node")) \
            .filter(F.col("n.label") != F.col("o.label")).limit(1).count()
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("component_id"))


def connected_components_star(pairs: DataFrame,
                              max_iter: int = 20) -> DataFrame:
    """Duplicate clusters via alternating large-star/small-star — the
    10^12-row scale path, same output contract as
    :func:`connected_components` (component_id = min doc id).

    Each round is two neighborhood aggregations over the edge list
    (Kiveris-style star operations, public MapReduce-CC literature):

    - large-star: every node u links each strictly-larger neighbor v to
      ``m = min(Γ(u) ∪ {u})``;
    - small-star: every node u links its strictly-smaller neighbors and
      itself to the minimum of that set.

    Converges in O(log diameter) rounds (vs O(diameter) for plain
    min-label propagation) — the difference between 2-3 and dozens of
    rounds on pathological chain-shaped duplicate sets; each round is
    groupBy+join keyed on node id, so skew follows the max degree, which
    LSH bucket caps already bound upstream. Per-round localCheckpoint cuts
    the iterative lineage (a table write at production scale).
    """
    base = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")) \
        .filter(F.col("u") != F.col("v"))
    nodes = base.select(F.col("u").alias("node")).unionAll(
        base.select(F.col("v").alias("node"))).distinct() \
        .localCheckpoint(eager=False)
    e = base.select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v")).distinct() \
        .localCheckpoint(eager=False)
    n_e = e.count()

    converged = False
    for _ in range(max_iter):
        nbr = e.unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m over ALL neighbors ∪ self; emit (v, m) for v > u
        m_all = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m"))
        large = nbr.join(m_all, "u").filter(F.col("v") > F.col("u")) \
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        # small-star over the large-star output
        nbr2 = large.unionAll(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
            .distinct()
        nbr_lt = nbr2.filter(F.col("v") < F.col("u"))
        m_small = nbr_lt.groupBy("u").agg(F.min("v").alias("m"))
        small = nbr_lt.join(m_small, "u") \
            .select(F.col("v").alias("u"), F.col("m").alias("v")) \
            .unionAll(m_small.select(F.col("u"), F.col("m").alias("v")))
        new_e = small.filter(F.col("u") != F.col("v")) \
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v")).distinct() \
            .localCheckpoint(eager=False)
        # both sides are distinct sets: equal cardinality + no new edges
        # outside the old set ⟹ equal (one exceptAll, not two)
        n_new = new_e.count()
        stable = (n_new == n_e
                  and new_e.exceptAll(e).limit(1).count() == 0)
        e, n_e = new_e, n_new
        if stable:
            converged = True
            break
    if not converged:
        # the labeling step below assumes the edge set is a star forest —
        # a truncated run would yield WRONG component ids, not merely
        # incomplete propagation, so this must not pass silently
        import warnings
        warnings.warn(
            f"connected_components_star: no fixpoint after {max_iter} "
            "rounds; component ids may be wrong — raise max_iter",
            RuntimeWarning, stacklevel=2)

    # converged edge set is a star forest: non-min nodes hold an edge to
    # their component min; min nodes label themselves
    star = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .filter(F.col("v") < F.col("u")) \
        .groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))
    return nodes.join(star, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("label", "node").alias("component_id"))


def dedup_by_components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus minus all non-representative members of duplicate clusters
    (transitive closure — stronger than :func:`drop_near_duplicates`)."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("doc_id") != F.col("component_id")) \
        .select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


def distinct_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs, distinct — shared base for Jaccard/MinHash.

    The token array is bound to a column in its own projection so the
    shingle ``transform`` lambda slices a computed array instead of
    re-running ``split`` per shingle (see ``word_shingles_of``); the
    optimizer keeps the projection because the array is referenced more
    than once. (Under the min-aggregation of ``minhash_signatures`` the
    ``.distinct()`` here is removed outright by Catalyst's
    RemoveRedundantAggregates — min is duplicate-insensitive — so the
    minhash plan has exactly one Exchange.)
    """
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    return toked.select(
        "doc_id",
        F.explode(word_shingles_of(F.col("_toks"), k)).alias("shingle")
    ).distinct()


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct k-word shingles.

    Candidate pairs come from sharing ≥1 shingle (an equi-join, not a cross
    join); J = |A∩B| / (|A|+|B|−|A∩B|).

    ``max_shingle_df`` is the hot-shingle (stopword) cap that makes this
    scale-safe: a shingle shared by m docs emits m(m−1)/2 candidate rows, so
    boilerplate shingles blow the join up quadratically at corpus scale.
    With the cap, shingles whose document frequency exceeds it are dropped
    from BOTH the candidate join and the size/intersection counts — the
    standard stopword-filtered Jaccard variant (overlap consisting purely of
    boilerplate no longer pairs documents, which is usually the point).
    None keeps exact full Jaccard (bounded corpora only).
    """
    # the shingle set is reused 3-5× below (df filter, sizes, both join
    # sides); without materialization Catalyst re-derives the explode +
    # distinct subtree per use (measured: 44 Exchanges in the capped plan).
    # Same pattern as minhash signatures: localCheckpoint here, a shingle
    # TABLE at 10^12-row scale.
    sh = distinct_shingles(docs, k).localCheckpoint(eager=False)
    if max_shingle_df is not None:
        rare = sh.groupBy("shingle").agg(F.count("*").alias("df")) \
            .filter(F.col("df") <= max_shingle_df).select("shingle")
        sh = sh.join(rare, "shingle").localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = a.join(b, (F.col("a.shingle") == F.col("b.shingle")) &
                   (F.col("a.doc_id") < F.col("b.doc_id"))) \
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b")) \
        .agg(F.count("*").alias("n_inter"))
    return inter \
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a") \
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("n_sh", "n_b"), "doc_b") \
        .withColumn("jaccard", F.round(
            F.col("n_inter") /
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6)) \
        .filter(F.col("jaccard") >= threshold) \
        .select("doc_a", "doc_b", "jaccard")


def minhash_signatures(docs: DataFrame, k: int = 3) -> DataFrame:
    """N_MINHASH-permutation MinHash signature per doc, one column per
    permutation (mh0..mh15): explode shingles → hash → min per permutation.
    Partial aggregation makes this one map-side-combined shuffle."""
    sh = distinct_shingles(docs, k).withColumn(
        "h", portable_hash60(F.col("shingle")))
    aggs = [
        F.min((F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
              % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, k: int = 3,
                      est_threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup candidates: band the signature (N_BANDS bands of
    N_MINHASH/N_BANDS rows), bucket-join on (band, band-key), then estimate
    Jaccard as the fraction of equal signature components.

    Single-pass shape: the full signature rides along through one
    ``posexplode`` of the band keys, so the bucket self-join yields both
    signatures directly — one shuffle for signatures, one for the join, no
    recomputation of the signature subtree per band (the naive
    union-of-bands plan recomputes it N_BANDS times) and no second join
    back to signatures.
    """
    # the self-join otherwise computes the signature subtree (explode +
    # 16-way min aggregation) once per side; lazily checkpointing the
    # signatures materializes them once. On a cluster prefer writing
    # signatures to a table instead (localCheckpoint storage dies with
    # its executor), which is what a 10^12-row run would do anyway.
    sig = minhash_signatures(docs, k).localCheckpoint(eager=False)
    rows_per_band = N_MINHASH // N_BANDS
    band_keys = [
        F.md5(F.concat_ws("_", *[F.col(f"mh{b * rows_per_band + r}")
                                 for r in range(rows_per_band)]))
        for b in range(N_BANDS)
    ]
    banded = sig.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias("sig"),
        F.posexplode(F.array(*band_keys)).alias("band", "band_key"))

    a = banded.alias("a")
    b = banded.alias("b")
    eq = F.aggregate(
        F.zip_with(F.col("a.sig"), F.col("b.sig"),
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return a.join(b, (F.col("a.band") == F.col("b.band")) &
                  (F.col("a.band_key") == F.col("b.band_key")) &
                  (F.col("a.doc_id") < F.col("b.doc_id"))) \
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.round(eq / F.lit(float(N_MINHASH)), 6).alias("est_jaccard")) \
        .distinct() \
        .filter(F.col("est_jaccard") >= est_threshold)


def simhash_values(docs: DataFrame) -> DataFrame:
    """56-bit SimHash per doc over distinct whitespace tokens: per bit
    plane, sum ±1 contributions of token hashes; bit set iff sum > 0.
    Fully relational: tokens × 56 bit planes → one aggregation.

    Per-doc token dedup is ``array_distinct`` on the token array *before*
    the explode — a per-row operation — instead of a global ``.distinct()``
    on the exploded (doc_id, token) rows, which costs a full extra
    Exchange of every token row (2 shuffles → 1; the sums are over the
    same distinct-token sets, so values are unchanged — doc_id is the
    row key of a documents table, exactly the contract the global
    distinct relied on too). Input contract made explicit by this
    change: rows must be key-unique on doc_id — a duplicated doc_id row
    now contributes its token multiset once per row instead of being
    globally deduped (feed such inputs through dedup_keep_first
    first)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).withColumn("h", portable_hash60(F.col("tok")))
    bit_cols = [
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_cols)
    value = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0,
                      F.lit(1).cast("bigint") * F.lit(2 ** i).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        value = term if value is None else value + term
    return sums.select("doc_id", value.alias("simhash"))


def simhash_chunk_spans(chunks: int) -> list[tuple[int, int]]:
    """(shift, width) per chunk: the 56 hash bits split into ``chunks``
    contiguous bands, low chunks first, remainder bits on the high chunks.
    Shared with the DuckDB oracle so both engines band identically."""
    if not 1 <= chunks <= SIMHASH_BITS:
        raise ValueError(f"chunks must be in [1, {SIMHASH_BITS}]")
    base, rem = divmod(SIMHASH_BITS, chunks)
    spans, shift = [], 0
    for c in range(chunks):
        width = base + (1 if c >= chunks - rem else 0)
        spans.append((shift, width))
        shift += width
    return spans


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                      chunks: int = 4) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ ``max_hamming``.

    Candidates come from equality of any of ``chunks`` bit-bands of the
    56-bit hash, then exact verify with bit_count(xor) — a bucket join,
    never a cross join, which is what scales this to 10^12 rows. Pigeonhole
    guarantees FULL recall iff ``max_hamming <= chunks - 1`` (≥1 band is
    untouched by the differing bits); beyond that the result is approximate
    — pairs whose differing bits span every band are missed. So for
    guaranteed recall at distance d, pass ``chunks=d + 1`` (cost: d+1
    candidate buckets per row instead of 4, i.e. more join fan-out — still
    an equi-join, never all-pairs).
    """
    # one derivation of the simhash subtree total: the chunk keys ride a
    # posexplode (the union-of-selects formulation re-derives the full
    # explode+56-bit-aggregation subtree once per chunk per join side —
    # 58 Exchanges at chunks=7), and the signature is lazily checkpointed
    # so the self-join's two sides share the materialization (a signature
    # TABLE at 10^12-row scale, same trade as minhash_lsh_pairs).
    sh = simhash_values(docs).localCheckpoint(eager=False)
    chunk_vals = [
        F.shiftright("simhash", shift).bitwiseAND(F.lit((1 << width) - 1))
        for shift, width in simhash_chunk_spans(chunks)]
    keyed = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*chunk_vals)).alias("chunk", "chunk_val"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = a.join(b, (F.col("a.chunk") == F.col("b.chunk")) &
                  (F.col("a.chunk_val") == F.col("b.chunk_val")) &
                  (F.col("a.doc_id") < F.col("b.doc_id"))) \
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b")).distinct()
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .cast("long")) \
        .filter(F.col("hamming") <= max_hamming) \
        .select("doc_a", "doc_b", "hamming")
