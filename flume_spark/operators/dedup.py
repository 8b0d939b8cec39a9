"""Deduplication operators over a document table.

Scale design (100 TB corpus):
- exact: one hash-shuffle on the content hash; map-side partial agg keeps
  the shuffle small (one row per distinct hash per partition).
- n-gram Jaccard: exact pairwise similarity restricted to co-shingled pairs;
  the shingle self-join is the classic inverted-index join — shuffle is
  bounded by sum over shingles of df^2, so hot shingles must be capped
  (df cap / stopword-shingle drop) at scale.  MinHash-LSH below is the
  scalable path; this exact operator is the verifier on candidate pairs.
- MinHash-LSH: per-doc signature (k aggregates over exploded shingles),
  banding, then a join keyed on (band_idx, band_hash) — shuffle bounded by
  bucket sizes; collision probability tunable via (k, bands).
- Shingling tokenizes each document ONCE, in a projection below the
  per-position slice lambda (Catalyst never hoists out of a lambda, so a
  split inside it would re-split the document per shingle: O(words^2)).
- decontamination is probe-first: corpus shingles join the broadcast probe
  index un-deduplicated and only the small joined result is made distinct,
  so no shuffle of the full corpus shingle table.
- connected components: one materialization of the symmetric edge set,
  round 1 fused with the initial labels (one groupBy), then at most
  max_iter - 1 join+groupBy rounds.
- All hashing is md5-based (string min = lexicographic) so results are
  deterministic and engine-independent — no seed-dependent JVM hash.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger("flume_spark")


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy downstream expressions (per-shingle hashing) are not
    bottlenecked on a single input partition.  Small single-file inputs scan
    as ONE partition, serializing all map-side hash work onto one core; a
    cheap row-count-bounded repartition buys full parallelism.  At real
    scale the scan already has >= cores partitions and this is a no-op.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest id per identical content; reports group size.

    Returns (content_hash, keep_id, n_copies).
    """
    return (
        df.select(
            F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("id")
        )
        .groupBy("content_hash")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_array_expr(words_sql: str, n: int) -> Column:
    """Space-joined n-gram array over a words-array SQL expression.

    `words_sql` is any SQL expression yielding array<string> (a `split(...)`
    call, or the name of an already-tokenized column to avoid re-splitting).
    Positions 0..len-n build the n-grams in codegen; short inputs are
    guarded because Spark's sequence(0, -1) yields a DESCENDING sequence.
    Shared by word_shingles and text.repetition_ratio so the tricky guard
    lives in exactly one place.
    """
    if n == 1:
        return F.expr(words_sql)
    return F.expr(
        f"CASE WHEN size({words_sql}) >= {n} "
        f"THEN transform(sequence(0, size({words_sql}) - {n}), "
        f"     i -> concat_ws(' ', slice({words_sql}, i + 1, {n}))) "
        f"ELSE cast(array() AS array<string>) END"
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """n-word shingles per document: (id, shingle), distinct by default.

    Tokenization: lowercase, split on whitespace runs.  Shingles built with
    array slicing inside codegen (no UDF).  Pass distinct=False for
    consumers invariant to duplicates (min-hash: min over a multiset equals
    min over its set) — it removes a full shuffle of the exploded table,
    the largest intermediate in the pipeline.
    """
    # Tokenize in its own projection: Catalyst never hoists an expression
    # out of a lambda, so a split inside the per-position slice would re-split
    # the whole document once per shingle (O(words^2) per doc).
    words = _spread(df).select(
        F.col(id_col).alias("id"),
        F.expr(f"split(lower(trim({text_col})), '\\\\s+')").alias("_w"),
    )
    exploded = words.select(
        "id", F.explode(shingle_array_expr("_w", n)).alias("shingle")
    )
    return exploded.distinct() if distinct else exploded


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold via inverted-index join.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    jaccard is rounded to 6dp (it is a ratio of exact integer counts, so
    both engines agree bit-for-bit; rounding is belt-and-braces).

    `max_df` is the 100 TB knob: the join's shuffle is Σ_shingle df², so a
    stop-shingle appearing in d docs contributes d² candidate rows.
    Dropping shingles with df > max_df bounds the blow-up; sizes AND
    intersections then come from the capped index, so the score is Jaccard
    over rare shingles only — it can be higher OR lower than exact Jaccard
    (both numerator and denominator shrink), and pairs sharing only hot
    shingles disappear.  Choose max_df >> expected near-dup cluster size so
    only corpus-wide stop-shingles are dropped.  Leave None for exact.
    """
    if max_df is None:
        logger.warning(
            "ngram_jaccard_pairs(max_df=None) is the exact/verifier "
            "configuration: the inverted-index self-join shuffles "
            "sum-over-shingles(df^2) rows and will not scale to a raw large "
            "corpus.  For near-dup discovery at scale use lsh_verified_pairs "
            "(LSH candidates -> exact-Jaccard verification) or pass max_df."
        )
    sh = word_shingles(df, id_col, text_col, n).cache()
    if max_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT: C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Catches doc-in-doc duplication that symmetric Jaccard under-scores —
    a 100-shingle quote fully embedded in a 10k-shingle article has
    Jaccard ~0.01 but containment 1.0 — the signal for "copy with
    additions" filtering in training-data curation (Broder's resemblance
    vs containment distinction).

    Same inverted-index join and `max_df` hot-shingle cap as
    ngram_jaccard_pairs, with the same scale stance: shuffle is
    Σ_shingle df², so at corpus scale run it capped, or as a verifier on
    LSH candidates.  Ratios are exact-integer divisions rounded to 6dp —
    engine-reproducible.

    Returns (doc_a, doc_b, containment_a, containment_b) with
    doc_a < doc_b, kept when EITHER direction >= threshold:
    containment_a = n_inter / |sh(doc_a)| (how much of A is inside B).
    """
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    sh = sh.cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    cont_a = F.round(F.col("n_inter") / F.col("sa.n_sh"), 6)
    cont_b = F.round(F.col("n_inter") / F.col("sb.n_sh"), 6)
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


def _minhash_sig_cols(num_hashes: int) -> list[Column]:
    """k deterministic min-hash aggregates: min over shingles of
    md5('<seed>:' || shingle).  Lexicographic min over md5 hex strings is a
    valid uniform min-hash and is engine-independent."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    num_hashes: int = 8,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The LSH index rows: (id, band_idx, band_hash) per document.

    This frame IS what a production pipeline persists (partitioned by
    band_idx, bucketed by band_hash): candidate generation for any future
    batch is then an equi-join probe against it — see
    incremental_lsh_candidates.  Factored out of minhash_lsh_candidates so
    batch and incremental paths share one signature definition.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, id_col, text_col, shingle_n, distinct=False)
    )
    sigs = sh.groupBy("id").agg(*_minhash_sig_cols(num_hashes))
    band_cols = []
    for bidx in range(bands):
        parts = [F.col(f"mh{bidx * r + j}") for j in range(r)]
        band_cols.append(
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.md5(F.concat_ws("|", *parts)).alias("band_hash"),
            )
        )
    return sigs.select(
        "id", F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    num_hashes: int = 8,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs: (doc_a, doc_b) sharing >= 1 band.

    rows-per-band r = num_hashes / bands; candidate probability for true
    Jaccard j is 1 - (1 - j^r)^bands.  The join is keyed on
    (band_idx, band_hash) so shuffle volume is O(docs * bands), never
    all-pairs.

    `shingles` (an (id, shingle) frame for the same corpus/shingle_n) lets a
    caller that already built the index reuse it — min over a multiset
    equals min over its set, so a distinct or non-distinct frame gives
    identical signatures.  Default: non-distinct (skips a shuffle).
    """
    banded = banded_signatures(
        df, id_col, text_col, shingle_n, num_hashes, bands, shingles
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification — the
    blessed near-dup path at 100 TB scale.

    Stage 1 (`minhash_lsh_candidates`) finds candidate pairs with a banded
    equi-join: shuffle is O(docs x bands), never all-pairs.  Stage 2 verifies
    ONLY those candidates with exact shingle Jaccard, by joining the candidate
    list back to the inverted index: first attach doc_a's shingles (cost =
    sum over candidates of |shingles(doc_a)|), then probe doc_b's shingle set
    with a (doc_b, shingle) equi-join.  Total verification cost is linear in
    the candidate count — the sum-over-shingles(df^2) blow-up of a raw
    inverted-index self-join (`ngram_jaccard_pairs`) never occurs.

    Verification uses the same shingle space that generated the candidates,
    so the reported jaccard is the true n-gram Jaccard of each surfaced pair
    (no false positives; recall is the LSH band probability
    1 - (1 - j^r)^bands).  Returns (doc_a, doc_b, jaccard) with doc_a < doc_b
    and jaccard >= threshold, rounded 6dp.
    """
    # ONE shingle index feeds both stages (signatures are invariant to the
    # distinct, verification requires it) — a separate non-distinct explode
    # for the signatures would double the corpus scan + explode cost.
    # Cache ownership: the cached index lives until Spark's LRU evicts it or
    # the caller clears the catalog cache — it cannot be unpersisted here
    # because the returned plan is lazy and still references it.
    sh = word_shingles(df, id_col, text_col, shingle_n).localCheckpoint(
        eager=True
    )
    # (round-14 A/B: a lazy localCheckpoint of the candidate frame was
    # measured and REVERTED — jobs and wall unchanged, i.e. AQE stage
    # reuse already dedupes the banded-join subtree across the nested
    # broadcast builds below, and the checkpoint would pin pair rows in
    # executor memory for nothing at scale.)
    cands = minhash_lsh_candidates(
        df, id_col, text_col, shingle_n, num_hashes, bands, shingles=sh
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Verify-leg broadcast pinning (round-13 driver-record post-mortem:
    # 4.33s vs a 1.30s calm band on an unchanged plan).  The candidate-pair
    # frame is banded-collision-bounded — O(true near-dups + band
    # collisions), orders of magnitude below the shingle index it probes —
    # so it is the broadcast side BY CONSTRUCTION; leaving the choice to
    # AQE lets a stats-less candidate frame miss the runtime threshold and
    # silently sort-merge the full inverted index.  Same for `inter`
    # (|inter| <= |cands|) against the per-doc size table.  At extreme dup
    # rates where candidates are genuinely data-sized, pass
    # broadcast_candidates=False to restore AQE's per-size choice.
    # The hint must ride EVERY candidate-bounded side, not just the first
    # join's: a broadcast hint attaches to the marked subtree only, so
    # `_b(cands).join(sh).join(sh2)` leaves the second join unhinted
    # (the round-14 review catch).  a_sh (candidates x their own
    # shingles) is still candidate-bounded, as is the aggregated inter.
    _b = F.broadcast if broadcast_candidates else (lambda d: d)
    a_sh = _b(cands).join(
        sh.select(F.col("id").alias("doc_a"), "shingle"), "doc_a"
    )
    inter = (
        _b(a_sh)
        .join(
            sh.select(F.col("id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    # No broadcast hint on the size side: at scale it is one row per doc (not
    # broadcastable); the probe side (aggregated candidate pairs) is the
    # small side and carries the explicit hint ON BOTH size joins — the
    # inter⋈sa result is still pair-bounded, so it re-broadcasts against sb.
    return (
        _b(_b(inter).join(sa, F.col("doc_a") == F.col("sa.id")))
        .join(sb, F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of an EXTERNALLY-supplied candidate pair
    list — the verification leg of `lsh_verified_pairs`, factored out so
    incremental/streaming candidate sources (`LshIngestor` pair output,
    a persisted candidate table) run through the identical verifier.

    `pairs` is (doc_a, doc_b) in any orientation; `df` must contain the
    text of every id the pairs reference.  Cost is linear in the candidate
    count (the candidate list joins back to the shingle index; no
    self-join ever forms).  Returns (doc_a, doc_b, jaccard) for pairs with
    true shingle Jaccard >= threshold, rounded 6dp, orientation preserved.

    `shingles` (a DISTINCT (id, shingle) frame covering at least every id
    the pairs reference, same shingle_n) lets a caller that verifies many
    candidate lists against one corpus build the index once (e.g. a
    checkpointed frame) instead of re-shingling per call; extra ids are
    harmless — every shingle row only reaches the result through a join
    on the pairs' own doc_a/doc_b.  Must be distinct-per-doc (the
    word_shingles contract): a multiset would inflate n_inter/n_sh.
    """
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, id_col, text_col, shingle_n)
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    cands = pairs.select("doc_a", "doc_b")
    a_sh = cands.join(sh.select(F.col("id").alias("doc_a"), "shingle"), "doc_a")
    inter = (
        a_sh.join(
            sh.select(F.col("id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.id"))
        .join(sb, F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprint(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-document SimHash fingerprint: (doc_id, simhash).

    Charikar-style: each token hashed to `bits` bits (md5 prefix, so the hash
    is deterministic and engine-independent); bit i of the fingerprint is 1
    iff the count-weighted sum of (+1 if token-bit set else -1) is positive.

    Scale: two narrow shuffles (token-count groupBy, then per-doc groupBy of
    the bit sums); everything is whole-stage-codegen expressions, no UDF.
    """
    # token hashes use the first 8 md5 hex chars = 32 bits; wider
    # fingerprints would silently get always-zero high bits
    assert 1 <= bits <= 32, "simhash supports at most 32 bits"
    words = F.expr(f"split(lower(trim({text_col})), '\\\\s+')")
    counts = (
        _spread(df).select(F.col(id_col).alias("doc_id"), F.explode(words).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tok_hash = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    hashed = counts.select("doc_id", tok_hash.alias("h"), "cnt")
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {i}) & 1) = 1"), F.col("cnt")).otherwise(
                    -F.col("cnt")
                )
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    EXACT under the pigeonhole guarantee: with `blocks` > `max_hamming`
    equal-width bit blocks, any pair within the hamming budget must agree on
    at least one whole block, so the block-keyed equi-join (the only shuffle
    that grows with corpus size) finds every qualifying pair — no all-pairs
    comparison.  Returns (doc_a, doc_b, hamming).
    """
    # (round-14 A/B: staging the fingerprint frame with an eager
    # localCheckpoint was measured and REVERTED — 2.68 -> 3.64 s, jobs
    # 6 -> 8 at sf0.1: the fingerprint subtree ends in the signature
    # aggregate's exchange, which stage reuse already shares across the
    # block join's legs, so the checkpoint only added a materialization.
    # Contrast phash_pairs, whose Arrow-kernel fingerprint has no
    # exchange to reuse and DOES win from staging.)
    fp = simhash_fingerprint(df, id_col, text_col, bits)
    return hamming_block_pairs(
        fp, "doc_id", "simhash", bits=bits, max_hamming=max_hamming, blocks=blocks
    )


def hamming_block_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Pigeonhole hamming join over ANY integer fingerprint column —
    the shared engine behind `simhash_pairs` (text) and
    `multimodal.phash_pairs` (media payloads): with `blocks` >
    `max_hamming` equal-width bit blocks, any pair within the hamming
    budget agrees on at least one whole block, so the block-keyed
    equi-join finds every qualifying pair with no all-pairs leg.
    Returns (doc_a, doc_b, hamming)."""
    assert blocks > max_hamming, "pigeonhole requires blocks > max_hamming"
    assert bits % blocks == 0
    width = bits // blocks
    mask = (1 << width) - 1
    block_cols = [
        F.struct(
            F.lit(j).alias("block_idx"),
            F.expr(f"shiftright({hash_col}, {j * width}) & {mask}").alias(
                "block_val"
            ),
        )
        for j in range(blocks)
    ]
    banded = fp.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("__h"),
        F.explode(F.array(*block_cols)).alias("b"),
    ).select("doc_id", "__h", "b.block_idx", "b.block_val")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.__h ^ b.__h)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """Cluster near-dup PAIRS into components: (doc_id, component), where
    component is the minimum doc id reachable — the canonical document of
    each dedup cluster.

    Iterative min-label propagation (the simple form of the large-star/
    small-star map-reduce CC algorithm): each round, every node adopts the
    minimum label among itself and its neighbors; converges in O(component
    diameter) rounds.  Near-dup components are shallow (similarity is
    near-transitive), so a handful of rounds suffices; each round is one
    join + one groupBy — all distributed, the driver only checks the
    changed-count scalar.  localCheckpoint() per round truncates the
    exponentially-growing lineage.  `max_iter` caps the rounds, the first
    included.
    """
    # The min-label algorithm and its decimal convergence sum both require
    # NUMERIC node ids on BOTH sides (a string id would widen the union to
    # string — lexicographic min — and cast to NULL in the convergence sum,
    # faking instant convergence) — fail loudly instead.
    dtypes = dict(edges.dtypes)
    for col in (src_col, dst_col):
        if dtypes[col] not in {"tinyint", "smallint", "int", "bigint"}:
            raise TypeError(
                f"connected_components requires integer node ids; {col} is "
                f"{dtypes[col]} — hash string keys to int64 (e.g. xxhash64) first"
            )
    # One materialization of the symmetric edge set.  The edge plan (often
    # an expensive pair pipeline) appears on both sides of the union, but the
    # two sides are the same subtree, so their exchanges are reused.
    bidir = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    # Convergence scalar: labels only ever decrease, so the label sum strictly
    # decreases iff any node changed.  Summed as decimal(38,0): a bigint sum
    # wraps silently under Spark's non-ANSI mode, and with billions of nodes
    # carrying large 64-bit ids an overflow collision could fake convergence
    # (round-2 ADVICE).  1e10 rows x 9.2e18 max id ~ 1e29 << 1e38, so the
    # decimal sum is exact.
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    # Convergence sums ride `observe()`: the metric is computed DURING the
    # same job that materializes the round's labels (the localCheckpoint),
    # so the driver's scalar costs zero extra Spark actions — round-14:
    # the separate labels.agg(..).collect() per round was one full
    # fixed-overhead job per iteration on every CC consumer (curation
    # pipeline, funnel, training-run capstone).
    from pyspark.sql import Observation

    # Round 1 from the initial labels (label = node) is, for the symmetric
    # bidir, each node's min over itself and its neighbors — one groupBy, so
    # the initial labels never materialize.  Its observation carries the
    # initial sum too (sum of nodes), for the first convergence test.
    obs = Observation()
    labels = (
        bidir.groupBy(F.col("src").alias("node"))
        .agg(F.min(F.least("src", "dst")).alias("label"))
        .observe(
            obs,
            label_sum.alias("s"),
            F.sum(F.col("node").cast("decimal(38,0)")).alias("s0"),
        )
        .localCheckpoint()
    )
    prev_sum = obs.get["s"]
    rounds_left = max_iter - 1 if prev_sum != obs.get["s0"] else 0
    for _ in range(rounds_left):
        # Min-label propagation with pointer jumping: each node takes the min
        # over {its own label, neighbor labels, its label's label}.  The
        # grandparent term doubles the propagation distance per round, so
        # convergence is O(log diameter) rounds instead of O(diameter) —
        # at 100 TB that's the difference between ~5 and ~50 shuffle rounds.
        neighbor = bidir.join(labels, bidir.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        grand = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.label") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.label").alias("label"))
        )
        contrib = neighbor.unionByName(labels).unionByName(grand)
        obs = Observation()
        labels = (
            contrib.groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(obs, label_sum.alias("s"))
            .localCheckpoint()
        )
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    blocks: int = 8,
    group_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold (rounded 6dp), doc_a < doc_b.

    Block-matrix similarity join: vectors are hashed into `blocks` groups,
    each vector is replicated once per partner block, and every block-pair
    group computes its cosine sub-matrix as ONE numpy float64 matmul inside
    the grouped Arrow kernel (kernels.grouped_arrow_apply — Arrow-batched,
    BLAS, per-partition pandas boundary).  Exact — every pair lands in
    exactly one block-pair group.

    `group_col` (optional) is the candidate-pruning seam: when given, pairs
    are restricted to rows sharing that key (e.g. a k-means cluster id from
    `similarity.kmeans_assign_vectorized`, or an LSH band bucket) and the
    block decomposition happens WITHIN each group — the grouped form is
    SemDeDup's sum(cluster^2) cost law instead of the all-pairs n^2, while
    the per-group blocks keep a single huge group's sub-matrices memory-
    bounded.  Without it the join is exact-but-quadratic: fine for a
    bounded rerank set, wrong as a corpus-scale pairing leg.

    Scale: replication factor is `blocks` (vs |N| for a naive cross-join);
    the only shuffle is the groupBy on the (group, block-pair) key, and each
    task is O((N_g/blocks)^2) flops of vectorized work.  Tune `blocks` so a
    group's two sub-matrices fit executor memory (~N_g/blocks x dim doubles
    each).  An expression-only variant of the same semantics is
    `similarity.cosine_expr` in a theta-join, which Catalyst evaluates
    row-at-a-time — ~100x slower.
    """
    import pandas as pd

    grp = F.col(group_col) if group_col is not None else F.lit(0)
    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int")
    partner = F.explode(F.array(*[F.lit(i) for i in range(blocks)]))
    tagged = (
        emb.select(
            grp.alias("grp"),
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            b.alias("blk"),
        )
        .withColumn("partner", partner)
        .select(
            "grp",
            F.least("blk", "partner").alias("blo"),
            F.greatest("blk", "partner").alias("bhi"),
            "blk",
            "id",
            "vec",
        )
        .dropDuplicates(["grp", "blo", "bhi", "id"])
    )

    def _block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        lo, hi = int(pdf["blo"].iloc[0]), int(pdf["bhi"].iloc[0])
        left = pdf[pdf["blk"] == lo]
        right = pdf[pdf["blk"] == hi] if hi != lo else left
        if left.empty or right.empty:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cosine": "float64"}
            )
        la = np.stack(left["vec"].to_numpy()).astype(np.float64)
        ra = np.stack(right["vec"].to_numpy()).astype(np.float64)
        lid = left["id"].to_numpy()
        rid = right["id"].to_numpy()
        cos = (la @ ra.T) / np.outer(
            np.sqrt((la * la).sum(1)), np.sqrt((ra * ra).sum(1))
        )
        cos = np.round(cos, 6)
        mask = cos >= threshold
        if hi == lo:  # self-block: upper triangle only
            mask &= lid[:, None] < rid[None, :]
        ia, ib = np.nonzero(mask)
        return pd.DataFrame(
            {
                "doc_a": np.minimum(lid[ia], rid[ib]),
                "doc_b": np.maximum(lid[ia], rid[ib]),
                "cosine": cos[ia, ib],
            }
        )

    # per-partition pandas boundary (kernels.py): a grouped corpus-scale
    # run has thousands of (group, block-pair) cells, and the ~ms-per-group
    # Arrow overhead of applyInPandas dominates the matmuls it wraps
    from flume_spark.operators.kernels import grouped_arrow_apply

    return grouped_arrow_apply(
        tagged,
        ["grp", "blo", "bhi"],
        _block_cosine,
        schema="doc_a long, doc_b long, cosine double",
    )


def contamination_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= min_shared distinct
    n-gram shingles with any probe (benchmark/eval) document.

    The scale shape is an inverted-index semi-structure: the probe side is
    a benchmark — thousands of docs, not billions — so its shingle index
    broadcasts, and the corpus-side scan stays a map-stage join.  Probe
    first: the corpus shingles are NOT made distinct before the join (that
    would shuffle every corpus shingle); the join keeps only shingles some
    probe holds, and the distinct runs on that small result, so n_shared
    still counts distinct shared shingles.  No corpus self-join ever
    happens, so cost is linear in corpus shingles.

    Returns (doc_id, probe_id, n_shared), one row per contaminated pair.
    """
    cs = word_shingles(corpus, id_col, text_col, n, distinct=False)
    ps = word_shingles(probes, id_col, text_col, n).withColumnRenamed("id", "probe_id")
    return (
        cs.withColumnRenamed("id", "doc_id")
        .join(F.broadcast(ps), "shingle")
        .distinct()
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def canonical_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: Column,
    prefix_tokens: int = 16,
) -> DataFrame:
    """Quality-aware canonical selection: cluster documents by the hash of
    their first `prefix_tokens` tokens (cheap prefix-dup clustering — the
    common head-boilerplate / truncated-mirror case), then keep the highest
    `quality_col` member per cluster (ties -> lowest id).

    This is the "which copy survives" policy layer on top of dedup: exact /
    LSH dedup pick a canonical by id; curation pipelines usually want the
    LONGEST or highest-quality copy instead (e.g. keep the full article,
    drop the truncated syndication).

    Scale: one map stage to hash the prefix + one groupBy shuffle on the
    16-byte hash; min_by carries a single (neg-quality, id) struct per
    group through the partial aggregate, so memory per key is O(1).

    Returns (cluster_hash, keep_id, n_members, best_quality).
    """
    from flume_spark.operators.text import tokens_col

    prefix = F.array_join(F.slice(tokens_col(text_col), 1, prefix_tokens), " ")
    scored = df.select(
        F.md5(prefix).alias("cluster_hash"),
        F.col(id_col).alias("id"),
        quality_col.alias("q"),
    )
    # min_by over (-q, id): min of negated quality = max quality, ties fall
    # through to the id's OWN ordering — works for numeric AND string ids
    # (negating the id instead would implicit-cast strings to NULL and make
    # the pick nondeterministic).  NULL quality coalesces to -inf so a
    # NULL-quality member can never beat a scored one (struct comparison
    # would otherwise sort the NULL field FIRST and min_by would pick it).
    neg_q = -F.coalesce(F.col("q"), F.lit(float("-inf")))
    return (
        scored.groupBy("cluster_hash")
        .agg(
            F.min_by(
                F.col("id"), F.struct(neg_q.alias("nq"), F.col("id"))
            ).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.max("q"), 6).alias("best_quality"),
        )
    )


def passage_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 32,
) -> DataFrame:
    """Passage-level duplication: chunk each document into NON-overlapping
    `chunk_tokens` windows, hash each chunk, and report per document how
    many of its chunks also appear (byte-identical) in OTHER documents.

    This is the scalable stand-in for suffix-array substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"): exact
    substring matching is quadratic/suffix-automaton territory, but shared
    fixed-width passages catch the dominant case (boilerplate paragraphs,
    syndicated blocks) with one chunk-hash shuffle — cost linear in corpus
    tokens, partial-agg friendly, no UDF.

    Returns (id, n_chunks, n_shared_chunks, shared_ratio): shared_ratio is
    the fraction of the doc's chunks that some other document also
    contains (1.0 = fully reconstructable from elsewhere in the corpus).

    Plan shape: the chunk/md5 map stage feeds ONE explicit Exchange on h;
    both consumers (the per-hash distinct-doc count and the join probe)
    read that same exchange (ReusedExchange — tokenize/hash runs once),
    the h-join adds no exchange of its own, and the per-doc rollup is the
    second and final shuffle.  Gated in tests/test_round3_ops.py.
    """
    from flume_spark.operators.text import chunk_sliding

    chunks = (
        chunk_sliding(
            _spread(df), id_col, text_col, size=chunk_tokens, stride=chunk_tokens
        )
        .select(F.col(id_col).alias("id"), F.md5("chunk_text").alias("h"))
        .repartition("h")
    )
    # distinct docs per chunk-hash; a chunk is "shared" when >= 2 docs hold
    # it.  count_distinct AFTER the h-repartition aggregates locally (all
    # rows of an h share a partition) instead of re-shuffling a distinct.
    per_hash = chunks.groupBy("h").agg(
        F.count_distinct("id").alias("n_docs_with_chunk")
    )
    joined = chunks.join(per_hash, "h")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs_with_chunk") >= 2).cast("long")).alias(
                "n_shared_chunks"
            ),
        )
        .select(
            "id",
            "n_chunks",
            "n_shared_chunks",
            # ratio of small ints: one IEEE division, identical cross-engine
            (F.col("n_shared_chunks").cast("double") / F.col("n_chunks")).alias(
                "shared_ratio"
            ),
        )
    )


def with_band_key(banded: DataFrame) -> DataFrame:
    """Attach the single-column join key `band_key` = band_idx ':' band_hash.

    (band_idx, band_hash) equality ⇔ band_key equality: band_hash is a
    fixed-width md5 hex string, so the ':' separator makes the concat
    injective.  One key column is what lets the PERSISTED index be
    bucketed on it — Spark's planner only keeps a bucketed scan
    exchange-free when the join keys equal the bucket column (a two-key
    join over a one-column bucketing gets 'Bucketed: false (disabled by
    query planner)').  Frames that already carry band_key pass through.
    """
    if "band_key" in banded.columns:
        return banded
    return banded.withColumn(
        "band_key",
        F.concat(F.col("band_idx").cast("string"), F.lit(":"), F.col("band_hash")),
    )


def write_band_index(
    banded: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 64,
    ingest_batch: int = 0,
    mode: str = "overwrite",
) -> None:
    """Persist banded signatures in the production index layout: a table
    partitioned by `ingest_batch`, bucketed AND sorted by `band_key`.

    This is the layout BASELINE.md names for the 100 TB ingest story: the
    per-ingest probe join keys on band_key, so the index side of the join
    is read straight from its buckets — zero Exchange above the index
    scan, gated by test_round4_ops.py — while only the O(batch x bands)
    probe side shuffles (to the bucket count).  `ingest_batch`
    partitioning serves the replay-exclusion filter (partition-pruned)
    and lets compaction target old partitions.

    `mode="append"` adds a batch to an existing index (Spark verifies the
    bucket spec matches); "overwrite" (re)creates the table at `path`.
    At cluster scale the same layout is a Delta/Iceberg table with a
    band_key clustering; bucket count should scale with corpus size
    (64 here is test-scale).
    """
    rows = with_band_key(banded).select(
        "id", "band_key", F.lit(ingest_batch).alias("ingest_batch")
    )
    # pre-shuffle to the bucket hash so each task holds exactly one
    # bucket's rows: a bucketed write otherwise emits one file per
    # (task x bucket) — tasks x buckets small files PER APPEND, which is
    # what makes long-running ingest need compaction so much sooner.
    # repartition's hash is the same Murmur3 bucketBy uses, so the write
    # stays spec-correct and produces exactly `buckets` files.
    writer = (
        rows.repartition(buckets, F.col("band_key"))
        .write.partitionBy("ingest_batch")
        .bucketBy(buckets, "band_key")
        .sortBy("band_key")
        .mode(mode)
    )
    if mode == "overwrite":
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def compact_band_index(
    spark, table_name: str, path: str, buckets: int = 64
) -> int:
    """Collapse every ingest_batch partition of a band index into one —
    the maintenance pass that bounds the file growth of append-per-batch
    ingest (each append writes `buckets` files; a long-running LshIngestor
    accumulates buckets x batches of them, and the probe join's planning
    cost follows the file listing).

    Swap protocol (the parquet-table stand-in for Delta's OPTIMIZE):
    write the collapsed rows to a staging table at a fresh path, DROP the
    old table, RENAME staging into its name, then delete the old path's
    orphaned files.  A crash before the DROP leaves the original intact
    (staging is re-runnable); a crash between DROP and RENAME leaves the
    data safe in the staging table — recover by renaming it manually.
    Probe plans are unchanged: the staging write uses the same bucket
    spec, so the index side stays exchange-free.

    Returns the compacted table's file count.  New path:
    `<path>.compact-<seq>` (the table's location moves; resolution is by
    NAME, which is what every reader uses).
    """
    import time as _time

    staging = f"{table_name}__compacting"
    new_path = f"{path.rstrip('/')}.compact-{int(_time.time() * 1000)}"
    old_location = (
        spark.sql(f"DESCRIBE FORMATTED {table_name}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    # read the files PLAIN, not through the table: the table's bucket
    # metadata makes Spark eliminate the writer's repartition-to-buckets
    # (child "already" hash-partitioned), leaving one file per
    # (old file-split x bucket) — exactly the fragmentation this pass
    # exists to remove
    rows = spark.read.parquet(old_location).select("id", "band_key")
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    write_band_index(rows, staging, new_path, buckets=buckets, ingest_batch=0)
    spark.sql(f"DROP TABLE {table_name}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    # Delete the orphaned pre-compaction files through Hadoop's FileSystem,
    # which resolves EVERY location scheme (file:, hdfs:, s3a:, bare path) —
    # a scheme-gated local delete would silently leave the full old index
    # behind on object storage, and repeated compaction of a long-running
    # ingestor then accumulates unbounded dead data (round-4 ADVICE).
    # Failure to delete is non-fatal (the swap already completed); warn
    # with the orphaned path so an operator can reclaim it.
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(old_location)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        import warnings

        warnings.warn(
            f"compact_band_index: could not delete pre-compaction files at "
            f"{old_location} — reclaim manually",
            stacklevel=2,
        )
    return len(spark.table(table_name).inputFiles())


def read_band_index(
    spark, table_name: str, exclude_batch: int | None = None
) -> DataFrame:
    """The persisted band index as (id, band_key), optionally excluding one
    ingest batch (replay safety: a crashed batch's own signatures must not
    be seen as history — the exclusion is a partition filter, pruned at
    the scan)."""
    idx = spark.table(table_name)
    if exclude_batch is not None:
        idx = idx.filter(F.col("ingest_batch") != exclude_batch)
    return idx.select("id", "band_key")


def incremental_lsh_candidates(
    history: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    num_hashes: int = 8,
    bands: int = 4,
    history_banded: DataFrame | None = None,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest near-dup candidates: every pair linking a NEW
    document to the existing corpus or to another new document, via the
    banded LSH index — WITHOUT ever re-pairing history against itself.

    This is the production shape at 100 TB: the historical corpus is never
    rescanned per ingest.  Pass `history_banded` (the persisted
    banded_signatures frame — ideally the bucketed band-key table from
    `write_band_index`, appended to at every ingest) and per-batch cost is
    banding the new docs (O(new x bands) rows) plus one equi-join probe
    into the index; omitted, the history frame is banded in-plan (correct,
    but pays the full history scan this call).

    The probe is structured as TWO joins unioned — probe x history and
    probe x probe — rather than probe x (history ∪ probe): a union would
    discard the history side's bucketed output partitioning and force a
    full index-side shuffle per ingest.  Kept separate, a band-key-bucketed
    history table joins exchange-free on its side (only the small probe
    shuffles), and both joins key on the single `band_key` column
    (see with_band_key for why one column).

    Returns (doc_new, doc_match) distinct: doc_new from `new`, doc_match
    from history or new; new-new pairs emitted once (doc_new < doc_match).
    ids should be disjoint across the two frames; a re-ingested id is
    guarded against matching itself, but its history/new rows are
    otherwise treated as distinct documents.

    Caching contract: this function never caches — the returned plan owns
    no persisted blocks, so per-ingest callers can't accumulate dead
    cached frames (one leaked per call in the round-3 shape).  The new
    batch's banding feeds the history probe AND both sides of the new-new
    self-join, so the convenience path (new_banded omitted) recomputes
    that O(batch) subplan per use; repeated-ingest callers should band the
    batch themselves and pass `new_banded`, owning its cache/persistence
    (LshIngestor does exactly this: streaming/dedup.py).
    """
    hb = with_band_key(
        history_banded
        if history_banded is not None
        else banded_signatures(history, id_col, text_col, shingle_n, num_hashes, bands)
    ).select("id", "band_key")
    nb = with_band_key(
        new_banded
        if new_banded is not None
        else banded_signatures(new, id_col, text_col, shingle_n, num_hashes, bands)
    ).select("id", "band_key")
    # history matches always count (id-disjointness is documented, but a
    # re-ingested id must not match itself); new-new pairs once (a < b)
    hist_pairs = nb.alias("a").join(
        hb.alias("b"),
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.id") != F.col("b.id")),
    )
    new_pairs = nb.alias("a").join(
        nb.alias("b"),
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.id") < F.col("b.id")),
    )
    out_cols = [F.col("a.id").alias("doc_new"), F.col("b.id").alias("doc_match")]
    return (
        hist_pairs.select(*out_cols)
        .unionByName(new_pairs.select(*out_cols))
        .distinct()
    )


def ranked_shingles(sh: DataFrame) -> DataFrame:
    """(id, shingle, rk, n_sh): every doc's shingles ranked by the global
    rarity-first ordering (ascending corpus df, shingle tie-break).  One
    exchange on shingle (df agg; Catalyst broadcasts it back when it fits)
    + one on id (the two windows share it); per-doc window input is
    bounded by doc length.
    The frame is hashpartitioned on id on exit, so a groupBy(id) consumer
    (e.g. the verify stage's shingle-set build) adds NO exchange — build
    it once and pass it to both prefix_candidates and the verify."""
    from pyspark.sql import Window

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id")
    return (
        sh.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w.orderBy("df", "shingle")))
        .withColumn("n_sh", F.count(F.lit(1)).over(w))
    )


def prefix_index(
    sh: DataFrame, t_num: int, t_den: int, ranked: DataFrame | None = None
) -> DataFrame:
    """The per-doc PREFIX of the inverted index: (id, shingle, n_sh, rk)
    rows for each doc's first |d| - ceil(t*|d|) + 1 shingles under the
    rarity-first ordering (see ranked_shingles)."""
    if ranked is None:
        ranked = ranked_shingles(sh)
    return ranked.filter(
        F.col("rk")
        <= F.expr(f"n_sh - (({t_num} * n_sh + {t_den - 1}) div {t_den}) + 1")
    ).select("id", "shingle", "n_sh", "rk")


def prefix_candidates(
    sh: DataFrame, t_num: int, t_den: int, ranked: DataFrame | None = None
) -> DataFrame:
    """Candidate stage of the prefix-filter join: (doc_a, doc_b, na, nb)
    pairs sharing at least one PREFIX shingle and passing the length
    filter.  `sh` is a word_shingles frame (id, shingle).  Exposed
    separately so the scale probe can measure candidate counts against
    the unfiltered inverted-index join; prefix_filter_pairs verifies
    these candidates exactly.

    Rides the join with the PPJoin POSITIONAL filter (Xiao et al.
    WWW'08), per joined row: sharing shingle s at ranks (i in a, j in b)
    bounds overlap by 1 + min(na - i, nb - j) ONLY when s is the pair's
    order-minimal common shingle — and for a qualifying pair that minimal
    shingle always produces a surviving row (it must sit in BOTH prefixes:
    were it outside a's prefix, every common shingle would be in a's
    suffix, which holds fewer than the required overlap — pigeonhole).
    Rows for non-minimal shared shingles may be pruned freely; the
    distinct() only needs one survivor per pair.  Required overlap in
    integers: J >= t ⇔ (t_num+t_den)·inter >= t_num·(na+nb).

    The prefix self-join is EXPLOSIVE (output >> input: Σ df_prefix² rows
    from a doc-count-sized index), the one shape AQE mis-sizes — it
    coalesces by shuffle INPUT bytes, so a few-MB prefix frame collapses
    to 1-2 post-shuffle partitions and the multi-million-row join output
    is produced nearly serially.  The explicit repartition pins the join
    width to spark.sql.shuffle.partitions (user repartitions are exempt
    from AQE coalescing): measured 2 -> 32 tasks on the sf0.1 documents
    join (BASELINE.md round-6; the positional filter + pinned width +
    array verify together took prefix_filter_pairs 16.7s -> 2.7s warm).
    The pair dedup below is a dropDuplicates over an explicit
    repartition on (doc_a, doc_b) — hashpartitioning on a subset of the
    grouping keys satisfies the agg's distribution, so the dedup adds no
    exchange of its own AND its output keeps the pinned (non-coalescible)
    width for the CPU-bound verify stage that follows."""
    n_part = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    prefix = prefix_index(sh, t_num, t_den, ranked=ranked).repartition(
        n_part, F.col("shingle")
    )
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: t*max <= min, in integers
            & (
                t_num * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
                <= t_den * F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            )
            # positional filter: possible overlap from this row's
            # positions must still reach the required threshold
            & (
                (t_num + t_den)
                * (
                    1
                    + F.least(
                        F.col("a.n_sh") - F.col("a.rk"),
                        F.col("b.n_sh") - F.col("b.rk"),
                    )
                )
                >= t_num * (F.col("a.n_sh") + F.col("b.n_sh"))
            ),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .repartition(n_part, F.col("doc_a"), F.col("doc_b"))
        .dropDuplicates()
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08): all pairs with
    shingle-Jaccard >= t_num/t_den, with NO false negatives — the lossless
    alternative to MinHash-LSH when the threshold is high and recall must
    be exactly 1.

    Returns (doc_a, doc_b, inter, union_sz, jaccard) with doc_a < doc_b.

    Why it is lossless: J(a,b) >= t implies |a∩b| >= t*(|a|+|b|-|a∩b|)
    >= t*max(|a|,|b|), so under ANY global token ordering a qualifying
    pair must share a token within each doc's first
    p = |d| - ceil(t*|d|) + 1 tokens (pigeonhole: the suffix holds only
    ceil(t*|d|) - 1 tokens, fewer than the required overlap).  Joining
    prefixes therefore finds every qualifying pair; exact verification
    on the candidates removes false positives.

    Scale shape (the reason this beats the plain inverted-index join of
    ngram_jaccard_pairs): the candidate join shuffles
    sum-over-PREFIX-tokens(df^2) instead of sum-over-ALL-tokens(df^2),
    and the global ordering is ascending document frequency, so prefixes
    hold each doc's RAREST tokens — exactly the ones with small df.  A
    stop-shingle in every document never enters a prefix at high
    thresholds.  Two further exact prunes ride the same join: the length
    filter (J >= t forces t*max(|a|,|b|) <= min(|a|,|b|)) and doc_a <
    doc_b.  All predicates are integer arithmetic (ceil(t*n) =
    (t_num*n + t_den - 1) div t_den), so results hash-check cross-engine.

    The per-doc ranking window partitions by doc id — its input is one
    document's shingle set, bounded by doc length, never corpus-sized.

    Reference parity: flume has no similarity surface; declared per
    SURVEY.md §2 (LLM-pipeline dedup family).  Complements
    lsh_verified_pairs: LSH trades recall for a df-independent shuffle;
    prefix filtering keeps recall 1 and pays df_prefix^2.
    """
    if not (0 < t_num < t_den):
        raise ValueError("threshold t_num/t_den must satisfy 0 < t < 1")
    sh = word_shingles(df, id_col, text_col, n)
    # ranked frame built ONCE, cached, and shared: prefix_candidates
    # filters it to prefixes; the verify's shingle-set build groups it by
    # id.  Without the cache the two branches' differing projections
    # defeat subtree reuse and the df-join + per-doc windows execute
    # TWICE (column pruning rewrites each copy, so canonical plans —
    # and AQE exchange reuse — no longer match).
    ranked = ranked_shingles(sh).cache()
    cand = prefix_candidates(sh, t_num, t_den, ranked=ranked)
    # verify at CANDIDATE grain, not candidate x shingle grain: each side's
    # full shingle set rides the join as one array column (doc-count-sized
    # frame, two key-grain joins), and the intersection is a per-row
    # array_intersect — so shuffle volume is O(candidates + docs), where
    # the exploded join-then-count form shuffled sum-over-candidates(|a|)
    # rows (~50x more on the documents corpus at sf0.1; numbers in
    # BASELINE.md round-6).  cand exits prefix_candidates at the pinned
    # width, so the CPU-bound intersect below keeps full parallelism.
    sets = ranked.groupBy("id").agg(F.collect_set("shingle").alias("shset"))
    inter = (
        cand.join(
            sets.select(F.col("id").alias("doc_a"), F.col("shset").alias("sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("id").alias("doc_b"), F.col("shset").alias("sb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .drop("sa", "sb")
    )
    return inter.filter(
        (t_num + t_den) * F.col("inter") >= t_num * (F.col("na") + F.col("nb"))
    ).select(
        "doc_a",
        "doc_b",
        "inter",
        (F.col("na") + F.col("nb") - F.col("inter")).alias("union_sz"),
        # ratio of exact integers: both engines produce the identical
        # IEEE double, so no rounding is needed (or wanted — round() on a
        # half-boundary like 1/128 diverges between engines)
        (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
            "jaccard"
        ),
    )


def hash_ordered_prefix(
    sh: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Per-doc prefix under a STATIC global ordering — md5(shingle) with
    shingle tie-break — instead of prefix_index's rarity-first df order.

    The prefix-filter pigeonhole is lossless under ANY fixed global
    ordering; df-ordering is purely the best-pruning choice.  Trading it
    for a content hash buys the property that matters for incremental
    ingest: a document's prefix rows — INCLUDING n_sh and the rank rk
    the positional filter dereferences, all pure functions of the
    document alone (no corpus-wide df aggregation) — make a persisted
    prefix index APPEND-ONLY: new batches append their rows and nothing
    ever goes stale, where a df-ordered index would need re-ranking as
    frequencies drift (the analog of write_edge_index's stale-degree
    problem, designed away instead of compacted away).  The build is also
    one shuffle cheaper (no df join).  The cost: prefixes hold random
    rather than rarest shingles, so candidate volume rises toward the
    mean df — acceptable at high thresholds where prefixes are short,
    and partially clawed back by the positional filter riding the probe
    join (rank positions are doc-pure too, so they persist append-only
    alongside the rest of the row).

    Returns (id, shingle, n_sh, rk).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("id")
    ranked = sh.withColumn(
        "rk", F.row_number().over(w.orderBy(F.md5("shingle"), F.col("shingle")))
    ).withColumn("n_sh", F.count(F.lit(1)).over(w))
    return ranked.filter(
        F.col("rk")
        <= F.expr(f"n_sh - (({t_num} * n_sh + {t_den - 1}) div {t_den}) + 1")
    ).select("id", "shingle", "n_sh", "rk")


def incremental_prefix_candidates(
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    t_num: int = 4,
    t_den: int = 5,
    history_prefix: DataFrame | None = None,
    history: DataFrame | None = None,
) -> DataFrame:
    """Incremental EXACT-recall near-dup candidates: every (doc_new,
    doc_match) pair whose Jaccard CAN reach t_num/t_den, linking a new
    document to history or to another new document — without re-pairing
    history against itself.  The lossless counterpart of
    incremental_lsh_candidates: LSH ingest can silently miss true pairs;
    this cannot (superset by the prefix pigeonhole; run a pair verifier
    such as ngram_jaccard on the candidates for the exact final set).

    Pass `history_prefix` — the persisted hash-ordered prefix frame
    (schema: id, shingle, n_sh, rk — rk feeds the positional filter, so
    an index persisted before rk existed needs a one-time rebuild),
    appended per batch (see hash_ordered_prefix: the static ordering is
    what makes that append correct forever) — and per-batch cost is
    prefixing the new docs plus one equi-join probe into the index.  At
    cluster scale persist it in write_band_index's layout with `shingle`
    as the bucket/sort key (plus the n_sh and rk columns): the index side of the
    probe join then reads exchange-free from its buckets exactly like
    the LSH band index.  Omitted, `history` is prefixed in-plan
    (correct, but pays the full history scan this call).

    Structured as TWO joins unioned (probe x history, probe x probe),
    not probe x (history ∪ probe), for the same reason as
    incremental_lsh_candidates: a union would discard the index side's
    bucketed partitioning and force a full history shuffle per ingest.
    """
    if (history_prefix is None) == (history is None):
        raise ValueError("pass exactly one of history_prefix / history")
    new_sh = word_shingles(new, id_col, text_col, n)
    # Stage the new side's prefix ONCE (round-14): it feeds THREE plan
    # legs (the history probe's a-side and both sides of the new-new
    # self-join), and without staging each leg re-executes the whole
    # explode + agg + double-window subtree — the executed plan ran it
    # 3x (plus hp's once: 4 identical subtrees, 12 exchanges).  The
    # batch side is the small side by construction (one ingest batch),
    # so the materialization is batch-sized, never corpus-sized.
    np_ = hash_ordered_prefix(new_sh, t_num, t_den).localCheckpoint(eager=True)
    hp = (
        history_prefix
        if history_prefix is not None
        else hash_ordered_prefix(word_shingles(history, id_col, text_col, n), t_num, t_den)
    )
    length_ok = (
        t_num * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
        <= t_den * F.least(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    # PPJoin positional filter, same lossless argument as
    # prefix_candidates (orientation-symmetric: the pair's order-minimal
    # common shingle sits in BOTH prefixes and its row passes the bound)
    positional_ok = (t_num + t_den) * (
        1
        + F.least(
            F.col("a.n_sh") - F.col("a.rk"), F.col("b.n_sh") - F.col("b.rk")
        )
    ) >= t_num * (F.col("a.n_sh") + F.col("b.n_sh"))
    hist_pairs = np_.alias("a").join(
        hp.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.id") != F.col("b.id"))
        & positional_ok
        & length_ok,
    )
    new_pairs = np_.alias("a").join(
        np_.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.id") < F.col("b.id"))
        & length_ok
        & positional_ok,
    )
    out = [F.col("a.id").alias("doc_new"), F.col("b.id").alias("doc_match")]
    return (
        hist_pairs.select(*out).unionByName(new_pairs.select(*out)).distinct()
    )


# ---------------------------------------------------------------------------
# Exact substring (span) dedup — the windowed-hash analog of the
# suffix-array dedup in Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" (arXiv:2107.06499).
# ---------------------------------------------------------------------------



def norm_words_expr(text_col: str) -> Column:
    """The substring family's ONE normalization canon: lowercase,
    non-alphanumeric runs collapsed to single spaces, split on space
    ('' -> ['']).  Stats, clean, ingest and their DuckDB oracles all
    derive word positions from this expression — one definition so span
    identity can never drift between the profile and the action."""
    return F.expr(
        f"split(trim(regexp_replace(lower({text_col}), '[^a-z0-9]+', ' ')), ' ')"
    )


def substring_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    with_text: bool = False,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Every k-WORD window of the normalized text as (id, h[, span]).

    Normalization: lowercase, non-alphanumerics collapsed to single spaces —
    the same canon the fingerprint/shingle family uses, so "foo, Bar" and
    "foo bar" share windows.  h = md5 of the space-joined window, making
    results engine-independent (the DuckDB oracle computes the identical
    hash).  Docs shorter than k words emit no windows.

    Scale: output is O(total words) rows — LINEAR in corpus size (the
    footprint a suffix array would need), never pairwise; window hashing is
    whole-stage-codegen (md5 over array_join of array slices), no Python
    boundary.  `with_text` widens each row by the span text; keep it False
    on the aggregate path so the shuffle carries only 32-byte hashes.

    Rows carry `pos` (0-based window start) so an OCCURRENCE has identity —
    the incremental path dedups per-occurrence match evidence on (id, pos).

    `tokens` (an (id, w) frame holding this corpus's norm_words_expr
    arrays) lets a caller that needs BOTH the word positions and the
    windows tokenize once — the substring family's windows=/shingles=
    staging convention, one seam lower.  On that path df/id_col/text_col
    are UNUSED (callers may pass df=None); the shape is asserted.
    """
    if tokens is not None:
        # the tokens frame REPLACES df/id_col/text_col on this path (they
        # are unused) — reject a frame with the wrong shape rather than
        # silently windowing something else (round-15 ADVICE)
        assert set(tokens.columns) == {"id", "w"}, (
            f"tokens= must be exactly (id, w), got {tokens.columns}"
        )
        base = tokens.filter(F.size("w") >= k)
    else:
        words = norm_words_expr(text_col)
        base = (
            df.select(F.col(id_col).alias("id"), words.alias("w"))
            .filter(F.size("w") >= k)
        )
    if not with_text:
        wins = F.expr(
            f"transform(sequence(1, size(w) - {k} + 1),"
            f" i -> md5(array_join(slice(w, i, {k}), ' ')))"
        )
        return base.select("id", F.posexplode(wins).alias("pos", "h"))
    wins = F.expr(
        f"transform(sequence(1, size(w) - {k} + 1),"
        f" i -> struct(md5(array_join(slice(w, i, {k}), ' ')) AS h,"
        f"             array_join(slice(w, i, {k}), ' ') AS span))"
    )
    return base.select("id", F.posexplode(wins).alias("pos", "ws")).select(
        "id", "pos", F.col("ws.h").alias("h"), F.col("ws.span").alias("span")
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span profile: what fraction of the doc's
    k-word windows also appears VERBATIM in another document.

    Returns (id_col, n_windows, n_dup_windows, dup_frac) for every doc with
    at least one window.  "Duplicated" means the window hash occurs in > 1
    DISTINCT document — within-doc repetition does not count (that is
    text_repetition's signal); this is the cross-document leakage the
    Lee et al. suffix-array pass removes before training.

    Scale: one exchange keyed on the window hash builds the duplicated-hash
    set (count-distinct-docs per hash, map-side partial agg first); the
    per-doc counts are exchanges on the doc id.  Nothing is pairwise: a
    span shared by d documents costs d rows, not d^2 — the property that
    makes this the 100 TB-safe exact-substring pass while pairwise
    similarity joins stay candidate-bounded.

    `windows` (an (id, pos, h) frame from substring_windows over the same
    corpus/k) lets a caller that needs the window index for other legs
    build it once — the verify_candidate_pairs `shingles=` convention.
    """
    wins = (
        windows
        if windows is not None
        else substring_windows(_spread(df), id_col, text_col, k=k)
    )
    cross_dup = (
        wins.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h", F.lit(1).alias("is_dup"))
    )
    # ONE per-doc aggregate over the flagged windows (left join keeps every
    # occurrence, so totals and dup counts ride the same exchange) instead
    # of two groupBy(id) legs + an outer re-join
    flagged = wins.join(cross_dup, "h", "left")
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).alias("n_dup_windows"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_frac"
            ),
        )
    )


def substring_hot_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, top: int = 20
) -> DataFrame:
    """The corpus's most-duplicated verbatim k-word spans — the boilerplate
    report (license headers, nav bars, disclaimer blocks) a curation run
    reads before deciding removal rules.

    Returns (h, n_docs, n_occurrences, example_span), top-N by
    (n_docs, n_occurrences) desc with the hash as the deterministic
    tiebreak.  Two-phase so span TEXT never rides the wide shuffle: the
    aggregate runs over 32-byte hashes only, the top-N winners (a k-row
    frame) are broadcast back over a second window pass to recover one
    example rendering per hash.
    """
    wins = substring_windows(_spread(df), id_col, text_col, k=k)
    hot = (
        wins.groupBy("h")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "h")
        .limit(top)
    )
    spans = substring_windows(_spread(df), id_col, text_col, k=k, with_text=True)
    example = (
        spans.join(F.broadcast(hot.select("h")), "h")
        .groupBy("h")
        .agg(F.min("span").alias("example_span"))
    )
    return hot.join(F.broadcast(example), "h").select(
        "h", "n_docs", "n_occurrences", "example_span"
    )


# ---------------------------------------------------------------------------
# Semantic dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
# cluster embeddings, prune within-cluster cosine near-duplicates.
# ---------------------------------------------------------------------------


def _semantic_cluster_dups(pts: DataFrame, threshold: float) -> DataFrame:
    """semantic_dedup's within-cluster pairwise leg, shared by both
    assignment routes: per cluster, one numpy float64 matmul marks each
    vector's smallest lower-id neighbor with cosine >= threshold
    (6dp-rounded).  Per-PARTITION pandas boundary: under k ∝ n the
    clusters are deliberately SMALL and numerous, and
    groupBy().applyInPandas pays ~ms of Arrow overhead per group —
    grouped_arrow_apply keeps the one cluster-key exchange but walks many
    clusters per Arrow batch (kernels.py; probe-measured 4:1 at k=2420 in
    --semingest)."""
    import pandas as pd

    def _cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if pdf.empty:
            return pd.DataFrame(
                {"id": pd.array([], dtype="int64"),
                 "dup_of": pd.array([], dtype="Int64")}
            )
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        mat = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        norms = np.sqrt((mat * mat).sum(1))
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        # ids are sorted ascending, so the first qualifying row above the
        # diagonal IS the smallest lower id — the deterministic keep rule
        tri = np.triu(cos >= threshold, 1)
        has = tri.any(axis=0)
        first = tri.argmax(axis=0)
        dup_of = pd.array(
            [int(ids[f]) if h else None for f, h in zip(first, has)],
            dtype="Int64",
        )
        return pd.DataFrame({"id": ids, "dup_of": dup_of})

    from flume_spark.operators.kernels import grouped_arrow_apply

    return grouped_arrow_apply(
        pts, ["cluster"], _cluster_dups, schema="id long, dup_of long"
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    threshold: float = 0.4,
    assign: str = "exact",
    n_probe: int = 3,
    pairwise: str = "whole",
    blocks: int = 8,
) -> DataFrame:
    """Mark within-cluster embedding near-duplicates, keeping one
    representative per neighborhood.

    Keep rule (deterministic, SQL-expressible): a vector is a duplicate iff
    some LOWER-id vector in its k-means cluster has cosine >= threshold
    (both engines round the cosine to 6dp before comparing); dup_of is the
    smallest such id, so the lowest id of every near-dup neighborhood
    always survives.  Cluster assignment is the deterministic Lloyd step
    against the md5-seeded init centroids (`kmeans_assign_step`), so the
    whole operator is hash-checkable end to end.

    Returns (id_col, cluster, dup_of, is_dup).

    Scale: this is SemDeDup's exact shape — the pairwise leg is restricted
    to same-cluster pairs, cost sum(c_i^2) instead of n^2, with k grown
    with the corpus (the paper uses ~n/1e4 clusters) to bound cluster
    populations.  One exchange on the cluster key; the centroid frame is a
    broadcast of k rows; each cluster's cosine sub-matrix is ONE numpy
    float64 matmul inside the grouped Arrow kernel (Arrow-batched, BLAS,
    per-partition pandas boundary via kernels.grouped_arrow_apply — the same
    vectorized kernel `cosine_pairs` uses; the expression-fold equivalent
    is ~100x slower row-at-a-time).  Per-group memory is pop x dim + pop^2
    doubles, bounded by the k scaling.  On a real corpus the iterative
    `kmeans` trainer (or the memoized IVF index) supplies the centroids;
    the assignment and pruning legs are unchanged.
    """
    import pandas as pd

    from flume_spark.operators.similarity import (
        kmeans_assign_hierarchical,
        kmeans_assign_vectorized,
    )

    # materialize the (id, cluster) assignment once: it feeds the final
    # select AND the pairwise leg, and unpersisted it would re-run the
    # assignment scan once per consumer — same session-memoization
    # precedent as the trained PQ index.  The vectorized kernel (map-only,
    # no n x k crossJoin) is what keeps assignment linear when k grows
    # with the corpus; equality with the oracled expression path is pinned
    # in tests.  assign="hierarchical" swaps in the two-level IVF-style
    # router (n x ~2*sqrt(k) instead of n x k distance evaluations) — the
    # at-scale path past ~1M vectors where the n x k sweep turns quadratic
    # under the k-grows-with-n discipline (BASELINE.md --semantic x100);
    # routing is approximate, the keep rule within each cluster unchanged.
    if assign == "exact":
        from flume_spark.operators.similarity import (
            ASSIGN_EXPR_MAX_K,
            _to_double,
            assign_expr_ok,
            kmeans_assign_expr,
        )

        if k <= ASSIGN_EXPR_MAX_K:
            # Bounded-k fast path (round-14): when the unrolled term
            # count k x dim fits the codegen budget (assign_expr_ok),
            # the assignment is ONE whole-stage-codegen Column
            # (kmeans_assign_expr, pinned bit-equal to the Arrow kernel)
            # fused into the point projection — no Python boundary, no
            # re-attach join, and no checkpoint (recomputing the codegen
            # projection per consumer is cheaper than materializing it).
            # The init draw is the same md5-seeded collect the kernel
            # performs internally — collected once here and handed to
            # whichever route wins (wide vectors, e.g. dim-64 embeddings,
            # blew the budget and went INTERPRETED 25x slower — the
            # round-14 A/B behind ASSIGN_EXPR_MAX_TERMS).
            ptsd = emb.select(
                F.col(id_col).alias("id"), _to_double(vec_col).alias("vec")
            )
            init = (
                ptsd.orderBy(F.md5(F.col("id").cast("string")), "id")
                .limit(k)
                .select("vec")
                .collect()
            )
            cents = [list(r["vec"]) for r in init]
            if assign_expr_ok(cents):
                pts = ptsd.withColumn(
                    "cluster", kmeans_assign_expr("vec", cents)
                )
                assign = pts.select("id", "cluster")
                if pairwise == "blocked":
                    pairs = cosine_pairs(
                        pts, "id", "vec", threshold=threshold,
                        blocks=blocks, group_col="cluster",
                    )
                    dups = (
                        pairs.groupBy(F.col("doc_b").alias("id"))
                        .agg(F.min("doc_a").alias("dup_of"))
                    )
                else:
                    if pairwise != "whole":
                        raise ValueError(
                            f"unknown pairwise mode: {pairwise!r}"
                        )
                    dups = _semantic_cluster_dups(pts, threshold)
                return assign.join(dups, "id", "left").select(
                    F.col("id").alias(id_col),
                    "cluster",
                    "dup_of",
                    F.col("dup_of").isNotNull().alias("is_dup"),
                )
            assigned = kmeans_assign_vectorized(
                emb, id_col, vec_col, k=k, centroids=cents
            )
        else:
            assigned = kmeans_assign_vectorized(emb, id_col, vec_col, k=k)
    elif assign == "hierarchical":
        assigned = kmeans_assign_hierarchical(
            emb, id_col, vec_col, k=k, n_probe=n_probe
        )
    elif assign == "table":
        # table-resident router (the SemanticIngestor assign="table" arm's
        # batch twin): the k fine centroids never ride the driver — the
        # 100 TB form once k ∝ n pushes the list past the --ctable wall;
        # bit-equal to the hierarchical router (pinned at k=4/64/1024)
        from flume_spark.operators.similarity import (
            kmeans_assign_table,
            md5_init_centroids_df,
        )

        cdf = md5_init_centroids_df(emb, id_col, vec_col, k=k)
        assigned = kmeans_assign_table(
            emb, id_col, vec_col, centroids_df=cdf, n_probe=n_probe
        )
    else:
        raise ValueError(f"unknown assign mode: {assign!r}")
    assign = assigned.select("id", "cluster").localCheckpoint(eager=True)
    pts = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .join(assign, "id")
    )

    if pairwise == "blocked":
        # skew-safe pairwise leg: a mega-cluster's pop² matmul is block-
        # decomposed across `blocks²/2` tasks by the SAME grouped
        # cosine_pairs kernel the multimodal pass uses (group_col =
        # cluster), instead of landing on one task as a single pandas
        # group.  dup_of = min same-cluster lower-id neighbor over the
        # pair set — identical verdicts to the whole-cluster kernel
        # (equality test-pinned); choose this form when cluster
        # populations are skewed (length-valued or Zipfian features),
        # keep "whole" when k ∝ n holds populations small and balanced.
        pairs = cosine_pairs(
            pts, "id", "vec", threshold=threshold,
            blocks=blocks, group_col="cluster",
        )
        dups = (
            pairs.groupBy(F.col("doc_b").alias("id"))
            .agg(F.min("doc_a").alias("dup_of"))
        )
        return assign.join(dups, "id", "left").select(
            F.col("id").alias(id_col),
            "cluster",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    if pairwise != "whole":
        raise ValueError(f"unknown pairwise mode: {pairwise!r}")

    dups = _semantic_cluster_dups(pts, threshold)
    return assign.join(dups, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster",
        "dup_of",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


def incremental_substring_stats(
    new: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 8,
    history_windows: DataFrame | None = None,
    history: DataFrame | None = None,
    new_windows: DataFrame | None = None,
) -> DataFrame:
    """`substring_dup_stats` for an ingest BATCH against an existing corpus
    — without rescanning history documents.

    A new doc's window occurrence is duplicated iff its hash is held by any
    OTHER document: in history (probe the window index) or in the batch
    itself (self-join).  Occurrence identity is (id, pos), so an occurrence
    matched by BOTH legs counts once; per-doc counts then match the
    whole-corpus `substring_dup_stats` restricted to the batch exactly —
    the merge-equals-rebuild theorem the `dedup_substring_incremental`
    oracle pins by hash-equality.

    `history_windows`: a persisted (id, h) frame — in production the
    bucketed band-key table (`write_band_index` with band_key = h, the
    SAME index machinery the LSH family uses): the index side of the probe
    join reads exchange-free from its buckets, only the O(batch x words)
    probe side shuffles, so per-ingest cost is independent of corpus size.
    Window hashing is a pure per-doc function, so the index is append-only
    by construction (nothing ever goes stale — no compact-for-correctness,
    only compact-for-file-count).  Passing raw `history` docs instead
    windows them in-plan (correct, but pays the history scan this call).

    Returns (id_col, n_windows, n_dup_windows, dup_frac) for batch docs
    with >= 1 window.  ids must be disjoint across batch and history; a
    re-ingested id is guarded from matching itself.
    """
    if (history_windows is None) == (history is None):
        raise ValueError("pass exactly one of history_windows / history")
    if new is None and new_windows is None:
        raise ValueError("pass the batch as new or new_windows")
    # repeated-ingest callers (SubstrIngestor) window the batch themselves,
    # cache it, and pass new_windows — the batch's windows feed the history
    # probe, the self-join AND the totals, so the convenience path
    # recomputes that O(batch) subplan per use
    nw = (
        new_windows
        if new_windows is not None
        else substring_windows(_spread(new), id_col, text_col, k=k)
    )
    hw = (
        history_windows.select("id", "h")
        if history_windows is not None
        else substring_windows(_spread(history), id_col, text_col, k=k).select(
            "id", "h"
        )
    )
    hist_hits = nw.alias("a").join(
        hw.alias("b"),
        (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
        "left_semi",
    )
    self_hits = nw.alias("a").join(
        nw.select("id", "h").alias("b"),
        (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
        "left_semi",
    )
    dup_occ = (
        hist_hits.select("id", "pos")
        .unionByName(self_hits.select("id", "pos"))
        .distinct()
    )
    totals = nw.groupBy("id").agg(F.count(F.lit(1)).alias("n_windows"))
    dup_counts = dup_occ.groupBy("id").agg(F.count(F.lit(1)).alias("dup_w"))
    return (
        totals.join(dup_counts, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            F.coalesce("dup_w", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("dup_w", F.lit(0)) / F.col("n_windows"), 6
            ).alias("dup_frac"),
        )
    )


def dup_canonical_covered(wins: DataFrame, k: int) -> DataFrame:
    """Covered word positions of every NON-canonical occurrence of a
    globally duplicated window: the removal set of the Lee-et-al clean
    pass, shared by the full action (`substring_dedup_clean`) and the
    count-only curation report.  Canonical selection is groupBy(h) with
    min(struct(id, pos)) + count — ONE map-side-combinable aggregate,
    never a per-hash sort.  Returns distinct (id, wpos)."""
    dup = (
        wins.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("id", "pos")).alias("canon"),
        )
        .filter(F.col("cnt") > 1)
        .select("h", "canon")
    )
    return (
        wins.join(dup, "h")
        .filter(
            (F.col("id") != F.col("canon.id")) | (F.col("pos") != F.col("canon.pos"))
        )
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("wpos"),
        )
        .distinct()
    )


def substring_dedup_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    stage_tokens: bool = True,
) -> DataFrame:
    """The curation ACTION for exact-substring dedup: remove every
    duplicated k-word span from the corpus, keeping exactly one canonical
    occurrence — the "drop repeated substrings, keep first" pass of
    Lee et al. 2022 (arXiv:2107.06499), in keep-one-globally form.

    Semantics (deterministic): a window hash with > 1 occurrence GLOBALLY
    (cross-doc or within-doc) is duplicated; its canonical occurrence is
    the globally smallest (id, pos); every NON-canonical occurrence's k
    covered word positions are removed from its document.  A canonical
    occurrence's words survive unless an OVERLAPPING non-canonical
    occurrence of some other hash covers them (accepted: removal is
    per-position, the union of covered positions).

    Returns (id_col, n_words, n_kept, clean_text) for every document —
    clean_text is the kept words rejoined in order ('' if everything was
    covered).  Word positions use the same normalization as
    `substring_windows`, so stats and action agree on span identity.

    Scale: canonical selection is groupBy(h) with min(struct(id, pos)) +
    count — ONE map-side-combinable aggregate, never a per-hash sort (a
    boilerplate span occurring millions of times costs one combine tree,
    not a million-row window sort).  Coverage expansion is k rows per
    non-canonical occurrence (bounded by duplication mass); the anti-join
    and the per-doc reassembly key on (id, wpos) / id.  Everything is
    codegen; reassembly state is bounded by single-document size.
    """
    # Tokenize ONCE (round-14): the word-position explode feeds the kept
    # leg, the totals leg needs only size(w), and the window pass is a
    # third consumer — three scan+regex tokenizations of the corpus for
    # one logical canon, none sharing a terminal exchange for stage reuse.
    # `stage_tokens` materializes the (id, w) arrays once (the budget the
    # shingle/window index checkpoints already spend) so every leg reads
    # the tokenized blocks — it pays when df is a raw parquet scan
    # (A/B 3.01 -> 2.38 s maxspan-style single-scan law; clean standalone
    # 2.37 -> 2.24 s) and LOSES when df is already a checkpointed
    # survivor frame (corpus_funnel stage 5: the re-tokenize legs read
    # memory blocks, so the extra materialization is pure cost — the
    # entry-9 staging rule), so composed callers pass False.
    toks = df.select(
        F.col(id_col).alias("id"), norm_words_expr(text_col).alias("w")
    )
    if stage_tokens:
        toks = toks.localCheckpoint(eager=True)
    words = toks.select("id", F.posexplode("w").alias("wpos", "word"))
    wins = substring_windows(df, id_col, text_col, k=k, tokens=toks)
    covered = dup_canonical_covered(wins, k)
    kept = words.join(covered, ["id", "wpos"], "left_anti")
    # NULL text tokenizes to a NULL array: coalesce its size to 0 so the
    # doc still gets an (n_words=0, n_kept=0, clean_text='') row — the
    # docstring's "every document" contract (sum over a NULL size would
    # emit n_words=NULL instead; round-15 ADVICE, pinned by the NULL-text
    # row in _maxspan_docs)
    totals = toks.groupBy("id").agg(
        F.sum(F.coalesce(F.size("w"), F.lit(0))).alias("n_words")
    )
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return totals.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        "n_words",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def substring_max_dup_span(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ks: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Duplication SEVERITY profile: for each doc, the largest window width
    k (from `ks`, ascending) at which the doc still shares a verbatim
    k-word window with another document — a lower bound on its longest
    duplicated span, the number a curation run reads to split "common
    phrase" (short) from "mirrored article" (long).  0 = no cross-doc
    duplication at any probed width.

    Sound because duplication is monotone DOWN in k: a shared k-window
    contains shared k'-windows for every k' < k, so the per-k hit sets are
    nested and max(k) is well-defined severity.

    Scale: the probed widths ride ONE multi-width pass — the per-width
    window legs are map-only and union into a single frame carrying a
    width column, so every width shares one (k, h) aggregate + one
    semi-join + one per-doc max (never a shuffle chain per width, and
    never pairwise); doubling widths gives a log-granular severity ladder
    at constant shuffle count.
    """
    # ONE corpus scan + ONE tokenization for every probed width (round-14):
    # the per-width legs used to union three independent scan+regex+window
    # passes; the widths differ only in the transform bound, so they fuse
    # into a single projection (concat of per-width window-struct arrays,
    # one explode) — row-identical to the union, pinned by
    # test_maxspan_fused_pass_matches_union.  CASE guards the short docs:
    # sequence(1, size-k+1) at size < k would DESCEND, not empty.
    spread = _spread(df)
    arms = ",".join(
        f"CASE WHEN size(w) >= {kk} THEN"
        f" transform(sequence(1, size(w) - {kk} + 1),"
        f" i -> struct(md5(array_join(slice(w, i, {kk}), ' ')) AS h,"
        f" {kk} AS k)) ELSE array() END"
        for kk in ks
    )
    base = spread.select(
        F.col(id_col).alias("id"), norm_words_expr(text_col).alias("w")
    ).filter(F.size("w") >= min(ks))
    wins_all = base.select(
        "id", F.explode(F.expr(f"concat({arms})")).alias("wk")
    ).select("id", F.col("wk.h").alias("h"), F.col("wk.k").alias("k"))
    # materialize the window frame once: it is BOTH the semi-join probe and
    # the input of the duplicated-hash aggregate, and unpersisted the whole
    # multi-width subtree would re-plan per consumer (the same staged-
    # materialization convention semantic_dedup uses for its assignment)
    wins_all = wins_all.localCheckpoint(eager=True)
    hot = (
        wins_all.groupBy("k", "h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("k", "h")
    )
    hits = (
        wins_all.join(hot, ["k", "h"], "left_semi").select("id", "k").distinct()
    )
    agg = hits.groupBy("id").agg(F.max("k").alias("max_dup_span"))
    base = df.select(F.col(id_col).alias("id"))
    return base.join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("max_dup_span", F.lit(0)).cast("int").alias("max_dup_span"),
    )
