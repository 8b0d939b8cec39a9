"""End-to-end training-corpus curation — the operators composed as one job.

This is the flagship composition the LLM-ops surface exists for: take a raw
document table, keep what a pre-training run would keep, and land it in a
layout the next stage reads cheaply.  Stages (each individually oracled /
tested elsewhere):

1. quality gate         — codegen expression, fuses into the scan
2. exact dedup          — keep min-id doc per content hash (one shuffle)
3. near-dup drop        — candidate pairs -> connected components -> keep
                          canonical (min-id) member per cluster.  Default
                          candidate source is MinHash-LSH + exact-Jaccard
                          verification (`dedup.lsh_verified_pairs`) — the
                          100 TB path: banded candidate join, verification
                          linear in the candidate count, never an
                          inverted-index self-join.  Shingling splits
                          each doc once; components run at most
                          max_iter rounds, round 1 fused with the initial
                          labels
4. decontamination      — drop docs overlapping the probe/eval set:
                          corpus shingles probe the broadcast probe index
                          first, distinct only on the matches
5. tokenize + pack      — token counts, then greedy sequence packing
6. write                — parquet, optionally Z-ordered on (pack_id, n_tokens)

Everything before the write is ONE declarative plan per stage output —
no driver-side data movement; the driver sees only stage row counts
(df.count / bounded aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_spark.operators import dedup, text
from flume_spark.operators.text import quality_col


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    probes: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    out_dir: str | None = None,
    near_dup: str = "lsh_verified",
    substring_clean: bool = False,
    substring_k: int = 8,
    semantic: bool = False,
    semantic_threshold: float = 0.999,
    embeddings: DataFrame | None = None,
    classifier_weights: DataFrame | None = None,
    lm_max_ppl: float | None = None,
    lm_ref: DataFrame | None = None,
    lm_scorer: str = "bigram",
) -> tuple[DataFrame, dict]:
    """Run the full curation pipeline; returns (curated_df, stage_counts).

    `stage_counts` records survivors after each stage — the per-stage yield
    a corpus report needs.  Pass `out_dir` to also write the result.

    `near_dup` picks the candidate-pair source for stage 3:
    - "lsh_verified" (default): MinHash-LSH banding + exact-Jaccard
      verification of candidates only — the blessed 100 TB configuration.
    - "simhash": pigeonhole block join on SimHash fingerprints — exact
      within the hamming budget, cheaper on token-permuted near-dups.
    Both shuffle O(docs x bands/blocks); neither ever does a raw
    inverted-index self-join (`ngram_jaccard_pairs` is verifier-only).

    `substring_clean=True` adds the span-level removal stage (Lee et al.
    2022) between near-dup drop and decontamination: every duplicated
    `substring_k`-word span keeps one canonical occurrence, documents are
    rebuilt from the kept words, and downstream token counts / packing
    bill the CLEANED text.  `stage_counts["span_tokens_removed"]` records
    the words dropped (doc survivor counts are unchanged — this stage
    edits documents, it never drops them).

    `semantic=True` adds the SemDeDup stage (Abbas et al. 2023) after the
    span clean: documents are embedded — by `embeddings` (id_col +
    `embedding` array column, e.g. a model's vectors) when given, else by
    the deterministic media stub features — clustered (k grown n/125,
    the paper's discipline), and within-cluster cosine >=
    `semantic_threshold` juniors dropped (lowest-id keep rule).  With a
    caller-supplied `embeddings` table, documents it does not cover pass
    through as non-duplicates and `stage_counts["semantic_uncovered"]`
    records how many.  This is the composition the declared
    `corpus_funnel` report measures.

    `classifier_weights` (a (tok, w_int) table, e.g. classifier_train's
    output) adds MODEL-BASED filtering right after the heuristic quality
    gate — the CCNet/DCLM recipe: keep docs the linear model scores
    positive (z > 0, the classifier_score 'keep' label).  The weights
    broadcast; the stage is a map-side join + integer aggregate, and
    `stage_counts["model_filter"]` records survivors.

    `lm_max_ppl` adds the generative half of that recipe (CCNet's LM
    perplexity filter, `text.lm_perplexity`): train add-1-smoothed bigram
    counts on `lm_ref` (a reference slice; defaults to the surviving docs
    themselves), keep docs whose perplexity is <= the threshold.  The
    score accumulates as an exact scaled BIGINT, so the stage is
    deterministic under any shuffle order; `stage_counts["lm_filter"]`
    records survivors.  `lm_scorer` picks the model: "bigram" (add-1
    `lm_perplexity`) or "backoff" (trigram stupid-backoff
    `lm_backoff_score`).
    """
    counts: dict[str, int] = {"input": docs.count()}

    # each surviving stage is cached before its count, so the count and the
    # next stage both read the materialized result instead of re-running
    # every upstream join (at warehouse scale: checkpoints or df.observe)
    kept = docs.filter(quality_col(text_col) >= min_quality).cache()
    counts["quality_gate"] = kept.count()

    if classifier_weights is not None:
        scored = text.classifier_score(
            kept, id_col, text_col, weights=classifier_weights
        )
        kept = kept.join(
            scored.filter(F.col("label") == "keep").select(id_col), id_col
        ).cache()
        counts["model_filter"] = kept.count()

    if lm_max_ppl is not None:
        if lm_scorer == "bigram":
            ppl = text.lm_perplexity(kept, id_col, text_col, ref_df=lm_ref)
        elif lm_scorer == "backoff":
            ppl = text.lm_backoff_score(kept, id_col, text_col, ref_df=lm_ref)
        else:
            raise ValueError(f"unknown lm_scorer: {lm_scorer!r}")
        kept = kept.join(
            ppl.filter(F.col("ppl") <= lm_max_ppl).select(id_col), id_col
        ).cache()
        counts["lm_filter"] = kept.count()

    exact = dedup.exact_dedup(kept, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    kept = kept.join(exact, id_col).cache()
    counts["exact_dedup"] = kept.count()

    if near_dup == "lsh_verified":
        pairs = dedup.lsh_verified_pairs(
            kept, id_col, text_col, shingle_n=2, num_hashes=16, bands=4, threshold=0.3
        )
    elif near_dup == "simhash":
        pairs = dedup.simhash_pairs(
            kept, id_col, text_col, bits=32, max_hamming=3, blocks=4
        )
    else:
        raise ValueError(f"unknown near_dup strategy: {near_dup!r}")
    # connected_components / contamination_pairs emit fixed column names
    # (doc_id/component) — rename to the caller's id_col before composing
    comps = dedup.connected_components(pairs, "doc_a", "doc_b").withColumnRenamed(
        "doc_id", id_col
    )
    non_canonical = comps.filter(F.col(id_col) != F.col("component")).select(id_col)
    kept = kept.join(non_canonical, id_col, "left_anti").cache()
    counts["near_dup"] = kept.count()

    if substring_clean:
        # kept is a cached survivor frame: re-tokenizing it per leg reads
        # memory blocks, so the tokens checkpoint would be pure cost
        cleaned = dedup.substring_dedup_clean(
            kept, id_col, text_col, k=substring_k, stage_tokens=False
        )
        kept = (
            kept.drop(text_col)
            .join(
                cleaned.select(
                    id_col,
                    F.col("clean_text").alias(text_col),
                    (F.col("n_words") - F.col("n_kept")).alias("_removed"),
                ),
                id_col,
            )
            .cache()
        )
        counts["span_tokens_removed"] = (
            kept.agg(F.coalesce(F.sum("_removed"), F.lit(0))).first()[0]
        )
        kept = kept.drop("_removed")

    if semantic:
        if embeddings is not None:
            emb = kept.select(id_col).join(embeddings, id_col)
            vec_col = "embedding"
        else:
            from flume_spark.operators import multimodal

            emb = multimodal.feature_extract_stub(
                multimodal.to_binary_payload(kept, id_col, text_col)
            ).withColumnRenamed("id", id_col)
            vec_col = "features"
        emb = emb.localCheckpoint(eager=True)  # feeds count + assignment scan
        k = max(4, emb.count() // 125)
        marks = dedup.semantic_dedup(
            emb, id_col, vec_col, k=int(k), threshold=semantic_threshold
        )
        keep_ids = marks.filter(~F.col("is_dup")).select(id_col)
        if embeddings is not None:
            # docs with no embedding row were never dedup candidates: pass
            # them through as non-duplicates and RECORD the exclusion —
            # an inner join here used to drop them silently with no stage
            # count attributing the loss
            uncovered = kept.select(id_col).join(
                emb.select(id_col), id_col, "left_anti"
            )
            counts["semantic_uncovered"] = uncovered.count()
            keep_ids = keep_ids.unionByName(uncovered)
        kept = kept.join(keep_ids, id_col).cache()
        counts["semantic"] = kept.count()

    if probes is not None:
        contaminated = (
            dedup.contamination_pairs(kept, probes, id_col, text_col, n=3, min_shared=3)
            .select(F.col("doc_id").alias(id_col))
            .distinct()
        )
        kept = kept.join(contaminated, id_col, "left_anti").cache()
        counts["decontaminated"] = kept.count()

    packed = text.pack_sequences(kept, id_col, text_col, budget=512)
    curated = kept.join(packed.select(id_col, "shard", "n_tokens", "pack_id"), id_col)
    counts["packed"] = curated.count()

    if out_dir is not None:
        curated.write.mode("overwrite").parquet(out_dir)
    return curated, counts
