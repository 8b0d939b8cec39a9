"""Declared LLM-data-pipeline queries (dedup / similarity / text / multimodal)
over the driver's `documents` and `embeddings` tables, with DuckDB oracles.

Thresholds are tuned to the synthetic data (max pairwise cosine ~0.51, small
word vocabulary) so results are non-empty without being huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_spark.operators import dedup, multimodal, similarity, text
from flume_spark.queries._util import T

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)


def word_shingle_ctes(table: str, n: int) -> str:
    """THE word-shingle oracle fragment (`dedup.word_shingles`, distinct)
    over `table` (doc_id, text): `w` (doc_id, words) the lower-cased
    whitespace tokens, `sh` (doc_id, shingle) each doc's distinct n-word
    shingles."""
    joined = " || ' ' || ".join(["words[i]"] + [f"words[i+{j}]" for j in range(1, n)])
    return f"""w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
  FROM {table}
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words) - {n - 2}),
                  i -> {joined})) AS shingle
    FROM w
  )
)"""


DEDUP_NGRAM_SQL = f"""
WITH {word_shingle_ctes("documents", 3)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.1
"""


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale configuration of ngram-Jaccard: shingles with document
    frequency > max_df are dropped from the inverted index BEFORE the join,
    bounding the Σ df² shuffle that makes the uncapped variant a
    scale-killer on stop-shingles.  Capped semantics (sizes and
    intersections both from the capped index) are themselves
    oracle-checked here."""
    docs = T(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, max_df=5
    )


DEDUP_NGRAM_CAPPED_SQL = f"""
WITH {word_shingle_ctes("documents", 3)},
freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
shc AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN freq ON sh.shingle = freq.shingle
  WHERE freq.df <= 5
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.1
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment (operators/dedup.containment_pairs):
    doc-in-doc duplication that symmetric Jaccard under-scores (Broder's
    containment vs resemblance).  Run in the capped configuration (same
    max_df=5 inverted index as the capped Jaccard query) — the scale
    stance; kept when either direction's containment >= 0.5."""
    docs = T(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=5
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {word_shingle_ctes("documents", 3)},
freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
shc AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN freq ON sh.shingle = freq.shingle
  WHERE freq.df <= 5
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / sa.n_sh, 6) AS containment_a,
       round(n_inter * 1.0 / sb.n_sh, 6) AS containment_b
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_inter * 1.0 / sa.n_sh, 6) >= 0.5
   OR round(n_inter * 1.0 / sb.n_sh, 6) >= 0.5
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-word shingles, 16 min-hashes, 4 bands of 4 — tuned so candidates are
    the genuinely-similar tail (P(candidate) ≈ 1 for j>0.9, ~4e-4 for j=0.1).
    The band count comes from the S-curve rule (sizing.suggest_lsh_bands:
    inflection (1/b)^(1/r) nearest the 0.7 tuning point for a 16-hash
    budget -> 4 bands); the oracle SQL pins the same 4, so the helper is
    asserted equal rather than trusted (test_round6_ops)."""
    from flume_spark.operators.sizing import suggest_lsh_bands

    docs = T(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        docs,
        "doc_id",
        "text",
        shingle_n=2,
        num_hashes=16,
        bands=suggest_lsh_bands(16, 0.7),
    )


_MH = ",\n         ".join(
    f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(16)
)
_BANDS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band_idx, md5({parts}) AS band_hash FROM sig".format(
        b=b, parts=" || '|' || ".join(f"mh{4 * b + j}" for j in range(4))
    )
    for b in range(4)
)

# Shared CTE chain for the LSH oracles: 2-word shingle index, minhash
# signatures, bands, candidate pairs, sizes, intersections.  Used by
# DEDUP_MINHASH_SQL, DEDUP_LSH_VERIFIED_SQL and, through lsh_edges_ctes,
# the curation, training-run and (over a stage-survivor CTE) funnel
# oracles, so tuning changes (shingle_n, bands, threshold) cannot silently
# desynchronize them.


def lsh_verify_ctes(table: str) -> str:
    """The fragment parameterized on its input relation: `table` is any
    earlier CTE with (doc_id, text) — the funnels run it over their
    exact-dedup survivors instead of the raw documents table."""
    return f"""{word_shingle_ctes(table, 2)},
sig AS (
  SELECT doc_id,
         {_MH}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)"""


DEDUP_MINHASH_SQL = f"""
WITH {lsh_verify_ctes("documents")}
SELECT doc_a, doc_b FROM cand
"""


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blessed composed near-dup path at 100 TB: MinHash-LSH candidate
    generation (banded join, O(docs x bands)) followed by exact-Jaccard
    verification of ONLY the candidate pairs — verification cost is linear
    in the candidate count, never the Σ df² of a raw inverted-index
    self-join.  Same tuning as dedup_minhash_lsh (2-word shingles, 16
    hashes, suggest_lsh_bands(16, 0.7) = 4 bands); pairs kept at true
    Jaccard >= 0.3 (the LSH tunes recall at 0.7, the exact verify then
    keeps everything above the looser report cut)."""
    from flume_spark.operators.sizing import suggest_lsh_bands

    docs = T(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=2,
        num_hashes=16,
        bands=suggest_lsh_bands(16, 0.7),
        threshold=0.3,
    )


# Oracle: the same banded candidate set, then exact Jaccard over the same
# 2-word shingles, restricted to candidates (verification semantics).
DEDUP_LSH_VERIFIED_SQL = f"""
WITH {lsh_verify_ctes("documents")}
SELECT i.doc_a, i.doc_b,
       round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.3
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3 of 32 bits (~725 pairs of the
    124,750 possible at sf0.01).  Exact under pigeonhole banding."""
    docs = T(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=3, blocks=4)


_SIMHASH_BITS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{i}"
    for i in range(32)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)" for i in range(32)
)

# toks -> per-token md5 -> 32 signed bit sums -> `fp` (doc_id, simhash)
_SIMHASH_CTES = f"""toks AS (
  SELECT doc_id, tok, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
    FROM documents
  ) GROUP BY doc_id, tok
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h, cnt FROM toks
),
bits AS (
  SELECT doc_id,
         {_SIMHASH_BITS}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, {_SIMHASH_FP} AS simhash FROM bits)"""

DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from SimHash pairs: (doc_id, component) with
    component = min reachable doc id — the canonical-doc assignment."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=3, blocks=4)
    return dedup.connected_components(pairs, "doc_a", "doc_b")


def components_ctes(edges: str) -> str:
    """THE connected-components oracle fragment over an undirected edge
    relation `edges` (doc_a, doc_b): transitive closure by recursive CTE
    (`reach` holds every reachable pair), then `components` (doc_id,
    component) with component = smallest reachable id, including self —
    what `dedup.connected_components` computes.  Only nodes with an edge
    appear.  The enclosing query must say WITH RECURSIVE."""
    return f"""bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM {edges}
  UNION SELECT doc_b, doc_a FROM {edges}
),
reach AS (
  SELECT src, dst FROM bidir
  UNION
  SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
),
components AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)"""


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SIMHASH_CTES},
edges AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
{components_ctes("edges")}
SELECT doc_id, component FROM components
"""


def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that can NEVER leak a near-duplicate across
    splits: the seeded draw keys on the document's near-dup COMPONENT
    (SimHash pairs -> connected components; singletons key on their own
    id), so an entire dup cluster moves as one unit — the decontamination
    property a per-doc split (corpus_split) cannot give: ~62% of this
    corpus sits in multi-doc clusters and the per-doc draw strands 8
    clusters across the train/test wall (pinned by test_round7_ops).
    Summarized per (split, source) with exact doc-id sums; the oracle
    replays the closure with a recursive CTE and the identical integer
    draw."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=3, blocks=4
    )
    comps = dedup.connected_components(pairs, "doc_a", "doc_b")
    grouped = (
        docs.select("doc_id", "source")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("component", F.col("doc_id")).alias("group_id"),
        )
    )
    split = text.train_val_test_split(grouped, "group_id")
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("group_id").alias("n_groups"),
        F.sum("doc_id").alias("doc_sum"),
    )


_SPLIT_TEST_HI = int(0.1 * (1 << 32))
_SPLIT_VAL_HI = 2 * int(0.1 * (1 << 32))

CORPUS_SPLIT_SAFE_SQL = f"""
WITH comps AS MATERIALIZED (
{DEDUP_COMPONENTS_SQL}
),
g AS (
  SELECT d.doc_id, d.source, coalesce(c.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
),
s AS (
  SELECT doc_id, source, group_id,
         CAST('0x' || substring(
           md5('flume:' || CAST(group_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS draw
  FROM g
)
SELECT CASE WHEN draw < {_SPLIT_TEST_HI} THEN 'test'
            WHEN draw < {_SPLIT_VAL_HI} THEN 'val'
            ELSE 'train' END AS split,
       source,
       count(*) AS n_docs,
       CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
       CAST(sum(doc_id) AS BIGINT) AS doc_sum
FROM s GROUP BY 1, 2
"""


def _curation_survivors(docs: DataFrame) -> DataFrame:
    """THE curate law (the `curation_pipeline` composition): MinHash-LSH
    candidates -> exact-Jaccard verification (shingle 2 / 16 hashes /
    bands from suggest_lsh_bands(16, 0.7) / threshold 0.3) -> connected
    components -> drop non-canonical members -> quality >= 0.5.  One
    definition — `curation_pipeline` and the `corpus_training_run`
    capstone both call it, so a parameter tweak cannot silently diverge
    the capstone from the standalone pipeline or from either SQL oracle
    (the `_mixture_select` discipline).  Returns the quality_score frame
    of the survivors (doc_id, n_tokens, quality)."""
    from flume_spark.operators.sizing import suggest_lsh_bands

    pairs = dedup.lsh_verified_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=2,
        num_hashes=16,
        bands=suggest_lsh_bands(16, 0.7),
        threshold=0.3,
    )
    comps = dedup.connected_components(pairs, "doc_a", "doc_b")
    dropped = comps.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    scored = text.quality_score(docs, "doc_id", "text")
    return scored.join(dropped, "doc_id", "left_anti").filter(
        F.col("quality") >= 0.5
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with the blessed near-dup path: MinHash-LSH
    candidates -> exact-Jaccard verification -> connected components ->
    drop non-canonical members; keep quality >= 0.5, report tokens — the
    composed filter a training-data run applies before packing
    (`_curation_survivors`, THE shared curate law).  Each stage is the
    already-oracled operator (dedup_lsh_verified, dedup_components
    shape, text_quality_score); the composition is one declarative plan
    (anti-join + quality filter + projection).  Mirrors
    flume_spark.curation.curate_corpus(near_dup='lsh_verified')."""
    docs = T(spark, sf_dir, "documents")
    return _curation_survivors(docs).select("doc_id", "n_tokens", "quality")


def lsh_edges_ctes(table: str) -> str:
    """`lsh_verify_ctes(table)` plus `lsh_edges` (doc_a, doc_b): the
    candidate pairs whose exact 2-shingle Jaccard is >= 0.3 — the
    near-dup edge set of the curate law (`_curation_survivors`).

    `AS MATERIALIZED` is load-bearing (the kcore lesson): DuckDB inlines
    a CTE at every reference, so without it the whole 16-md5-per-shingle
    LSH chain is re-planned inside each consumer — twice in
    `components_ctes` and again in its recursive term (the corpus-funnel
    oracle ran out of memory past 12.5 GiB for a 10-edge answer)."""
    return f"""{lsh_verify_ctes(table)},
lsh_edges AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.3
)"""


def quality_ctes(table: str) -> str:
    """THE heuristic quality score (`text.quality_score`) over `table`
    (doc_id, text): `qscore` (doc_id, n_tokens, quality) — length,
    stopword and type-token terms over the lower-cased whitespace
    tokens."""
    return f"""qt AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM {table}
),
qscore AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         least(len(t) / 100.0, 1.0) * 0.5
           + least(len(list_filter(t,
               x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) * 1.0
               / len(t) * 5.0, 1.0) * 0.25
           + len(list_distinct(t)) * 1.0 / len(t) * 0.25 AS quality
  FROM qt
)"""


CURATION_SQL = f"""
WITH RECURSIVE {lsh_edges_ctes("documents")},
{components_ctes("lsh_edges")},
{quality_ctes("documents")}
SELECT doc_id, n_tokens, quality
FROM qscore
WHERE quality >= 0.5
  AND doc_id NOT IN (SELECT doc_id FROM components WHERE component != doc_id)
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return dedup.cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)


DEDUP_COSINE_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= 0.4
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, F.col("vec_id") < 20, k=5)


ANN_TOPK_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))),
               6) AS cosine
  FROM e q JOIN e n ON n.vec_id != q.vec_id
  WHERE q.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank", cosine FROM ranked WHERE "rank" <= 5
"""


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH-bucketed) variant — no oracle: recall is by design
    < 1, so the driver records a rows-only check.  4 planes x 6 tables
    gives ~0.6 recall@5 on the synthetic embeddings (see
    tests/test_observe.py recall floor)."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, dim=64, k=5, n_planes=4, n_tables=6)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means assignments (operators/similarity.py::kmeans).
    Iterative with float-mean centroids — no SQL oracle (rows-only driver
    check); the invariant contract (monotone objective, determinism, total
    assignment) is tested in tests/test_scale_ops.py."""
    emb = T(spark, sf_dir, "embeddings")
    assignments, _, _ = similarity.kmeans(emb, k=4, iters=3)
    return assignments


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic assignment step of Lloyd's k-means (fixed init
    centroids = 4 rows with smallest (md5(id), id)) — hash-checkable
    derivative of the rows-only `embedding_kmeans` (round-2 verdict #4)."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign_step(emb, "vec_id", "embedding", k=4)


KMEANS_ASSIGN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
           AS cluster,
         v AS cv
  FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 4
),
scored AS (
  SELECT e.vec_id AS id, init.cluster,
         round(list_sum(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - init.cv[i]) * (e.v[i] - init.cv[i]))), 6) AS dist2
  FROM e CROSS JOIN init
)
SELECT id, cluster, dist2 FROM (
  SELECT id, cluster, dist2,
         row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
  FROM scored
) WHERE rn = 1
"""


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket membership for every vector — the deterministic half
    of the approximate `ann_topk_lsh` (round-2 verdict #4): hyperplanes are
    md5-derived constants, so bucket keys are exact and hash-checkable even
    though end-to-end ANN recall is approximate by design."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_buckets(emb, dim=64, n_planes=8).select(
        "id", "bucket"
    )


_LSH_PLANE_CASES = " || ".join(
    "(CASE WHEN list_dot_product(v, ["
    + ", ".join(repr(c) for c in plane)
    + "]) >= 0 THEN '1' ELSE '0' END)"
    for plane in similarity._deterministic_hyperplanes(64, 8, seed="flume")
)

LSH_BUCKETS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id AS id, {_LSH_PLANE_CASES} AS bucket FROM e
"""


def lsh_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index health diagnostic: per sign-LSH bucket, how label-pure is
    the bucket (majority-label fraction)?  The cluster-quality eval every
    embedding pipeline runs after (re)building an index — a low-purity
    bucket means the hash family is splitting semantic neighborhoods.
    Deterministic end to end: md5-derived hyperplanes (lsh_buckets' exact
    core), exact integer counts, purity = ONE division of two exact ints.

    Scale shape: one scan (label rides the bucket projection via `keep` —
    no re-join), one (bucket,label) partial-agg shuffle bounded by
    buckets x labels, one tiny re-merge to bucket grain."""
    emb = T(spark, sf_dir, "embeddings")
    b = similarity.hyperplane_lsh_buckets(emb, dim=64, n_planes=8, keep=("label",))
    per = b.groupBy("bucket", "label").agg(F.count(F.lit(1)).alias("n_bl"))
    return (
        per.groupBy("bucket")
        .agg(
            F.sum("n_bl").alias("n_vectors"),
            F.max("n_bl").alias("n_majority"),
        )
        .select(
            "bucket",
            "n_vectors",
            "n_majority",
            (F.col("n_majority") / F.col("n_vectors").cast("double")).alias(
                "purity"
            ),
        )
    )


LSH_LABEL_PURITY_SQL = f"""
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT label, {_LSH_PLANE_CASES} AS bucket FROM e),
per AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS n_bl
        FROM b GROUP BY 1, 2)
SELECT bucket, CAST(sum(n_bl) AS BIGINT) AS n_vectors,
       CAST(max(n_bl) AS BIGINT) AS n_majority,
       max(n_bl) / CAST(sum(n_bl) AS DOUBLE) AS purity
FROM per GROUP BY 1
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid — the IVF cell-centroid ingest step.  Declared in
    long form (bucket, pos, c) so every oracled output column is scalar —
    the driver harness canonicalizes via pandas and can't hash lists."""
    emb = T(spark, sf_dir, "embeddings")
    cent = similarity.label_centroids(emb, "vec_id", "embedding", "label")
    return cent.select(
        "bucket", "n_vectors", F.posexplode("centroid").alias("pos", "c")
    )


EMBEDDING_CENTROIDS_SQL = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT label AS bucket, count(*) AS n_vectors, CAST(i - 1 AS INT) AS pos,
       round(avg(v[i]), 6) AS c
FROM e, unnest(range(1, len(v) + 1)) AS t(i)
GROUP BY 1, 3
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.pii_scrub(docs, "doc_id", "text")


TEXT_PII_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(lower(text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
       len(regexp_extract_all(lower(text), 'https?://[^\s]+')) AS n_url,
       len(regexp_extract_all(lower(text),
           '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn_like,
       regexp_replace(
         regexp_replace(
           regexp_replace(lower(text),
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g'),
         '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN_LIKE>', 'g') AS redacted
FROM documents
"""


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 embeddings per label, chosen by deterministic md5 draw."""
    emb = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    return text.stratified_sample(emb, "label", "vec_id", k=5)


SAMPLE_STRATIFIED_SQL = """
SELECT vec_id, label FROM (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label
           ORDER BY md5('flume:' || CAST(vec_id AS VARCHAR)), vec_id
         ) AS rk
  FROM embeddings
) WHERE rk <= 5
"""


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted document sample (Efraimidis-Spirakis exponential
    keys, deterministic md5 uniforms): 25 docs drawn with probability
    proportional to token count — the data-mixing draw."""
    docs = T(spark, sf_dir, "documents")
    toks = text.token_count(docs, "doc_id", "text").select("doc_id", "n_tokens")
    return text.weighted_sample(toks, "doc_id", "n_tokens", k=25)


SAMPLE_WEIGHTED_SQL = """
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
),
keyed AS (
  SELECT doc_id, CAST(n_tokens AS DOUBLE) AS weight,
         -ln( (('0x' || substr(md5('flume:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               + 1.0) / 281474976710656.0 )
           / CAST(n_tokens AS DOUBLE) AS k
  FROM t WHERE n_tokens > 0
)
SELECT doc_id, weight, round(k, 6) AS sample_key
FROM keyed ORDER BY k, doc_id LIMIT 25
"""


def mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-language sampling weights (alpha=0.3):
    weight_l = tokens_l^0.3 / sum tokens^0.3 — the multilingual mixture
    formula (upsamples low-resource languages)."""
    docs = T(spark, sf_dir, "documents")
    return text.mixture_weights(docs, "lang", "text", alpha=0.3)


MIXTURE_WEIGHTS_SQL = """
WITH g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (
  SELECT sum(n_tokens) AS t, sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS ta FROM g
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / t, 6) AS share,
       round(pow(CAST(n_tokens AS DOUBLE), 0.3) / ta, 6) AS weight
FROM g CROSS JOIN tot
"""


def source_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap curation: keep the 20 best-quality docs per source —
    the anti-dominance quota every crawl corpus applies."""
    docs = T(spark, sf_dir, "documents")
    return text.source_cap(docs, "doc_id", "text", "source", k=20)


SOURCE_CAP_SQL = f"""
WITH {quality_ctes("documents")}
SELECT doc_id, source, quality, "rank" FROM (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS "rank"
  FROM qscore JOIN documents USING (doc_id)
) WHERE "rank" <= 20
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.normalize_text(docs, "doc_id", "text")


TEXT_NORMALIZE_SQL = r"""
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(lower(text), '[\x00-\x1f]', ' ', 'g'),
           '\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       length(text) AS n_chars_in,
       length(norm_text) AS n_chars_out
FROM c
"""


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (budget 512, 8 shards)."""
    docs = T(spark, sf_dir, "documents")
    return text.pack_sequences(docs, "doc_id", "text", budget=512, shards=8)


PACK_SEQUENCES_SQL = """
WITH staged AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
)
SELECT doc_id, shard, n_tokens,
       CAST(floor((cum_tokens - n_tokens) / 512.0) AS INT) AS pack_id
FROM cum
"""


def pack_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing in REAL tokenizer units: BPE counts
    (text.bpe_token_count, EN_MERGES_DEMO table) fed through the
    generalized packer (text.pack_by_counts, budget 256, 8 shards),
    summarized per pack — n_docs and the exact token sum, so one doc
    packed across a boundary flips the hash.  The composition a training
    pipeline actually runs: budget in the units the tokenizer bills, not
    the whitespace proxy (the proxy under-counts ~2x on this corpus —
    see text_bpe_tokens)."""
    docs = T(spark, sf_dir, "documents")
    counted = text.bpe_token_count(docs, "doc_id", "text", text.EN_MERGES_DEMO)
    packed = text.pack_by_counts(
        counted, "doc_id", "n_bpe_tokens", budget=256, shards=8
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def _pack_bpe_sql() -> str:
    bpe = text.bpe_replace_sql("text", text.EN_MERGES_DEMO)
    return f"""
WITH staged AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST({bpe} AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
)
SELECT shard, CAST(floor((cum_tokens - n_tokens) / 256.0) AS INT) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cum GROUP BY 1, 2
"""


PACK_BPE_SQL = _pack_bpe_sql()


def _mixture_select(d: DataFrame, k_total: int = 200) -> DataFrame:
    """THE temperature-mixture selection law (stages 1-2 of
    `corpus_mixture_pack`'s docstring), over a checkpointed
    (doc_id, lang, n_tokens) frame: ppm-quantized alpha=0.3 mixture
    quotas, then the per-language Efraimidis-Spirakis draw.  One
    definition — `corpus_mixture_pack` and the `corpus_training_run`
    capstone both call it (round-13 review: duplicated law copies are
    how hash equality silently dies).  Returns the checkpointed
    (doc_id, lang) selection (~k_total rows, broadcastable)."""
    g = d.groupBy(F.col("lang").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    mw = text.mixture_weights_from_counts(g, "lang", alpha=0.3)
    quota = (
        mw.select(
            "lang",
            F.floor(F.col("weight") * 1e6 + F.lit(0.5)).cast("long").alias("wq"),
        )
        .select(
            "lang", F.expr(f"({k_total} * wq) div 1000000").alias("quota")
        )
    )

    d = d.filter(F.col("n_tokens") > 0)
    h = F.conv(
        F.substring(text.seeded_key("flume", "doc_id"), 1, 12), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 48))
    keyed = d.withColumn(
        "_key", -F.log(u) / F.col("n_tokens").cast("double")
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy("_key", "doc_id")
    )
    # the selection is consumed TWICE (the BPE join and the per-pack
    # n_langs join) — checkpoint it so the rank window's subtree is not
    # replanned and re-executed per consumer (the curate_spans staging
    # discipline); ~k_total rows, broadcastable on both uses
    return (
        keyed.withColumn("rn", rn)
        .join(F.broadcast(quota), "lang")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "lang")
        .localCheckpoint(eager=True)
    )


def corpus_mixture_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final pre-training assembly step (round-12 VERDICT item 7):
    temperature-mixed, token-budgeted shard plan composing three already-
    oracled stages —

      1. MIXTURE (text.mixture_weights, alpha=0.3): per-language
         sampling weight tokens_l^0.3 / sum tokens^0.3.  The one
         transcendental (pow) is quantized ONCE per language to ppm
         (floor(weight*1e6 + 0.5) on the 6dp-rounded weight), and the
         per-language quota is then EXACT integer arithmetic:
         quota_l = (200 * wq_l) div 1e6 — no float decision downstream.
      2. DRAW (the weighted_sample law, partitioned): within each
         language, Efraimidis-Spirakis keys -ln(u)/n_tokens with the
         md5-seeded uniform, rank by (key, doc_id), keep rank <= quota_l
         — inclusion probability proportional to token count inside the
         language, language totals governed by the temperature mixture.
      3. PACK (text.pack_by_counts over REAL BPE counts, budget 256,
         8 shards): the selected mixture packed in tokenizer units,
         summarized per (shard, pack_id) with n_langs for mixture
         visibility — one doc crossing a pack boundary flips the hash.

    Plan: one group-agg for the mixture (language-sized, broadcast
    total), one window rank per language partition, one shard-window
    cumsum — pack cost linear in selected docs (probe-verified)."""
    docs = T(spark, sf_dir, "documents")
    k_total = 200
    # tokenize ONCE, as a PROJECTION: (doc_id, lang, n_tokens) comes out
    # of the single documents scan — n_tokens is size(tokens_col), the
    # exact token_count/mixture_weights law, so no self-join and no
    # second text scan; the checkpoint (3 narrow columns) feeds both the
    # mixture group-by and the draw keys, and the weight law below is
    # byte-identical to text.mixture_weights (same round-6dp pow ratio)
    d = docs.select(
        "doc_id",
        "lang",
        F.size(text.tokens_col("text")).alias("n_tokens"),
    ).localCheckpoint(eager=True)
    sel = _mixture_select(d, k_total)

    # checkpointed frames carry no stats: force the broadcast Catalyst
    # can no longer infer (the test_plans model-spine discipline)
    counted = text.bpe_token_count(
        docs.join(F.broadcast(sel.select("doc_id")), "doc_id"),
        "doc_id",
        "text",
        text.EN_MERGES_DEMO,
    )
    packed = text.pack_by_counts(
        counted, "doc_id", "n_bpe_tokens", budget=256, shards=8
    )
    return (
        packed.join(F.broadcast(sel), "doc_id")
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


def mixture_select_ctes(table: str) -> str:
    """THE SQL twin of `_mixture_select` over `table` (doc_id, lang,
    text): ppm-quantized alpha=0.3 per-language quotas of a 200-doc draw
    (`mix_quota`), then the per-language Efraimidis-Spirakis keyed draw;
    `mix_sel` (doc_id, lang) is the selection."""
    return f"""mix_g AS (
  SELECT lang,
         CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM {table} GROUP BY lang
),
mix_tot AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS ta FROM mix_g),
mix_quota AS (
  SELECT lang,
         (200 * CAST(floor(round(pow(CAST(n_tokens AS DOUBLE), 0.3) / ta, 6)
                           * 1000000 + 0.5) AS BIGINT)) // 1000000 AS quota
  FROM mix_g CROSS JOIN mix_tot
),
mix_t AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
  FROM {table}
),
mix_keyed AS (
  SELECT doc_id, lang,
         -ln( (('0x' || substr(md5('flume:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               + 1.0) / 281474976710656.0 )
           / CAST(n_tokens AS DOUBLE) AS k
  FROM mix_t WHERE n_tokens > 0
),
mix_ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
  FROM mix_keyed
),
mix_sel AS (
  SELECT doc_id, lang FROM mix_ranked JOIN mix_quota USING (lang)
  WHERE rn <= quota
)"""


def _mixture_pack_sql() -> str:
    bpe = text.bpe_replace_sql("text", text.EN_MERGES_DEMO)
    return f"""
WITH {mixture_select_ctes("documents")},
staged AS (
  SELECT d.doc_id, CAST(d.doc_id % 8 AS INT) AS shard, sel.lang,
         CAST({bpe} AS BIGINT) AS n_tokens
  FROM documents d JOIN mix_sel sel ON sel.doc_id = d.doc_id
),
cum AS (
  SELECT doc_id, shard, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
)
SELECT shard, CAST(floor((cum_tokens - n_tokens) / 256.0) AS INT) AS pack_id,
       count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cum GROUP BY 1, 2
"""


CORPUS_MIXTURE_PACK_SQL = _mixture_pack_sql()


def corpus_training_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-shot TRAINING-RUN ASSEMBLY capstone (round-14, r13
    VERDICT missing#2): the single declared query that chains what a
    training job actually consumes end-to-end —

      1. CURATE: the `curation_pipeline` law (`_curation_survivors`,
         THE shared definition: LSH-verified near-dup pairs -> connected
         components -> drop non-canonical -> quality >= 0.5).
      2. SELECT + PACK: the `corpus_mixture_pack` law over the CURATED
         survivors (`_mixture_select`, THE shared draw definition;
         real-BPE `pack_by_counts`, budget 256, 8 shards).
      3. EXPORT: `write_training_shards` physically writes the selected
         docs as 8 shard files + `_manifest.json`; the returned rows'
         (n_docs, n_tokens, n_chars) come FROM THE WRITTEN MANIFEST —
         aggregated over the files that landed, not the source frame —
         joined with the pack-plan bounds (pack_min/pack_max/
         pack_tokens) per shard, all exact integers.

    Hash-equality against the declarative replay therefore pins the
    whole chain INCLUDING the physical export: if the written shards
    diverged from the logical law, the manifest-sourced columns would
    hash-mismatch.  Composition discipline: each stage output is
    localCheckpoint'd and selection-sized frames re-broadcast (the
    round-8 re-inlining trap; checkpointed frames carry no stats)."""
    import shutil
    import tempfile

    from flume_spark.operators import export

    docs = T(spark, sf_dir, "documents")
    curated = (
        docs.join(_curation_survivors(docs).select("doc_id"), "doc_id")
        .select("doc_id", "lang", "text")
        .localCheckpoint(eager=True)
    )
    d = curated.select(
        "doc_id",
        "lang",
        F.size(text.tokens_col("text")).alias("n_tokens"),
    ).localCheckpoint(eager=True)
    sel = _mixture_select(d, k_total=200)
    counted = text.bpe_token_count(
        curated.join(F.broadcast(sel.select("doc_id")), "doc_id"),
        "doc_id",
        "text",
        text.EN_MERGES_DEMO,
    )
    selected = curated.join(F.broadcast(sel.select("doc_id")), "doc_id").select(
        "doc_id", "text"
    )
    root = tempfile.mkdtemp(prefix="training_run_")
    try:
        # the pack plan and the physical shard export both consume only
        # the checkpointed curated/sel frames and are mutually
        # independent (checkpoint blocks vs tempdir files) — overlap
        # them (§2.6, round-15)
        from flume_spark.operators.concurrency import overlap

        packed, manifest = overlap(
            lambda: text.pack_by_counts(
                counted, "doc_id", "n_bpe_tokens", budget=256, shards=8
            ).localCheckpoint(eager=True),
            lambda: export.write_training_shards(
                selected, root, "doc_id", "text", shards=8
            ),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    man_rows = [
        (int(s), v["n_docs"], v["n_tokens"], v["n_chars"])
        for s, v in manifest["per_shard"].items()
    ]
    from flume_spark.session import local_rows

    man = local_rows(
        spark, man_rows, "shard int, n_docs long, n_tokens long, n_chars long"
    )
    pk = packed.groupBy("shard").agg(
        F.min("pack_id").alias("pack_min"),
        F.max("pack_id").alias("pack_max"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
    )
    return man.join(pk, "shard").select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        "pack_min",
        "pack_max",
        "pack_tokens",
    )


def _training_run_sql() -> str:
    bpe = text.bpe_replace_sql("text", text.EN_MERGES_DEMO)
    return f"""
WITH RECURSIVE {lsh_edges_ctes("documents")},
{components_ctes("lsh_edges")},
{quality_ctes("documents")},
cur AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN qscore ON qscore.doc_id = d.doc_id
  WHERE qscore.quality >= 0.5
    AND d.doc_id NOT IN (
      SELECT doc_id FROM components WHERE component != doc_id)
),
{mixture_select_ctes("cur")},
staged AS (
  SELECT d.doc_id, CAST(d.doc_id % 8 AS INT) AS shard,
         CAST({bpe} AS BIGINT) AS n_bpe
  FROM cur d JOIN mix_sel sel ON sel.doc_id = d.doc_id
),
cum AS (
  SELECT doc_id, shard, n_bpe,
         sum(n_bpe) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
),
packs AS (
  SELECT shard,
         CAST(min(floor((cum_tokens - n_bpe) / 256.0)) AS INT) AS pack_min,
         CAST(max(floor((cum_tokens - n_bpe) / 256.0)) AS INT) AS pack_max,
         CAST(sum(n_bpe) AS BIGINT) AS pack_tokens
  FROM cum GROUP BY shard
),
man AS (
  SELECT CAST(c.doc_id % 8 AS INT) AS shard,
         count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(lower(trim(c.text)), '\\s+'))) AS BIGINT)
           AS n_tokens,
         CAST(sum(length(c.text)) AS BIGINT) AS n_chars
  FROM cur c JOIN mix_sel sel ON sel.doc_id = c.doc_id
  GROUP BY 1
)
SELECT man.shard, man.n_docs, man.n_tokens, man.n_chars,
       packs.pack_min, packs.pack_max, packs.pack_tokens
FROM man JOIN packs ON man.shard = packs.shard
"""


CORPUS_TRAINING_RUN_SQL = _training_run_sql()


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.token_count(docs, "doc_id", "text")


TEXT_TOKEN_SQL = """
SELECT doc_id,
       len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
       length(text) AS n_chars_calc,
       len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS n_unique_tokens
FROM documents
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per doc; rational idf = n_docs/df (see
    operators/text.py::tfidf_topk for why not log)."""
    docs = T(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, "doc_id", "text", k=5)


TEXT_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, doc_freq, score FROM (
  SELECT t.doc_id, t.term, t.tf, d.doc_freq,
         CAST(t.tf * n.n_docs AS DOUBLE) / d.doc_freq AS score,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY CAST(t.tf * n.n_docs AS DOUBLE) / d.doc_freq DESC, t.term
         ) AS rn
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
)
WHERE rn <= 5
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 3 distinct 3-gram
    shingles with the probe subset (doc_id % 97 == 0 stands in for an eval
    set).  Probe index broadcasts; cost linear in corpus shingles."""
    docs = T(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination_pairs(
        corpus, probes, "doc_id", "text", n=3, min_shared=3
    )


TEXT_DECONTAMINATE_SQL = f"""
WITH {word_shingle_ctes("documents", 3)}
SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS n_shared
FROM sh c JOIN sh p ON c.shingle = p.shingle
WHERE c.doc_id % 97 != 0 AND p.doc_id % 97 = 0
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text")


TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks)
           AS mean_token_len,
         len(list_filter(toks,
               t -> t IN ('the', 'a', 'and', 'of', 'to', 'in'))) * 1.0 / len(toks)
           AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
)
SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, type_token_ratio,
       least(n_tokens / 100.0, 1.0) * 0.5
             + least(stopword_ratio * 5.0, 1.0) * 0.25
             + type_token_ratio * 0.25 AS quality
FROM m
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.lang_id(docs, "doc_id", "text")


TEXT_LANG_SQL = """
WITH t AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
  FROM documents
),
v AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the', 'and', 'of')))  AS votes_en,
         len(list_filter(toks, t -> t IN ('le', 'la', 'et')))    AS votes_fr,
         len(list_filter(toks, t -> t IN ('el', 'los', 'que')))  AS votes_es,
         len(list_filter(toks, t -> t IN ('der', 'die', 'und'))) AS votes_de
  FROM t
)
SELECT doc_id, votes_en, votes_fr, votes_es, votes_de,
       CASE WHEN votes_en > 0 AND votes_en = greatest(votes_en, votes_fr, votes_es, votes_de) THEN 'en'
            WHEN votes_fr > 0 AND votes_fr = greatest(votes_en, votes_fr, votes_es, votes_de) THEN 'fr'
            WHEN votes_es > 0 AND votes_es = greatest(votes_en, votes_fr, votes_es, votes_de) THEN 'es'
            WHEN votes_de > 0 AND votes_de = greatest(votes_en, votes_fr, votes_es, votes_de) THEN 'de'
            ELSE 'unknown' END AS lang_pred
FROM v
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text")


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
       length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_norm_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + Arrow-batched (stub) decode via mapInPandas.

    The oracle replicates the deterministic stub in SQL, which validates the
    distributed plumbing (schema, batching, byte handling) end-to-end.
    """
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.decode_media_meta(payloads)


MULTIMODAL_META_SQL = """
SELECT doc_id AS id,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       'application/octet-stream' AS media_type,
       CAST(octet_length(CAST(text AS BLOB)) % 1920 + 1 AS INT) AS width,
       CAST(ascii(substr(text, 1, 1)) % 1080 + 1 AS INT) AS height,
       true AS ok
FROM documents
"""


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe using `label` as the coarse cell; exact within the cell, so
    fully oracle-checkable (the approximation is WHICH cells are probed,
    not the math)."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, F.col("vec_id") < 20, k=3)


ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))),
               6) AS cosine
  FROM e q JOIN e n ON q.label = n.label AND n.vec_id != q.vec_id
  WHERE q.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
           AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank", cosine FROM ranked WHERE "rank" <= 3
"""


def text_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.subword_tokens(docs, "doc_id", "text")


TEXT_SUBWORD_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^\sa-z0-9]+') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_subwords,
       len(list_filter(toks, t -> regexp_matches(t, '^[a-z]'))) AS n_alpha,
       len(list_filter(toks, t -> regexp_matches(t, '^[0-9]'))) AS n_num,
       len(toks) - len(list_filter(toks, t -> regexp_matches(t, '^[a-z]')))
                 - len(list_filter(toks, t -> regexp_matches(t, '^[0-9]'))) AS n_other
FROM t
"""


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BPE token count (text.bpe_token_count): the EN_MERGES_DEMO
    merge-ranks table applied as rank-ordered merge rounds, each rule one
    literal string replace fused into a single codegen projection — the
    real-tokenizer upgrade over text_subword_tokens' regex proxy.  The
    oracle replays the IDENTICAL merge table via text.bpe_replace_sql
    (one source of truth), so hash-equality proves the merge semantics —
    boundary handling, rank order, left-to-right non-overlap — match
    character-for-character across engines.  Summed per source (with the
    proxy count alongside) so the result exposes the proxy's bias."""
    docs = T(spark, sf_dir, "documents")
    bpe = text.bpe_token_count(docs, "doc_id", "text", text.EN_MERGES_DEMO)
    proxy = text.subword_tokens(docs, "doc_id", "text").select(
        "doc_id", "n_subwords"
    )
    src = docs.select("doc_id", "source")
    return (
        bpe.join(proxy, "doc_id")
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").alias("bpe_tokens"),
            F.sum("n_subwords").alias("proxy_tokens"),
        )
    )


def _text_bpe_sql() -> str:
    bpe = text.bpe_replace_sql("text", text.EN_MERGES_DEMO)
    return rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST({bpe} AS BIGINT) AS n_bpe,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^\sa-z0-9]+'))
           AS n_subwords
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_subwords) AS BIGINT) AS proxy_tokens
FROM t GROUP BY source
"""


TEXT_BPE_SQL = _text_bpe_sql()


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.rolling_fingerprint(docs, "doc_id", "text", k=8)


TEXT_ROLLING_SQL = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
                        i -> md5(substr(norm, i::INT, 8))) AS hashes
  FROM n
)
SELECT doc_id,
       list_aggregate(hashes, 'min') AS min_hash,
       len(list_distinct(hashes))    AS n_distinct_windows
FROM g
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.resize_stub(payloads, max_dim=64)


MULTIMODAL_RESIZE_SQL = """
WITH d AS (
  SELECT doc_id AS id,
         octet_length(CAST(text AS BLOB)) % 1920 + 1 AS width,
         ascii(substr(text, 1, 1)) % 1080 + 1        AS height
  FROM documents
)
SELECT id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(width * 64 // greatest(width, height, 64) AS INT)  AS resized_w,
       CAST(height * 64 // greatest(width, height, 64) AS INT) AS resized_h
FROM d
"""


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared in long form (id, feat_idx, feature) so every oracled output
    column is scalar — see embedding_centroids note."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    feats = multimodal.feature_extract_stub(payloads)
    return feats.select("id", F.posexplode("features").alias("feat_idx", "feature"))


MULTIMODAL_FEATURE_SQL = """
WITH f AS (
  SELECT doc_id AS id,
         [ (octet_length(CAST(text AS BLOB)) % 256) / 256.0,
           ascii(substr(text, 1, 1)) / 256.0,
           ascii(substr(text, length(text), 1)) / 256.0,
           (octet_length(CAST(text AS BLOB)) * 7 % 256) / 256.0 ] AS features
  FROM documents
)
SELECT id, CAST(i - 1 AS INT) AS feat_idx, features[i] AS feature
FROM f, unnest(range(1, 5)) AS t(i)
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.frame_sample_stub(payloads, n_frames=4)


MULTIMODAL_FRAME_SQL = """
SELECT doc_id AS id,
       CAST(i AS INT)                                              AS frame_idx,
       CAST(i * (octet_length(CAST(text AS BLOB)) // 4) AS INT)    AS frame_off,
       CAST(octet_length(CAST(text AS BLOB)) // 4 AS INT)          AS frame_len
FROM documents, unnest(range(0, 4)) AS t(i)
"""


def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (AllPairs/PPJoin prefix filtering): every
    pair with 2-shingle Jaccard >= 4/5, recall exactly 1 — the lossless
    high-threshold complement to dedup_lsh_verified.  The oracle is the
    plain all-pairs inverted-index join: hash-equality IS the lossless
    proof (prefix + positional pruning drops ~84% of the inverted-index
    join cost — BASELINE.md, "Prefix-filter join optimization" — yet no
    result row)."""
    docs = T(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(docs, "doc_id", "text", n=2, t_num=4, t_den=5)


# Oracle: brute-force all-pairs Jaccard — deliberately WITHOUT prefix
# filtering, so the hash gate checks the lossless claim, not just the
# arithmetic.  Integer threshold predicate: J >= 4/5 <=> 9*i >= 4*(na+nb).
DEDUP_PREFIX_FILTER_SQL = f"""
WITH {word_shingle_ctes("documents", 2)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter AS inter,
       sa.n_sh + sb.n_sh - n_inter AS union_sz,
       n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE 9 * n_inter >= 4 * (sa.n_sh + sb.n_sh)
"""


def dedup_prefix_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT-recall candidates (dedup.incremental_prefix_candidates):
    docs with doc_id % 5 == 0 arrive as the new batch, the rest are
    history.  Spark computes the two sides' hash-ordered prefixes
    SEPARATELY (as a real ingest against a persisted index would); the
    oracle computes prefixes over the WHOLE corpus and then splits.
    Hash-equality between the two is exactly the append-only property:
    a doc's static-order prefix is independent of what else is in the
    corpus, so per-batch appends never go stale (unlike a df-ordered
    index)."""
    docs = T(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_prefix_candidates(
        new, "doc_id", "text", n=2, t_num=4, t_den=5, history=history
    )


DEDUP_PREFIX_INCR_SQL = f"""
WITH {word_shingle_ctes("documents", 2)},
ranked AS (
  SELECT doc_id, shingle,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY md5(shingle), shingle) AS rk,
         count(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM sh
),
pre AS (
  SELECT doc_id, shingle, n_sh, rk FROM ranked
  WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1
),
np AS (SELECT * FROM pre WHERE doc_id % 5 = 0),
hp AS (SELECT * FROM pre WHERE doc_id % 5 <> 0)
SELECT DISTINCT doc_new, doc_match FROM (
  SELECT a.doc_id AS doc_new, b.doc_id AS doc_match
  FROM np a JOIN hp b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
   AND 4 * greatest(a.n_sh, b.n_sh) <= 5 * least(a.n_sh, b.n_sh)
   AND 9 * (1 + least(a.n_sh - a.rk, b.n_sh - b.rk)) >= 4 * (a.n_sh + b.n_sh)
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM np a JOIN np b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
   AND 4 * greatest(a.n_sh, b.n_sh) <= 5 * least(a.n_sh, b.n_sh)
   AND 9 * (1 + least(a.n_sh - a.rk, b.n_sh - b.rk)) >= 4 * (a.n_sh + b.n_sh)
)
"""


def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: fastText-style linear classifier
    inference (operators/text.py::classifier_score).  The weights are a
    256-row broadcast table; the corpus streams through a token-frequency
    explode + broadcast join + exact-integer logit aggregate."""
    docs = T(spark, sf_dir, "documents")
    return text.classifier_score(docs, "doc_id", "text")


TEXT_CLASSIFIER_SQL = r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) GROUP BY 1, 2
),
vocab AS (
  SELECT tok,
         (('0x' || substr(md5('flume-cls:' || tok), 1, 8))::BIGINT % 2001
          - 1000) AS w_int
  FROM (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY 1)
  ORDER BY doc_freq DESC, tok
  LIMIT 256
),
z AS (
  SELECT tf.doc_id, sum(tf.tf * v.w_int) AS z_int
  FROM tf JOIN vocab v USING (tok) GROUP BY 1
),
base AS (
  SELECT doc_id,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(z.z_int, 0) AS BIGINT) AS z_int,
       round(1.0 / (1.0 + exp(-(coalesce(z.z_int, 0)
             / (1000.0 * greatest(b.n_tokens, 1))))), 6) AS score,
       CASE WHEN coalesce(z.z_int, 0) > 0 THEN 'keep' ELSE 'drop' END AS label
FROM base b LEFT JOIN z USING (doc_id)
"""


def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the linear filter model: distributed batch perceptron
    (operators/text.py::classifier_train) fit on the corpus itself — label
    = (lang = 'en'), i.e. the CCNet language-filter recipe.  All-integer
    arithmetic makes 3 training iterations cross-engine hash-exact; the
    oracle unrolls them as CTEs."""
    docs = T(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    return text.classifier_train(
        docs, "doc_id", "text", "y", vocab_size=64, iters=3
    )


# Shared CTE chain: vocab + tf + three unrolled perceptron iterations
# ending at weight state w3 — TEXT_CLASSIFIER_TRAIN_SQL selects w3
# directly; TEXT_CLASSIFIER_EVAL_SQL extends it with a scoring pass and
# the confusion aggregate.
_CLASSIFIER_TRAIN_CTES = r"""tf0 AS (
  SELECT doc_id, y, tok, count(*) AS tf FROM (
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) GROUP BY 1, 2, 3
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(DISTINCT doc_id) AS doc_freq FROM tf0 GROUP BY 1
  ) ORDER BY doc_freq DESC, tok LIMIT 64
),
tf AS (SELECT tf0.* FROM tf0 JOIN vocab USING (tok)),
w1 AS (SELECT tok, sum(tf * y) AS w FROM tf GROUP BY 1),
z2 AS (
  SELECT doc_id, y, sum(tf.tf * coalesce(w1.w, 0)) AS z
  FROM tf LEFT JOIN w1 USING (tok) GROUP BY 1, 2
),
e2 AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err FROM z2),
d2 AS (SELECT tok, sum(tf.tf * e2.err) AS d
       FROM tf JOIN e2 USING (doc_id) GROUP BY 1),
w2 AS (
  SELECT coalesce(w1.tok, d2.tok) AS tok,
         coalesce(w1.w, 0) + coalesce(d2.d, 0) AS w
  FROM w1 FULL JOIN d2 ON w1.tok = d2.tok
),
z3 AS (
  SELECT doc_id, y, sum(tf.tf * coalesce(w2.w, 0)) AS z
  FROM tf LEFT JOIN w2 USING (tok) GROUP BY 1, 2
),
e3 AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err FROM z3),
d3 AS (SELECT tok, sum(tf.tf * e3.err) AS d
       FROM tf JOIN e3 USING (doc_id) GROUP BY 1),
w3 AS (
  SELECT coalesce(w2.tok, d3.tok) AS tok,
         coalesce(w2.w, 0) + coalesce(d3.d, 0) AS w
  FROM w2 FULL JOIN d3 ON w2.tok = d3.tok
)"""

TEXT_CLASSIFIER_TRAIN_SQL = f"""
WITH {_CLASSIFIER_TRAIN_CTES}
SELECT v.tok, CAST(coalesce(w3.w, 0) AS BIGINT) AS w_int
FROM vocab v LEFT JOIN w3 ON v.tok = w3.tok
"""


def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full model-based-filtering cycle in ONE hash-checked result:
    train the perceptron (label = lang='en'), score the corpus with the
    trained weights, report the confusion matrix as exact BIGINTs
    (operators/text.py::classifier_eval)."""
    docs = T(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    return text.classifier_eval(docs, "doc_id", "text", "y", vocab_size=64, iters=3)


TEXT_CLASSIFIER_EVAL_SQL = f"""
WITH {_CLASSIFIER_TRAIN_CTES},
zf AS (
  SELECT tf.doc_id, sum(tf.tf * w3.w) AS z
  FROM tf JOIN w3 USING (tok) GROUP BY 1
),
pred AS (
  SELECT d.y,
         CASE WHEN coalesce(zf.z, 0) > 0 THEN 1 ELSE 0 END AS p
  FROM (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents) d
  LEFT JOIN zf USING (doc_id)
)
SELECT count(*) AS n_docs,
       CAST(coalesce(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
       CAST(coalesce(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
       CAST(coalesce(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
       CAST(coalesce(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
FROM pred
"""


def stream_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE perceptron training through the REAL streaming ingestor
    (streaming/classifier.py::PerceptronIngestor): documents arrive as 3
    micro-batches (doc_id % 3), each applying one hashed-feature
    perceptron update against the weights AS OF its ingest time, then one
    batch is RE-DELIVERED through the ledger-guarded entrypoint and must
    be skipped (an online model double-applying a batch's update is the
    exactly-once failure this pins).  All-integer updates make the final
    64-bucket weight vector byte-equal to the oracle's unrolled
    batch-prefix CTEs — hash-equality proves the order-dependent online
    schedule AND ledger idempotence through the real state store."""
    import shutil
    import tempfile

    from flume_spark.streaming.classifier import PerceptronIngestor

    docs = T(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    root = tempfile.mkdtemp(prefix="perceptron_ingest_")
    ing = PerceptronIngestor(
        spark, state_dir=f"{root}/state", ledger_dir=f"{root}/ledger"
    )
    batches = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        ing.process(bdf, b)
    ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip it
    out = ing.weights_df()  # built from driver state — no store dependency
    shutil.rmtree(root, ignore_errors=True)
    return out


STREAM_CLASSIFIER_TRAIN_SQL = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 3 AS b,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ('0x' || substr(md5('flume-hash:' || tok), 1, 8))::BIGINT % 64 AS bucket
  FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  )
),
tf AS (SELECT b, doc_id, y, bucket, count(*) AS tf FROM toks GROUP BY 1, 2, 3, 4),
bk AS (SELECT unnest(range(0, 64)) AS bucket),
-- batch 0 applies against w = 0 -> every err is y
d0 AS (SELECT bucket, sum(tf * y) AS d FROM tf WHERE b = 0 GROUP BY 1),
w0 AS (SELECT bk.bucket, coalesce(d0.d, 0) AS w FROM bk LEFT JOIN d0 USING (bucket)),
z1 AS (
  SELECT tf.doc_id, y, sum(tf.tf * w0.w) AS z
  FROM tf JOIN w0 USING (bucket) WHERE b = 1 GROUP BY 1, 2
),
e1 AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err FROM z1),
d1 AS (SELECT bucket, sum(tf.tf * e1.err) AS d
       FROM tf JOIN e1 USING (doc_id) WHERE tf.b = 1 GROUP BY 1),
w1 AS (SELECT w0.bucket, w0.w + coalesce(d1.d, 0) AS w
       FROM w0 LEFT JOIN d1 USING (bucket)),
z2 AS (
  SELECT tf.doc_id, y, sum(tf.tf * w1.w) AS z
  FROM tf JOIN w1 USING (bucket) WHERE b = 2 GROUP BY 1, 2
),
e2 AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err FROM z2),
d2 AS (SELECT bucket, sum(tf.tf * e2.err) AS d
       FROM tf JOIN e2 USING (doc_id) WHERE tf.b = 2 GROUP BY 1),
w2 AS (SELECT w1.bucket, w1.w + coalesce(d2.d, 0) AS w
       FROM w1 LEFT JOIN d2 USING (bucket))
SELECT bucket, CAST(w AS BIGINT) AS w_int FROM w2
"""


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style LM filter (the CCNet quality pair's generative
    half, operators/text.py::lm_perplexity): train add-1-smoothed bigram
    counts on the doc_id % 4 == 0 reference slice, score EVERY document's
    log-prob as an exact scaled BIGINT (per-bigram quantization, integer
    accumulation), report the 6dp perplexity.  Hash-exact on lp_int; the
    oracle unrolls the count CTEs."""
    docs = T(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    return text.lm_perplexity(docs, "doc_id", "text", ref_df=ref)


TEXT_LM_PERPLEXITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
    SELECT doc_id, unnest(list_zip(arr, arr[2:])) AS pr FROM toks
  ) WHERE pr[2] IS NOT NULL
),
big AS (
  SELECT w1, w2, count(*) AS c12 FROM bg WHERE doc_id % 4 = 0 GROUP BY 1, 2
),
ctx AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1),
voc AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest(arr) AS tok FROM toks WHERE doc_id % 4 = 0
  )
),
tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
sc AS (
  SELECT tf.doc_id,
         sum(tf.tf * CAST(round(ln(
               (coalesce(big.c12, 0) + 1)
               / CAST(coalesce(ctx.c1, 0) + 1 * voc.v AS DOUBLE)
             ) * 1000000) AS BIGINT)) AS lp_int
  FROM tf
  LEFT JOIN big USING (w1, w2)
  LEFT JOIN ctx USING (w1)
  CROSS JOIN voc
  GROUP BY 1
),
base AS (SELECT doc_id, greatest(len(arr) - 1, 0) AS n_bigrams FROM toks)
SELECT b.doc_id, b.n_bigrams,
       CAST(coalesce(sc.lp_int, 0) AS BIGINT) AS lp_int,
       round(exp(-coalesce(sc.lp_int, 0)
             / (1000000.0 * greatest(b.n_bigrams, 1))), 6) AS ppl
FROM base b LEFT JOIN sc USING (doc_id)
"""


def text_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM scoring (Brants et al. 2007,
    operators/text.py::lm_backoff_score): counts from the doc_id % 4 == 0
    reference slice, every document scored through the three-tier backoff
    with the 0.4 factors folded as exact rationals — per-trigram
    log-scores quantized once to scaled BIGINTs, integer-accumulated,
    hash-exact on lp_int."""
    docs = T(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    return text.lm_backoff_score(docs, "doc_id", "text", ref_df=ref)


TEXT_LM_BACKOFF_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr
  FROM documents
),
tg AS (
  SELECT doc_id, pr[1] AS w1, pr[2] AS w2, pr[3] AS w3 FROM (
    SELECT doc_id, unnest(list_zip(arr, arr[2:], arr[3:])) AS pr FROM toks
  ) WHERE pr[3] IS NOT NULL
),
bg AS (
  SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM (
    SELECT doc_id, unnest(list_zip(arr, arr[2:])) AS pr FROM toks
  ) WHERE pr[2] IS NOT NULL
),
tri AS (
  SELECT w1, w2, w3, count(*) AS c123 FROM tg WHERE doc_id % 4 = 0
  GROUP BY 1, 2, 3
),
bctx AS (SELECT w1, w2, sum(c123) AS c12 FROM tri GROUP BY 1, 2),
bi AS (
  SELECT w1 AS w2, w2 AS w3, count(*) AS c23 FROM bg WHERE doc_id % 4 = 0
  GROUP BY 1, 2
),
uctx AS (SELECT w2, sum(c23) AS c2 FROM bi GROUP BY 1),
uni AS (
  SELECT tok AS w3, count(*) AS c3 FROM (
    SELECT unnest(arr) AS tok FROM toks WHERE doc_id % 4 = 0
  ) GROUP BY 1
),
nv AS (
  SELECT count(*) AS n, count(DISTINCT tok) AS v FROM (
    SELECT unnest(arr) AS tok FROM toks WHERE doc_id % 4 = 0
  )
),
tf AS (SELECT doc_id, w1, w2, w3, count(*) AS tf FROM tg GROUP BY 1, 2, 3, 4),
sc AS (
  SELECT tf.doc_id,
         sum(tf.tf * CAST(round(ln(
           CASE
             WHEN coalesce(tri.c123, 0) > 0
               THEN coalesce(tri.c123, 0)
                    / CAST(coalesce(bctx.c12, 0) AS DOUBLE)
             WHEN coalesce(bi.c23, 0) > 0
               THEN (2 * coalesce(bi.c23, 0))
                    / CAST(5 * coalesce(uctx.c2, 0) AS DOUBLE)
             ELSE (4 * (coalesce(uni.c3, 0) + 1))
                  / CAST(25 * (nv.n + nv.v) AS DOUBLE)
           END
         ) * 1000000) AS BIGINT)) AS lp_int
  FROM tf
  LEFT JOIN tri USING (w1, w2, w3)
  LEFT JOIN bctx USING (w1, w2)
  LEFT JOIN bi USING (w2, w3)
  LEFT JOIN uctx USING (w2)
  LEFT JOIN uni USING (w3)
  CROSS JOIN nv
  GROUP BY 1
),
base AS (SELECT doc_id, greatest(len(arr) - 2, 0) AS n_trigrams FROM toks)
SELECT b.doc_id, b.n_trigrams,
       CAST(coalesce(sc.lp_int, 0) AS BIGINT) AS lp_int,
       round(exp(-coalesce(sc.lp_int, 0)
             / (1000000.0 * greatest(b.n_trigrams, 1))), 6) AS ppl
FROM base b LEFT JOIN sc USING (doc_id)
"""


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup pairs by perceptual-hash hamming distance
    (operators/multimodal.py::phash_pairs): the pHash/PDQ shape — sample
    32 evenly-spaced payload bytes, bit i set iff 32*s_i > sum(samples)
    (exact-integer mean compare) — over the binary-payload seam, paired
    through the SAME pigeonhole block join as dedup_simhash
    (dedup.hamming_block_pairs).  The decode+DCT stage is the documented
    stub; the fingerprint, blocking, and hamming machinery are real and
    hash-exact."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.phash_pairs(payloads, bits=32, max_hamming=3, blocks=4)


# ORACLE BYTE-SEMANTICS NOTE (round-11 ADVICE): the media oracles below
# (MULTIMODAL_* / MEDIA_FUNNEL / STREAM_PHASH / STREAM_AUDIO /
# STREAM_MEDIA_FUNNEL) index payload bytes with CHARACTER functions
# (length/substr/ascii) while the Spark operators act on the UTF-8 BYTES
# of F.encode(text) — for non-ASCII text, char offsets diverge from byte
# offsets and ascii() returns code points > 255, so hash-exactness holds
# for ASCII corpora (the driver testdata is all-ASCII by construction;
# certified green every round).  The operators themselves are
# byte-correct for ANY payload — only the declarative replicas carry the
# ASCII assumption; a blob-consistent rewrite would need octet-level
# extraction over CAST(text AS BLOB), which DuckDB exposes only through
# char-indexed substr on the cast.
def phash_ctes(table: str) -> str:
    """THE pHash oracle fragment over `table` (doc_id, text): 32
    evenly-spaced payload samples, bit i set iff 32*s_i > sum(samples);
    `ph_fp` (doc_id, phash) covers every doc (empty payloads hash to 0)."""
    return f"""ph_n AS (SELECT doc_id, length(text) AS n FROM {table}),
ph_samp AS (
  SELECT d.doc_id, t.i,
         ascii(substr(d.text, CAST((t.i * ph_n.n) // 32 AS INT) + 1, 1)) AS s
  FROM {table} d JOIN ph_n USING (doc_id), unnest(range(0, 32)) AS t(i)
  WHERE ph_n.n > 0
),
ph_tot AS (SELECT doc_id, sum(s) AS tot FROM ph_samp GROUP BY 1),
ph_fp0 AS (
  SELECT ph_samp.doc_id,
         sum(CASE WHEN 32 * s > tot THEN CAST(1 AS BIGINT) << i
                  ELSE 0 END) AS phash
  FROM ph_samp JOIN ph_tot USING (doc_id) GROUP BY 1
),
ph_fp AS (
  SELECT doc_id, phash FROM ph_fp0
  UNION ALL
  SELECT doc_id, CAST(0 AS BIGINT) FROM ph_n WHERE n = 0
)"""


MULTIMODAL_PHASH_SQL = f"""
WITH {phash_ctes("documents")},
banded AS (
  SELECT doc_id, phash, t.j AS block_idx,
         (phash >> CAST(t.j * 8 AS INT)) & 255 AS block_val
  FROM ph_fp, unnest(range(0, 4)) AS t(j)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM banded a
JOIN banded b
  ON a.block_idx = b.block_idx
 AND a.block_val = b.block_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


def multimodal_frame_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual fingerprints
    (operators/multimodal.py::frame_phash): each payload sliced into the
    4 equal windows frame_sample_stub reports, each window pHashed with
    the exact-integer mean-compare rule — the video-dedup fingerprint
    layer (frame_containment_pairs consumes it; its exact-match pairing
    is unit-tested on constructed clip twins since real frame collisions
    are rare in a text-backed corpus)."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.frame_phash(payloads, n_frames=4, bits=32)


def frame_phash_ctes(table: str) -> str:
    """THE per-frame pHash oracle fragment (`multimodal.frame_phash`) over
    `table` (doc_id, text): 4 equal keyframe windows `fr`, each hashed
    with the pHash mean-compare rule; `fall` (doc_id, frame_idx, fhash)
    has every frame, empty ones hashing to 0."""
    return f"""fr AS (
  SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
         substr(text,
                CAST(t.i * (octet_length(CAST(text AS BLOB)) // 4) AS INT) + 1,
                CAST(octet_length(CAST(text AS BLOB)) // 4 AS INT)) AS ftext
  FROM {table}, unnest(range(0, 4)) AS t(i)
),
fn AS (SELECT doc_id, frame_idx, length(ftext) AS n FROM fr),
fsamp AS (
  SELECT fr.doc_id, fr.frame_idx, t.i,
         ascii(substr(fr.ftext, CAST((t.i * fn.n) // 32 AS INT) + 1, 1)) AS s
  FROM fr JOIN fn USING (doc_id, frame_idx), unnest(range(0, 32)) AS t(i)
  WHERE fn.n > 0
),
ftot AS (SELECT doc_id, frame_idx, sum(s) AS tot FROM fsamp GROUP BY 1, 2),
ffp AS (
  SELECT fsamp.doc_id, fsamp.frame_idx,
         sum(CASE WHEN 32 * s > tot THEN CAST(1 AS BIGINT) << i
                  ELSE 0 END) AS fhash
  FROM fsamp JOIN ftot USING (doc_id, frame_idx) GROUP BY 1, 2
),
fall AS (
  SELECT fn.doc_id, fn.frame_idx,
         CAST(coalesce(ffp.fhash, 0) AS BIGINT) AS fhash
  FROM fn LEFT JOIN ffp USING (doc_id, frame_idx)
)"""


MULTIMODAL_FRAME_PHASH_SQL = f"""
WITH {frame_phash_ctes("documents")}
SELECT doc_id AS id, frame_idx, fhash FROM fall
"""


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation first pass
    (operators/multimodal.py::audio_energy_stub): payload bytes as raw
    little-endian 16-bit PCM, 8 equal windows, exact-integer window
    energy (sum of sample squares) + silence flag — the
    window-energy/silence gate that fronts an audio embedding pipeline.
    The codec decode is the documented stub; the PCM view, windowing, and
    integer energy law are real and hash-exact."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.audio_energy_stub(payloads, n_windows=8)


MULTIMODAL_AUDIO_SQL = """
WITH p AS (
  SELECT doc_id, text,
         (octet_length(CAST(text AS BLOB)) // 2) // 8 AS wl
  FROM documents
),
w AS (
  SELECT doc_id, CAST(t.i AS INT) AS window_idx, wl, text
  FROM p, unnest(range(0, 8)) AS t(i)
),
s AS (
  SELECT doc_id, window_idx, wl,
         ascii(substr(text, CAST(2 * (window_idx * wl + t.j) + 1 AS INT), 1))
         + 256 * ascii(substr(text, CAST(2 * (window_idx * wl + t.j) + 2 AS INT), 1))
         AS v
  FROM w, unnest(range(0, wl)) AS t(j)
),
e AS (
  SELECT doc_id, window_idx,
         sum(CASE WHEN v >= 32768
                  THEN CAST(v - 65536 AS BIGINT) * (v - 65536)
                  ELSE CAST(v AS BIGINT) * v END) AS energy
  FROM s GROUP BY 1, 2
)
SELECT w.doc_id AS id, w.window_idx,
       CAST(w.wl AS INT) AS n_samples,
       CAST(coalesce(e.energy, 0) AS BIGINT) AS energy,
       coalesce(e.energy, 0) <= 1000 * w.wl AS is_silence
FROM w LEFT JOIN e USING (doc_id, window_idx)
"""


def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-profile audio fingerprints
    (operators/multimodal.py::audio_fingerprint_stub): the payload as
    16-bit PCM, 32 equal windows, bit i set iff 32*E_i > sum(E) — the
    pHash mean-compare rule one level up (exact-integer window energies),
    the acoustid shape with the codec/chroma stage stubbed.
    `audio_pairs` consumes it through the shared pigeonhole hamming
    engine (unit-tested on constructed re-encodes; exact collisions are
    rare in a text-backed corpus)."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.audio_fingerprint_stub(payloads, n_windows=32)


def audio_fp_ctes(table: str) -> str:
    """THE audio-fingerprint oracle fragment over `table` (doc_id, text):
    the payload as little-endian 16-bit PCM in 32 equal windows of `wl`
    samples, exact-integer window energies, bit i set iff 32*E_i >
    sum(E).  `au_p` (doc_id, text, wl) lists every doc; `au_fp` (doc_id,
    ahash) only those with a non-empty window."""
    return f"""au_p AS (
  SELECT doc_id, text,
         (octet_length(CAST(text AS BLOB)) // 2) // 32 AS wl
  FROM {table}
),
au_w AS (
  SELECT doc_id, CAST(t.i AS INT) AS wi, wl, text
  FROM au_p, unnest(range(0, 32)) AS t(i)
  WHERE wl > 0
),
au_s AS (
  SELECT doc_id, wi,
         ascii(substr(text, CAST(2 * (wi * wl + t.j) + 1 AS INT), 1))
         + 256 * ascii(substr(text, CAST(2 * (wi * wl + t.j) + 2 AS INT), 1))
         AS v
  FROM au_w, unnest(range(0, wl)) AS t(j)
),
au_e AS (
  SELECT doc_id, wi,
         sum(CASE WHEN v >= 32768
                  THEN CAST(v - 65536 AS BIGINT) * (v - 65536)
                  ELSE CAST(v AS BIGINT) * v END) AS energy
  FROM au_s GROUP BY 1, 2
),
au_tot AS (SELECT doc_id, sum(energy) AS tot FROM au_e GROUP BY 1),
au_fp AS (
  SELECT au_e.doc_id,
         sum(CASE WHEN 32 * energy > tot THEN CAST(1 AS BIGINT) << wi
                  ELSE 0 END) AS ahash
  FROM au_e JOIN au_tot USING (doc_id) GROUP BY 1
)"""


MULTIMODAL_AUDIO_FP_SQL = f"""
WITH {audio_fp_ctes("documents")}
SELECT p.doc_id AS id, CAST(coalesce(fp.ahash, 0) AS BIGINT) AS ahash
FROM au_p p LEFT JOIN au_fp fp USING (doc_id)
"""


def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed audio metadata (operators/multimodal.py::audio_meta) — the
    audio twin of multimodal_meta: well-formed 16-bit PCM WAVs report
    their REAL sample rate / channels / frame count / duration from the
    RIFF header (`wav_fmt`); raw payloads take the documented stub view
    (mono @16 kHz, n_samples = n_bytes // 2).  duration_ms is
    exact-integer floor math, so the whole row is hash-exact.  The
    text-backed corpus is all-raw, which is exactly what the oracle
    replays declaratively."""
    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    return multimodal.audio_meta(payloads)


MULTIMODAL_AUDIO_META_SQL = """
SELECT doc_id AS id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CAST(16000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(octet_length(CAST(text AS BLOB)) // 2 AS BIGINT) AS n_samples,
       CAST(1000 * (octet_length(CAST(text AS BLOB)) // 2) // 16000 AS BIGINT)
         AS duration_ms,
       octet_length(CAST(text AS BLOB)) > 0 AS ok
FROM documents
"""


def multimodal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal (caption, media) pair alignment filtering — the
    CLIP-score keep gate of multimodal corpus curation (the LAION/
    DataComp shape), per round-12 VERDICT item 2: score every
    (caption, media) pair as the cosine between a text embedding and a
    media feature, gate on a keep threshold.  Both encoders are the
    documented stubs (`caption_features`: one codegen projection over
    the normalized caption; `feature_extract_stub`: the Arrow-batched
    byte kernel a real model forward pass swaps into), and the score
    is `cross_modal_align`'s exact-integer cosine (quantize onto the
    1/256 lattice, then sign(D) * D^2*1e6 div (A*B) with the keep rule
    D^2*400 >= 361*A*B, i.e. cosine >= 19/20) — no sqrt, no float
    division, hash-exact cross-engine.  Plan: two id-equi-joins + one
    projection; no data-sized shuffle beyond the joins."""
    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text")
    mf = multimodal.feature_extract_stub(pay)
    tf = multimodal.caption_features(docs, "doc_id", "text")
    src = docs.select(F.col("doc_id").alias("id"), "source")
    scored = multimodal.cross_modal_align(mf.join(tf, "id").join(src, "id"))
    return scored.select("id", "source", "align_q", "keep")


_ALIGN_CTE = """
WITH tf AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
  FROM documents
),
iv AS (
  SELECT d.doc_id, d.source,
    length(tf.nt) % 256 AS t0,
    CASE WHEN length(tf.nt) = 0 THEN 0 ELSE ascii(substr(tf.nt, 1, 1)) END AS t1,
    CASE WHEN length(tf.nt) = 0 THEN 0
         ELSE ascii(substr(tf.nt, length(tf.nt), 1)) END AS t2,
    (length(tf.nt) * 7) % 256 AS t3,
    octet_length(CAST(d.text AS BLOB)) % 256 AS m0,
    CASE WHEN length(d.text) = 0 THEN 0 ELSE ascii(substr(d.text, 1, 1)) END AS m1,
    CASE WHEN length(d.text) = 0 THEN 0
         ELSE ascii(substr(d.text, length(d.text), 1)) END AS m2,
    (octet_length(CAST(d.text AS BLOB)) * 7) % 256 AS m3
  FROM documents d JOIN tf ON tf.doc_id = d.doc_id
),
sc AS (
  SELECT doc_id, source,
    CAST(t0*m0 + t1*m1 + t2*m2 + t3*m3 AS BIGINT) AS dd,
    CAST(t0*t0 + t1*t1 + t2*t2 + t3*t3 AS BIGINT) AS a2,
    CAST(m0*m0 + m1*m1 + m2*m2 + m3*m3 AS BIGINT) AS b2
  FROM iv
),
aligned AS (
  SELECT doc_id AS id, source,
    CASE WHEN a2 > 0 AND b2 > 0
         THEN CAST(sign(dd) AS BIGINT) * ((dd*dd*1000000) // (a2*b2))
         ELSE CAST(0 AS BIGINT) END AS align_q,
    (dd > 0 AND a2 > 0 AND b2 > 0 AND dd*dd*400 >= 361*a2*b2) AS keep
  FROM sc
)
"""

MULTIMODAL_ALIGN_SQL = _ALIGN_CTE + """
SELECT id, source, align_q, keep FROM aligned
"""


def multimodal_align_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source alignment statistics over the cross-modal gate — the
    curation dashboard row: pair count, kept count, and the alignment-
    score spread (sum/min/max of align_q, all exact integers so the
    aggregate is hash-exact) per document source."""
    scored = multimodal_align(spark, sf_dir)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum("align_q").alias("sum_align_q"),
        F.min("align_q").alias("min_align_q"),
        F.max("align_q").alias("max_align_q"),
    )


MULTIMODAL_ALIGN_STATS_SQL = _ALIGN_CTE + """
SELECT source,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(align_q) AS BIGINT) AS sum_align_q,
       min(align_q) AS min_align_q,
       max(align_q) AS max_align_q
FROM aligned
GROUP BY source
"""


# List->table crossover for the retrieval centroid router: matches the
# SemanticIngestor default.  The sf0.01 oracle runs at kc = 4 (500 docs),
# far below — the list path, and therefore the committed oracle hash, is
# pinned regardless of this constant (see the kc guard in the query body).
RETRIEVAL_TABLE_THRESHOLD = 20000


def _retrieval_assignments(mf, tf, kc: int, table_threshold: int):
    """(media, caption) cluster assignments in one frozen media-drawn
    centroid space — list route below `table_threshold`, table-resident
    route past it.  Split out so tests can force both routes on the same
    corpus; equality is exact in the all-cells-probed regime (see the
    caller's docstring), approximate-by-design past it."""
    if kc > table_threshold:
        cdf = similarity.md5_init_centroids_df(mf, "id", "features", k=kc)
        am = similarity.kmeans_assign_table(
            mf, "id", "features", centroids_df=cdf
        ).select(F.col("id").alias("media_id"), "cluster")
        at = similarity.kmeans_assign_table(
            tf, "id", "t_features", centroids_df=cdf
        ).select(F.col("id").alias("caption_id"), "cluster")
        return am, at
    init = (
        mf.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(kc)
        .select("features")
        .collect()
    )
    cents = [list(r["features"]) for r in init]
    am = similarity.kmeans_assign_vectorized(
        mf, "id", "features", k=kc, centroids=cents
    ).select(F.col("id").alias("media_id"), "cluster")
    at = similarity.kmeans_assign_vectorized(
        tf, "id", "t_features", k=kc, centroids=cents
    ).select(F.col("id").alias("caption_id"), "cluster")
    return am, at


def multimodal_retrieval_topk(
    spark: SparkSession,
    sf_dir: str,
    table_threshold: int = RETRIEVAL_TABLE_THRESHOLD,
) -> DataFrame:
    """Cross-modal RETRIEVAL: for each caption, the top-3 best-aligned
    media across the whole corpus — the dataset-bootstrapping direction
    of the CLIP pipeline (text->image search over the media-feature
    space), complementing multimodal_align's per-pair gate.

    Candidate stage: media AND captions are assigned in the SAME frozen
    centroid space (centroids md5-drawn from the media features, the
    dedup_multimodal_cosine convention), so scoring is same-cluster only
    — cost sum(cluster_t x cluster_m), never |captions| x |media|.
    Scores are `cross_modal_align`'s exact-integer law; rank is (align_q
    desc, media_id) per caption, deterministic.  The approximation is
    WHICH candidates are scored (the IVF trade ann_topk_ivf pins); the
    math inside a cluster is exact, so the whole result hash-checks.

    Centroid routing follows the SemanticIngestor auto-switch (round-14,
    r13 VERDICT weak#2): below `table_threshold` the kc centroid rows
    collect to a list and assignment is the flat Arrow sweep
    (`kmeans_assign_vectorized`); past it the draw stays a DataFrame
    (`md5_init_centroids_df`) and BOTH sides assign through the
    table-resident router (`kmeans_assign_table`) — with SemDeDup's
    k ∝ n discipline a 100 TB corpus pushes kc past 10⁷, the regime the
    --ctable probe measured has no list form (multi-GB driver broadcast
    per assignment).  Same distance/tie law both paths (centroid-at-a-
    time accumulation, 6dp round before argmin, ties -> lowest cluster);
    the table route probes n_probe=2 coarse cells, so it is bit-equal to
    the flat sweep exactly when every cell is probed (n_coarse <=
    n_probe — the kc=4 regime the suite pins); past that the difference
    is WHICH same-cluster candidates are scored — the IVF approximation
    trade `ann_topk_ivf` pins and `SemanticIngestor`'s table mode
    documents — never the arithmetic.  The sf0.01 oracle runs the list
    path, so the committed hash is pinned regardless."""
    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text")
    mf = multimodal.feature_extract_stub(pay).localCheckpoint(eager=True)
    tf = multimodal.caption_features(docs, "doc_id", "text")
    kc = max(4, mf.count() // 125)
    am, at = _retrieval_assignments(mf, tf, kc, table_threshold)
    # quantize to SCALAR columns per side before the join: the array
    # form's higher-order lambdas are interpreted per row (~17 us/pair —
    # 13 s isolated at the sf0.1 765k-pair candidate stage); scalar
    # components computed once per side make the pair leg one
    # whole-stage-codegen projection (same integers, same law)
    tq = multimodal.quantized_feature_cols(
        tf, "t_features", "t", id_out="caption_id"
    ).join(at, "caption_id")
    mq = multimodal.quantized_feature_cols(
        mf, "features", "m", id_out="media_id"
    ).join(am, "media_id")
    d_col, align_q, _keep = multimodal.align_q_cols()
    scored = (
        tq.join(mq, "cluster")
        .withColumn("__align_d", d_col)
        .withColumn("align_q", align_q)
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("caption_id").orderBy(
            F.col("align_q").desc(), "media_id"
        )
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= 3)
        .select("caption_id", "media_id", "rank", "align_q")
    )


# The oracle's centroid count: kc = max(4, 500 // 125) = 4 at the sf0.01
# oracle scale.  The SQL below derives its init LIMIT from this constant
# (ADVICE r13: a hardcoded LIMIT 4 would silently hash-mismatch if the
# driver's oracle scale ever changed); tests pin that the Spark-side kc
# formula at the oracle dir equals this constant, so a scale change fails
# loudly in the suite instead of as a red driver row.
RETRIEVAL_ORACLE_KC = 4

# the init/assignment CTEs replay the md5-seeded frozen-centroid draw over
# the MEDIA features bit-for-bit (the DEDUP_MULTIMODAL_COSINE_SQL
# convention), then assign CAPTIONS in the same centroid space.
MULTIMODAL_RETRIEVAL_SQL = """
WITH fm AS (
  SELECT doc_id AS id,
         [ (octet_length(CAST(text AS BLOB)) % 256) / 256.0,
           ascii(substr(text, 1, 1)) / 256.0,
           ascii(substr(text, length(text), 1)) / 256.0,
           (octet_length(CAST(text AS BLOB)) * 7 % 256) / 256.0 ] AS v,
         CAST(octet_length(CAST(text AS BLOB)) % 256 AS BIGINT) AS m0,
         CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS m1,
         CAST(ascii(substr(text, length(text), 1)) AS BIGINT) AS m2,
         CAST(octet_length(CAST(text AS BLOB)) * 7 % 256 AS BIGINT) AS m3
  FROM documents
),
tn AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
  FROM documents
),
ft AS (
  SELECT doc_id AS id,
         [ (length(nt) % 256) / 256.0,
           CASE WHEN length(nt) = 0 THEN 0
                ELSE ascii(substr(nt, 1, 1)) END / 256.0,
           CASE WHEN length(nt) = 0 THEN 0
                ELSE ascii(substr(nt, length(nt), 1)) END / 256.0,
           (length(nt) * 7 % 256) / 256.0 ] AS v,
         CAST(length(nt) % 256 AS BIGINT) AS t0,
         CAST(CASE WHEN length(nt) = 0 THEN 0
                   ELSE ascii(substr(nt, 1, 1)) END AS BIGINT) AS t1,
         CAST(CASE WHEN length(nt) = 0 THEN 0
                   ELSE ascii(substr(nt, length(nt), 1)) END AS BIGINT) AS t2,
         CAST(length(nt) * 7 % 256 AS BIGINT) AS t3
  FROM tn
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
              AS INT) AS cluster,
         v AS cv
  FROM fm
  ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT __ORACLE_KC__
),
am AS (
  SELECT id AS media_id, cluster FROM (
    SELECT fm.id, init.cluster,
           row_number() OVER (
             PARTITION BY fm.id
             ORDER BY round(list_sum(list_transform(range(1, len(fm.v) + 1),
                     i -> (fm.v[i] - init.cv[i]) * (fm.v[i] - init.cv[i]))), 6),
                   init.cluster) AS rnk
    FROM fm CROSS JOIN init
  ) WHERE rnk = 1
),
at_ AS (
  SELECT id AS caption_id, cluster FROM (
    SELECT ft.id, init.cluster,
           row_number() OVER (
             PARTITION BY ft.id
             ORDER BY round(list_sum(list_transform(range(1, len(ft.v) + 1),
                     i -> (ft.v[i] - init.cv[i]) * (ft.v[i] - init.cv[i]))), 6),
                   init.cluster) AS rnk
    FROM ft CROSS JOIN init
  ) WHERE rnk = 1
),
sc AS (
  SELECT at_.caption_id, am.media_id,
         t.t0*m.m0 + t.t1*m.m1 + t.t2*m.m2 + t.t3*m.m3 AS dd,
         t.t0*t.t0 + t.t1*t.t1 + t.t2*t.t2 + t.t3*t.t3 AS a2,
         m.m0*m.m0 + m.m1*m.m1 + m.m2*m.m2 + m.m3*m.m3 AS b2
  FROM at_ JOIN am USING (cluster)
  JOIN ft t ON t.id = at_.caption_id
  JOIN fm m ON m.id = am.media_id
),
scored AS (
  SELECT caption_id, media_id,
         CASE WHEN a2 > 0 AND b2 > 0
              THEN CAST(sign(dd) AS BIGINT) * ((dd*dd*1000000) // (a2*b2))
              ELSE CAST(0 AS BIGINT) END AS align_q
  FROM sc
),
ranked AS (
  SELECT caption_id, media_id, align_q,
         row_number() OVER (PARTITION BY caption_id
                            ORDER BY align_q DESC, media_id) AS "rank"
  FROM scored
)
SELECT caption_id, media_id, CAST("rank" AS INT) AS rank, align_q
FROM ranked WHERE "rank" <= 3
""".replace("__ORACLE_KC__", str(RETRIEVAL_ORACLE_KC))


def stream_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retrieval through the REAL RetrievalIngestor
    (streaming/dedup.py::RetrievalIngestor — round-14, r13 VERDICT
    missing#1): per-caption top-3 best-aligned media MAINTAINED under
    media ingest, where the batch query recomputes the world.  Docs
    arrive in 3 micro-batches (doc_id % 3), each contributing both its
    media payload and its caption; the centroid space is FROZEN from the
    batch-0 media (the md5 draw the batch oracle replays), so later
    batches' media genuinely DISPLACE earlier top-k rows — leg 2's
    incremental re-rank touches only captions in the new media's
    clusters (cbucket dir pruning + cluster semi-join), merged with
    stored top-k under the heap-merge invariant
    top-k(top-k(old) ∪ new) = top-k(all).  `auto_compact_every=2` folds
    all three state dirs MID-STREAM (tiered default) and one batch is
    re-delivered and ledger-skipped; the final state must still equal
    the one-shot batch law over the full corpus — hash-equality against
    the declarative replay proves the incremental maintenance, the
    visibility rule, ledger idempotence, AND fold-neutrality at once."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import RetrievalIngestor

    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text")
    frame = pay.select("id", "payload").join(
        docs.select(
            F.col("doc_id").alias("id"), F.col("text").alias("caption")
        ),
        "id",
    )
    mf0 = multimodal.feature_extract_stub(
        pay.select("id", "payload").filter(F.col("id") % 3 == 0)
    )
    init = (
        mf0.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(RETRIEVAL_ORACLE_KC)
        .select("features")
        .collect()
    )
    if not init:  # empty corpus: no centroid space, nothing to ingest
        return spark.createDataFrame(
            [], "caption_id long, media_id long, rank int, align_q bigint"
        )
    cents = [list(r["features"]) for r in init]
    root = tempfile.mkdtemp(prefix="retr_ingest_")
    ing = RetrievalIngestor(
        spark,
        index_dir=f"{root}/index",
        caps_dir=f"{root}/caps",
        topk_dir=f"{root}/topk",
        ledger_dir=f"{root}/ledger",
        centroids=cents,
        id_col="id",
        auto_compact_every=2,
    )
    try:
        batches = [frame.filter(F.col("id") % 3 == b) for b in range(3)]
        for b, bdf in enumerate(batches):
            ing.process(bdf, b)
        ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip
        out = ing.retrieval_topk()
        if out is None:
            return spark.createDataFrame(
                [], "caption_id long, media_id long, rank int, align_q bigint"
            )
        return out.select(
            F.col("id").alias("caption_id"), "media_id", "rank", "align_q"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The maintained state equals the one-shot batch law over the full corpus
# in the FROZEN batch-0 centroid space (the heap-merge invariant — see
# RetrievalIngestor), so the replay is the batch retrieval SQL with the
# init draw restricted to the batch-0 slice.
STREAM_RETRIEVAL_SQL = MULTIMODAL_RETRIEVAL_SQL.replace(
    """  FROM fm
  ORDER BY md5(CAST(id AS VARCHAR)), id""",
    """  FROM fm
  WHERE id % 3 = 0
  ORDER BY md5(CAST(id AS VARCHAR)), id""",
    1,
)


# cosine thresholds whose tau^2 * 1e6 is an EXACT integer, so the sweep
# reduces to align_q >= cutoff with no float boundary: floor(x) >= n
# <=> x >= n for integer n, and align_q > 0 already encodes D > 0
ALIGN_SWEEP_TAUS = {
    "0.80": 640_000,
    "0.85": 722_500,
    "0.90": 810_000,
    "0.95": 902_500,
    "0.99": 980_100,
}


def multimodal_align_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate vs threshold sweep over the cross-modal alignment score
    — how a LAION/DataComp-style pipeline TUNES its CLIP-score cutoff:
    one scoring pass, then per-(source, tau) keep counts for a grid of
    thresholds whose tau^2*1e6 is exactly representable, so the whole
    sweep stays in align_q integer space (keep at tau <=> align_q >=
    tau^2*1e6, because floor(x) >= n <=> x >= n for integer n; D > 0 is
    align_q > 0).  One explode + one groupBy — the sweep costs one
    aggregate over |pairs| x |taus| rows, never a re-score."""
    scored = multimodal_align(spark, sf_dir)
    taus = F.array(
        *[
            F.struct(F.lit(t).alias("tau"), F.lit(q).alias("tau_q"))
            for t, q in ALIGN_SWEEP_TAUS.items()
        ]
    )
    return (
        scored.select("source", "align_q", F.explode(taus).alias("t"))
        .groupBy("source", F.col("t.tau").alias("tau"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("align_q") >= F.col("t.tau_q")).cast("long")
            ).alias("n_keep"),
        )
    )


MULTIMODAL_ALIGN_SWEEP_SQL = _ALIGN_CTE + """
, taus(tau, tau_q) AS (
  VALUES ('0.80', 640000), ('0.85', 722500), ('0.90', 810000),
         ('0.95', 902500), ('0.99', 980100)
)
SELECT source, tau,
       count(*) AS n_pairs,
       CAST(sum(CASE WHEN align_q >= tau_q THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep
FROM aligned CROSS JOIN taus
GROUP BY source, tau
"""


def _media_gate_chain(nd, docs):
    """Stages 4-6 of the media funnels — silence gate, frame-diversity
    gate, cross-modal alignment gate — over the checkpointed near-dup
    survivors `nd`.  THE shared definition for `media_funnel` and
    `stream_media_funnel` (their gates were verbatim copies).

    Each gate is a pure PER-DOC predicate, so its drop/keep id-set
    computed over nd (a superset of its chain position's input) yields
    the identical survivor chain — extra ids never match the anti/semi
    joins.  That makes the three gate computations mutually independent:
    they run concurrently off the one checkpointed nd, and the three
    survivor checkpoints (each derived from nd + the id-sets alone)
    overlap too (§2.6, round-15; sequential before, the chain paid six
    serialized actions for three one-or-two-partition jobs).

    Returns (loud, varied, aligned), each eagerly checkpointed:
      loud    = nd − silent
      varied  = nd − silent − static      (== loud − static)
      aligned = (nd − silent − static) ⋉ aligned-keep (== varied ⋉ keep)
    """
    from flume_spark.operators.concurrency import overlap

    def _sil_ids():
        return (
            multimodal.audio_energy_stub(nd, n_windows=8)
            .groupBy("id")
            .agg(F.sum(F.col("is_silence").cast("int")).alias("n_sil"))
            .filter(F.col("n_sil") >= 4)
            .select("id")
            .localCheckpoint(eager=True)
        )

    def _static_ids():
        return (
            multimodal.frame_phash(nd, n_frames=4, bits=32)
            .groupBy("id")
            .agg(F.count_distinct("fhash").alias("n_distinct"))
            .filter(F.col("n_distinct") < 2)
            .select("id")
            .localCheckpoint(eager=True)
        )

    def _keep_ids():
        # the CLIP-score shape — caption embedding vs media feature
        # cosine >= 19/20 in the exact-integer lattice
        # (cross_modal_align); a pure per-payload stateless gate
        mfeat = multimodal.feature_extract_stub(nd)
        tfeat = multimodal.caption_features(docs, "doc_id", "text")
        return (
            multimodal.cross_modal_align(mfeat.join(tfeat, "id"))
            .filter(F.col("keep"))
            .select("id")
            .localCheckpoint(eager=True)
        )

    sil, static, keep = overlap(_sil_ids, _static_ids, _keep_ids)
    loud_f = nd.join(sil, "id", "left_anti")
    varied_f = loud_f.join(static, "id", "left_anti")
    aligned_f = varied_f.join(keep, "id", "left_semi")
    return overlap(
        lambda: loud_f.localCheckpoint(eager=True),
        lambda: varied_f.localCheckpoint(eager=True),
        lambda: aligned_f.localCheckpoint(eager=True),
    )


def _media_funnel_report(pay, sized, nd, loud, varied, aligned) -> DataFrame:
    """Both media funnels' per-stage (stage_ord, stage, n_docs, n_bytes)."""

    def stage(df, ordinal, name):
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_bytes"), F.lit(0)).cast("long").alias("n_bytes"),
        ).select(
            F.lit(ordinal).alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_bytes",
        )

    return (
        stage(pay, 1, "input")
        .unionByName(stage(sized, 2, "size_gate"))
        .unionByName(stage(nd, 3, "phash_dedup"))
        .unionByName(stage(loud, 4, "silence_gate"))
        .unionByName(stage(varied, 5, "frame_diversity"))
        .unionByName(stage(aligned, 6, "align_gate"))
    )


def media_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MEDIA curation funnel — the media twin of
    `corpus_funnel`, composed from the modality operators this round
    completed: (1) input, (2) size gate (payloads under 64 bytes are
    torn/undecodable media), (3) perceptual near-dup drop (a doc with a
    LOWER-id pHash neighbor within hamming 3 is dropped — the
    keep-lowest form of multimodal_phash's pairing), (4) audio silence
    gate (drop when >= 4 of the 8 PCM windows are silent), (5) frame
    diversity gate (drop 'static videos': < 2 distinct keyframe-window
    fingerprints).  Per-stage (stage_ord, stage, n_docs, n_bytes) —
    each stage checkpointed before the report aggregates (the
    funnel_report staging discipline).  Every stage is the already-
    oracled modality operator, so the whole funnel hash-checks."""
    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )

    sized = pay.filter(F.col("n_bytes") >= 64).localCheckpoint(eager=True)

    pairs = multimodal.phash_pairs(sized, bits=32, max_hamming=3, blocks=4)
    dup_ids = pairs.select(F.col("doc_b").alias("id")).distinct()
    nd = sized.join(dup_ids, "id", "left_anti").localCheckpoint(eager=True)

    loud, varied, aligned = _media_gate_chain(nd, docs)

    return _media_funnel_report(pay, sized, nd, loud, varied, aligned)


def media_gate_ctes(nd: str) -> str:
    """THE SQL twin of `_media_gate_chain` over the near-dup survivors
    `nd` (doc_id, n_bytes), reading payloads from `documents`: silence
    gate `loud` (< 4 of 8 PCM windows silent), frame-diversity gate
    `varied` (>= 2 distinct keyframe-window pHashes) and cross-modal
    alignment gate `alf` (caption-vs-media cosine >= 19/20 in the
    exact-integer lattice).  `loud`, `varied` and the caller's `nd` are
    AS MATERIALIZED: each feeds a later gate and the report, and DuckDB
    re-plans an inlined CTE at every reference (the media funnels needed
    over 1 GB and ~3 s for 500 docs without it)."""
    return f"""aw AS (
  SELECT nd.doc_id, CAST(t.i AS INT) AS wi,
         (octet_length(CAST(d.text AS BLOB)) // 2) // 8 AS wl, d.text
  FROM {nd} nd JOIN documents d USING (doc_id), unnest(range(0, 8)) AS t(i)
),
av AS (
  SELECT doc_id, wi, wl,
         ascii(substr(text, CAST(2 * (wi * wl + t.j) + 1 AS INT), 1))
         + 256 * ascii(substr(text, CAST(2 * (wi * wl + t.j) + 2 AS INT), 1))
         AS v
  FROM aw, unnest(range(0, wl)) AS t(j)
),
ae AS (
  SELECT doc_id, wi,
         sum(CASE WHEN v >= 32768
                  THEN CAST(v - 65536 AS BIGINT) * (v - 65536)
                  ELSE CAST(v AS BIGINT) * v END) AS energy
  FROM av GROUP BY 1, 2
),
asil AS (
  SELECT aw.doc_id,
         sum(CASE WHEN coalesce(ae.energy, 0) <= 1000 * aw.wl
                  THEN 1 ELSE 0 END) AS n_sil
  FROM aw LEFT JOIN ae USING (doc_id, wi)
  GROUP BY 1
),
loud AS MATERIALIZED (
  SELECT nd.doc_id, nd.n_bytes FROM {nd} nd JOIN asil USING (doc_id)
  WHERE n_sil < 4
),
loudt AS (SELECT l.doc_id, d.text FROM loud l JOIN documents d USING (doc_id)),
{frame_phash_ctes("loudt")},
varied AS MATERIALIZED (
  SELECT l.doc_id, l.n_bytes FROM loud l JOIN (
    SELECT doc_id, count(DISTINCT fhash) AS nd_ FROM fall GROUP BY 1
  ) v USING (doc_id)
  WHERE v.nd_ >= 2
),
tfa AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
  FROM documents
),
ai AS (
  SELECT v.doc_id, v.n_bytes,
    length(tfa.nt) % 256 AS t0,
    CASE WHEN length(tfa.nt) = 0 THEN 0 ELSE ascii(substr(tfa.nt, 1, 1)) END AS t1,
    CASE WHEN length(tfa.nt) = 0 THEN 0
         ELSE ascii(substr(tfa.nt, length(tfa.nt), 1)) END AS t2,
    (length(tfa.nt) * 7) % 256 AS t3,
    octet_length(CAST(d.text AS BLOB)) % 256 AS m0,
    CASE WHEN length(d.text) = 0 THEN 0 ELSE ascii(substr(d.text, 1, 1)) END AS m1,
    CASE WHEN length(d.text) = 0 THEN 0
         ELSE ascii(substr(d.text, length(d.text), 1)) END AS m2,
    (octet_length(CAST(d.text AS BLOB)) * 7) % 256 AS m3
  FROM varied v JOIN documents d USING (doc_id) JOIN tfa USING (doc_id)
),
alf AS (
  SELECT doc_id, n_bytes FROM (
    SELECT doc_id, n_bytes,
      CAST(t0*m0 + t1*m1 + t2*m2 + t3*m3 AS BIGINT) AS dd,
      CAST(t0*t0 + t1*t1 + t2*t2 + t3*t3 AS BIGINT) AS a2,
      CAST(m0*m0 + m1*m1 + m2*m2 + m3*m3 AS BIGINT) AS b2
    FROM ai
  ) WHERE dd > 0 AND a2 > 0 AND b2 > 0 AND dd*dd*400 >= 361*a2*b2
)"""


# the per-stage report both media-funnel oracles end with, over their
# pay / sized / nd stages and the media_gate_ctes survivors
_MEDIA_FUNNEL_REPORT = """
SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
       CAST(coalesce(sum(n_bytes), 0) AS BIGINT) AS n_bytes FROM pay
UNION ALL
SELECT 2, 'size_gate', count(*), CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM sized
UNION ALL
SELECT 3, 'phash_dedup', count(*), CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM nd
UNION ALL
SELECT 4, 'silence_gate', count(*), CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM loud
UNION ALL
SELECT 5, 'frame_diversity', count(*), CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM varied
UNION ALL
SELECT 6, 'align_gate', count(*), CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM alf
"""

MEDIA_FUNNEL_SQL = f"""
WITH {phash_ctes("documents")},
pay AS (
  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents
),
sized AS (SELECT doc_id, n_bytes FROM pay WHERE n_bytes >= 64),
nd AS MATERIALIZED (
  SELECT s.doc_id, s.n_bytes
  FROM sized s JOIN ph_fp j USING (doc_id)
  WHERE NOT EXISTS (
    SELECT 1 FROM sized s2 JOIN ph_fp a ON a.doc_id = s2.doc_id
    WHERE a.doc_id < j.doc_id
      AND bit_count(xor(a.phash, j.phash)) <= 3
  )
),
{media_gate_ctes("nd")}{_MEDIA_FUNNEL_REPORT}"""


def stream_media_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEDIA curation funnel run STREAMING — the media twin of
    `stream_corpus_funnel` (round-11 verdict item 7): size gate ->
    perceptual near-dup through the REAL PhashIngestor -> audio silence
    gate -> frame diversity gate, with sized payloads arriving in 3
    micro-batches (doc_id % 3) and one batch re-delivered through the
    ledger-guarded entrypoint (must be skipped).

    Streaming semantics: only the near-dup stage is stateful — a doc is
    dropped iff a SENIOR sized payload ((batch, id) order, the
    PhashIngestor keep rule) is within hamming 3 of its fingerprint, the
    verdict pinned at its own ingest.  The size/silence/diversity gates
    are pure per-payload functions (identical in batch and stream) and
    run over the survivors.  The one semantic difference from the batch
    `media_funnel` is the near-dup seniority axis: (batch, id) instead
    of global id — quantified for the text twin by `funnel_divergence`.
    Per-stage (stage_ord, stage, n_docs, n_bytes); the oracle replays
    the whole funnel declaratively under the same batch-prefix
    seniority, so hash-equality proves at-ingest marking, the stateless
    gates, AND ledger idempotence end-to-end."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import PhashIngestor

    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )
    sized = pay.filter(F.col("n_bytes") >= 64).localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="media_funnel_ingest_")
    ing = PhashIngestor(
        spark,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
        id_col="id",
        bits=32,
        max_hamming=3,
        blocks=4,
    )
    try:
        batches = [sized.filter(F.col("id") % 3 == b) for b in range(3)]
        for b, bdf in enumerate(batches):
            ing.process(bdf, b)
        ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip
        marks = ing.dup_marks()
        # marks is None only when nothing was ingested (sized is empty) —
        # the near-dup stage is then vacuously the identity
        nd = (
            sized.join(
                marks.filter(~F.col("is_dup")).select("id"), "id", "left_semi"
            )
            if marks is not None
            else sized
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    loud, varied, aligned = _media_gate_chain(nd, docs)

    return _media_funnel_report(pay, sized, nd, loud, varied, aligned)


STREAM_MEDIA_FUNNEL_SQL = f"""
WITH {phash_ctes("documents")},
pay AS (
  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents
),
sized AS (SELECT doc_id, n_bytes FROM pay WHERE n_bytes >= 64),
ndf AS (
  SELECT s.doc_id, s.doc_id % 3 AS b, f.phash, s.n_bytes
  FROM sized s JOIN ph_fp f USING (doc_id)
),
nd AS MATERIALIZED (
  SELECT j.doc_id, j.n_bytes FROM ndf j
  WHERE NOT EXISTS (
    SELECT 1 FROM ndf a
    WHERE ((a.b < j.b) OR (a.b = j.b AND a.doc_id < j.doc_id))
      AND bit_count(xor(a.phash, j.phash)) <= 3
  )
),
{media_gate_ctes("nd")}{_MEDIA_FUNNEL_REPORT}"""


def stream_align_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cross-modal alignment through the REAL AlignIngestor
    (streaming/dedup.py::AlignIngestor — round-13 VERDICT item 6): media
    and captions are decoupled, each caption referencing its media by
    key (media_ref = (id div 2)*2, the even-anchor pairing — ~half the
    odd captions reference media from an EARLIER batch, a deterministic
    mix of matched and not-yet-arrived).  Docs arrive in 3 micro-batches
    (doc_id % 3); each batch's media features are appended to the
    kbucket-partitioned feature index and its captions are scored
    against the visible prefix via an exact media-key equi-join (never a
    similarity scan); `auto_compact_every=2` folds the index MID-STREAM
    so batch 2 probes the compacted base; one batch is re-delivered and
    must be ledger-skipped.  Verdicts are pinned at ingest: a caption
    whose media has not arrived is unmatched forever (the at-ingest
    convention).  The oracle replays caption/media stub features, the
    batch-prefix visibility rule, and the exact-integer alignment law
    declaratively — hash-equality proves scoring, visibility, ledger
    idempotence, AND fold-neutrality end-to-end."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import AlignIngestor

    docs = T(spark, sf_dir, "documents")
    pay = multimodal.to_binary_payload(docs, "doc_id", "text")
    frame = (
        pay.select("id", "payload")
        .join(
            docs.select(
                F.col("doc_id").alias("id"), F.col("text").alias("caption")
            ),
            "id",
        )
        .withColumn("media_ref", F.expr("(id div 2) * 2"))
    )
    root = tempfile.mkdtemp(prefix="align_ingest_")
    ing = AlignIngestor(
        spark,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
        id_col="id",
        auto_compact_every=2,
    )
    try:
        batches = [frame.filter(F.col("id") % 3 == b) for b in range(3)]
        for b, bdf in enumerate(batches):
            ing.process(bdf, b)
        ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip
        marks = ing.align_marks()
        if marks is None:  # empty corpus: nothing ingested
            return spark.createDataFrame(
                [],
                "doc_id long, media_ref long, matched boolean, "
                "align_q bigint, keep boolean",
            )
        return marks.select(
            F.col("id").alias("doc_id"),
            "media_ref",
            "matched",
            "align_q",
            "keep",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_ALIGN_SQL = """
WITH tf AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
  FROM documents
),
cap AS (
  SELECT d.doc_id, (d.doc_id // 2) * 2 AS media_ref,
    CAST(length(tf.nt) % 256 AS BIGINT) AS t0,
    CAST(CASE WHEN length(tf.nt) = 0 THEN 0
              ELSE ascii(substr(tf.nt, 1, 1)) END AS BIGINT) AS t1,
    CAST(CASE WHEN length(tf.nt) = 0 THEN 0
              ELSE ascii(substr(tf.nt, length(tf.nt), 1)) END AS BIGINT) AS t2,
    CAST((length(tf.nt) * 7) % 256 AS BIGINT) AS t3
  FROM documents d JOIN tf USING (doc_id)
),
med AS (
  SELECT doc_id AS media_id, doc_id % 3 AS mb,
    CAST(octet_length(CAST(text AS BLOB)) % 256 AS BIGINT) AS m0,
    CAST(CASE WHEN length(text) = 0 THEN 0
              ELSE ascii(substr(text, 1, 1)) END AS BIGINT) AS m1,
    CAST(CASE WHEN length(text) = 0 THEN 0
              ELSE ascii(substr(text, length(text), 1)) END AS BIGINT) AS m2,
    CAST((octet_length(CAST(text AS BLOB)) * 7) % 256 AS BIGINT) AS m3
  FROM documents
),
j AS (
  SELECT c.doc_id, c.media_ref, c.t0, c.t1, c.t2, c.t3,
         m.media_id, m.m0, m.m1, m.m2, m.m3
  FROM cap c LEFT JOIN med m
    ON m.media_id = c.media_ref AND m.mb <= c.doc_id % 3
),
sc AS (
  SELECT doc_id, media_ref, media_id,
    t0*m0 + t1*m1 + t2*m2 + t3*m3 AS dd,
    t0*t0 + t1*t1 + t2*t2 + t3*t3 AS a2,
    m0*m0 + m1*m1 + m2*m2 + m3*m3 AS b2
  FROM j
)
SELECT doc_id, media_ref,
  media_id IS NOT NULL AS matched,
  CASE WHEN media_id IS NOT NULL AND a2 > 0 AND b2 > 0
       THEN CAST(sign(dd) AS BIGINT) * ((dd*dd*1000000) // (a2*b2))
       ELSE CAST(0 AS BIGINT) END AS align_q,
  coalesce(media_id IS NOT NULL AND dd > 0 AND a2 > 0 AND b2 > 0
           AND dd*dd*400 >= 361*a2*b2, false) AS keep
FROM sc
"""


def stream_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MEDIA near-dup through the REAL streaming ingestor
    (streaming/dedup.py::PhashIngestor): payloads arrive in 3
    micro-batches (doc_id % 3); each batch is perceptually fingerprinted
    and marked against the persisted fingerprint index via the pigeonhole
    block join (batch-prefix seniority: dup_of = min earlier-batch or
    lower-same-batch id within hamming 3), then appended.  One batch is
    re-delivered through the ledger-guarded entrypoint and must be
    skipped.  The oracle replays the keep rule declaratively as all-pairs
    hamming under the same seniority — with blocks > max_hamming the
    pigeonhole guarantee makes the two EXACTLY equal, so hash-equality
    proves fingerprints, blocking recall, seniority, and ledger
    idempotence at once."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import PhashIngestor

    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    root = tempfile.mkdtemp(prefix="phash_ingest_")
    ing = PhashIngestor(
        spark,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
        id_col="id",
        bits=32,
        max_hamming=3,
        blocks=4,
    )
    batches = [payloads.filter(F.col("id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        ing.process(bdf, b)
    ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip it
    out = (
        ing.dup_marks()
        .select(F.col("id").alias("doc_id"), "phash", "dup_of", "is_dup")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


STREAM_PHASH_SQL = f"""
WITH {phash_ctes("documents")},
f AS (SELECT doc_id, doc_id % 3 AS b, phash FROM ph_fp),
dups AS (
  SELECT j.doc_id, min(s.doc_id) AS dup_of
  FROM f j JOIN f s
    ON ((s.b < j.b) OR (s.b = j.b AND s.doc_id < j.doc_id))
   AND bit_count(xor(s.phash, j.phash)) <= 3
  GROUP BY 1
)
SELECT f.doc_id, CAST(f.phash AS BIGINT) AS phash, d.dup_of,
       d.dup_of IS NOT NULL AS is_dup
FROM f LEFT JOIN dups d USING (doc_id)
"""


def stream_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AUDIO near-dup through the SAME streaming ingestor as
    stream_phash_dedup — PhashIngestor is generic over the fingerprint,
    so plugging `audio_fingerprint_stub` (32 window energies, the
    pHash mean-compare rule one level up) re-uses the band-bucketed
    index, pigeonhole probe, batch-prefix seniority, and ledger with
    zero new machinery (round-11 verdict item 6).  Payloads arrive in 3
    micro-batches (doc_id % 3); one batch is re-delivered and must be
    ledger-skipped; `auto_compact_every=2` folds the index MID-STREAM
    (after batch 1), so the final batch probes the compacted base —
    hash-equality therefore also proves the fold changes no verdict.
    The oracle replays all-pairs hamming over the audio fingerprints
    under the same seniority; pigeonhole makes the two exactly equal."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import PhashIngestor

    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    root = tempfile.mkdtemp(prefix="audio_ingest_")

    def audio_fp(pay):
        return multimodal.audio_fingerprint_stub(pay, n_windows=32).select(
            "id", F.col("ahash").alias("phash")
        )

    ing = PhashIngestor(
        spark,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
        id_col="id",
        bits=32,
        max_hamming=3,
        blocks=4,
        fingerprint=audio_fp,
        auto_compact_every=2,
    )
    try:
        batches = [payloads.filter(F.col("id") % 3 == b) for b in range(3)]
        for b, bdf in enumerate(batches):
            ing.process(bdf, b)
        ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip
        marks = ing.dup_marks()
        if marks is None:  # empty corpus: nothing ingested
            return spark.createDataFrame(
                [], "doc_id long, ahash bigint, dup_of long, is_dup boolean"
            )
        return marks.select(
            F.col("id").alias("doc_id"),
            F.col("phash").alias("ahash"),
            "dup_of",
            "is_dup",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_AUDIO_SQL = f"""
WITH {audio_fp_ctes("documents")},
f AS (
  SELECT p.doc_id, p.doc_id % 3 AS b,
         CAST(coalesce(fp.ahash, 0) AS BIGINT) AS ahash
  FROM au_p p LEFT JOIN au_fp fp USING (doc_id)
),
dups AS (
  SELECT j.doc_id, min(s.doc_id) AS dup_of
  FROM f j JOIN f s
    ON ((s.b < j.b) OR (s.b = j.b AND s.doc_id < j.doc_id))
   AND bit_count(xor(s.ahash, j.ahash)) <= 3
  GROUP BY 1
)
SELECT f.doc_id, f.ahash, d.dup_of, d.dup_of IS NOT NULL AS is_dup
FROM f LEFT JOIN dups d USING (doc_id)
"""


def stream_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIDEO near-dup by frame containment through the REAL
    streaming ingestor (streaming/dedup.py::FrameIngestor — the
    exact-join twin of PhashIngestor): payloads arrive in 3 micro-batches
    (doc_id % 3); each batch's keyframe-window fingerprints
    (multimodal.frame_phash) probe the persisted frame index via an
    EXACT equi-join on the frame hash (reading only touched
    fband = fhash % buckets directories), and a doc is marked duplicate
    iff >= 2 of its frame positions carry a hash appearing among one
    SENIOR doc's frames (batch-prefix seniority; dup_of = min such
    senior).  One batch is re-delivered and must be ledger-skipped;
    `auto_compact_every=2` folds the index MID-STREAM, so hash-equality
    also proves the fold changes no verdict.  min_shared=2 (not the
    operator's default 3) because real text-backed frames collide
    rarely — 2 exercises the positive path at oracle scale.  The oracle
    replays the containment rule declaratively; the equi-join is exact
    (no banding approximation), so the two are equal by construction."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import FrameIngestor

    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    root = tempfile.mkdtemp(prefix="frame_ingest_")
    ing = FrameIngestor(
        spark,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
        id_col="id",
        n_frames=4,
        bits=32,
        min_shared=2,
        auto_compact_every=2,
    )
    try:
        batches = [payloads.filter(F.col("id") % 3 == b) for b in range(3)]
        for b, bdf in enumerate(batches):
            ing.process(bdf, b)
        ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip
        marks = ing.dup_marks()
        if marks is None:  # empty corpus: nothing ingested
            return spark.createDataFrame(
                [], "doc_id long, dup_of long, is_dup boolean"
            )
        return marks.select(
            F.col("id").alias("doc_id"), "dup_of", "is_dup"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_FRAME_SQL = f"""
WITH {frame_phash_ctes("documents")},
jb AS (SELECT doc_id, doc_id % 3 AS b, frame_idx, fhash FROM fall),
sb AS (SELECT DISTINCT doc_id, doc_id % 3 AS b, fhash FROM fall),
cand AS (
  SELECT j.doc_id, s.doc_id AS senior,
         count(DISTINCT j.frame_idx) AS n_matched
  FROM jb j JOIN sb s
    ON s.fhash = j.fhash
   AND ((s.b < j.b) OR (s.b = j.b AND s.doc_id < j.doc_id))
  GROUP BY 1, 2
  HAVING count(DISTINCT j.frame_idx) >= 2
),
dups AS (SELECT doc_id, min(senior) AS dup_of FROM cand GROUP BY 1),
docs_ AS (SELECT DISTINCT doc_id FROM fall)
SELECT d.doc_id, u.dup_of, u.dup_of IS NOT NULL AS is_dup
FROM docs_ d LEFT JOIN dups u USING (doc_id)
"""


def text_classifier_train_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch perceptron over the HASHING-TRICK bucket space
    (operators/text.py::classifier_train_hashed) — the feature space the
    streaming PerceptronIngestor learns in, trained batch-style for 2
    iterations (label = lang='en').  All-integer, so both unrolled
    iterations are cross-engine hash-exact over the 64-bucket spine."""
    docs = T(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    return text.classifier_train_hashed(
        docs, "doc_id", "text", "y", n_buckets=64, iters=2
    )


TEXT_CLASSIFIER_HASHED_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ('0x' || substr(md5('flume-hash:' || tok), 1, 8))::BIGINT % 64 AS bucket
  FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  )
),
tf AS (SELECT doc_id, y, bucket, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
bk AS (SELECT unnest(range(0, 64)) AS bucket),
-- iteration 1 from w = 0: every err is y
d1 AS (SELECT bucket, sum(tf * y) AS d FROM tf GROUP BY 1),
w1 AS (SELECT bk.bucket, coalesce(d1.d, 0) AS w FROM bk LEFT JOIN d1 USING (bucket)),
z2 AS (
  SELECT tf.doc_id, y, sum(tf.tf * w1.w) AS z
  FROM tf JOIN w1 USING (bucket) GROUP BY 1, 2
),
e2 AS (SELECT doc_id, y - (CASE WHEN z > 0 THEN 1 ELSE 0 END) AS err FROM z2),
d2 AS (SELECT bucket, sum(tf.tf * e2.err) AS d
       FROM tf JOIN e2 USING (doc_id) GROUP BY 1),
w2 AS (SELECT w1.bucket, w1.w + coalesce(d2.d, 0) AS w
       FROM w1 LEFT JOIN d2 USING (bucket))
SELECT bucket, CAST(w AS BIGINT) AS w_int FROM w2
"""


def text_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing
    (operators/text.py::lm_quality_buckets over lm_perplexity scores):
    exact terciles via one deterministic ntile(3) window ordered by
    (ppl, doc_id) — the oracle-able form; the cuts=(c1,c2) broadcast arm
    is the 100 TB path."""
    docs = T(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    scored = text.lm_perplexity(docs, "doc_id", "text", ref_df=ref)
    return text.lm_quality_buckets(scored)


TEXT_LM_BUCKETS_SQL = f"""
WITH scored AS ({TEXT_LM_PERPLEXITY_SQL})
SELECT doc_id, ppl,
       CAST(ntile(3) OVER (ORDER BY ppl, doc_id) AS INT) AS bucket,
       CASE ntile(3) OVER (ORDER BY ppl, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS label
FROM scored
"""


def corpus_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered token-budget packing — the easy-to-hard
    assembly step of curriculum training, composed from oracled stages:
    (1) LM perplexity terciles (text_lm_buckets' CCNet head/middle/tail
    law — deterministic ntile over (ppl, doc_id)), (2) REAL BPE counts
    (bpe_token_count), (3) `pack_by_counts(order_cols=[bucket, id])`:
    within each shard, docs pack in ascending difficulty, so packs are
    bucket-monotone — pack p's hardest doc is never harder than pack
    p+1's easiest.  Per-(shard, pack) report carries b_min/b_max, the
    columns that make the monotonicity hash-checkable."""
    docs = T(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 4 == 0)
    scored = text.lm_perplexity(docs, "doc_id", "text", ref_df=ref)
    buckets = text.lm_quality_buckets(scored).select("doc_id", "bucket")
    counted = text.bpe_token_count(docs, "doc_id", "text", text.EN_MERGES_DEMO)
    staged = counted.join(buckets, "doc_id")
    packed = text.pack_by_counts(
        staged,
        "doc_id",
        "n_bpe_tokens",
        budget=256,
        shards=8,
        order_cols=["bucket", "doc_id"],
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("bucket").alias("b_min"),
        F.max("bucket").alias("b_max"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def _curriculum_pack_sql() -> str:
    bpe = text.bpe_replace_sql("text", text.EN_MERGES_DEMO)
    return f"""
WITH scored AS ({TEXT_LM_PERPLEXITY_SQL}),
b AS (
  SELECT doc_id,
         CAST(ntile(3) OVER (ORDER BY ppl, doc_id) AS INT) AS bucket
  FROM scored
),
staged AS (
  SELECT d.doc_id, CAST(d.doc_id % 8 AS INT) AS shard, b.bucket,
         CAST({bpe} AS BIGINT) AS n_tokens
  FROM documents d JOIN b USING (doc_id)
),
cum AS (
  SELECT doc_id, shard, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY bucket, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
)
SELECT shard, CAST(floor((cum_tokens - n_tokens) / 256.0) AS INT) AS pack_id,
       count(*) AS n_docs,
       min(bucket) AS b_min,
       max(bucket) AS b_max,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cum GROUP BY 1, 2
"""


CORPUS_CURRICULUM_PACK_SQL = _curriculum_pack_sql()


def stream_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE LM quality filtering through the REAL streaming ingestor
    (streaming/lm.py::LmIngestor): documents arrive in 3 micro-batches
    (doc_id % 3); each batch is scored against the add-1 bigram counts
    accumulated from STRICTLY EARLIER batches (at-ingest verdicts — the
    generative sibling of stream_classifier_train's discriminative
    updates), then its counts append.  Batch 0 has no evidence and scores
    lp_int = 0 / ppl = 1 by definition.  One batch is re-delivered
    through the ledger-guarded entrypoint and must be skipped.  The
    exact-integer scoring makes every verdict hash-exact against the
    oracle's unrolled batch-prefix CTEs."""
    import shutil
    import tempfile

    from flume_spark.streaming.lm import LmIngestor

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="lm_ingest_")
    ing = LmIngestor(
        spark,
        state_dir=f"{root}/state",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
    )
    batches = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        ing.process(bdf, b)
    ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip it
    out = ing.marks().localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


STREAM_LM_PERPLEXITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 3 AS b,
         regexp_split_to_array(lower(trim(text)), '\s+') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, b, pr[1] AS w1, pr[2] AS w2 FROM (
    SELECT doc_id, b, unnest(list_zip(arr, arr[2:])) AS pr FROM toks
  ) WHERE pr[2] IS NOT NULL
),
tf AS (SELECT b, doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3, 4),
big1 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE b < 1 GROUP BY 1, 2),
ctx1 AS (SELECT w1, sum(c12) AS c1 FROM big1 GROUP BY 1),
v1 AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest(arr) AS tok FROM toks WHERE b < 1
  )
),
sc1 AS (
  SELECT tf.doc_id,
         sum(tf.tf * CAST(round(ln(
               (coalesce(big1.c12, 0) + 1)
               / CAST(coalesce(ctx1.c1, 0) + v1.v AS DOUBLE)
             ) * 1000000) AS BIGINT)) AS lp_int
  FROM tf
  LEFT JOIN big1 USING (w1, w2)
  LEFT JOIN ctx1 USING (w1)
  CROSS JOIN v1
  WHERE tf.b = 1
  GROUP BY 1
),
big2 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE b < 2 GROUP BY 1, 2),
ctx2 AS (SELECT w1, sum(c12) AS c1 FROM big2 GROUP BY 1),
v2 AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest(arr) AS tok FROM toks WHERE b < 2
  )
),
sc2 AS (
  SELECT tf.doc_id,
         sum(tf.tf * CAST(round(ln(
               (coalesce(big2.c12, 0) + 1)
               / CAST(coalesce(ctx2.c1, 0) + v2.v AS DOUBLE)
             ) * 1000000) AS BIGINT)) AS lp_int
  FROM tf
  LEFT JOIN big2 USING (w1, w2)
  LEFT JOIN ctx2 USING (w1)
  CROSS JOIN v2
  WHERE tf.b = 2
  GROUP BY 1
),
base AS (
  SELECT doc_id, doc_id % 3 AS b, greatest(len(arr) - 1, 0) AS n_bigrams
  FROM toks
),
lp AS (
  SELECT base.doc_id, base.n_bigrams,
         CASE WHEN base.b = 0 THEN 0
              WHEN base.b = 1 THEN coalesce(sc1.lp_int, 0)
              ELSE coalesce(sc2.lp_int, 0) END AS lp_int
  FROM base
  LEFT JOIN sc1 ON base.doc_id = sc1.doc_id
  LEFT JOIN sc2 ON base.doc_id = sc2.doc_id
)
SELECT doc_id, n_bigrams, CAST(lp_int AS BIGINT) AS lp_int,
       round(exp(-lp_int / (1000000.0 * greatest(n_bigrams, 1))), 6) AS ppl
FROM lp
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,
    "dedup_containment": dedup_containment,
    "dedup_prefix_filter": dedup_prefix_filter,
    "dedup_prefix_incremental": dedup_prefix_incremental,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_lsh_verified": dedup_lsh_verified,
    "dedup_simhash": dedup_simhash,
    "dedup_components": dedup_components,
    "curation_pipeline": curation_pipeline,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_ivf": ann_topk_ivf,
    "lsh_buckets": lsh_buckets,
    "lsh_label_purity": lsh_label_purity,
    "embedding_centroids": embedding_centroids,
    "embedding_kmeans": embedding_kmeans,
    "kmeans_assign": kmeans_assign,
    "sample_stratified": sample_stratified,
    "sample_weighted": sample_weighted,
    "mixture_weights": mixture_weights_q,
    "source_cap": source_cap_q,
    "text_normalize": text_normalize,
    "pack_sequences": pack_sequences_q,
    "pack_bpe_budget": pack_bpe_budget,
    "corpus_split_leakage_safe": corpus_split_leakage_safe,
    "text_pii_scrub": text_pii_scrub,
    "text_subword_tokens": text_subword_tokens,
    "text_bpe_tokens": text_bpe_tokens,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "multimodal_resize": multimodal_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_feature_extract": multimodal_feature_extract,
    "text_token_count": text_token_count,
    "text_tfidf_topk": text_tfidf_topk,
    "text_decontaminate": text_decontaminate,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_classifier_score": text_classifier_score,
    "text_classifier_train": text_classifier_train,
    "text_classifier_eval": text_classifier_eval,
    "stream_classifier_train": stream_classifier_train,
    "text_lm_perplexity": text_lm_perplexity,
    "text_lm_backoff": text_lm_backoff,
    "text_lm_buckets": text_lm_buckets,
    "text_classifier_train_hashed": text_classifier_train_hashed,
    "multimodal_phash": multimodal_phash,
    "multimodal_frame_phash": multimodal_frame_phash,
    "multimodal_audio_energy": multimodal_audio_energy,
    "multimodal_audio_fingerprint": multimodal_audio_fingerprint,
    "multimodal_audio_meta": multimodal_audio_meta,
    "multimodal_align": multimodal_align,
    "stream_align_ingest": stream_align_ingest,
    "corpus_mixture_pack": corpus_mixture_pack,
    "corpus_curriculum_pack": corpus_curriculum_pack,
    "multimodal_align_stats": multimodal_align_stats,
    "multimodal_align_sweep": multimodal_align_sweep,
    "multimodal_retrieval_topk": multimodal_retrieval_topk,
    "media_funnel": media_funnel,
    "stream_phash_dedup": stream_phash_dedup,
    "stream_audio_dedup": stream_audio_dedup,
    "stream_media_funnel": stream_media_funnel,
    "stream_frame_dedup": stream_frame_dedup,
    "stream_lm_perplexity": stream_lm_perplexity,
    "stream_retrieval_topk": stream_retrieval_topk,
    "corpus_training_run": corpus_training_run,
    "multimodal_meta": multimodal_meta,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_ngram_jaccard_capped": DEDUP_NGRAM_CAPPED_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_prefix_filter": DEDUP_PREFIX_FILTER_SQL,
    "dedup_prefix_incremental": DEDUP_PREFIX_INCR_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_lsh_verified": DEDUP_LSH_VERIFIED_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "curation_pipeline": CURATION_SQL,
    "dedup_embedding_cosine": DEDUP_COSINE_SQL,
    "ann_topk_bruteforce": ANN_TOPK_SQL,
    # ann_topk_lsh: no oracle (approximate by design)
    "ann_topk_ivf": ANN_IVF_SQL,
    "lsh_buckets": LSH_BUCKETS_SQL,
    "lsh_label_purity": LSH_LABEL_PURITY_SQL,
    "embedding_centroids": EMBEDDING_CENTROIDS_SQL,
    "kmeans_assign": KMEANS_ASSIGN_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_weighted": SAMPLE_WEIGHTED_SQL,
    "mixture_weights": MIXTURE_WEIGHTS_SQL,
    "source_cap": SOURCE_CAP_SQL,
    "text_normalize": TEXT_NORMALIZE_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "pack_bpe_budget": PACK_BPE_SQL,
    "corpus_split_leakage_safe": CORPUS_SPLIT_SAFE_SQL,
    "text_pii_scrub": TEXT_PII_SQL,
    "text_subword_tokens": TEXT_SUBWORD_SQL,
    "text_bpe_tokens": TEXT_BPE_SQL,
    "text_rolling_fingerprint": TEXT_ROLLING_SQL,
    "multimodal_resize": MULTIMODAL_RESIZE_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAME_SQL,
    "multimodal_feature_extract": MULTIMODAL_FEATURE_SQL,
    "text_token_count": TEXT_TOKEN_SQL,
    "text_tfidf_topk": TEXT_TFIDF_SQL,
    "text_decontaminate": TEXT_DECONTAMINATE_SQL,
    "text_quality_score": TEXT_QUALITY_SQL,
    "text_lang_id": TEXT_LANG_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_classifier_score": TEXT_CLASSIFIER_SQL,
    "text_classifier_train": TEXT_CLASSIFIER_TRAIN_SQL,
    "text_classifier_eval": TEXT_CLASSIFIER_EVAL_SQL,
    "stream_classifier_train": STREAM_CLASSIFIER_TRAIN_SQL,
    "text_lm_perplexity": TEXT_LM_PERPLEXITY_SQL,
    "text_lm_backoff": TEXT_LM_BACKOFF_SQL,
    "text_lm_buckets": TEXT_LM_BUCKETS_SQL,
    "text_classifier_train_hashed": TEXT_CLASSIFIER_HASHED_SQL,
    "multimodal_phash": MULTIMODAL_PHASH_SQL,
    "multimodal_frame_phash": MULTIMODAL_FRAME_PHASH_SQL,
    "multimodal_audio_energy": MULTIMODAL_AUDIO_SQL,
    "multimodal_audio_fingerprint": MULTIMODAL_AUDIO_FP_SQL,
    "multimodal_audio_meta": MULTIMODAL_AUDIO_META_SQL,
    "multimodal_align": MULTIMODAL_ALIGN_SQL,
    "stream_align_ingest": STREAM_ALIGN_SQL,
    "corpus_mixture_pack": CORPUS_MIXTURE_PACK_SQL,
    "corpus_curriculum_pack": CORPUS_CURRICULUM_PACK_SQL,
    "multimodal_align_stats": MULTIMODAL_ALIGN_STATS_SQL,
    "multimodal_align_sweep": MULTIMODAL_ALIGN_SWEEP_SQL,
    "multimodal_retrieval_topk": MULTIMODAL_RETRIEVAL_SQL,
    "media_funnel": MEDIA_FUNNEL_SQL,
    "stream_phash_dedup": STREAM_PHASH_SQL,
    "stream_audio_dedup": STREAM_AUDIO_SQL,
    "stream_media_funnel": STREAM_MEDIA_FUNNEL_SQL,
    "stream_frame_dedup": STREAM_FRAME_SQL,
    "stream_lm_perplexity": STREAM_LM_PERPLEXITY_SQL,
    "stream_retrieval_topk": STREAM_RETRIEVAL_SQL,
    "corpus_training_run": CORPUS_TRAINING_RUN_SQL,
    "multimodal_meta": MULTIMODAL_META_SQL,
}
