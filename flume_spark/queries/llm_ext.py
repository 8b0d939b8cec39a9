"""Round-3 LLM-pipeline query surface: chunking, repetition, vocabulary,
BM25 retrieval scoring, canonical selection, int8 quantization, cosine
range search.  All declared per SURVEY.md §7 phase 3; oracles in DuckDB.

Scale stance mirrors the rest of the suite: map-only codegen where possible,
one bounded shuffle otherwise, broadcast for scalar corpus stats; exact
brute-force ops are labelled correctness baselines with the bucketed path
named in their operator docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_spark.operators import dedup, similarity, text
from flume_spark.queries._util import T

# ---------------------------------------------------------------------------
# Sliding-window chunking (RAG prep)
# ---------------------------------------------------------------------------


def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.chunk_sliding(docs, "doc_id", "text", size=32, stride=24)


TEXT_CHUNK_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
),
n AS (
  SELECT doc_id, words, len(words) AS nt,
         CASE WHEN len(words) <= 32 THEN 1
              ELSE (len(words) - 32 + 24 - 1) // 24 + 1 END AS n_chunks
  FROM w
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       len(list_slice(words, i * 24 + 1, least(i * 24 + 32, nt))) AS n_chunk_tokens,
       array_to_string(list_slice(words, i * 24 + 1, least(i * 24 + 32, nt)), ' ')
         AS chunk_text
FROM n, unnest(range(0, n_chunks)) AS t(i)
"""


# ---------------------------------------------------------------------------
# Repetition ratio (quality signal)
# ---------------------------------------------------------------------------


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.repetition_ratio(docs, "doc_id", "text")


TEXT_REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
),
bi AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(words), 1)),
                        i -> words[i] || ' ' || words[i + 1]) AS bigrams
  FROM w
)
SELECT doc_id,
       len(bigrams)                 AS n_bigrams,
       len(list_distinct(bigrams))  AS n_distinct_bigrams,
       CASE WHEN len(bigrams) > 0
            THEN round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                             / len(bigrams), 6)
            ELSE 0.0 END            AS dup_ratio
FROM bi
"""


# ---------------------------------------------------------------------------
# Corpus vocabulary top-k
# ---------------------------------------------------------------------------


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.vocab_topk(docs, "text", k=50)


VOCAB_TOPK_SQL = r"""
SELECT word, count(*) AS freq
FROM (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents
)
GROUP BY 1
ORDER BY freq DESC, word
LIMIT 50
"""


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (rational idf — see operators/text.py::bm25_topk)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "scan"]


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.bm25_topk(docs, "doc_id", "text", terms=_BM25_TERMS, k=20)


TEXT_BM25_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS words,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS dl
  FROM documents
),
tfs AS (
  SELECT doc_id, dl,
         len(list_filter(words, w -> w = 'spark')) AS tf0,
         len(list_filter(words, w -> w = 'join'))  AS tf1,
         len(list_filter(words, w -> w = 'scan'))  AS tf2
  FROM base
),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM tfs
)
SELECT doc_id, dl AS doc_len,
       round(
         (n_docs - df0 + 0.5) / (df0 + 0.5)
           * (CAST(tf0 AS DOUBLE) * 2.2)
           / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
       + (n_docs - df1 + 0.5) / (df1 + 0.5)
           * (CAST(tf1 AS DOUBLE) * 2.2)
           / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
       + (n_docs - df2 + 0.5) / (df2 + 0.5)
           * (CAST(tf2 AS DOUBLE) * 2.2)
           / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
       , 6) AS bm25
FROM tfs, stats
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Canonical selection over prefix-dup clusters
# ---------------------------------------------------------------------------


def dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality proxy = n_chars (longest copy wins, ties -> lowest doc_id)."""
    docs = T(spark, sf_dir, "documents")
    return dedup.canonical_best(
        docs, "doc_id", "text", F.col("n_chars").cast("double"), prefix_tokens=16
    )


DEDUP_CANONICAL_SQL = r"""
WITH scored AS (
  SELECT md5(array_to_string(
           list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 1, 16),
           ' ')) AS cluster_hash,
         doc_id AS id,
         CAST(n_chars AS DOUBLE) AS q
  FROM documents
),
ranked AS (
  SELECT cluster_hash, id, q,
         row_number() OVER (PARTITION BY cluster_hash ORDER BY q DESC, id)
           AS rn
  FROM scored
)
SELECT r.cluster_hash,
       r.id           AS keep_id,
       s.n_members,
       s.best_quality
FROM ranked r
JOIN (
  SELECT cluster_hash, count(*) AS n_members, round(max(q), 6) AS best_quality
  FROM scored GROUP BY 1
) s USING (cluster_hash)
WHERE r.rn = 1
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb)


EMBEDDING_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
  FROM e
)
SELECT vec_id,
       round(scale, 6) AS scale,
       array_to_string(
         list_transform(v, x -> CAST(floor(
           x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
             * 127.0 + 0.5) AS INT)),
         ',') AS q_csv
FROM s
"""


# ---------------------------------------------------------------------------
# Cosine range search (radius query)
# ---------------------------------------------------------------------------


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return similarity.range_search(emb, F.col("vec_id") < 10, threshold=0.35)


ANN_RANGE_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))),
               6) AS cosine
  FROM e q JOIN e n ON n.vec_id != q.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= 0.35
"""


def ann_range_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-cell SCALE path for radius search: candidates come from
    an equi-join on the IVF cell (label), so shuffle is bounded by cell
    sizes instead of |Q|·|N| — `ann_range_search` above stays the
    broadcast-Q correctness baseline.  The oracle computes the identical
    same-cell semantics exactly, so this query hash-checks the cell-join
    math; the recall-vs-exhaustive trade is the operator's documented
    contract (similarity.range_search_cells), not a divergence."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.range_search_cells(
        emb, F.col("vec_id") < 25, threshold=0.3
    )


ANN_RANGE_CELLS_SQL = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))),
               6) AS cosine
  FROM e q JOIN e n ON q.label = n.label AND n.vec_id != q.vec_id
  WHERE q.vec_id < 25
)
SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= 0.3
"""


# ---------------------------------------------------------------------------
# int8-quantized ANN top-k (exact integer scoring — no float fold at all)
# ---------------------------------------------------------------------------


def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return similarity.int8_topk(emb, F.col("vec_id") < 15, k=5)


ANN_INT8_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, y -> abs(y)), 'max') AS scale
  FROM e
),
qz AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CAST(floor(
           x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)
             * 127.0 + 0.5) AS BIGINT)) AS code
  FROM s
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(CAST(CAST(list_dot_product(CAST(q.code AS DOUBLE[]),
                                          CAST(n.code AS DOUBLE[])) AS BIGINT)
                    AS DOUBLE)
               * q.scale * n.scale / (127.0 * 127.0), 6) AS score
  FROM qz q JOIN qz n ON n.vec_id != q.vec_id
  WHERE q.vec_id < 15
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
           AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank", score FROM ranked WHERE "rank" <= 5
"""


_PQ_CB_MEMO: dict = {}


def _pq_index_memo(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """Per-(session, sf_dir) trained PQ index memo: (codebooks, codes) —
    the production shape: codebooks are trained and every vector ENCODED
    once at ingest (the codes table IS the persisted index, the whole
    point of PQ), and every query (plain ADC and IVF-PQ share one index
    here) reuses both.  Same memo discipline as analytics._EDGE_MEMO:
    keyed by applicationId so a stopped session's checkpoint is never
    returned; testdata is immutable per the driver contract, so
    staleness cannot arise."""
    import os as _os

    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    got = _PQ_CB_MEMO.get(key)
    if got is not None:
        return got
    cb = similarity.pq_codebooks(
        emb, m=8, dim=64, sign_bits=8, refine_rounds=1
    ).localCheckpoint(eager=True)
    # The persisted index carries each vector's coarse IVF cell (label)
    # alongside its codes — attached ONCE here at encode time, so IVF-PQ
    # queries never join codes back to the vectors table (pq_adc_topk
    # detects the column and skips its cells join).  One narrow equi-join
    # at index build, zero at query time.
    codes = (
        similarity.pq_encode(emb, cb, m=8, dim=64)
        .join(emb.select("vec_id", "label"), "vec_id")
        .localCheckpoint(eager=True)
    )
    for stale in [k for k in _PQ_CB_MEMO if k[0] != key[0]]:
        del _PQ_CB_MEMO[stale]
    _PQ_CB_MEMO[key] = (cb, codes)
    return cb, codes


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (similarity.pq_adc_topk): int8
    codes split into 8 subspaces, deterministic sign-seeded codebooks
    refined by ONE exact-integer Lloyd round, query scored as a
    lookup-table sum over the (sub, code) join — the memory-bound ANN
    shape (m bytes per vector instead of 4·dim).  Every distance, mean,
    and tie-break is integer arithmetic, so training AND search
    hash-check against the SQL replay below (which unrolls the same
    Lloyd round with MATERIALIZED CTEs).  The (codebooks, codes) index
    comes from the per-session memo (built once, shared with
    ann_topk_ivfpq — the train-and-encode-at-ingest production shape).
    Recall-floor vs exact-int-L2 is pinned separately in
    tests/test_round7_ops."""
    emb = T(spark, sf_dir, "embeddings")
    cb, codes = _pq_index_memo(spark, sf_dir, emb)
    return similarity.pq_adc_topk(
        emb, F.col("vec_id") < 2, k=10, m=8, dim=64, sign_bits=8,
        refine_rounds=1, codebooks=cb, codes=codes,
    )


def ann_pq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ reconstruction error — the drift signal a quantized
    index monitors in production: err2 = sum over the m subspaces of the
    exact-integer squared distance to the chosen codebook centroid.  The
    codes table already stores each subspace argmin's distance (it IS the
    index), so the monitor is ONE aggregate over index metadata — the
    vectors are never re-scanned.  Rising batch means signal distribution
    drift away from the training corpus; the operator response is a
    codebook retrain + re-encode epoch (the same roll discipline
    SemanticIngestor ships for its centroid table).  PqIngestor exposes
    the same aggregate per ingest batch (`drift_stats`)."""
    emb = T(spark, sf_dir, "embeddings")
    _, codes = _pq_index_memo(spark, sf_dir, emb)
    return codes.groupBy("vec_id").agg(
        F.sum("dist").cast("long").alias("err2")
    )


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full production ANN composition — the coarse
    inverted-file cell (the label, like ann_topk_ivf) prunes the
    candidate set BEFORE any distance work, PQ ADC ranks what's left
    (same exact-integer pipeline as ann_topk_pq).  The oracle replays
    everything including the cell restriction, so the hash pins that the
    pruning touches membership only, never the arithmetic."""
    emb = T(spark, sf_dir, "embeddings")
    cb, codes = _pq_index_memo(spark, sf_dir, emb)
    return similarity.pq_adc_topk(
        emb, F.col("vec_id") < 4, k=10, m=8, dim=64, sign_bits=8,
        refine_rounds=1, cell_col="label", codebooks=cb, codes=codes,
    )


def _ann_pq_sql(
    m: int = 8,
    dim: int = 64,
    sign_bits: int = 8,
    refine_rounds: int = 1,
    k: int = 10,
    q_pred: str = "vec_id < 2",
    ivf_cells: bool = False,
    drift: bool = False,
) -> str:
    """SQL replay of the full PQ pipeline.  AS MATERIALIZED is
    load-bearing (the kcore lesson): each round's CTEs are referenced
    multiple times and DuckDB inlines CTEs by default."""
    sd = dim // m
    bits = min(sign_bits, sd)
    gk = " + ".join(
        f"(CASE WHEN sc[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sd + 1}), "
            f"i -> CAST({a}[i] - {b}[i] AS BIGINT) * ({a}[i] - {b}[i])))"
        )

    mean_c = "CAST((2 * sum(sc[i] + 127) + count(*)) // (2 * count(*)) AS BIGINT) - 127"
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        "AS v FROM embeddings)",
        "s AS MATERIALIZED (SELECT vec_id, v, list_aggregate("
        "list_transform(v, y -> abs(y)), 'max') AS scale FROM e)",
        """qz AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CAST(floor(
    x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) * 127.0 + 0.5)
    AS BIGINT)) AS code
  FROM s
)""",
        f"""subs AS MATERIALIZED (
  SELECT vec_id, t.sub,
         code[t.sub * {sd} + 1 : t.sub * {sd} + {sd}] AS sc
  FROM qz, unnest(range(0, {m})) t(sub)
)""",
        f"a0 AS MATERIALIZED (SELECT vec_id, sub, sc, ({gk}) AS code FROM subs)",
        f"""cb0p AS MATERIALIZED (
  SELECT sub, code, i AS pos, {mean_c} AS c
  FROM a0, unnest(range(1, {sd + 1})) t(i) GROUP BY sub, code, i
)""",
        "cb0 AS MATERIALIZED (SELECT sub, code, list(c ORDER BY pos) "
        "AS centroid FROM cb0p GROUP BY 1, 2)",
    ]
    for r in range(1, refine_rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT a.vec_id, a.sub, cb.code, {dist("a.sc", "cb.centroid")} AS dist
  FROM subs a JOIN cb{r - 1} cb ON a.sub = cb.sub
)"""
        )
        parts.append(
            f"""a{r} AS MATERIALIZED (
  SELECT x.vec_id, x.sub, su.sc, x.code
  FROM (SELECT vec_id, sub, code, row_number() OVER
          (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        FROM d{r}) x
  JOIN subs su ON x.vec_id = su.vec_id AND x.sub = su.sub
  WHERE x.rn = 1
)"""
        )
        parts.append(
            f"""cb{r}p AS MATERIALIZED (
  SELECT sub, code, i AS pos, {mean_c} AS c
  FROM a{r}, unnest(range(1, {sd + 1})) t(i) GROUP BY sub, code, i
)"""
        )
        parts.append(
            f"cb{r} AS MATERIALIZED (SELECT sub, code, list(c ORDER BY pos) "
            f"AS centroid FROM cb{r}p GROUP BY 1, 2)"
        )
    fin = f"cb{refine_rounds}"
    if drift:
        # reconstruction-error replay: the chosen (rn=1) centroid's exact
        # integer distance per subspace, summed per vector
        parts.append(
            f"""encd AS MATERIALIZED (
  SELECT vec_id, dist FROM (
    SELECT a.vec_id, a.sub, {dist("a.sc", "cb.centroid")} AS dist,
           row_number() OVER
      (PARTITION BY a.vec_id, a.sub
       ORDER BY {dist("a.sc", "cb.centroid")}, cb.code) AS rn
    FROM subs a JOIN {fin} cb ON a.sub = cb.sub
  ) WHERE rn = 1
)"""
        )
        return (
            ",\n".join(parts)
            + """
SELECT vec_id, CAST(sum(dist) AS BIGINT) AS err2 FROM encd GROUP BY vec_id
"""
        )
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT vec_id, sub, code FROM (
    SELECT a.vec_id, a.sub, cb.code, row_number() OVER
      (PARTITION BY a.vec_id, a.sub
       ORDER BY {dist("a.sc", "cb.centroid")}, cb.code) AS rn
    FROM subs a JOIN {fin} cb ON a.sub = cb.sub
  ) WHERE rn = 1
)"""
    )
    parts.append(
        f"""lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, q.sub, cb.code,
         {dist("q.sc", "cb.centroid")} AS qdist
  FROM subs q JOIN {fin} cb ON q.sub = cb.sub
  WHERE q.{q_pred}
)"""
    )
    cell_join = cell_pred = ""
    if ivf_cells:
        parts.append(
            "cells AS MATERIALIZED (SELECT vec_id, label FROM embeddings)"
        )
        cell_join = (
            "\n  JOIN cells cn ON n.vec_id = cn.vec_id"
            "\n  JOIN cells cq ON l.query_id = cq.vec_id"
        )
        cell_pred = " AND cn.label = cq.label"
    parts.append(
        f"""scored AS MATERIALIZED (
  SELECT l.query_id, n.vec_id AS neighbor_id,
         CAST(sum(l.qdist) AS BIGINT) AS adc_dist
  FROM enc n JOIN lut l ON n.sub = l.sub AND n.code = l.code{cell_join}
  WHERE n.vec_id != l.query_id{cell_pred}
  GROUP BY 1, 2
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, "rank", adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist, row_number() OVER
    (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS "rank"
  FROM scored
) WHERE "rank" <= {k}
"""
    )


ANN_PQ_SQL = _ann_pq_sql()
ANN_IVFPQ_SQL = _ann_pq_sql(q_pred="vec_id < 4", ivf_cells=True)
ANN_PQ_DRIFT_SQL = _ann_pq_sql(drift=True)


# ---------------------------------------------------------------------------
# Token-commonness score (rarity signal for quality filtering)
# ---------------------------------------------------------------------------


def text_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus document-frequency of each doc's distinct tokens — low
    values mean rare vocabulary (OCR noise, code, non-language), a cheap
    perplexity proxy with no model.

    Scale: explode distinct tokens (bounded by doc length), one groupBy on
    token for the df table (vocab-sized — broadcasts), one groupBy back on
    doc_id.  Exact bigint sums; the mean is a SINGLE unrounded division of
    two ints, bit-identical across engines (rounding could flip a half
    boundary — see verify-skill gotchas)."""
    docs = T(spark, sf_dir, "documents")
    from flume_spark.operators.text import tokens_col

    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    per_doc = toks.join(F.broadcast(dfreq), "token").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum("df").alias("df_sum"),
    )
    return per_doc.select(
        "doc_id",
        "n_distinct_tokens",
        "df_sum",
        (F.col("df_sum").cast("double") / F.col("n_distinct_tokens")).alias("mean_df"),
    )


def text_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty per source: what share of each source's 2-shingles
    appear NOWHERE else in the corpus (df == 1)?  The complement of
    text_commonness — high novelty means genuinely fresh text, near-zero
    means the source is template/boilerplate-heavy and a dedup pass will
    collapse it.  A real mixture-weighting signal (upweight novel
    sources) that costs two shuffles: shingle df (vocab-sized agg,
    map-side combinable) and the per-source rollup.  novelty is ONE
    division of exact ints — bit-identical cross-engine."""
    from flume_spark.operators.dedup import word_shingles

    docs = T(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", 2)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(F.broadcast(dfreq), "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count(F.when(F.col("df") == 1, 1)).alias("n_unique"),
        )
    )
    return (
        per_doc.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("shingles"),
            F.sum("n_unique").alias("unique_shingles"),
        )
        .withColumn(
            "novelty",
            F.col("unique_shingles").cast("double") / F.col("shingles"),
        )
    )


TEXT_NOVELTY_SQL = r"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source, shingle FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(1, len(words)),
                  i -> words[i] || ' ' || words[i+1])) AS shingle
    FROM w
  )
),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       CAST(count(*) AS BIGINT) AS shingles,
       CAST(count(CASE WHEN df = 1 THEN 1 END) AS BIGINT)
         AS unique_shingles,
       CAST(count(CASE WHEN df = 1 THEN 1 END) AS DOUBLE) / count(*)
         AS novelty
FROM sh JOIN dfreq USING (shingle)
GROUP BY source
"""


TEXT_COMMONNESS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
           AS token
  FROM documents
),
dfreq AS (SELECT token, count(*) AS df FROM toks GROUP BY 1)
SELECT doc_id,
       count(*)                        AS n_distinct_tokens,
       CAST(sum(df) AS BIGINT)         AS df_sum,
       CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
FROM toks JOIN dfreq USING (token)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Passage-level dedup (scalable substring-dedup analog)
# ---------------------------------------------------------------------------


def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return dedup.passage_dedup_stats(docs, "doc_id", "text", chunk_tokens=16)


DEDUP_PASSAGE_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
),
n AS (
  SELECT doc_id, words, len(words) AS nt,
         CASE WHEN len(words) <= 16 THEN 1
              ELSE (len(words) - 16 + 16 - 1) // 16 + 1 END AS n_chunks
  FROM w
),
chunks AS (
  SELECT doc_id AS id,
         md5(array_to_string(
           list_slice(words, i * 16 + 1, least(i * 16 + 16, nt)), ' ')) AS h
  FROM n, unnest(range(0, n_chunks)) AS t(i)
),
per_hash AS (
  SELECT h, count(*) AS n_docs_with_chunk
  FROM (SELECT DISTINCT id, h FROM chunks) GROUP BY 1
)
SELECT id,
       count(*)                                              AS n_chunks,
       CAST(sum(CASE WHEN n_docs_with_chunk >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(sum(CASE WHEN n_docs_with_chunk >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*)                                          AS shared_ratio
FROM chunks JOIN per_hash USING (h)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Incremental-ingest near-dup candidates (new batch vs persisted LSH index)
# ---------------------------------------------------------------------------

# reuse llm_ops' minhash/band SQL fragments so a tuning change there cannot
# silently desynchronize this oracle from the batch oracles (same guard the
# shared _LSH_VERIFY_CTES provide)
from flume_spark.queries.llm_ops import _BANDS as _INC_BANDS  # noqa: E402
from flume_spark.queries.llm_ops import _MH as _INC_MH  # noqa: E402


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New batch = doc_id % 3 == 0; history = the rest.  Candidates link
    new docs to history or to each other; history x history is never
    probed — the per-ingest cost a production pipeline actually pays."""
    docs = T(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    # (round-14 A/B: pre-banding the batch behind an eager
    # localCheckpoint was measured and REVERTED — 2.88 -> 3.53 s, jobs
    # 8 -> 10 at sf0.1: the banded subplan ends in the signature
    # aggregate's exchange, which stage reuse already shares across the
    # join legs.  Contrast dedup_substring_incremental, whose window
    # explode has no terminal exchange and DOES win from staging.)
    return dedup.incremental_lsh_candidates(
        history, new, "doc_id", "text", shingle_n=2, num_hashes=16, bands=4
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
                  i -> words[i] || ' ' || words[i+1])) AS shingle
    FROM w
  )
),
sig AS (
  SELECT doc_id,
         {_INC_MH}
  FROM sh GROUP BY doc_id
),
bands AS (
{_INC_BANDS}
)
SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_match
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id % 3 = 0
  AND (b.doc_id % 3 != 0 OR a.doc_id < b.doc_id)
"""


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (export-side global permutation)
# ---------------------------------------------------------------------------


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return text.corpus_shuffle(docs, "doc_id", seed="flume", buckets=1024)


CORPUS_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5('flume:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT doc_id,
       -- order-preserving prefix bucket: top 10 bits of the leading 32
       CAST(CAST('0x' || substring(shuffle_key, 1, 8) AS BIGINT) >> 22 AS INT)
         AS shuffle_bucket,
       shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS INT)
         AS shuffle_rank
FROM keyed
"""


# ---------------------------------------------------------------------------
# Corpus length histogram (log2 buckets — the standard curation diagnostic)
# ---------------------------------------------------------------------------


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length distribution in power-of-two buckets: bucket = number of
    binary digits of the token count (floor(log2)+1) — computed as
    length(bin(n)), EXACT integer string math in both engines, no
    transcendental log.  One map stage + a ~30-group agg; the first chart
    anyone draws over a new corpus."""
    docs = T(spark, sf_dir, "documents")
    from flume_spark.operators.text import tokens_col

    n = F.size(tokens_col("text"))
    per_doc = docs.select(n.alias("n_tokens"))
    return (
        per_doc.groupBy(F.length(F.bin("n_tokens")).cast("int").alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


TEXT_LENGTH_HIST_SQL = r"""
WITH t AS (
  SELECT len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
)
SELECT CAST(length(bin(n_tokens)) AS INT) AS log2_bucket,
       count(*)       AS n_docs,
       min(n_tokens)  AS min_tokens,
       max(n_tokens)  AS max_tokens
FROM t GROUP BY 1
"""


def ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (similarity.ivf_multiprobe_topk, probes=2):
    each query searches its TWO nearest cells by centroid distance — the
    standard IVF recall knob, still an equi-join on the cell key.  Every
    stage is deterministic (rounded-6dp centroid avgs, rounded dist2 cell
    ranking with cell-id tie-break, rounded cosine), so the full
    multi-probe pipeline is hash-checkable end to end — unlike
    ann_topk_lsh, whose bucket recall is sampled."""
    emb = T(spark, sf_dir, "embeddings")
    return similarity.ivf_multiprobe_topk(
        emb, F.col("vec_id") < 15, k=3, probes=2
    )


ANN_MULTIPROBE_SQL = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
byp AS (
  SELECT label, CAST(i AS INT) AS pos, round(avg(v[i]), 6) AS cavg
  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2
),
cent AS (
  SELECT label AS cell, list(cavg ORDER BY pos) AS cvec FROM byp GROUP BY 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 15),
ranked_cells AS (
  SELECT query_id, cell, qv,
         row_number() OVER (PARTITION BY query_id ORDER BY
           round(list_sum(list_transform(range(1, len(qv) + 1),
                 i -> (qv[i] - cvec[i]) * (qv[i] - cvec[i]))), 6),
           cell) AS cr
  FROM q CROSS JOIN cent
),
probed AS (SELECT query_id, cell, qv FROM ranked_cells WHERE cr <= 2),
scored AS (
  SELECT p.query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, n.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS cosine
  FROM probed p JOIN e n ON n.label = p.cell AND n.vec_id != p.query_id
),
rk AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS "rank"
  FROM scored
)
SELECT query_id, neighbor_id, "rank", cosine FROM rk WHERE "rank" <= 3
"""


def embedding_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimensionality reduction: keep the first 16 dims
    and L2-renormalize — the standard cheap-ANN trade for MRL-trained
    embeddings (search the truncated prefix, re-rank on the full vector).
    Map-only, zero shuffle; components are serialized as fixed-point
    integer micro-units (floor(x/norm * 1e6 + 0.5) — the explicit half-up
    rule quantize_int8 uses) so the CSV value is engine-independent:
    double→string formatting differs across engines, integers don't.
    IEEE sqrt is exactly rounded, so the norm is bit-identical both
    sides; a zero-norm prefix divides by NULL (nullif) → 'null' cells."""
    emb = T(spark, sf_dir, "embeddings")
    prefix = F.expr(
        "transform(slice(embedding, 1, 16), x -> cast(x as double))"
    )
    tmp = emb.select(F.col("vec_id"), prefix.alias("_p"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_p"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    tmp = tmp.select("vec_id", "_p", norm.alias("_n"))
    micro = F.transform(
        F.col("_p"),
        lambda x: F.floor(
            x / F.nullif(F.col("_n"), F.lit(0.0)) * 1_000_000.0 + 0.5
        ).cast("long"),
    )
    return tmp.select(
        "vec_id",
        F.round("_n", 6).alias("prefix_norm"),
        F.array_join(
            F.transform(micro, lambda c: c.cast("string")), ",", "null"
        ).alias("t_csv"),
    )


EMBEDDING_TRUNCATE_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS p
  FROM embeddings
),
n AS (
  SELECT vec_id, p, sqrt(list_dot_product(p, p)) AS pn FROM e
)
SELECT vec_id,
       round(pn, 6) AS prefix_norm,
       array_to_string(
         list_transform(p, x -> coalesce(CAST(CAST(floor(
           x / nullif(pn, 0.0) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR),
           'null')),
         ',') AS t_csv
FROM n
"""


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (text.train_val_test_split,
    80/10/10): membership is a pure function of (seed, doc_id) — stable
    across runs, engines, and corpus growth, unlike fraction-based random
    splits.  Integer boundary compares (hash scaled by 2^32) so no float
    boundary can flip a doc's split cross-engine.  Map-only."""
    docs = T(spark, sf_dir, "documents")
    return text.train_val_test_split(docs, "doc_id").select(
        "doc_id", "split_draw", "split"
    )


CORPUS_SPLIT_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(
           md5('flume:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS BIGINT) AS split_draw
  FROM documents
)
SELECT doc_id, split_draw,
       CASE WHEN split_draw < {int(0.1 * (1 << 32))} THEN 'test'
            WHEN split_draw < {2 * int(0.1 * (1 << 32))} THEN 'val'
            ELSE 'train' END AS split
FROM d
"""


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation observability: per-source exact-duplicate rate — the
    number every ingest dashboard watches (a source whose dup_rate jumps
    is re-crawling itself).  One hash+source partial-agg shuffle; the
    rate is an exact integer ratio rounded at the end."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("source", F.md5("text").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("h").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            F.round(
                (F.col("n_docs") - F.col("n_distinct")) * 100.0
                / F.col("n_docs"),
                6,
            ).alias("dup_pct"),
        )
    )


DEDUP_RATE_SQL = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       round((count(*) - count(DISTINCT md5(text))) * 100.0 / count(*), 6)
         AS dup_pct
FROM documents
GROUP BY source
"""


def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source percentiles of document length — the hash-checkable
    deterministic core of the percentile family (round-3 verdict item 6:
    the sketch-based approx_percentiles is rows-only by design; this and
    temporal.agg_percentiles pin the exact math the sketch approximates,
    Spark percentile() vs DuckDB quantile_cont).  Both engines use linear
    interpolation lower + f*(higher-lower) over integer n_chars; results
    rounded to 4dp AFTER (same discipline as agg_percentiles).

    At scale this is the full-sort path (exact percentile is not
    partial-aggregable) — production corpus profiling uses the sketch;
    this exists to verify it."""
    docs = T(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95"),
    )


PERCENTILES_EXACT_SQL = """
SELECT source,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.5), 4)  AS p50,
       round(quantile_cont(n_chars, 0.75), 4) AS p75,
       round(quantile_cont(n_chars, 0.95), 4) AS p95
FROM documents
GROUP BY source
"""


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical training-shard manifest (operators/export.py): per-shard
    doc/token/char counts under the deterministic pmod(doc_id, 16)
    assignment — what `write_training_shards` materializes and what a
    training job audits its input against.  One partial-agg shuffle;
    `shards` rows out."""
    from flume_spark.operators import export

    docs = T(spark, sf_dir, "documents")
    return export.shard_stats(docs, "doc_id", "text", shards=16)


CORPUS_SHARD_MANIFEST_SQL = """
SELECT CAST(doc_id % 16 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT)
         AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Exact substring (span) dedup + semantic dedup (round 8)
# ---------------------------------------------------------------------------


def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring profile (operators/dedup.py::
    substring_dup_stats): per doc, the fraction of its 8-word windows that
    appear verbatim in another document — the windowed-hash analog of the
    suffix-array dedup pass of Lee et al. 2022 (arXiv:2107.06499).  Linear
    in corpus size: one exchange on the window hash, never pairwise."""
    docs = T(spark, sf_dir, "documents")
    return dedup.substring_dup_stats(docs, "doc_id", "text", k=8)


DEDUP_SUBSTRING_SQL = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
cross_dup AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1
),
tot AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
dupc AS (
  SELECT doc_id, count(*) AS dup_w
  FROM wins JOIN cross_dup USING (h) GROUP BY doc_id
)
SELECT tot.doc_id,
       n_windows,
       COALESCE(dup_w, 0) AS n_dup_windows,
       round(COALESCE(dup_w, 0) / n_windows, 6) AS dup_frac
FROM tot LEFT JOIN dupc USING (doc_id)
"""


def dedup_substring_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's most-duplicated verbatim 8-word spans with an example
    rendering — the boilerplate report a curation run reads before writing
    removal rules.  Aggregates on 32-byte hashes, then broadcasts the 20
    winners back to recover span text (text never rides the wide shuffle)."""
    docs = T(spark, sf_dir, "documents")
    return dedup.substring_hot_spans(docs, "doc_id", "text", k=8, top=20)


DEDUP_SUBSTRING_HOT_SQL = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(w[i : i + 7], ' ')) AS h,
         array_to_string(w[i : i + 7], ' ')      AS span
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
hot AS (
  SELECT h, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
  FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1
  ORDER BY n_docs DESC, n_occurrences DESC, h
  LIMIT 20
)
SELECT hot.h, hot.n_docs, hot.n_occurrences, min(wins.span) AS example_span
FROM hot JOIN wins ON wins.h = hot.h
GROUP BY hot.h, hot.n_docs, hot.n_occurrences
"""


def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-ingest exact-substring path (operators/dedup.py::
    incremental_substring_stats): odd-doc_id docs arrive as a batch against
    the even-doc_id corpus held as a window index; per-occurrence match
    evidence from the history probe and the batch self-join is merged on
    (id, pos).  The oracle computes the WHOLE-corpus stats and restricts to
    the batch — hash-equality IS the merge-equals-rebuild theorem that
    makes the persisted window index (append-only by construction: window
    hashing is a pure per-doc function) safe to ingest against forever."""
    docs = T(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # Window the batch ONCE and own the materialization — the caching
    # contract incremental_substring_stats documents (round-14): the
    # convenience path re-ran the batch's window explode for the history
    # probe, both self-join sides, and the totals (4 identical subtrees
    # in the executed plan).  O(batch x words) rows, batch-sized.
    new_windows = dedup.substring_windows(
        dedup._spread(new), "doc_id", "text", k=8
    ).localCheckpoint(eager=True)
    return dedup.incremental_substring_stats(
        new, "doc_id", "text", k=8, history=history, new_windows=new_windows
    )


DEDUP_SUBSTRING_INCR_SQL = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
cross_dup AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1
),
tot AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
dupc AS (
  SELECT doc_id, count(*) AS dup_w
  FROM wins JOIN cross_dup USING (h) GROUP BY doc_id
)
SELECT tot.doc_id,
       n_windows,
       COALESCE(dup_w, 0) AS n_dup_windows,
       round(COALESCE(dup_w, 0) / n_windows, 6) AS dup_frac
FROM tot LEFT JOIN dupc USING (doc_id)
WHERE tot.doc_id % 2 = 1
"""


def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-REMOVAL action (operators/dedup.py::substring_dedup_clean):
    every duplicated 8-word span keeps exactly one canonical occurrence
    (globally smallest (doc_id, pos)); all other occurrences' word
    positions are dropped and the documents rebuilt.  Canonical selection
    is one min-struct aggregate (map-side combinable — a million-copy
    boilerplate span costs a combine tree, not a million-row sort)."""
    docs = T(spark, sf_dir, "documents")
    return dedup.substring_dedup_clean(docs, "doc_id", "text", k=8)


DEDUP_SUBSTRING_CLEAN_SQL = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
words AS (
  SELECT doc_id, i - 1 AS wpos, w[i] AS word
  FROM n, unnest(range(1, len(w) + 1)) AS t(i)
),
wins AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*)     OVER (PARTITION BY h) AS cnt
  FROM wins
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS wpos
  FROM ranked, unnest(range(0, 8)) AS u(j)
  WHERE cnt > 1 AND rn > 1
),
kept AS (
  SELECT wo.doc_id, wo.wpos, wo.word
  FROM words wo LEFT JOIN covered c
    ON c.doc_id = wo.doc_id AND c.wpos = wo.wpos
  WHERE c.doc_id IS NULL
),
tot AS (SELECT doc_id, count(*) AS n_words FROM words GROUP BY doc_id),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY wpos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT tot.doc_id, n_words,
       COALESCE(n_kept, 0)      AS n_kept,
       COALESCE(clean_text, '') AS clean_text
FROM tot LEFT JOIN agg USING (doc_id)
"""


def dedup_source_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source mirror matrix: for every source pair, how many DISTINCT
    8-word spans they share verbatim — which feeds copy from each other,
    the question that decides source-level weights before doc-level dedup
    spends compute.  Shape: distinct (hash, source) pairs (one row per
    source per span — O(corpus spans)), self-join on the hash (pairs per
    span bounded by sources-holding-it squared, small), one pair-key
    aggregate.  Never doc-pairwise."""
    docs = T(spark, sf_dir, "documents")
    wins = dedup.substring_windows(docs, "doc_id", "text", k=8)
    hs = (
        wins.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .select("h", "source")
        .distinct()
    )
    a = hs.select("h", F.col("source").alias("source_a"))
    b = hs.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count_distinct("h").alias("n_shared_spans"))
    )


DEDUP_SOURCE_MIRRORS_SQL = """
WITH n AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT DISTINCT md5(array_to_string(w[i : i + 7], ' ')) AS h, source
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
)
SELECT a.source AS source_a, b.source AS source_b,
       count(DISTINCT a.h) AS n_shared_spans
FROM wins a JOIN wins b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


def dedup_multimodal_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: cosine pairs over MEDIA features — the image/
    video dedup pass (perceptual-embedding near-dup) with the decode step
    stubbed per the environment mandate and every Spark-side piece real:
    BinaryType payloads -> Arrow-batched feature extraction (mapInPandas,
    the production batch shape) -> a k-means CANDIDATE stage
    (`kmeans_assign_vectorized`, the deterministic md5-seeded assignment
    `dedup_semantic` pins, k grown with the corpus at n/125) -> the
    block-matmul cosine join restricted to same-cluster pairs
    (`cosine_pairs(group_col=...)`).  Pairing cost is sum(cluster^2), never
    n^2 — the same SemDeDup shape every other dedup modality uses; at
    threshold 0.999 near-identical features land in the same cluster, so
    the cluster restriction is the standard recall trade every banded
    modality makes.  The stub features are deterministic and
    SQL-expressible, so unlike most media pipelines this one is
    value-hash-checked end to end (the oracle replays the SAME seeded
    assignment); a real encoder swaps into the kernel with schema,
    partitioning, clustering, and join unchanged."""
    from flume_spark.operators import multimodal, similarity

    docs = T(spark, sf_dir, "documents")
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    # stage the features once: they feed the centroid draw, the assignment
    # scan, and the pairing join — unstaged, the Arrow feature kernel would
    # re-run per consumer (the composition discipline curate_spans uses)
    feats = multimodal.feature_extract_stub(payloads).localCheckpoint(eager=True)
    k = max(4, feats.count() // 125)
    assigned = similarity.kmeans_assign_vectorized(
        feats, "id", "features", k=int(k)
    ).select("id", "cluster")
    cand = feats.join(assigned, "id")
    return dedup.cosine_pairs(
        cand, "id", "features", threshold=0.999, blocks=4, group_col="cluster"
    )


# k pins to max(4, 500 // 125) = 4 at the sf0.01 oracle scale (same
# convention as DEDUP_SEMANTIC_SQL); the init/scored/assign CTEs replay the
# md5-seeded deterministic Lloyd assignment step bit-for-bit.
DEDUP_MULTIMODAL_COSINE_SQL = """
WITH f AS (
  SELECT doc_id AS id,
         [ (octet_length(CAST(text AS BLOB)) % 256) / 256.0,
           ascii(substr(text, 1, 1)) / 256.0,
           ascii(substr(text, length(text), 1)) / 256.0,
           (octet_length(CAST(text AS BLOB)) * 7 % 256) / 256.0 ] AS v
  FROM documents
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
              AS INT) AS cluster,
         v AS cv
  FROM f
  ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT 4
),
scored AS (
  SELECT f.id, init.cluster,
         round(list_sum(list_transform(range(1, len(f.v) + 1),
               i -> (f.v[i] - init.cv[i]) * (f.v[i] - init.cv[i]))), 6) AS dist2
  FROM f CROSS JOIN init
),
assign AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
    FROM scored
  ) WHERE rn = 1
),
pts AS (SELECT a.id, a.cluster, f.v FROM assign a JOIN f ON f.id = a.id),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM pts a JOIN pts b ON a.cluster = b.cluster AND a.id < b.id
)
SELECT doc_a, doc_b, cosine FROM pairs WHERE cosine >= 0.999
"""


def dedup_substring_maxspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication severity ladder (operators/dedup.py::
    substring_max_dup_span): per doc, the largest window width in
    {8, 16, 32} still shared verbatim with another document — the signal
    separating "common phrase" from "mirrored article".  One linear window
    pass per width; sound because a shared k-window implies shared
    sub-windows at every smaller k."""
    docs = T(spark, sf_dir, "documents")
    return dedup.substring_max_dup_span(docs, "doc_id", "text", ks=(8, 16, 32))


def _maxspan_sql() -> str:
    arms = []
    union = []
    for kk in (8, 16, 32):
        arms.append(
            f"w{kk} AS (\n"
            f"  SELECT doc_id, md5(array_to_string(w[i : i + {kk - 1}], ' ')) AS h\n"
            f"  FROM n, unnest(range(1, len(w) - {kk} + 2)) AS t(i)\n"
            f"  WHERE len(w) >= {kk}\n"
            f"),\n"
            f"d{kk} AS (SELECT h FROM w{kk} GROUP BY h"
            f" HAVING count(DISTINCT doc_id) > 1),\n"
            f"h{kk} AS (SELECT DISTINCT doc_id, {kk} AS k"
            f" FROM w{kk} JOIN d{kk} USING (h))"
        )
        union.append(f"SELECT * FROM h{kk}")
    return (
        "WITH n AS (\n"
        "  SELECT doc_id,\n"
        "         string_split(trim(regexp_replace(lower(text),"
        " '[^a-z0-9]+', ' ', 'g')), ' ') AS w\n"
        "  FROM documents\n"
        "),\n" + ",\n".join(arms) + ",\n"
        "hits AS (" + " UNION ALL ".join(union) + ")\n"
        "SELECT d.doc_id,\n"
        "       CAST(COALESCE(max(hits.k), 0) AS INT) AS max_dup_span\n"
        "FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id\n"
        "GROUP BY d.doc_id"
    )


DEDUP_SUBSTRING_MAXSPAN_SQL = _maxspan_sql()


def corpus_curate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed span-curation run a training-data pipeline executes
    (Lee et al. 2022 end to end): doc-level REJECT when more than half of a
    doc's 8-word windows are cross-document duplicates (boilerplate
    mirrors), then span-level CLEAN over the survivors (keep-one-canonical
    removal), reported per source as the before/after token budget.  Every
    stage is an already-oracled operator (dedup_substring_exact /
    dedup_substring_clean shapes); stage outputs are materialized between
    stages (localCheckpoint — the same staged-composition convention
    curate_corpus uses with .cache(), and what keeps the composed plan at
    report-stage depth instead of re-inlining every upstream shuffle).
    The report needs kept COUNTS only, so the clean stage here counts
    covered positions directly — no text reassembly.  Columns: source,
    n_docs, n_rejected, tokens_before, tokens_after."""
    docs = T(spark, sf_dir, "documents")
    # Window the corpus ONCE (round-14): the stats leg and the survivor
    # clean leg consumed two independent full window explodes; windowing
    # is per-doc, so the survivor windows are exactly the checkpointed
    # index anti-joined on the rejected ids — row-identical to
    # re-windowing the survivor docs.
    wins = dedup.substring_windows(
        dedup._spread(docs), "doc_id", "text", k=8
    ).localCheckpoint(eager=True)
    stats = dedup.substring_dup_stats(docs, "doc_id", "text", k=8, windows=wins)
    rejected = (
        stats.filter(F.col("dup_frac") > 0.5)
        .select("doc_id", F.lit(1).alias("rejected"))
        .localCheckpoint(eager=True)
    )
    swins = wins.join(
        rejected.select(F.col("doc_id").alias("id")), "id", "left_anti"
    )
    covered = dedup.dup_canonical_covered(swins, k=8)
    ncov = (
        covered.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_cov"))
        .select(F.col("id").alias("doc_id"), "n_cov")
        .localCheckpoint(eager=True)
    )
    base = docs.select(
        "doc_id", "source", F.size(dedup.norm_words_expr("text")).alias("n_words")
    )
    kept = (
        F.when(F.col("rejected").isNotNull(), F.lit(None).cast("long"))
        .otherwise(F.col("n_words") - F.coalesce("n_cov", F.lit(0)))
    )
    return (
        base.join(rejected, "doc_id", "left")
        .join(ncov, "doc_id", "left")
        .withColumn("n_kept", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("rejected"), F.lit(0)).alias("n_rejected"),
            F.sum("n_words").alias("tokens_before"),
            F.coalesce(F.sum("n_kept"), F.lit(0)).alias("tokens_after"),
        )
    )


CORPUS_CURATE_SPANS_SQL = """
WITH n AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
cross_dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1),
rej AS (
  SELECT w.doc_id
  FROM wins w LEFT JOIN cross_dup c USING (h)
  GROUP BY w.doc_id
  HAVING round(sum(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) > 0.5
),
surv AS (SELECT * FROM n WHERE doc_id NOT IN (SELECT doc_id FROM rej)),
swins AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM surv, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*)     OVER (PARTITION BY h) AS cnt
  FROM swins
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS wpos
  FROM ranked, unnest(range(0, 8)) AS u(j)
  WHERE cnt > 1 AND rn > 1
),
kept AS (
  SELECT s.doc_id, len(s.w) - COALESCE(c.n_cov, 0) AS n_kept
  FROM surv s LEFT JOIN (
    SELECT doc_id, count(*) AS n_cov FROM covered GROUP BY doc_id
  ) c USING (doc_id)
)
SELECT n.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN rej.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rejected,
       CAST(sum(len(n.w)) AS BIGINT) AS tokens_before,
       CAST(COALESCE(sum(kept.n_kept), 0) AS BIGINT) AS tokens_after
FROM n
LEFT JOIN rej  ON rej.doc_id = n.doc_id
LEFT JOIN kept ON kept.doc_id = n.doc_id
GROUP BY n.source
"""


def text_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level quality signal (operators/text.py::bigram_rarity):
    fraction of each doc's adjacent word transitions that are corpus-UNIQUE
    — the word-salad detector unigram commonness can't see, the no-model
    stand-in for CCNet's bigram-LM perplexity filter.  Exact int counts,
    one unrounded division; linear (one bigram-key shuffle)."""
    docs = T(spark, sf_dir, "documents")
    return text.bigram_rarity(docs, "doc_id", "text")


TEXT_BIGRAM_RARITY_SQL = r"""
WITH n AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
bi AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
  FROM n, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
cnt AS (SELECT bigram, count(*) AS c FROM bi GROUP BY bigram)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_bigrams,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS rare_frac
FROM bi JOIN cnt USING (bigram)
GROUP BY doc_id
"""


def stream_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup through the REAL streaming ingestor
    (streaming/dedup.py::SubstrIngestor): documents arrive as 3
    micro-batches (doc_id % 3), each profiled against the persisted window
    index as of ITS OWN ingest time, then one batch is REPLAYED through
    the ledger-guarded entrypoint and must be skipped (exactly-once: a
    re-delivered batch id after later batches have landed would otherwise
    see the FUTURE as history and rewrite its stats — the raw crash-window
    replay, before later batches exist, is pinned separately in
    tests/test_streaming.py).  The oracle is declarative batch-prefix
    semantics — a window occurrence is duplicated iff another doc with
    batch' <= batch holds its hash — so hash-equality proves the
    at-ingest-time profile AND ledger idempotence through the real store."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import SubstrIngestor

    docs = T(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="substr_ingest_")
    ing = SubstrIngestor(
        spark,
        index_dir=f"{root}/index",
        stats_dir=f"{root}/stats",
        ledger_dir=f"{root}/ledger",
    )
    batches = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        ing.process(bdf, b)
    ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip it
    # checkpoint decouples the result from the store files, so the temp
    # tree can be removed NOW instead of leaking one per driver invocation
    out = ing.dup_stats().localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


STREAM_SUBSTR_SQL = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(w[i : i + 7], ' ')) AS h
  FROM n, unnest(range(1, len(w) - 8 + 2)) AS t(i)
  WHERE len(w) >= 8
),
tot AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
dupc AS (
  SELECT w.doc_id, count(*) AS dup_w
  FROM wins w
  WHERE EXISTS (
    SELECT 1 FROM wins o
    WHERE o.h = w.h AND o.doc_id <> w.doc_id
      AND o.doc_id % 3 <= w.doc_id % 3
  )
  GROUP BY w.doc_id
)
SELECT tot.doc_id, n_windows,
       COALESCE(dup_w, 0) AS n_dup_windows,
       round(COALESCE(dup_w, 0) / n_windows, 6) AS dup_frac
FROM tot LEFT JOIN dupc USING (doc_id)
"""


def stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through the REAL streaming ingestor (streaming/dedup.py::
    SemanticIngestor): embeddings arrive as 3 micro-batches (vec_id % 3),
    each marked against the persisted cluster index as of ITS OWN ingest
    time under frozen md5-seeded centroids, then one batch is re-delivered
    through the ledger-guarded entrypoint and must be skipped.  The oracle
    is declarative batch-prefix seniority — a vector is duplicated iff an
    EARLIER-batch or lower-id-same-batch vector shares its cluster at
    cosine >= 0.4 — so hash-equality proves at-ingest-time marking AND
    ledger idempotence through the real store."""
    import shutil
    import tempfile

    from flume_spark.streaming.dedup import SemanticIngestor

    emb = T(spark, sf_dir, "embeddings")
    cents = similarity.md5_init_centroids(emb, "vec_id", "embedding", k=4)
    root = tempfile.mkdtemp(prefix="semantic_ingest_")
    ing = SemanticIngestor(
        spark,
        cents,
        index_dir=f"{root}/index",
        marks_dir=f"{root}/marks",
        ledger_dir=f"{root}/ledger",
    )
    batches = [emb.filter(F.col("vec_id") % 3 == b) for b in range(3)]
    for b, bdf in enumerate(batches):
        ing.process(bdf, b)
    ing.process(batches[1], 1)  # re-delivered batch id: ledger must skip it
    out = ing.dup_marks().localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


STREAM_SEMANTIC_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
              AS INT) AS cluster,
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
),
assign AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
    FROM scored
  ) WHERE rn = 1
),
pts AS (
  SELECT a.id, a.cluster, e.v, a.id % 3 AS b
  FROM assign a JOIN e ON e.vec_id = a.id
),
dups AS (
  SELECT y.id AS id_b, min(x.id) AS dup_of
  FROM pts x JOIN pts y
    ON x.cluster = y.cluster AND x.id <> y.id
   AND (x.b < y.b OR (x.b = y.b AND x.id < y.id))
  WHERE round(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4
  GROUP BY y.id
)
SELECT a.id AS vec_id, a.cluster, d.dup_of, d.dup_of IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dups d ON d.id_b = a.id
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) with a deterministic
    keep rule (operators/dedup.py::semantic_dedup): k-means-cluster the
    embeddings (md5-seeded Lloyd assignment step, the hash-checkable core
    kmeans_assign already pins), then mark a vector duplicate iff a
    LOWER-id same-cluster vector has cosine >= 0.4 (6dp-rounded in both
    engines).  Pairwise cost is sum(cluster^2), never n^2 — and k GROWS
    with the corpus (n/125, the SemDeDup discipline) so cluster
    populations stay ~constant as the table scales; at the sf0.01 oracle
    scale (500 vectors) that resolves to the k=4 instance the SQL pins."""
    emb = T(spark, sf_dir, "embeddings")
    k = max(4, emb.count() // 125)
    return dedup.semantic_dedup(emb, "vec_id", "embedding", k=int(k), threshold=0.4)


DEDUP_SEMANTIC_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
              AS INT) AS cluster,
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
),
assign AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
    FROM scored
  ) WHERE rn = 1
),
pts AS (SELECT a.id, a.cluster, e.v FROM assign a JOIN e ON e.vec_id = a.id),
dups AS (
  SELECT y.id AS id_b, min(x.id) AS dup_of
  FROM pts x JOIN pts y ON x.cluster = y.cluster AND x.id < y.id
  WHERE round(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4
  GROUP BY y.id
)
SELECT a.id AS vec_id, a.cluster, d.dup_of, d.dup_of IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dups d ON d.id_b = a.id
"""


def dedup_semantic_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic` with the two-level IVF-style assignment router
    (operators/similarity.py::kmeans_assign_hierarchical) — the at-scale
    mode past ~1M vectors where the exact n x k sweep turns quadratic
    under k ∝ n (BASELINE.md --semantic x100: 28.7s -> 10.5s).  Routing
    is approximate by design, so NO oracle (rows-only driver check); its
    hash-green deterministic siblings are `dedup_semantic` (exact
    assignment, same keep rule) and `kmeans_assign`, and the agreement
    floor vs exact assignment is pinned in tests/test_round8_ops.py."""
    emb = T(spark, sf_dir, "embeddings")
    k = max(4, emb.count() // 125)
    return dedup.semantic_dedup(
        emb, "vec_id", "embedding", k=int(k), threshold=0.4, assign="hierarchical"
    )


def funnel_report(
    spark: SparkSession,
    docs: DataFrame,
    timings: dict | None = None,
    frames: dict | None = None,
) -> DataFrame:
    """The curation-funnel composition over an arbitrary (doc_id, source,
    text) corpus — the library form behind the declared `corpus_funnel`
    query, separated so the `--funnel` scale probe can drive the SAME plan
    over salted replica corpora.  Pass a dict as `timings` to record each
    stage's wall-clock seconds: stages are eager localCheckpoints, so the
    time around each one is that stage's isolated cost — the probe checks
    the composed wall tracks their sum (stage-additivity; a broken stage
    boundary re-inlines the upstream chain into every report aggregate).
    """
    import time as _time

    from flume_spark.operators import multimodal
    from flume_spark.operators.sizing import suggest_lsh_bands
    from flume_spark.operators.text import quality_col

    def timed(name, fn):
        # label the stage's jobs in the UI / statusStore (guide §1.5) —
        # the round-15 job-duration profile was unreadable without it
        spark.sparkContext.setJobDescription(f"funnel:{name}")
        t0 = _time.perf_counter()
        try:
            out = fn()
        finally:
            spark.sparkContext.setJobDescription(None)
        if timings is not None:
            timings[name] = round(_time.perf_counter() - t0, 3)
        return out

    base = timed(
        "tokenize",
        lambda: docs.withColumn(
            "n_toks", F.size(dedup.norm_words_expr("text")).cast("long")
        ).localCheckpoint(eager=True),
    )

    q = timed(
        "quality",
        lambda: base.filter(quality_col("text") >= 0.5).localCheckpoint(eager=True),
    )

    def _exact():
        keep = q.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
        return q.join(keep.select("doc_id"), "doc_id").localCheckpoint(eager=True)

    ex = timed("exact", _exact)

    def _near_dup():
        pairs = dedup.lsh_verified_pairs(
            ex, "doc_id", "text",
            shingle_n=2, num_hashes=16,
            bands=suggest_lsh_bands(16, 0.7), threshold=0.3,
        )
        comps = dedup.connected_components(pairs, "doc_a", "doc_b")
        non_canon = comps.filter(F.col("doc_id") != F.col("component")).select(
            "doc_id"
        )
        return ex.join(non_canon, "doc_id", "left_anti").localCheckpoint(eager=True)

    nd = timed("near_dup", _near_dup)

    def _clean():
        # nd is checkpointed: skip the tokens staging (A/B 7.10 -> 7.66 s
        # with it — the re-tokenize legs read memory blocks already)
        return (
            dedup.substring_dedup_clean(
                nd, "doc_id", "text", k=8, stage_tokens=False
            )
            .select("doc_id", F.col("n_kept").cast("long").alias("n_kept"))
            .localCheckpoint(eager=True)
        )

    # semantic stage embeds the DOCUMENT (stub features of the raw text —
    # a model embeds content identity; the span clean is a token-level
    # edit), then drops within-cluster 0.999-cosine juniors
    def _semantic():
        from pyspark.sql import Observation

        obs = Observation()
        feats = (
            multimodal.feature_extract_stub(
                multimodal.to_binary_payload(nd, "doc_id", "text")
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        k = max(4, int(obs.get["n"]) // 125)
        marks = dedup.semantic_dedup(
            feats, "id", "features", k=int(k), threshold=0.999
        )
        return nd.join(
            marks.filter(~F.col("is_dup")).select(F.col("id").alias("doc_id")),
            "doc_id",
        ).localCheckpoint(eager=True)

    # the span-clean and semantic stages BOTH consume only the
    # checkpointed nd and are mutually independent — overlap them
    # (§2.6, round-15); job descriptions are thread-local so each
    # stage's label survives the split
    from flume_spark.operators.concurrency import overlap

    clean, sem = overlap(
        lambda: timed("substring_clean", _clean),
        lambda: timed("semantic", _semantic),
    )

    if frames is not None:
        # doc-level survivor frames for the batch-vs-stream divergence
        # diagnostic (funnel_divergence); all checkpointed above
        frames.update({"base": base, "q": q, "ex": ex, "nd": nd, "sem": sem})

    def stage(df, ordinal, name, tok_col="n_toks"):
        return df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(tok_col).cast("long").alias("n_tokens"),
        ).select(
            F.lit(ordinal).alias("stage_ord"),
            F.lit(name).alias("stage"),
            "source",
            "n_docs",
            "n_tokens",
        )

    return (
        stage(base, 1, "input")
        .unionByName(stage(q, 2, "quality"))
        .unionByName(stage(ex, 3, "exact"))
        .unionByName(stage(nd, 4, "near_dup"))
        .unionByName(stage(nd.join(clean, "doc_id"), 5, "substring_clean", "n_kept"))
        .unionByName(stage(sem.join(clean, "doc_id"), 6, "semantic", "n_kept"))
    )


def stream_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel run STREAMING — quality gate -> exact
    first-seen dedup -> LSH near-dup drop -> exact-substring profile ->
    semantic dedup, with the three stateful stages going through the REAL
    ingestors (LshIngestor / SubstrIngestor / SemanticIngestor) as
    documents arrive in 3 micro-batches (doc_id % 3).  The last
    capability seam where batch had a form streaming lacked (round-9
    VERDICT item 8).

    Streaming semantics, per stage (all decisions AT-INGEST-TIME,
    batch-prefix seniority = (batch, id) order; marks never revisited):
    - exact: first-seen per content hash (the foreachBatch realization of
      `streaming_exact_dedup`'s watermark rule).
    - near_dup: a doc is dropped iff a SENIOR exact-survivor is a
      verified near-dup partner (LshIngestor banded candidates at the
      junior's ingest, exact-Jaccard >= 0.3 via
      `dedup.verify_candidate_pairs` — verification linear in
      candidates).  No connected components: seniors were already judged
      at their own ingest and are never re-dropped (so a transitive
      chain keeps its batch-local canonicals — the one semantic
      difference from the batch funnel's component rule, by design).
    - substring: SubstrIngestor's at-ingest dup-window profile over
      near-dup survivors; the token metric is n_toks - n_dup_windows
      (each duplicated k-window START is one removable span occurrence —
      a profile metric; the batch funnel's span REMOVAL stays batch).
    - semantic: SemanticIngestor marks over the survivors' stub
      features, centroids FROZEN before ingest from the md5 draw over
      the full corpus' features (k = n/125 -> 4 at oracle scale), the
      construction-time-seed convention of `stream_semantic_dedup`.
    One batch is re-delivered through every ledger-guarded entrypoint
    and must be skipped (exactly-once through the real stores).  Each
    per-batch verification joins candidates back to the prefix shingle
    index; at warehouse scale the persisted band index itself is the
    verify side (`LshIngestor` table mode) — noted, not simulated here.

    The oracle replays every stage declaratively under the same
    batch-prefix seniority (the STREAM_SUBSTR_SQL / STREAM_SEMANTIC_SQL
    pattern composed end-to-end), so hash-equality proves at-ingest-time
    marking AND ledger idempotence through all three real stores."""
    import shutil

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    frames, root = stream_funnel_frames(spark, docs)
    base, q, ex, nd = frames["base"], frames["q"], frames["ex"], frames["nd"]
    kept_toks, sem_surv = frames["kept_toks"], frames["sem_surv"]

    def stage(df, ordinal, name, tok_col="n_toks"):
        return (
            df.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(tok_col).cast("long").alias("n_tokens"),
            )
            .select(
                F.lit(ordinal).alias("stage_ord"),
                F.lit(name).alias("stage"),
                "source",
                "n_docs",
                "n_tokens",
            )
        )

    out = (
        stage(base, 1, "input")
        .unionByName(stage(q, 2, "quality"))
        .unionByName(stage(ex, 3, "exact"))
        .unionByName(stage(nd, 4, "near_dup"))
        .unionByName(stage(kept_toks, 5, "substring", "n_kept"))
        .unionByName(
            stage(sem_surv.join(kept_toks.select("doc_id", "n_kept"), "doc_id"),
                  6, "semantic", "n_kept")
        )
    ).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def stream_funnel_frames(spark: SparkSession, docs: DataFrame):
    """The streaming funnel's per-stage DOC-LEVEL survivor frames over an
    arbitrary (doc_id, source, text) corpus — the library body behind the
    declared `stream_corpus_funnel` query, separated so the batch-vs-
    stream divergence diagnostic (`funnel_divergence`) can compare the two
    rule sets doc-by-doc instead of through the aggregated report.
    Returns ({base, q, ex, nd, kept_toks, sem_surv}, state_root); every
    frame is eagerly checkpointed, so the caller may delete state_root
    as soon as it likes."""
    import tempfile

    from flume_spark.operators import multimodal
    from flume_spark.operators.sizing import suggest_lsh_bands
    from flume_spark.operators.text import quality_col
    from flume_spark.streaming.dedup import (
        LshIngestor,
        SemanticIngestor,
        SubstrIngestor,
    )

    from pyspark.sql import Observation

    # corpus size rides observe() on the checkpoint job (round-14): the
    # separate base.count() below was one extra full action
    base_obs = Observation()
    base = (
        docs.withColumn("n_toks", F.size(dedup.norm_words_expr("text")).cast("long"))
        .withColumn("b", F.pmod(F.col("doc_id"), F.lit(3)).cast("int"))
        .observe(base_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Window

    from flume_spark.operators.concurrency import overlap

    # the quality->exact chain and the feature/centroid draw both hang
    # only off the checkpointed base and are mutually independent —
    # overlap the two legs (§2.6, round-15); base_obs resolves inside
    # the thread without blocking (base is already materialized)
    def _q_ex():
        q = base.filter(quality_col("text") >= 0.5).localCheckpoint(
            eager=True
        )
        w = Window.partitionBy(F.md5("text")).orderBy("b", "doc_id")
        ex = (
            q.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
            .localCheckpoint(eager=True)
        )
        return q, ex

    def _feats_cents():
        fa = multimodal.feature_extract_stub(
            multimodal.to_binary_payload(base, "doc_id", "text")
        ).localCheckpoint(eager=True)
        k = max(4, int(base_obs.get["n"]) // 125)
        return fa, similarity.md5_init_centroids(
            fa, "id", "features", k=int(k)
        )

    (q, ex), (feats_all, cents) = overlap(_q_ex, _feats_cents)

    root = tempfile.mkdtemp(prefix="funnel_stream_")
    lsh = LshIngestor(
        spark,
        index_dir=f"{root}/lsh_idx",
        pairs_dir=f"{root}/lsh_pairs",
        ledger_dir=f"{root}/lsh_ledger",
        shingle_n=2,
        num_hashes=16,
        bands=suggest_lsh_bands(16, 0.7),
    )
    sub = SubstrIngestor(
        spark,
        index_dir=f"{root}/sub_idx",
        stats_dir=f"{root}/sub_stats",
        ledger_dir=f"{root}/sub_ledger",
    )
    sem = SemanticIngestor(
        spark,
        cents,
        index_dir=f"{root}/sem_idx",
        marks_dir=f"{root}/sem_marks",
        ledger_dir=f"{root}/sem_ledger",
        id_col="id",
        vec_col="features",
        threshold=0.999,
    )

    def batch_pairs(b: int):
        if not LshIngestor._has_parquet(f"{root}/lsh_pairs"):
            return None
        return (
            spark.read.parquet(f"{root}/lsh_pairs")
            .filter(F.col("ingest_batch") == b)
            .select(F.col("doc_new").alias("doc_a"), F.col("doc_match").alias("doc_b"))
        )

    # ONE shingle index serves every batch's verification (round-14): the
    # verifier only reaches shingles through joins on its candidate pairs'
    # own ids, and candidates reference prefix docs only, so the full-ex
    # index is row-equivalent to re-shingling each growing prefix — built
    # lazily (first candidate batch), checkpointed, reused 3x.
    sh_ex = None

    def ex_shingles():
        nonlocal sh_ex
        if sh_ex is None:
            sh_ex = dedup.word_shingles(
                ex, "doc_id", "text", 2
            ).localCheckpoint(eager=True)
        return sh_ex

    from flume_spark.operators.concurrency import overlap

    nd_parts = []
    for b in range(3):
        exb = ex.filter(F.col("b") == b)
        lsh.process(exb, b)
        # "any pairs this batch?" rides the ingestor's own pairs-write
        # observation (round-15) — the head(1) probe was one extra Spark
        # action per batch; the read-based fallback only runs when the
        # count is unknown (ledger-skipped replay)
        n_pairs = lsh.pair_count(b)
        if n_pairs == 0:
            no_pairs = True
        else:
            cands = batch_pairs(b)
            no_pairs = cands is None or (
                n_pairs is None and not cands.head(1)
            )
        if no_pairs:
            nd_b = exb
        else:
            prefix = ex.filter(F.col("b") <= b)
            ver = dedup.verify_candidate_pairs(
                prefix, cands, "doc_id", "text", shingle_n=2, threshold=0.3,
                shingles=ex_shingles(),
            )
            # the junior of each verified pair (by (batch, id)) is dropped
            # at ITS ingest; only this batch's docs are juniors here
            sen_a = F.struct(F.pmod("doc_a", F.lit(3)), "doc_a")
            sen_b = F.struct(F.pmod("doc_b", F.lit(3)), "doc_b")
            juniors = ver.select(
                F.when(sen_a < sen_b, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                    "doc_id"
                )
            ).distinct()
            nd_b = exb.join(juniors, "doc_id", "left_anti")
        nd_b = nd_b.localCheckpoint(eager=True)
        nd_parts.append(nd_b)
        # the substring and semantic ingests of this batch are independent
        # (disjoint stores/ledgers, both off the checkpointed nd_b) —
        # overlap them (§2.6, round-15); batch order within each ingestor
        # is preserved because the loop joins both before b+1
        overlap(
            lambda: sub.process(nd_b, b),
            lambda: sem.process(
                feats_all.join(
                    nd_b.select(F.col("doc_id").alias("id")), "id"
                ),
                b,
            ),
        )
    # re-delivered batch id through every ledger: all three must skip
    lsh.process(ex.filter("b = 1"), 1)
    sub.process(nd_parts[1], 1)
    sem.process(
        feats_all.join(nd_parts[1].select(F.col("doc_id").alias("id")), "id"), 1
    )

    nd = nd_parts[0].unionByName(nd_parts[1]).unionByName(nd_parts[2])
    stats = sub.dup_stats()
    if stats is None:  # no doc reached one k-window: nothing to subtract
        stats = nd.select("doc_id", F.lit(0).alias("n_dup_windows")).filter("1 = 0")
    kept_toks = nd.join(
        stats.select("doc_id", "n_dup_windows"), "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        "n_toks",
        (F.col("n_toks") - F.coalesce("n_dup_windows", F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )
    marks = sem.dup_marks()
    sem_surv = nd.join(
        marks.filter(~F.col("is_dup")).select(F.col("id").alias("doc_id")), "doc_id"
    )
    # eager checkpoints: kept_toks / sem_surv otherwise read the ingestor
    # stores lazily, and the caller deletes state_root after this returns
    # (independent frames — overlapped, §2.6 round-15)
    kept_toks, sem_surv = overlap(
        lambda: kept_toks.localCheckpoint(eager=True),
        lambda: sem_surv.localCheckpoint(eager=True),
    )
    return (
        {
            "base": base,
            "q": q,
            "ex": ex,
            "nd": nd,
            "kept_toks": kept_toks,
            "sem_surv": sem_surv,
        },
        root,
    )


def funnel_divergence(spark: SparkSession, docs: DataFrame) -> dict:
    """Doc-level disagreement between the BATCH funnel's rules
    (connected-component near-dup canonicals, global semantic marks,
    min-id exact keep) and the STREAMING funnel's at-ingest seniority
    rules, stage by stage, over the SAME corpus — the number an operator
    choosing the streaming path needs (the divergence is documented as
    by-design at stream_corpus_funnel's near_dup note; this measures it).

    Returns {stage: {batch_only, stream_only, shared}} where batch_only /
    stream_only count docs only that rule set keeps at that stage.  All
    comparisons are anti-/semi-join COUNTS — nothing doc-sized reaches
    the driver."""
    import shutil

    bframes: dict = {}
    funnel_report(spark, docs, frames=bframes)  # frames checkpoint eagerly
    sframes, root = stream_funnel_frames(spark, docs)
    out: dict = {}
    for name, bkey, skey in (
        ("quality", "q", "q"),
        ("exact", "ex", "ex"),
        ("near_dup", "nd", "nd"),
        ("semantic", "sem", "sem_surv"),
    ):
        b = bframes[bkey].select("doc_id")
        s = sframes[skey].select("doc_id")
        out[name] = {
            "batch_only": b.join(s, "doc_id", "left_anti").count(),
            "stream_only": s.join(b, "doc_id", "left_anti").count(),
            "shared": b.join(s, "doc_id", "semi").count(),
        }
    shutil.rmtree(root, ignore_errors=True)
    return out


def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel — the one table a 100 TB pipeline owner
    reads: per-stage, per-source document AND token attrition through
    quality gate -> exact dedup -> LSH-verified near-dup drop -> exact-
    substring span clean -> semantic dedup.  Every stage is the already-
    oracled operator with its declared-query parameters (quality >= 0.5 as
    `curation_pipeline`; lsh_verified_pairs shingle 2 / 16 hashes /
    threshold 0.3; substring k=8; SemDeDup over the deterministic media
    stub features at 0.999, k = n/125 — the `dedup_multimodal_cosine`
    convention, so the whole funnel stays value-hash-checkable).  Token
    accounting uses the ONE substring normalization canon
    (`norm_words_expr`) at every stage, so the span-clean attrition is
    directly comparable to the doc-level stages.

    Composition discipline: each stage output is localCheckpoint'd before
    the report aggregates — unstaged, the six per-stage groupBys would
    re-inline the whole upstream chain per consumer (the re-planning trap
    the plan-hygiene gate caught twice in round 8); at warehouse scale the
    same staging is a checkpoint / intermediate table per stage.  The
    composition body lives in `funnel_report`, which the `--funnel` scale
    probe drives over salted replica corpora."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return funnel_report(spark, docs)


QUERIES = {
    "corpus_funnel": corpus_funnel,
    "stream_corpus_funnel": stream_corpus_funnel,
    "corpus_shard_manifest": corpus_shard_manifest,
    # round-8 additions ordered cheapest-first: the driver's check prefix
    # has a time budget, and the two stream_* entries (real-ingestor runs,
    # ~12-18s each) must not starve the sub-second rows behind them
    "dedup_semantic_hier": dedup_semantic_hier,
    "dedup_substring_exact": dedup_substring_exact,
    "dedup_substring_hot": dedup_substring_hot,
    "dedup_substring_incremental": dedup_substring_incremental,
    "dedup_substring_clean": dedup_substring_clean,
    "text_bigram_rarity": text_bigram_rarity,
    "dedup_multimodal_cosine": dedup_multimodal_cosine,
    "dedup_source_mirrors": dedup_source_mirrors,
    "dedup_semantic": dedup_semantic,
    "dedup_substring_maxspan": dedup_substring_maxspan,
    "corpus_curate_spans": corpus_curate_spans,
    "stream_substr_dedup": stream_substr_dedup,
    "stream_semantic_dedup": stream_semantic_dedup,
    "text_chunk_sliding": text_chunk_sliding,
    "ann_topk_int8": ann_topk_int8,
    "ann_topk_pq": ann_topk_pq,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "ann_pq_drift": ann_pq_drift,
    "text_commonness": text_commonness,
    "text_novelty_by_source": text_novelty_by_source,
    "dedup_passage": dedup_passage,
    "dedup_incremental": dedup_incremental,
    "corpus_shuffle": corpus_shuffle,
    "text_length_histogram": text_length_histogram,
    "text_repetition": text_repetition,
    "vocab_topk": vocab_topk,
    "text_bm25_topk": text_bm25_topk,
    "dedup_canonical_best": dedup_canonical_best,
    "embedding_quantize": embedding_quantize,
    "ann_range_search": ann_range_search,
    "ann_range_cells": ann_range_cells,
    "ann_topk_multiprobe": ann_topk_multiprobe,
    "embedding_truncate": embedding_truncate,
    "corpus_split": corpus_split,
    "dedup_rate_by_source": dedup_rate_by_source,
    "percentiles_exact": percentiles_exact,
}

# The funnel oracle replays every stage from the SAME fragments its
# component oracles use: CURATION_SQL's quality formula, DEDUP_EXACT's
# min-id-per-md5 rule, the shared lsh_verify_ctes (parameterized on the
# exact-dedup survivors), DEDUP_SUBSTRING_CLEAN's kept-word accounting, and
# DEDUP_MULTIMODAL_COSINE's stub-feature k-means (k pins to 4 at the sf0.01
# oracle scale: nd survivors <= 500 -> max(4, n//125) = 4).
# `edges AS MATERIALIZED` is load-bearing (the kcore lesson): DuckDB inlines
# CTEs by default, so without it the whole 16-md5-per-shingle LSH chain is
# re-planned inside `bidir`, the recursive term and every `nd` consumer, and
# this oracle ran out of memory past 12.5 GiB for a 10-edge answer.
from flume_spark.queries.llm_ops import lsh_verify_ctes as _lsh_ctes  # noqa: E402

CORPUS_FUNNEL_SQL = f"""
WITH RECURSIVE
nw AS (
  SELECT doc_id, source, text,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS cw
  FROM documents
),
base AS (SELECT doc_id, source, text, CAST(len(cw) AS BIGINT) AS n_toks FROM nw),
qt AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
qscore AS (
  SELECT doc_id,
         least(len(t) / 100.0, 1.0) * 0.5
           + least(len(list_filter(t,
               x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) * 1.0
               / len(t) * 5.0, 1.0) * 0.25
           + len(list_distinct(t)) * 1.0 / len(t) * 0.25 AS quality
  FROM qt
),
q AS (
  SELECT b.* FROM base b JOIN qscore s USING (doc_id) WHERE s.quality >= 0.5
),
ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
e AS (SELECT q.* FROM q JOIN ek USING (doc_id)),
{_lsh_ctes("e")},
edges AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.3
),
bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION SELECT doc_b, doc_a FROM edges
),
reach AS (
  SELECT src, dst FROM bidir
  UNION
  SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
),
nddrop AS (
  SELECT src AS doc_id FROM reach GROUP BY src
  HAVING least(src, min(dst)) != src
),
nd AS (
  SELECT e.* FROM e WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)
),
ndw AS (SELECT nd.doc_id, nw.cw FROM nd JOIN nw USING (doc_id)),
allw AS (
  SELECT doc_id, i - 1 AS wpos
  FROM ndw, unnest(range(1, len(cw) + 1)) AS t(i)
),
wins AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(cw[i : i + 7], ' ')) AS h
  FROM ndw, unnest(range(1, len(cw) - 8 + 2)) AS t(i)
  WHERE len(cw) >= 8
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*)     OVER (PARTITION BY h) AS cnt
  FROM wins
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS wpos
  FROM ranked, unnest(range(0, 8)) AS u(j)
  WHERE cnt > 1 AND rn > 1
),
keptw AS (
  SELECT a.doc_id, count(*) AS n_kept
  FROM allw a LEFT JOIN covered c
    ON c.doc_id = a.doc_id AND c.wpos = a.wpos
  WHERE c.doc_id IS NULL
  GROUP BY a.doc_id
),
clean AS (
  SELECT nd.doc_id, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
  FROM nd LEFT JOIN keptw k USING (doc_id)
),
f AS (
  SELECT doc_id AS id,
         [ (octet_length(CAST(text AS BLOB)) % 256) / 256.0,
           ascii(substr(text, 1, 1)) / 256.0,
           ascii(substr(text, length(text), 1)) / 256.0,
           (octet_length(CAST(text AS BLOB)) * 7 % 256) / 256.0 ] AS v
  FROM nd
),
finit AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
              AS INT) AS cluster,
         v AS cv
  FROM f
  ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT 4
),
fsc AS (
  SELECT f.id, finit.cluster,
         round(list_sum(list_transform(range(1, len(f.v) + 1),
               i -> (f.v[i] - finit.cv[i]) * (f.v[i] - finit.cv[i]))), 6) AS dist2
  FROM f CROSS JOIN finit
),
fasg AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
    FROM fsc
  ) WHERE rn = 1
),
fpts AS (SELECT a.id, a.cluster, f.v FROM fasg a JOIN f ON f.id = a.id),
semdrop AS (
  SELECT DISTINCT b.id
  FROM fpts a JOIN fpts b ON a.cluster = b.cluster AND a.id < b.id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.999
),
sem AS (SELECT nd.* FROM nd WHERE doc_id NOT IN (SELECT id FROM semdrop))
SELECT 1 AS stage_ord, 'input' AS stage, source,
       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM base GROUP BY source
UNION ALL
SELECT 2, 'quality', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM q GROUP BY source
UNION ALL
SELECT 3, 'exact', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM e GROUP BY source
UNION ALL
SELECT 4, 'near_dup', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM nd GROUP BY source
UNION ALL
SELECT 5, 'substring_clean', source, count(*), CAST(sum(c.n_kept) AS BIGINT)
FROM nd JOIN clean c USING (doc_id) GROUP BY source
UNION ALL
SELECT 6, 'semantic', source, count(*), CAST(sum(c.n_kept) AS BIGINT)
FROM sem JOIN clean c USING (doc_id) GROUP BY source
"""


# stream_corpus_funnel oracle: the SAME stage fragments, replayed under
# batch-prefix seniority (batch = doc_id % 3; senior = earlier batch, or
# lower id within the batch) — the STREAM_SUBSTR_SQL / STREAM_SEMANTIC_SQL
# at-ingest-time pattern composed end-to-end.  No connected components:
# the streaming near-dup rule drops exactly the junior endpoint of every
# verified pair.  Centroids are the construction-time md5 draw over the
# FULL corpus' stub features (k = n/125 -> LIMIT 4 at the sf0.01 oracle
# scale), matching the frozen-before-ingest seed the query passes to
# SemanticIngestor.
STREAM_CORPUS_FUNNEL_SQL = f"""
WITH nw AS (
  SELECT doc_id, source, text,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')
           AS cw
  FROM documents
),
base AS (SELECT doc_id, source, text, CAST(len(cw) AS BIGINT) AS n_toks FROM nw),
qt AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
qscore AS (
  SELECT doc_id,
         least(len(t) / 100.0, 1.0) * 0.5
           + least(len(list_filter(t,
               x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) * 1.0
               / len(t) * 5.0, 1.0) * 0.25
           + len(list_distinct(t)) * 1.0 / len(t) * 0.25 AS quality
  FROM qt
),
q AS (
  SELECT b.* FROM base b JOIN qscore s USING (doc_id) WHERE s.quality >= 0.5
),
ek AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id % 3, doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
e AS (SELECT q.* FROM q JOIN ek USING (doc_id)),
{_lsh_ctes("e")},
edges AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.3
),
nddrop AS (
  SELECT CASE WHEN doc_a % 3 < doc_b % 3
                OR (doc_a % 3 = doc_b % 3 AND doc_a < doc_b)
              THEN doc_b ELSE doc_a END AS doc_id
  FROM edges
),
nd AS (SELECT e.* FROM e WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
ndw AS (SELECT nd.doc_id, nw.cw FROM nd JOIN nw USING (doc_id)),
swins AS (
  SELECT doc_id, md5(array_to_string(cw[i : i + 7], ' ')) AS h
  FROM ndw, unnest(range(1, len(cw) - 8 + 2)) AS t(i)
  WHERE len(cw) >= 8
),
dupc AS (
  SELECT w.doc_id, count(*) AS dup_w
  FROM swins w
  WHERE EXISTS (
    SELECT 1 FROM swins o
    WHERE o.h = w.h AND o.doc_id <> w.doc_id
      AND o.doc_id % 3 <= w.doc_id % 3
  )
  GROUP BY w.doc_id
),
kept AS (
  SELECT nd.doc_id,
         CAST(nd.n_toks - COALESCE(d.dup_w, 0) AS BIGINT) AS n_kept
  FROM nd LEFT JOIN dupc d USING (doc_id)
),
f AS (
  SELECT doc_id AS id,
         [ (octet_length(CAST(text AS BLOB)) % 256) / 256.0,
           ascii(substr(text, 1, 1)) / 256.0,
           ascii(substr(text, length(text), 1)) / 256.0,
           (octet_length(CAST(text AS BLOB)) * 7 % 256) / 256.0 ] AS v
  FROM base
),
finit AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
              AS INT) AS cluster,
         v AS cv
  FROM f
  ORDER BY md5(CAST(id AS VARCHAR)), id
  LIMIT 4
),
fnd AS (SELECT f.* FROM f JOIN nd ON nd.doc_id = f.id),
fsc AS (
  SELECT fnd.id, finit.cluster,
         round(list_sum(list_transform(range(1, len(fnd.v) + 1),
               i -> (fnd.v[i] - finit.cv[i]) * (fnd.v[i] - finit.cv[i]))), 6) AS dist2
  FROM fnd CROSS JOIN finit
),
fasg AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rn
    FROM fsc
  ) WHERE rn = 1
),
fpts AS (
  SELECT a.id, a.cluster, fnd.v, a.id % 3 AS b
  FROM fasg a JOIN fnd ON fnd.id = a.id
),
semdrop AS (
  SELECT DISTINCT y.id
  FROM fpts x JOIN fpts y
    ON x.cluster = y.cluster AND x.id <> y.id
   AND (x.b < y.b OR (x.b = y.b AND x.id < y.id))
  WHERE round(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.999
),
sem AS (SELECT nd.* FROM nd WHERE doc_id NOT IN (SELECT id FROM semdrop))
SELECT 1 AS stage_ord, 'input' AS stage, source,
       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM base GROUP BY source
UNION ALL
SELECT 2, 'quality', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM q GROUP BY source
UNION ALL
SELECT 3, 'exact', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM e GROUP BY source
UNION ALL
SELECT 4, 'near_dup', source, count(*), CAST(sum(n_toks) AS BIGINT)
FROM nd GROUP BY source
UNION ALL
SELECT 5, 'substring', source, count(*), CAST(sum(k.n_kept) AS BIGINT)
FROM nd JOIN kept k USING (doc_id) GROUP BY source
UNION ALL
SELECT 6, 'semantic', source, count(*), CAST(sum(k.n_kept) AS BIGINT)
FROM sem JOIN kept k USING (doc_id) GROUP BY source
"""


ORACLES = {
    "corpus_funnel": CORPUS_FUNNEL_SQL,
    "stream_corpus_funnel": STREAM_CORPUS_FUNNEL_SQL,
    "corpus_shard_manifest": CORPUS_SHARD_MANIFEST_SQL,
    "dedup_substring_exact": DEDUP_SUBSTRING_SQL,
    "dedup_substring_hot": DEDUP_SUBSTRING_HOT_SQL,
    "dedup_substring_incremental": DEDUP_SUBSTRING_INCR_SQL,
    "dedup_substring_clean": DEDUP_SUBSTRING_CLEAN_SQL,
    "text_bigram_rarity": TEXT_BIGRAM_RARITY_SQL,
    "dedup_multimodal_cosine": DEDUP_MULTIMODAL_COSINE_SQL,
    "dedup_source_mirrors": DEDUP_SOURCE_MIRRORS_SQL,
    "dedup_semantic": DEDUP_SEMANTIC_SQL,
    "dedup_substring_maxspan": DEDUP_SUBSTRING_MAXSPAN_SQL,
    "corpus_curate_spans": CORPUS_CURATE_SPANS_SQL,
    "stream_substr_dedup": STREAM_SUBSTR_SQL,
    "stream_semantic_dedup": STREAM_SEMANTIC_SQL,
    "text_chunk_sliding": TEXT_CHUNK_SQL,
    "ann_topk_int8": ANN_INT8_SQL,
    "ann_topk_pq": ANN_PQ_SQL,
    "ann_topk_ivfpq": ANN_IVFPQ_SQL,
    "ann_pq_drift": ANN_PQ_DRIFT_SQL,
    "text_commonness": TEXT_COMMONNESS_SQL,
    "text_novelty_by_source": TEXT_NOVELTY_SQL,
    "dedup_passage": DEDUP_PASSAGE_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "corpus_shuffle": CORPUS_SHUFFLE_SQL,
    "text_length_histogram": TEXT_LENGTH_HIST_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "vocab_topk": VOCAB_TOPK_SQL,
    "text_bm25_topk": TEXT_BM25_SQL,
    "dedup_canonical_best": DEDUP_CANONICAL_SQL,
    "embedding_quantize": EMBEDDING_QUANTIZE_SQL,
    "ann_range_search": ANN_RANGE_SQL,
    "ann_range_cells": ANN_RANGE_CELLS_SQL,
    "ann_topk_multiprobe": ANN_MULTIPROBE_SQL,
    "embedding_truncate": EMBEDDING_TRUNCATE_SQL,
    "corpus_split": CORPUS_SPLIT_SQL,
    "dedup_rate_by_source": DEDUP_RATE_SQL,
    "percentiles_exact": PERCENTILES_EXACT_SQL,
}
