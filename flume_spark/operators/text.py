"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (codegen'd, no UDF): token counting, quality
scoring, n-gram-heuristic language ID, content fingerprinting.  At 100 TB
these run as map-only stages fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in"]

# marker words per language for the n-gram-heuristic language id
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
    "de": ["der", "die", "und"],
}


def tokens_col(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


def quality_col(text_col: str) -> Column:
    """The combined [0,1] quality score as a standalone column expression —
    usable as an appended column (streaming curation keeps the original row)
    or via `quality_score` for the full metric frame."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = F.expr(
        f"size(filter(split(lower(trim({text_col})), '\\\\s+'), t -> t IN ({stop_arr})))"
    )
    n_unique = F.size(F.array_distinct(toks))
    stop_ratio = n_stop.cast("double") / n_tok
    ttr = n_unique.cast("double") / n_tok
    return (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.25
        + ttr * 0.25
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality: token count, mean token length, stopword ratio,
    type-token ratio, and a combined [0,1] score.

    Mirrors the shape of public quality filters (C4/Gopher rules): length
    bounds + stopword presence + lexical diversity.
    """
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    n_stop = F.expr(
        f"size(filter(split(lower(trim({text_col})), '\\\\s+'), t -> t IN ({stop_arr})))"
    )
    n_unique = F.size(F.array_distinct(toks))
    # Pure rational per-row arithmetic — bit-deterministic across engines, so
    # no rounding (rounding would itself introduce half-boundary divergence).
    mean_tok_len = (
        F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("double") / n_tok
    )
    stop_ratio = n_stop.cast("double") / n_tok
    ttr = n_unique.cast("double") / n_tok
    score = quality_col(text_col)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word-vote language ID.  Returns per-language vote counts and
    the argmax (ties broken by language code order)."""
    toks = tokens_col(text_col)
    votes = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in LANG_MARKERS.items()
    }
    # argmax via greatest + chained when (deterministic tie order: en,fr,es,de)
    pred = F.lit("unknown")
    best = F.greatest(*votes.values())
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((votes[lang] > 0) & (votes[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    cols = [F.col(id_col)]
    cols += [votes[lang].alias(f"votes_{lang}") for lang in LANG_MARKERS]
    cols.append(pred.alias("lang_pred"))
    return df.select(*cols)


BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^\sa-z0-9]+"
# Spark SQL string literals consume one level of backslash escaping
_BPE_SQL = BPE_ISH_PATTERN.replace("\\", "\\\\")


def subword_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish regex tokenization (GPT-2-style category split: letter runs,
    digit runs, punctuation runs) — the cheap proxy for a real BPE vocab when
    estimating token budgets over a corpus.  Pattern kept to RE2-safe
    constructs so any engine reproduces it."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{_BPE_SQL}', 0)"
    )
    alpha = F.expr(
        f"size(filter(regexp_extract_all(lower({text_col}), '{_BPE_SQL}', 0),"
        " t -> t rlike '^[a-z]'))"
    )
    num = F.expr(
        f"size(filter(regexp_extract_all(lower({text_col}), '{_BPE_SQL}', 0),"
        " t -> t rlike '^[0-9]'))"
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_subwords"),
        alpha.alias("n_alpha"),
        num.alias("n_num"),
        (F.size(toks) - alpha - num).alias("n_other"),
    )


# --------------------------------------------------------------------------
# Real BPE apply (vs subword_tokens' regex proxy): a merge-ranks table
# applied as bounded merge rounds.  Spec (identical in every implementation
# below, and in the DuckDB oracle bpe_replace_sql generates):
#   1. normalize: lowercase, any non-[a-z0-9] run -> one space
#   2. symbolize: every char becomes a TWO-space-delimited symbol with one
#      leading space ("hi" -> " h  i  ")
#   3. for each merge rule (a, b) IN RANK ORDER, replace every
#      left-to-right non-overlapping occurrence of adjacent symbols a b
#      with the fused symbol ab (one global string replace per rule:
#      " a  b " -> " ab " over the two-space-delimited form).  The pattern
#      claims only ONE space of margin on each side, leaving the other
#      space of the double delimiter unconsumed — so back-to-back
#      occurrences ("0 0 0 0" under rule (0,0) must give [00, 00]) still
#      match; a single-space encoding consumes the shared separator and
#      silently skips the second occurrence (found by the hypothesis
#      property suite — test_bpe_property_three_paths_agree's '0000'
#      counterexample).  Symbol boundaries stay exact (a fused symbol has
#      no inner space and never reintroduces the pattern), so
#      scan-the-input replace semantics agree across engines.
#   4. token count = number of remaining symbols
# For a well-formed merge table (each rule's symbols are single chars or
# outputs of EARLIER rules — true of every trained BPE vocab), rank-order
# application is exactly the classic greedy lowest-rank-first BPE apply.
# Word boundaries are safe for free: normalized spaces symbolize into
# multi-space runs no " a b " pattern can cross.
# --------------------------------------------------------------------------


def bpe_learn_merges(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Train a BPE merge table from word frequencies (driver-side: the
    merge table is vocab-sized metadata, not data — at corpus scale the
    word_freqs input is the output of a distributed groupBy-count
    collected at the vocabulary grain).  Deterministic: ties break by
    (count desc, pair lexicographic asc).  The classic reference corpus
    {low:5, lower:2, newest:6, widest:3} yields
    [(e,s), (es,t), (l,o), (lo,w)] — pinned by the fixture test."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        words = {
            _bpe_merge_word(syms, *best): f for syms, f in words.items()
        }
    return merges


def bpe_word_freqs(
    df: DataFrame, text_col: str, max_words: int = 100_000
) -> dict[str, int]:
    """Corpus -> word-frequency vocabulary, the distributed HALF of BPE
    training: normalize (same spec as the apply path), explode to words,
    ONE groupBy-count shuffle, then keep the top `max_words` by
    (freq desc, word asc).  Only the capped vocabulary crosses to the
    driver — vocab-grain, never corpus-grain, the same bounded-collect
    stance as the k-means centroids.  The cap is standard trainer
    practice (rare-tail words contribute no merges above noise) and is
    what bounds the driver loop's input at 100 TB."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    words = df.select(
        F.explode(F.split(F.trim(norm), " +")).alias("w")
    ).filter(F.length("w") > 0)
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    top = counts.orderBy(F.desc("f"), F.asc("w")).limit(max_words).collect()
    return {r["w"]: r["f"] for r in top}


def bpe_learn_merges_from_corpus(
    df: DataFrame, text_col: str, n_merges: int, max_words: int = 100_000
) -> list[tuple[str, str]]:
    """End-to-end corpus-scale BPE training, structured the way production
    trainers are: the corpus is scanned EXACTLY ONCE (bpe_word_freqs —
    distributed word count, capped vocabulary), and the iterative merge
    loop runs at the vocabulary grain on the driver (bpe_learn_merges) —
    pair statistics over distinct words weighted by frequency are
    identical to pair statistics over the raw corpus, so nothing is lost
    by the factoring while the k iterations stop touching the data."""
    return bpe_learn_merges(bpe_word_freqs(df, text_col, max_words), n_merges)


def _bpe_merge_word(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """One left-to-right non-overlapping merge pass over a symbol tuple —
    the tuple-form of the string replace in step 3 of the spec."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _bpe_symbolized(text_col: str) -> Column:
    """Steps 1-2 of the spec as one codegen expression: normalized text
    with every symbol two-space-delimited and one leading space.  The
    invariant every merge preserves: symbols separated by exactly two
    spaces, one space at the head, two at the tail — the pattern
    " a  b " -> " ab " consumes one margin space per side and leaves the
    separation intact for the neighbors."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    return F.concat(F.lit(" "), F.regexp_replace(norm, "(.)", "$1  "))


def bpe_token_count(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Exact BPE token count with an expression-folded merge table: each
    rule is ONE literal string replace, all R rules fuse into a single
    whole-stage-codegen projection — no UDF, no shuffle, and the scan
    reads only (id, text).  The right shape for the bounded merge tables
    of domain vocabs (<= a few hundred rules); a production 50k-rule
    vocab outgrows the expression tree — use bpe_token_count_arrow, which
    runs the SAME spec from a broadcast dict."""
    sym = _bpe_symbolized(text_col)
    for a, b in merges:
        sym = F.replace(sym, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    trimmed = F.trim(sym)
    n = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, " +"))
    )
    return df.select(F.col(id_col), n.cast("long").alias(out_col))


def bpe_token_count_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """The production-scale BPE apply: the merge-ranks table rides to
    executors once per task batch as a captured dict (for 50k-rule vocabs
    this is the classic broadcast-the-ranks design), applied per document
    with the greedy lowest-rank-first loop over Arrow-batched pandas —
    one mapInPandas boundary, no shuffle.  Identical results to
    bpe_token_count by the well-formedness argument above; the
    equivalence is pinned by tests on real corpus text."""
    ranks = {pair: r for r, pair in enumerate(merges)}
    out_schema = f"{id_col} string, {out_col} long"
    id_is_long = dict(df.dtypes).get(id_col) in ("bigint", "int")
    if id_is_long:
        out_schema = f"{id_col} long, {out_col} long"

    def count_one(text):
        if not isinstance(text, str):
            # NULL arrives as None or NaN depending on the Arrow batch;
            # either way: NULL text -> NULL count (matches the expr path)
            return None
        import re

        norm = re.sub("[^a-z0-9]+", " ", str(text).lower())
        total = 0
        for word in norm.split():
            syms = tuple(word)
            while len(syms) > 1:
                best = min(
                    (
                        (ranks[p], i)
                        for i, p in enumerate(zip(syms, syms[1:]))
                        if p in ranks
                    ),
                    default=None,
                )
                if best is None:
                    break
                rank, _ = best
                syms = _bpe_merge_word(syms, *merges[rank])
            total += len(syms)
        return total

    def apply_batches(batches):
        for pdf in batches:
            yield pdf.assign(
                **{out_col: pdf[text_col].map(count_one).astype("Int64")}
            )[[id_col, out_col]]

    return df.select(id_col, text_col).mapInPandas(apply_batches, out_schema)


def bpe_replace_sql(col_sql: str, merges: list[tuple[str, str]]) -> str:
    """The SAME spec as ANSI SQL for the DuckDB oracle: nested replace()
    over the symbolized form, one level per rule in rank order.  Shared
    by the declared query and its oracle so the merge table has exactly
    one source of truth."""
    expr = (
        f"' ' || regexp_replace(regexp_replace(lower({col_sql}), "
        f"'[^a-z0-9]+', ' ', 'g'), '(.)', '\\1  ', 'g')"
    )
    for a, b in merges:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return (
        f"CASE WHEN trim({expr}) = '' THEN 0 ELSE "
        f"len(string_split_regex(trim({expr}), ' +')) END"
    )


# Demo merge-ranks table for the declared query: common English digraphs
# in a well-formed rank order (every rule's symbols are single chars or
# earlier outputs) — stands in for a trained vocab's head.
EN_MERGES_DEMO: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("t", "o"), ("o", "u"), ("in", "g"),
    ("ou", "t"),
]


def rolling_fingerprint(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style): hash every
    k-char window of the normalized text, keep the min hash + distinct
    window count.  md5 stands in for the polynomial rolling hash so the
    fingerprint is engine-independent; a production kernel would use a true
    O(n) Rabin-Karp in a pandas UDF, same contract."""
    # Normalize, then hash the windows, each in its own projection: an
    # expression inside the lambda would rerun per window (O(chars^2) per
    # doc), and one feeding both aggregates below would run twice.
    norm = df.select(
        F.col(id_col),
        F.expr(f"regexp_replace(lower({text_col}), '[^a-z0-9]', '')").alias("_norm"),
    )
    kgrams = norm.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(1, greatest(length(_norm) - {k - 1}, 1)),"
            f" i -> md5(substring(_norm, i, {k})))"
        ).alias("_g"),
    )
    return kgrams.select(
        F.col(id_col),
        F.array_min("_g").alias("min_hash"),
        F.size(F.array_distinct("_g")).alias("n_distinct_windows"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 over the normalized text (lowercased,
    non-alphanumerics stripped) — stable under whitespace/punct noise."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("n_norm_chars"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """Greedy sequential token-budget packing — assigning documents to
    fixed-budget training sequences.

    Semantics: docs are sharded by id hash-mod, ordered by id within the
    shard, and filled sequentially: a doc starts a new pack when the tokens
    BEFORE it already meet the budget (the boundary doc overflows its pack,
    it is never split).  pack key = (shard, pack_id).

    Scale: packing is embarrassingly parallel across shards (one window per
    shard partition, no global sort); shard count sets the parallelism and
    the number of output pack streams.
    """
    counted = df.select(
        F.col(id_col), F.size(tokens_col(text_col)).alias("n_tokens")
    )
    return pack_by_counts(counted, id_col, "n_tokens", budget=budget, shards=shards)


def pack_by_counts(
    df: DataFrame,
    id_col: str,
    count_col: str,
    budget: int = 512,
    shards: int = 8,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """pack_sequences generalized to ANY precomputed token counter — the
    whitespace proxy, the regex subword estimate, or real BPE counts
    (bpe_token_count): same greedy boundary-overflow semantics, same
    per-shard window, so a pipeline can budget its packs in the units its
    tokenizer actually bills.

    ``order_cols`` overrides the within-shard packing order (default
    [id_col]) — the curriculum knob: packing by (difficulty_bucket, id)
    makes consecutive packs difficulty-monotone within a shard, the
    easy-to-hard assembly curriculum training wants.  The order columns
    ride through to the output (they key the curriculum property a
    consumer verifies); the default output schema is unchanged."""
    from pyspark.sql.window import Window

    order = order_cols or [id_col]
    extra = [c for c in order if c != id_col]
    shard = F.pmod(F.col(id_col), F.lit(shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        F.col(id_col),
        shard.alias("shard"),
        F.col(count_col).alias("n_tokens"),
        *extra,
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return staged.select(
        id_col,
        "shard",
        *extra,
        "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / budget)
        .cast("int")
        .alias("pack_id"),
    )


def seeded_key(seed: str, id_col: str) -> Column:
    """The determinism-critical seeded draw every sampling/shuffle operator
    keys on: md5('<seed>:' || id).  ONE definition — stratified_sample,
    weighted_sample, and corpus_shuffle (and their DuckDB oracles' literal
    md5('<seed>:' || id) text) must stay byte-compatible, so the separator
    and casting live here only."""
    return F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    seed: str = "flume",
) -> DataFrame:
    """Deterministic stratified sample: the k rows per stratum that sort
    first by md5(seed || id) — a reproducible uniform draw (md5 output is
    uniform, engine-independent, and reshuffles completely per seed).

    Training-data curation staple: balanced per-source/language/quality
    buckets.  One shuffle on the stratum key; TopK per group, never a
    global sort.
    """
    from pyspark.sql.window import Window

    order = seeded_key(seed, id_col)
    w = Window.partitionBy(strata_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "flume",
) -> DataFrame:
    """Deterministic corpus split by seeded hash — the standard way to
    split training data so membership is a pure function of (seed, id):
    stable across runs/engines/re-ingests (a doc can never migrate
    between splits when the corpus grows, unlike fraction-based
    randomSplit), and map-only (no shuffle, no RNG state).

    The draw is the leading 32 bits of md5(seed:id) as a uniform integer
    in [0, 2^32); split boundaries compare INTEGERS (frac scaled by 2^32,
    floor'd) so no floating-point boundary can flip membership across
    engines.  Returns df + (split_draw, split) with split in
    {'train','val','test'}.
    """
    assert 0 <= val_frac and 0 <= test_frac and val_frac + test_frac < 1
    draw = F.conv(F.substring(seeded_key(seed, id_col), 1, 8), 16, 10).cast(
        "long"
    )
    test_hi = int(test_frac * (1 << 32))
    val_hi = test_hi + int(val_frac * (1 << 32))
    split = (
        F.when(F.col("split_draw") < test_hi, F.lit("test"))
        .when(F.col("split_draw") < val_hi, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split_draw", draw).withColumn("split", split)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
    seed: str = "flume",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement (Efraimidis-
    Spirakis A-ExpJ form): each row draws a reproducible uniform
    u = (md5_48(seed:id)+1) / 2^48 in (0,1] and keys on the exponential
    variate -ln(u)/w; the k SMALLEST keys are the sample — inclusion
    probability proportional to weight, no RNG state, identical on any
    engine.  The canonical data-mixing primitive (sample documents
    proportional to token count / quality / source weight).

    Scale: the key is a pure map expression fused into the scan and the
    take is top-k (TakeOrderedAndProject — per-partition heaps, no global
    sort).  Returns (id, weight, sample_key rounded 6dp).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.conv(
        F.substring(seeded_key(seed, id_col), 1, 12), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 48))
    # Rows with weight <= 0 are unsampleable by definition (E-S gives them
    # key = +inf) — filter them out rather than clamping, which would
    # silently turn fractional weights (quality scores) into a uniform draw.
    key = -F.log(u) / w.cast("double")
    return (
        df.filter(w.cast("double") > 0)
        .select(
            F.col(id_col),
            w.cast("double").alias("weight"),
            key.alias("_key"),
        )
        .orderBy("_key", id_col)
        .limit(k)
        .select(id_col, "weight", F.round(F.col("_key"), 6).alias("sample_key"))
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    text_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled mixture weights per group (language/source):
    weight_g = tokens_g^alpha / sum_h tokens_h^alpha — the standard
    multilingual/pretraining sampling-rate formula (alpha<1 upsamples
    low-resource groups; alpha=1 is proportional, alpha=0 uniform).

    Scale: one partial-agg shuffle on the group key, then a broadcast of
    the one-row total — group count is vocabulary-of-sources sized, never
    data sized.  Returns (group, n_docs, n_tokens, share, weight), ratios
    rounded 6dp.
    """
    toks = tokens_col(text_col)
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    return mixture_weights_from_counts(g, group_col, alpha=alpha)


def mixture_weights_from_counts(
    g: DataFrame, group_col: str, alpha: float = 0.3
) -> DataFrame:
    """The temperature-mixture weight LAW over precomputed group counts —
    the single definition `mixture_weights` and composed pipelines
    (corpus_mixture_pack, which already holds a tokenized frame) both
    delegate to, so the pow/round-6dp sequence can never silently
    diverge between the standalone op and a composition (round-13
    review).  `g`: (grp, n_docs, n_tokens).  Returns
    (group, n_docs, n_tokens, share, weight), ratios rounded 6dp."""
    tot = g.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("_tot_a"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("share"),
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) / F.col("_tot_a"), 6
        ).alias("weight"),
    )


def source_cap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: int,
) -> DataFrame:
    """Per-source quota: keep at most k docs per group, best-quality first
    (ties by id) — the domain-cap step every crawl-derived corpus applies
    so no single site dominates the mixture.

    One shuffle on the group key, per-group top-k window (never a global
    sort).  Returns (id, group, quality, rank) for the survivors.
    """
    from pyspark.sql.window import Window

    scored = df.select(
        F.col(id_col), F.col(group_col), quality_col(text_col).alias("quality")
    )
    w = Window.partitionBy(group_col).orderBy(F.col("quality").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, group_col, "quality", "rank")
    )


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text normalization (the step before hashing/dedup):
    lowercase, strip control characters, collapse whitespace runs, trim.
    Pure regexp expressions — fuses into the scan; identical RE2-safe
    patterns reproduce on any engine.  Returns (id, norm_text, n_chars_in,
    n_chars_out).
    """
    c = F.col(text_col)
    cleaned = F.regexp_replace(F.lower(c), r"[\x00-\x1f]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return df.select(
        F.col(id_col),
        collapsed.alias("norm_text"),
        F.length(c).alias("n_chars_in"),
        F.length(collapsed).alias("n_chars_out"),
    )


# Training-data scrubbing patterns (RE2-safe so any engine reproduces them)
PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "url": r"https?://[^\s]+",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction counts — the standard pre-training scrub
    pass.  Returns per-doc match counts per category and the redacted text
    (matches replaced by <CATEGORY>).  Pure regexp expressions: fuses into
    the scan, no shuffle."""
    lower = F.lower(F.col(text_col))
    cols = [F.col(id_col)]
    redacted = lower
    for cat, pat in PII_PATTERNS.items():
        sql_pat = pat.replace("\\", "\\\\")
        cols.append(
            F.expr(f"size(regexp_extract_all(lower({text_col}), '{sql_pat}', 0))")
            .alias(f"n_{cat}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{cat.upper()}>")
    cols.append(redacted.alias("redacted"))
    return df.select(*cols)


def tfidf_topk(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-k most distinctive terms per document by TF-IDF.

    The idf factor is the RATIONAL n_docs/df (no logarithm): log is a
    transcendental whose last-ulp can differ across engines/libms, and a
    1-ulp flip near a rank boundary would change the top-k set.  n/df
    preserves the df-ranking log(n/df) induces for fixed tf tiers while
    keeping every score an exactly-rounded IEEE division — deterministic and
    oracle-checkable.  Ties break on term asc.

    Scale shape: tf is one (doc, term) row per distinct pair (partial agg);
    the df join shuffles on term — stopword terms are hot keys, but their
    per-term df row is a single record, so AQE's skew split handles the tf
    side.  The corpus size joins in as a broadcast single-row aggregate, not
    a driver-side collect.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("doc_freq")
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "doc_freq", "score")
    )


def corpus_stats_observed(df: DataFrame, id_col: str, text_col: str):
    """Per-doc quality frame + corpus-level metrics via `df.observe` —
    the metrics ride the SAME action as the main result (zero extra scans;
    `instrumentation.ex`-style telemetry for the relational surface).

    Returns (scored_df, Observation).  After any action on scored_df,
    `observation.get` yields {n_docs, total_tokens, mean_quality}.
    """
    from pyspark.sql import Observation

    obs = Observation("corpus_stats")
    scored = quality_score(df, id_col, text_col)
    observed = scored.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.avg("quality").alias("mean_quality"),
    )
    return observed, obs


# ---------------------------------------------------------------------------
# Round-3 additions: chunking, repetition, vocabulary, BM25 search scoring
# ---------------------------------------------------------------------------


def chunk_sliding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 32,
    stride: int = 24,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """RAG-style overlapping token chunker: window `size` tokens, step
    `stride` (overlap = size - stride).

    Pure Catalyst — sequence + explode + slice, a map-only stage with no
    shuffle: at 100 TB this fuses into the parquet scan and scales linearly
    with the token count.  Chunk count uses exact integer math
    ((n - size + stride - 1) div stride + 1) so both engines agree without
    floating point.

    Returns (id, *keep, chunk_idx, n_chunk_tokens, chunk_text); `keep`
    names extra input columns carried through unchanged (e.g. an event-time
    column so streaming consumers stay join-free — a post-hoc stream
    self-join would be stateful).
    """
    assert 0 < stride <= size
    words = tokens_col(text_col)
    out = df.select(F.col(id_col), *[F.col(c) for c in keep], words.alias("_words"))
    n = F.size("_words")
    # integer division (`div`), not `/`: Spark's `/` on longs is double division
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.expr(f"(size(_words) - {size} + {stride} - 1) div {stride} + 1")
    )
    out = out.select(
        id_col,
        *keep,
        "_words",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride  # 0-based
    chunk = F.slice("_words", start + 1, F.lit(size))
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def repetition_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word bigrams per
    document (1 - distinct/total).  High values flag boilerplate/spam for
    quality filtering.

    Map-only codegen (no shuffle, no UDF).  The single division of two small
    ints is IEEE-identical across engines; rounded to 6 for the oracle hash.
    """
    from flume_spark.operators.dedup import shingle_array_expr

    out = df.select(F.col(id_col), tokens_col(text_col).alias("_words"))
    # shared bigram builder; "_words" passes the pre-tokenized column so the
    # regex split runs once per row
    out = out.select(F.col(id_col), shingle_array_expr("_words", 2).alias("_bi"))
    n = F.size("_bi")
    nd = F.size(F.array_distinct("_bi"))
    return out.select(
        F.col(id_col),
        n.alias("n_bigrams"),
        nd.alias("n_distinct_bigrams"),
        F.when(n > 0, F.round(F.lit(1.0) - nd.cast("double") / n, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def vocab_topk(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Corpus vocabulary: top-k words by frequency (ties -> lexicographic).

    Classic wordcount: explode + partial-agg groupBy (map-side combine), then
    a deterministic TakeOrderedAndProject — the driver only ever sees k rows.
    """
    words = df.select(F.explode(tokens_col(text_col)).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25-style relevance of every document to a fixed term set, top-k.

    Scale design: ONE pass over the corpus.  Per-term tf comes from a
    `filter(words, ...)` size expression (no explode, no shuffle); the three
    corpus statistics (N, avgdl, per-term df) reduce to a single 1-row
    aggregate that broadcasts back via crossJoin.  Total cost = one map stage
    + one scalar agg + TakeOrdered — at 100 TB the driver sees k rows and two
    aggregate rows, nothing else.

    Determinism: idf uses the RATIONAL form (N - df + 0.5)/(df + 0.5) rather
    than its log, avoiding cross-engine libm differences (the tfidf_topk
    trade).  NB this preserves PER-TERM ordering (log is monotone) but the
    multi-term SUM can rank differently than log-idf BM25 — rare terms
    weigh relatively heavier.  It is a deterministic BM25-family score,
    not textbook BM25; callers needing the textbook ranking should apply
    ln() to the idf factor and accept last-ulp engine divergence.  The
    per-term scores are added in fixed written order, not via an
    aggregate, so the double result is bit-identical across engines;
    rounded to 6.

    `terms` must be non-empty; each term is parameterized via F.lit (never
    inlined into SQL text), so any token the whitespace tokenizer can
    produce — unicode, punctuation, quotes — is a valid query term.  Terms
    are lowercased to match the tokenizer's casefold.
    """
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    terms = [t.lower() for t in terms]
    # tokenize ONCE and reuse the aliased array for dl and every tf — the
    # regex split dominates the map stage, so recomputing it per derived
    # column would double-to-quadruple the pass cost
    base = df.select(F.col(id_col), tokens_col(text_col).alias("_words"))
    base = base.select(
        id_col,
        "_words",
        F.size("_words").alias("dl"),
        *[
            # closure factory keeps the lambda UNARY — a `t=t` default would
            # make Spark treat it as the (element, index) two-arg form
            F.size(F.filter("_words", (lambda term: lambda w: w == F.lit(term))(t))).alias(
                f"_tf{i}"
            )
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = (F.col("n_docs") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        part = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
        score = part if score is None else score + part
    return (
        scored.select(
            F.col(id_col),
            F.col("dl").alias("doc_len"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "flume",
    buckets: int = 1024,
    with_rank: bool = True,
) -> DataFrame:
    """Deterministic pseudo-random permutation of a corpus — the global
    shuffle training pipelines need before sharding, reproducible across
    runs/engines (no RNG state): order by md5(seed || id).

    Scale: rank assignment is a SORT, not a single-partition window —
    at 100 TB use the (shuffle_bucket, shuffle_key) pair this emits:
    range-partition by bucket, sort within partitions by key, write — a
    total order across shard files without any global bottleneck.  The
    bucket is the TOP bits of the key's leading 32-bit value, i.e. an
    ORDER-PRESERVING prefix of the sort key, so bucket-major/key-minor
    shard order IS key order IS shuffle_rank order (a mod-hash bucket
    would scatter key order across buckets and the sharded permutation
    would silently differ from the ranked one — gated in
    test_write_shards).  `buckets` must be a power of two ≤ 2^31: the
    bucket column is a 32-bit int, and a 2^32 bucket count would shift
    nothing and wrap the top key bit negative (non-ANSI cast), breaking
    the order-preserving prefix invariant write_shards depends on.

    The dense global rank is computed WITHOUT a single-partition window
    (the round-3 shape; WindowExec warned and every row funneled through
    one task): because the bucket is an order-preserving prefix of the
    key, global rank = (rows in lower buckets) + (rank within my
    bucket).  The offsets are computed LAZILY IN-PLAN (round-4 ADVICE:
    the earlier eager collect froze offsets at call time, so a frame
    built before the underlying table changed combined stale offsets
    with fresh per-bucket row_numbers — duplicate or gapped ranks).
    Offset frame = the per-bucket count aggregate (≤ `buckets` rows by
    construction) running-summed via a broadcast theta-join (lower
    buckets' counts; ≤ buckets² joined rows, trivial at the 1024
    default) — never an unpartitioned window, so no Exchange
    SinglePartition appears anywhere (plan-gated).  The result is a pure
    lazy plan: ranks always reflect the data as of the ACTION, and
    rank-free consumers (write_shards only needs (bucket, key)) can
    still pass `with_rank=False` to skip the offset subplan entirely.
    Every corpus-sized stage is partitioned by bucket, so the plan
    scales with the widest BUCKET, not the corpus.
    Values are identical to the single-window rank (oracle unchanged,
    equality gated in test_corpus_shuffle_rank_matches_global_window).
    Rank stays a 32-bit int like the round-3 column; corpora beyond 2^31
    rows should rank into a long (documented, as before).

    Returns (id, shuffle_bucket, shuffle_key, shuffle_rank).
    """
    assert buckets & (buckets - 1) == 0 and 0 < buckets <= (1 << 31)
    shift = 32 - (buckets.bit_length() - 1)
    key = seeded_key(seed, id_col)
    out = df.select(
        F.col(id_col),
        F.shiftright(F.conv(F.substring(key, 1, 8), 16, 10).cast("long"), shift)
        .cast("int")
        .alias("shuffle_bucket"),
        key.alias("shuffle_key"),
    )
    if not with_rank:
        return out

    from pyspark.sql.window import Window

    counts = out.groupBy("shuffle_bucket").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    lower = counts.select(
        F.col("shuffle_bucket").alias("lower_bucket"),
        F.col("bucket_n").alias("lower_n"),
    )
    offsets = (
        counts.join(
            F.broadcast(lower),
            F.col("lower_bucket") < F.col("shuffle_bucket"),
            "left",
        )
        .groupBy("shuffle_bucket")
        .agg(F.coalesce(F.sum("lower_n"), F.lit(0)).alias("bucket_offset"))
    )
    w = Window.partitionBy("shuffle_bucket").orderBy("shuffle_key", id_col)
    return (
        out.join(F.broadcast(offsets), "shuffle_bucket")
        .withColumn(
            "shuffle_rank",
            (F.col("bucket_offset") + F.row_number().over(w)).cast("int"),
        )
        .select(id_col, "shuffle_bucket", "shuffle_key", "shuffle_rank")
    )


def write_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = "shuffle_bucket",
    order_col: str = "shuffle_key",
    max_records_per_file: int = 100_000,
) -> int:
    """Deterministic training-shard export: range-partition by the shuffle
    bucket, sort within partitions by the shuffle key, and bound every
    output file with maxRecordsPerFile — the writer side of
    corpus_shuffle.  Because the bucket is an order-preserving prefix of
    the key, concatenating part files in filename order reproduces the
    exact shuffle_rank permutation — without any single-partition stage.

    Returns the number of files written (counted via Spark's own file
    listing, so any Hadoop-compatible out_dir — HDFS/S3/local — works).
    """
    spark = df.sparkSession
    (
        df.repartitionByRange(F.col(shard_col))
        .sortWithinPartitions(shard_col, order_col)
        .write.option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(out_dir)
    )
    return len(spark.read.parquet(out_dir).inputFiles())


def bigram_rarity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sequence-level quality signal: the fraction of a doc's adjacent
    word transitions that are corpus-UNIQUE (bigram occurs exactly once in
    the whole corpus) — the word-salad detector.  Shuffled or generated
    gibberish pairs common words in transitions nobody else uses, which
    unigram commonness (`text_commonness`, the vocabulary-rarity signal)
    cannot see; this is the cheap no-model stand-in for the bigram-LM
    perplexity filter of CCNet-style curation.

    Returns (id_col, n_bigrams, n_unique_bigrams, rare_frac) for docs with
    >= 2 tokens.  Exact bigint counts; rare_frac is ONE division of two
    ints (no float aggregation, engine-stable).

    Scale: linear — explode adjacent pairs (O(total words) rows), one
    count shuffle on the bigram key, one equi-join back (reuses the
    key partitioning), one per-doc aggregate.  Never pairwise.
    """
    toks = tokens_col(text_col)
    bi = (
        df.select(F.col(id_col).alias("id"), toks.alias("w"))
        .filter(F.size("w") >= 2)
        .select("id", F.explode(bigrams_over("w")).alias("bigram"))
    )
    counts = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        bi.join(counts, "bigram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias(
                "n_unique_bigrams"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            "n_unique_bigrams",
            (
                F.col("n_unique_bigrams").cast("double") / F.col("n_bigrams")
            ).alias("rare_frac"),
        )
    )


def bigrams_over(words_col: str) -> Column:
    """Adjacent-pair array over an already-materialized words column."""
    w = F.col(words_col)
    return F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 256,
    seed: str = "flume-cls",
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style linear text-classifier INFERENCE as pure DataFrame
    ops — model-based quality filtering (the CCNet/DCLM filter shape) run
    at corpus scale.

    The model is a small TABLE (``vocab_size`` rows of token weights);
    scoring is a broadcast hash join from the exploded token-frequency
    table plus one per-doc aggregate — no Python in the path.  At 100 TB
    the weights live on every executor while the corpus streams through
    map-side; a trained model is a drop-in table swap (same schema:
    ``tok, w_int``).  Weights here are md5-derived integers in
    [-1000, 1000] standing in for trained parameters, which keeps the op
    deterministic and cross-engine oracle-able.

    The logit accumulates as an exact BIGINT (``z_int = sum(tf * w_int)``
    — integer adds commute, so shuffle order cannot perturb it);
    the only float op is the final per-row sigmoid over the
    length-normalized margin, rounded to 6dp.  Docs with no vocab token
    pass through with z_int = 0 (left join), never silently dropped.

    Pass ``weights`` (a (tok, w_int) DataFrame, e.g. classifier_train's
    output) to score with a TRAINED model instead of the md5 stand-in.
    """
    toks = tokens_col(text_col)
    tf = (
        df.select(
            F.col(id_col),
            F.explode(toks).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if weights is not None:
        vocab = weights.select("tok", F.col("w_int").cast("long").alias("w_int"))
    else:
        # the ONE vocabulary definition (classifier_vocab) + an md5 draw
        # standing in for a trained weight vector
        vocab = classifier_vocab(df, id_col, text_col, vocab_size).select(
            "tok",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(seed + ":"), F.col("tok"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            ).alias("w_int"),
        )
    z = (
        tf.join(F.broadcast(vocab), "tok")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("w_int")).alias("z_int"))
    )
    base = df.select(F.col(id_col), F.size(tokens_col(text_col)).alias("n_tokens"))
    out = base.join(z, id_col, "left").withColumn(
        "z_int", F.coalesce(F.col("z_int"), F.lit(0)).cast("long")
    )
    margin = F.col("z_int") / (1000.0 * F.greatest(F.col("n_tokens"), F.lit(1)))
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("z_int"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("score"),
        F.when(F.col("z_int") > 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def classifier_vocab(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 256
) -> DataFrame:
    """Top-``vocab_size`` tokens by document frequency (tie-break token
    asc) — the shared feature space of classifier_score / classifier_train.
    One explode + two aggregates; the result is weights-table sized."""
    toks = tokens_col(text_col)
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(toks)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
    )


def classifier_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    vocab_size: int = 256,
    iters: int = 3,
) -> DataFrame:
    """Distributed BATCH PERCEPTRON training over token-frequency features
    — the TRAIN half of model-based quality/language filtering (the CCNet
    recipe: fit a linear text classifier on labeled corpus slices, then
    filter with it).  classifier_score is the matching inference op.

    All arithmetic is INTEGER (weights, logits, and updates are BIGINTs;
    the perceptron's prediction is sign(z), never a sigmoid), so training
    is deterministic under any shuffle order and cross-engine
    hash-exact — a property no float-gradient trainer has.  Per
    iteration: one broadcast join of the cached tf table against the
    current (vocab-sized) weights, one per-doc integer logit aggregate,
    one token-keyed update aggregate.  At 100 TB the tf table is computed
    once and persisted; every weight state is broadcast-sized; iteration
    count is fixed and small.

    Batch update rule (lr = 1):
        z(doc)   = sum_tok tf * w
        err(doc) = y - [z > 0]           in {-1, 0, 1}
        w'(tok)  = w + sum_doc tf * err

    Returns (tok, w_int) for the full vocabulary (untouched tokens keep
    weight 0).  ``label_col`` must be 0/1.
    """
    tf0 = _classifier_tf0(df, id_col, text_col, label_col)
    vocab, weights = _train_from_tf0(tf0, id_col, vocab_size, iters)
    # both sides are vocab-sized, but the checkpointed frames carry no
    # stats — broadcast explicitly so the spine join never sort-merges
    return vocab.join(F.broadcast(weights), "tok", "left").select(
        "tok", F.coalesce(F.col("w_int"), F.lit(0)).cast("long").alias("w_int")
    )


def _classifier_tf0(
    df: DataFrame, id_col: str, text_col: str, label_col: str
) -> DataFrame:
    """The ONE corpus tokenization of the classifier family: the full
    (id, __y, tok, tf) frequency table, lazily checkpointed so the vocab
    derivation, every training iteration, and classifier_eval's scoring
    pass all read the same materialized blocks — round-14: vocab, train,
    and eval each re-ran their own corpus explode (three scans + three
    doc-token shuffles for one logical pass)."""
    return (
        df.select(
            F.col(id_col),
            F.col(label_col).cast("long").alias("__y"),
            F.explode(tokens_col(text_col)).alias("tok"),
        )
        .groupBy(id_col, "__y", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )


def _train_from_tf0(
    tf0: DataFrame, id_col: str, vocab_size: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """classifier_train's core over a prepared tf0: returns (vocab,
    touched-feature weights).  Document frequency falls out of tf0 for
    free — it holds exactly one row per (doc, token), so a plain count
    per token IS classifier_vocab's count(distinct doc), tie-break and
    all."""
    vocab = (
        tf0.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
        .localCheckpoint(eager=False)
    )
    tf = tf0.join(F.broadcast(vocab), "tok").localCheckpoint(eager=False)
    return vocab, _perceptron_iterations(tf, id_col, "tok", iters)


def _perceptron_iterations(
    tf: DataFrame, id_col: str, feat_col: str, iters: int
) -> DataFrame:
    """The shared batch-perceptron update loop over a prepared
    (id, __y, feat, tf) frame — classifier_train keys it on tokens,
    classifier_train_hashed on hashing-trick buckets.  Returns (feat,
    w_int) for every TOUCHED feature; callers left-join their zero
    spine.  All-integer; every weight state is broadcast-sized."""
    # w0 = 0 for every feature -> first logit is 0, first err is y
    weights = None  # None encodes the all-zero state (skip the first join)
    for _ in range(iters):
        if weights is None:
            z = tf.select(F.col(id_col), F.col("__y")).distinct().withColumn(
                "z", F.lit(0).cast("long")
            )
        else:
            z = (
                tf.join(F.broadcast(weights), feat_col, "left")
                .groupBy(id_col, "__y")
                .agg(
                    F.sum(
                        F.col("tf") * F.coalesce(F.col("w_int"), F.lit(0))
                    ).alias("z")
                )
            )
        err = z.select(
            F.col(id_col),
            (F.col("__y") - F.when(F.col("z") > 0, 1).otherwise(0)).alias("err"),
        )
        delta = (
            tf.join(err, id_col)
            .groupBy(feat_col)
            .agg(F.sum(F.col("tf") * F.col("err")).alias("d"))
        )
        if weights is None:
            weights = delta.select(
                feat_col, F.col("d").cast("long").alias("w_int")
            )
        else:
            weights = (
                weights.join(delta, feat_col, "full")
                .select(
                    feat_col,
                    (
                        F.coalesce(F.col("w_int"), F.lit(0))
                        + F.coalesce(F.col("d"), F.lit(0))
                    ).cast("long").alias("w_int"),
                )
            )
        weights = weights.localCheckpoint(eager=False)
    return weights


def classifier_train_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 64,
    seed: str = "flume-hash",
    iters: int = 1,
) -> DataFrame:
    """`classifier_train` over the HASHING-TRICK feature space — the SAME
    buckets the streaming PerceptronIngestor learns in (md5(seed:token)
    mod n_buckets), so the batch and online trainers are directly
    comparable: under a ONE-batch schedule with iters=1 their weight
    vectors are IDENTICAL (both apply one update from w=0 over the same
    integer tf matrix — pinned by the parity property test); under
    multi-batch online schedules they diverge by design (the online
    model's later batches see weights the batch trainer never holds).

    No vocabulary pass: the feature space is fixed up front, which is
    exactly why the streaming form can exist.  Returns (bucket, w_int)
    with every bucket present (zero spine), matching
    PerceptronIngestor.weights_df's schema."""
    from flume_spark.streaming.classifier import hashed_bucket_col

    spark = df.sparkSession
    tf = (
        df.select(
            F.col(id_col),
            F.col(label_col).cast("long").alias("__y"),
            F.explode(tokens_col(text_col)).alias("tok"),
        )
        .withColumn("bucket", hashed_bucket_col("tok", n_buckets, seed))
        .groupBy(id_col, "__y", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    weights = _perceptron_iterations(tf, id_col, "bucket", iters)
    spine = spark.range(n_buckets).select(F.col("id").cast("long").alias("bucket"))
    return spine.join(F.broadcast(weights), "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("w_int"), F.lit(0)).cast("long").alias("w_int"),
    )


def classifier_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    vocab_size: int = 256,
    iters: int = 3,
) -> DataFrame:
    """Train the batch perceptron and evaluate it on the same corpus in
    one plan: the confusion matrix (tp/fp/tn/fn) of the trained model's
    sign(z) prediction against ``label_col``, all exact BIGINTs — the
    end-to-end train -> infer -> evaluate cycle as a single hash-exact
    result.  Prediction convention matches classifier_score: positive
    iff z > 0; docs with no vocab token score z = 0.
    """
    # ONE tokenization feeds training AND the scoring pass (round-14):
    # the separate scoring explode was a third corpus scan.  Joining the
    # vocab-spine weights keeps the same z: tokens outside the vocab are
    # absent from the spine exactly as they were filtered before.
    tf0 = _classifier_tf0(df, id_col, text_col, label_col)
    vocab, touched = _train_from_tf0(tf0, id_col, vocab_size, iters)
    weights = vocab.join(F.broadcast(touched), "tok", "left").select(
        "tok", F.coalesce(F.col("w_int"), F.lit(0)).cast("long").alias("w_int")
    )
    z = (
        tf0.join(F.broadcast(weights), "tok")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("w_int")).alias("z"))
    )
    scored = (
        df.select(F.col(id_col), F.col(label_col).cast("long").alias("__y"))
        .join(z, id_col, "left")
        .select(
            "__y",
            F.when(F.coalesce(F.col("z"), F.lit(0)) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("__p"),
        )
    )
    y, p = F.col("__y"), F.col("__p")
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn"),
        F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn"),
    )


def bigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded adjacent token pairs: one (id, w1, w2) row per bigram
    occurrence.  Tokens come from `tokens_col` (whitespace split of
    lower(trim(text))), so w1/w2 never contain whitespace and never are
    NULL — the zip pads the final (last_token, NULL) pair, filtered here,
    which is also how the DuckDB oracle expresses it
    (`list_zip(arr, arr[2:])` + `pr[2] IS NOT NULL`)."""
    toks = tokens_col(text_col)
    z = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        df.select(F.col(id_col), F.explode(z).alias("pr"))
        .filter(F.col("pr.w2").isNotNull())
        .select(id_col, F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )


def lm_bigram_model(
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    prune_min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram language-model counts over a REFERENCE corpus slice — the
    training half of the CCNet/DCLM perplexity filter (the classifier
    pair's statistical sibling: classifier_train learns a discriminative
    filter from labels, this learns a generative one from raw reference
    text).

    Returns three DataFrames:
    - bigrams  (w1, w2, c12): adjacent-pair occurrence counts,
    - contexts (w1, c1):      c1 = sum_w2 c12 (the denominator counts),
    - vocab    (v):           one row, count(distinct token) in the slice.

    All counts are exact BIGINTs, so the model itself is cross-engine
    hash-exact.  At 100 TB the reference slice is bounded by design (the
    recipe trains on a curated reference like Wikipedia, not the corpus
    being filtered), so contexts/vocab broadcast and the bigram table is
    at most slice-token-sized.

    ``prune_min_count`` > 1 drops bigram rows below the count floor — the
    standard LM-pruning knob (CCNet ships pruned KenLM models) that
    shrinks the scoring join's model side; IMPORTANT: contexts (c1) are
    summed BEFORE pruning, so a pruned bigram's mass still weighs its
    context's denominator and scoring degrades smoothly to the
    unseen-bigram tier (k/(c1+kV)) instead of inflating probabilities."""
    bg = bigram_pairs(ref_df, id_col, text_col)
    # Stage the aggregated bigram counts ONCE (round-14): big and ctx are
    # both built from big_all, and each downstream broadcast build would
    # otherwise re-run the whole bigram explode + aggregate over ref_df
    # (no ReusedExchange fires across separate broadcast builds).  The
    # staged frame is bigram-TYPE-grain — vocabulary-sized, far below the
    # corpus it came from — so the materialization is cheap in both the
    # ref-slice and train-on-self regimes.
    big_all = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    ctx = big_all.groupBy("w1").agg(F.sum("c12").alias("c1"))
    big = (
        big_all.filter(F.col("c12") >= prune_min_count)
        if prune_min_count > 1
        else big_all
    )
    vocab = ref_df.select(F.explode(tokens_col(text_col)).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    return big, ctx, vocab


def lm_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ref_df: DataFrame | None = None,
    add_k: int = 1,
    scale: int = 1_000_000,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    prune_min_count: int = 1,
    broadcast_model: bool | None = None,
) -> DataFrame:
    """Add-k-smoothed bigram LM perplexity per document — the missing
    half of the model-based-filtering pair (CCNet's quality signal:
    score every doc against an LM trained on reference text; natural
    prose scores low perplexity, boilerplate/noise scores high).

    Per-bigram probability collapses the seen/unseen-bigram and
    unseen-context cases into ONE formula (missing counts coalesce to 0):

        P(w2|w1) = (c12 + k) / (c1 + k*V)

    The exact-integer discipline of classifier_score applies: each
    distinct bigram's log-prob is quantized ONCE to a scaled BIGINT
    (round(ln(P) * scale) — the same 6-decimal quantization the
    hash-green cosine family uses), and the per-doc score accumulates as
    an exact integer sum(tf * lp_int), immune to shuffle order.  The
    only end floats are the reported perplexity
    exp(-lp_int / (scale * n_bigrams)), rounded 6dp.

    Docs with < 2 tokens have no bigrams: lp_int = 0, ppl = 1.0 (they
    carry no LM evidence — gate them on length/quality upstream, this op
    never drops rows).

    Plan shape: the corpus streams through one bigram explode + tf
    aggregate; the ONLY data-sized join is tf⋈bigrams on (w1, w2), and
    when a bounded model is supplied (a `model` triple or a `ref_df`
    slice) the model side rides as an EXPLICIT broadcast (AUTO default —
    see the inline note; train-on-self stays AQE-decided); contexts and
    the 1-row vocab ride as explicit broadcasts always.  Nothing is
    pairwise, no Python anywhere.

    Pass ``model`` (the (bigrams, contexts, vocab) triple of
    `lm_bigram_model`, or a streaming `LmIngestor.model_frames()` export)
    to score with a PREBUILT model instead of training on ``ref_df`` —
    the stream->batch handoff: a continuously-learning ingestor's counts
    become a frozen batch scorer with zero retraining.
    """
    if model is not None:
        big, ctx, vocab = model
    else:
        if ref_df is None:
            ref_df = df
        big, ctx, vocab = lm_bigram_model(
            ref_df, id_col, text_col, prune_min_count=prune_min_count
        )
    tf = (
        bigram_pairs(df, id_col, text_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # The bigram-count frame is model-sided: a reference-slice model is
    # bounded and vocabulary-plateaued, so it is broadcastable by
    # construction — pin it instead of trusting AQE's runtime conversion.
    # Round-13's driver record showed this exact join silently degrading
    # (6.66s vs a 0.96s calm band on an unchanged plan): checkpointed/
    # stats-less model frames can miss AQE's broadcast threshold and fall
    # to a corpus-wide sort-merge with no gate tripping.  broadcast_model
    # defaults to AUTO: pin when a bounded model was supplied (an explicit
    # `model` triple or a `ref_df` slice); when training on the scored
    # corpus itself (ref_df=None — curate_corpus's default lm_ref), the
    # model side is CORPUS-sized and a forced broadcast would be a
    # guaranteed OOM/8GB-limit failure where AQE's choice is merely slow,
    # so the auto default leaves it unpinned there.
    if broadcast_model is None:
        broadcast_model = model is not None or ref_df is not df
    big_j = F.broadcast(big) if broadcast_model else big
    joined = (
        tf.join(big_j, ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.lit(add_k) * F.col("v")
    ).cast("double")
    lp_int = F.round(F.log(p) * scale).cast("long")
    # No corpus⋈corpus re-attach join (round-14): n_bigrams IS sum(tf)
    # for every doc that has a bigram (both equal token_count - 1), so it
    # rides the same per-doc aggregate as lp_int; the <2-token docs —
    # exactly the ids absent from tf — come back via a narrow filtered
    # union instead of a doc-grain left join.  The old base⋈doc join was
    # the plan's only corpus-sized join: it auto-broadcast only while the
    # model side's size estimate stayed tiny, and at scale it degraded to
    # a two-exchange sort-merge of the whole corpus against itself.
    doc = joined.groupBy(id_col).agg(
        F.sum(F.col("tf") * lp_int).cast("long").alias("lp_int"),
        F.sum("tf").cast("int").alias("n_bigrams"),
    )
    zero = df.filter(
        F.coalesce(F.size(tokens_col(text_col)), F.lit(0)) < 2
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("lp_int"),
        F.lit(0).cast("int").alias("n_bigrams"),
    )
    out = doc.unionByName(zero)
    ppl = F.round(
        F.exp(
            -F.col("lp_int")
            / (F.lit(float(scale)) * F.greatest(F.col("n_bigrams"), F.lit(1)))
        ),
        6,
    )
    return out.select(F.col(id_col), "n_bigrams", "lp_int", ppl.alias("ppl"))


def trigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exploded adjacent token triples: one (id, w1, w2, w3) row per
    trigram occurrence.  Built by zipping the bigram structs with the
    twice-shifted array; the null padding keeps exactly len-2 triples
    after the w3 filter (w3 non-null implies w2 non-null).  DuckDB form:
    `unnest(list_zip(arr, arr[2:], arr[3:]))` + `pr[3] IS NOT NULL`."""
    toks = tokens_col(text_col)
    bg = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks)),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    tg = F.zip_with(
        bg,
        F.slice(toks, 3, F.size(toks)),
        lambda p, c: F.struct(
            p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(tg).alias("pr"))
        .filter(F.col("pr.w3").isNotNull())
        .select(
            id_col,
            F.col("pr.w1").alias("w1"),
            F.col("pr.w2").alias("w2"),
            F.col("pr.w3").alias("w3"),
        )
    )


def lm_backoff_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ref_df: DataFrame | None = None,
    scale: int = 1_000_000,
    broadcast_model: bool | None = None,
) -> DataFrame:
    """Trigram STUPID-BACKOFF LM scoring (Brants et al. 2007, the
    web-scale LM recipe: no normalization, a fixed 0.4 back-off factor
    per level) — the higher-order sibling of `lm_perplexity`:

        S(w3|w1,w2) = c123/c12              if c123 > 0
                    = 0.4 * c23/c2          elif c23 > 0
                    = 0.4^2 * (c3+1)/(N+V)  otherwise (add-1 unigram floor)

    Determinism discipline: the 0.4 factors are folded as exact RATIONALS
    (0.4*x/y computed as (2x)/(5y), 0.16*x/y as (4x)/(25y)) so every tier
    is ONE correctly-rounded IEEE division of exact integers — the only
    cross-engine risk stays the ln + scaled-round quantization the whole
    hash-green 6dp family shares.  Per-trigram log-scores quantize once
    to scaled BIGINTs and accumulate as exact integer sums.

    Plan shape: one trigram explode + tf aggregate over the corpus; the
    data-sized joins are tf⋈trigram-counts (w1,w2,w3) and tf⋈bigram-counts
    (w2,w3) — both model-sided; with a `ref_df` slice both ride as
    EXPLICIT broadcasts (`broadcast_model` AUTO, same pinning-vs-OOM
    rationale as `lm_perplexity`: train-on-self model frames are
    corpus-sized and stay AQE-decided); contexts/unigrams/the 1-row
    totals broadcast.  Returns (id, n_trigrams, lp_int, ppl)."""
    if ref_df is None:
        ref_df = df
    # Stage each count table ONCE (round-14): every derived table (bctx
    # from tri, uctx from bi, nv from uni) and every broadcast build
    # would otherwise re-run its parent's full explode + aggregate over
    # ref_df — the executed plan ran the trigram, bigram, and token
    # explodes twice each (14 Generate nodes for 3 logical passes).  The
    # staged frames are n-gram-TYPE-grain (vocabulary-sized); nv now
    # derives from the unigram table (n = sum of counts, v = row count —
    # exact identities), dropping a whole token explode.
    from flume_spark.operators.concurrency import overlap

    tg = trigram_pairs(ref_df, id_col, text_col)
    bg = bigram_pairs(ref_df, id_col, text_col)
    # the three count tables are independent aggregates over ref_df —
    # their eager checkpoints overlap (§2.6, round-15)
    tri, bi, uni = overlap(
        lambda: tg.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .localCheckpoint(eager=True),
        lambda: bg.groupBy(F.col("w1").alias("w2"), F.col("w2").alias("w3"))
        .agg(F.count(F.lit(1)).alias("c23"))
        .localCheckpoint(eager=True),
        lambda: ref_df.select(F.explode(tokens_col(text_col)).alias("w3"))
        .groupBy("w3")
        .agg(F.count(F.lit(1)).alias("c3"))
        .localCheckpoint(eager=True),
    )
    bctx = tri.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    uctx = bi.groupBy("w2").agg(F.sum("c23").alias("c2"))
    nv = uni.agg(
        F.coalesce(F.sum("c3"), F.lit(0)).cast("long").alias("n"),
        F.count(F.lit(1)).alias("v"),
    )
    tf = (
        trigram_pairs(df, id_col, text_col)
        .groupBy(id_col, "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if broadcast_model is None:
        broadcast_model = ref_df is not df
    _b = F.broadcast if broadcast_model else (lambda d: d)
    j = (
        tf.join(_b(tri), ["w1", "w2", "w3"], "left")
        .join(_b(bctx), ["w1", "w2"], "left")
        .join(_b(bi), ["w2", "w3"], "left")
        .join(F.broadcast(uctx), "w2", "left")
        .join(F.broadcast(uni), "w3", "left")
        .crossJoin(F.broadcast(nv))
    )
    c123 = F.coalesce(F.col("c123"), F.lit(0))
    c12 = F.coalesce(F.col("c12"), F.lit(0))
    c23 = F.coalesce(F.col("c23"), F.lit(0))
    c2 = F.coalesce(F.col("c2"), F.lit(0))
    c3 = F.coalesce(F.col("c3"), F.lit(0))
    s = (
        F.when(c123 > 0, c123 / c12.cast("double"))
        .when(c23 > 0, (F.lit(2) * c23) / (F.lit(5) * c2).cast("double"))
        .otherwise(
            (F.lit(4) * (c3 + 1))
            / (F.lit(25) * (F.col("n") + F.col("v"))).cast("double")
        )
    )
    lp_int = F.round(F.log(s) * scale).cast("long")
    # Same no-re-attach shape as lm_perplexity (round-14): n_trigrams IS
    # sum(tf) for every doc with a trigram (both equal token_count - 2),
    # so it rides the per-doc aggregate; <3-token docs — exactly the ids
    # absent from tf — union back with zero scores.  Drops the corpus-
    # sized base⋈doc left join (two exchanges + a sort at scale).
    doc = j.groupBy(id_col).agg(
        F.sum(F.col("tf") * lp_int).cast("long").alias("lp_int"),
        F.sum("tf").cast("int").alias("n_trigrams"),
    )
    zero = df.filter(
        F.coalesce(F.size(tokens_col(text_col)), F.lit(0)) < 3
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("lp_int"),
        F.lit(0).cast("int").alias("n_trigrams"),
    )
    out = doc.unionByName(zero)
    ppl = F.round(
        F.exp(
            -F.col("lp_int")
            / (F.lit(float(scale)) * F.greatest(F.col("n_trigrams"), F.lit(1)))
        ),
        6,
    )
    return out.select(F.col(id_col), "n_trigrams", "lp_int", ppl.alias("ppl"))


def lm_quality_buckets(
    scored: DataFrame,
    id_col: str = "doc_id",
    ppl_col: str = "ppl",
    cuts: tuple[float, float] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing over LM perplexity
    scores (`lm_perplexity` / `lm_backoff_score` output): head = most
    natural third of the corpus, tail = least — the buckets the recipe
    samples from at different rates.

    Two arms:
    - ``cuts=(c1, c2)``: broadcast threshold compare — the 100 TB path
      (derive the cut points once via approx_percentile or a prior
      epoch's exact run); a pure map stage, no global order.
    - ``cuts=None``: EXACT terciles via one ntile(3) window ordered by
      (ppl, id) — deterministic tie-break, SQL-standard distribution, so
      the result is cross-engine hash-exact.  The window is a single
      global sort over DOC-level rows (one row per document, not per
      token) — fine into the 10^8-doc range; past that use the cuts arm.

    Returns (id, ppl, bucket, label)."""
    if cuts is not None:
        c1, c2 = cuts
        bucket = (
            F.when(F.col(ppl_col) <= c1, 1)
            .when(F.col(ppl_col) <= c2, 2)
            .otherwise(3)
        )
    else:
        from pyspark.sql import Window

        w = Window.orderBy(F.col(ppl_col), F.col(id_col))
        bucket = F.ntile(3).over(w)
    return scored.select(
        F.col(id_col),
        F.col(ppl_col),
        bucket.cast("int").alias("bucket"),
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("label"),
    )
