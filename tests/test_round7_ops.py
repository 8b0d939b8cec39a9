"""Round-7 operator tests: degree-ordered triangle orientation (skew gate),
OptimisticLogStore time travel, and BPE token counting."""

from __future__ import annotations

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# degree-ordered edge orientation (operators/graph.py oriented_edges)
# ---------------------------------------------------------------------------


def _hub_graph(spark, n_v=400, hub_deg=120):
    """Planted-hub graph: sparse expander background + one hub at id n_v/2
    (mid-range id = worst case for id-ordering: ~deg/2 edges orient into
    it AND ~deg/2 out, so its middle-vertex key alone carries ~deg²/4
    wedge candidates)."""
    hub = n_v // 2
    und = set()
    for a in range(n_v):
        for j in (1, 2):
            b = (a * 2654435761 + j * 40503) % n_v
            if a != b:
                und.add((min(a, b), max(a, b)))
    for i in range(hub_deg):
        b = (i * 7919 + 13) % n_v
        if b != hub:
            und.add((min(hub, b), max(hub, b)))
    both = list(und) + [(b, a) for a, b in und]
    return spark.createDataFrame(both, "src long, dst long")


def _max_middle_key(lo):
    """Max wedge-candidate count on any single middle-vertex join key:
    (#edges into y) × (#edges out of y) over the oriented list."""
    inn = lo.groupBy("y").agg(F.count(F.lit(1)).alias("n_in"))
    out = lo.groupBy(F.col("x").alias("y")).agg(F.count(F.lit(1)).alias("n_out"))
    row = (
        inn.join(out, "y")
        .agg(F.max(F.col("n_in") * F.col("n_out")).alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def test_oriented_edges_degree_kills_hub_key(spark):
    """The skew gate from the round-6 verdict: on a planted-hub graph the
    id-ordered orientation concentrates ~deg²/4 wedge candidates on the
    hub's middle key, degree-ordering caps every key at deg·O(√m).  The
    scale probe recorded in BASELINE.md ("Triangle-orientation skew
    probe") shows the same at 20k-80k vertices with the id-ordered max
    key growing f² while degree-ordered stays flat."""
    from flume_spark.operators import graph

    edges = _hub_graph(spark)
    max_id = _max_middle_key(graph.oriented_edges(edges, by="id"))
    max_deg = _max_middle_key(graph.oriented_edges(edges, by="degree"))
    # hub deg 120 -> id-ordered hub key ~ 60*60 = 3600 candidates
    assert max_id > 1000
    assert max_deg < max_id / 20


def test_oriented_edges_orientation_invariance(spark):
    """Both orientations cover every undirected edge exactly once and yield
    the same per-vertex triangle counts (triangles are orientation-
    invariant) — the value-preservation half of the skew fix."""
    from flume_spark.operators import graph

    edges = _hub_graph(spark, n_v=120, hub_deg=40)

    def canon(lo):
        return {
            (min(r["x"], r["y"]), max(r["x"], r["y"])) for r in lo.collect()
        }

    lo_id = graph.oriented_edges(edges, by="id")
    lo_deg = graph.oriented_edges(edges, by="degree")
    assert canon(lo_id) == canon(lo_deg)

    def tri(lo):
        lo = lo.localCheckpoint(eager=True)
        wedges = lo.join(
            lo.select(F.col("x").alias("y"), F.col("y").alias("z")), "y"
        )
        t = wedges.join(
            lo.select("x", F.col("y").alias("z")), ["x", "z"], "left_semi"
        )
        return {
            r["vertex"]: r["n_tri"]
            for r in t.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("n_tri"))
            .collect()
        }

    assert tri(lo_id) == tri(lo_deg)


# ---------------------------------------------------------------------------
# real BPE apply (operators/text.py bpe_*)
# ---------------------------------------------------------------------------


def test_bpe_learn_merges_classic_corpus():
    """The published BPE walkthrough corpus: {low:5, lower:2, newest:6,
    widest:3}.  Pair counts put (e,s) and (s,t) at 9 (tie -> lexicographic),
    then (es,t) at 9, then (l,o)/(o,w) at 7 (tie -> (l,o)), then (lo,w)."""
    from flume_spark.operators import text

    merges = text.bpe_learn_merges(
        {"low": 5, "lower": 2, "newest": 6, "widest": 3}, 4
    )
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]


def test_bpe_token_count_classic_segmentation(spark):
    """'lowest' under the classic merges segments to [low, est] — 2 tokens;
    unknown words stay character-segmented."""
    from flume_spark.operators import text

    merges = text.bpe_learn_merges(
        {"low": 5, "lower": 2, "newest": 6, "widest": 3}, 4
    )
    df = spark.createDataFrame(
        [(1, "lowest"), (2, "low lowest widest"), (3, "zq")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in text.bpe_token_count(df, "doc_id", "text", merges).collect()
    }
    # lowest -> low est (2); low(1) lowest(2) widest-> w i d est (4); zq -> z q
    assert got == {1: 2, 2: 7, 3: 2}


def test_bpe_arrow_matches_expression_path(spark):
    """The broadcast-ranks Arrow variant (the 50k-vocab scale path) and the
    expression-folded variant implement one spec: equal on real corpus
    text, empty strings, and NULLs."""
    from flume_spark.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(10_000_001, ""), (10_000_002, None)], "doc_id long, text string"
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    a = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in text.bpe_token_count(
            both, "doc_id", "text", text.EN_MERGES_DEMO
        ).collect()
    }
    b = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in text.bpe_token_count_arrow(
            both, "doc_id", "text", text.EN_MERGES_DEMO
        ).collect()
    }
    assert a == b and len(a) > 100


def _bpe_spec_count(text, merges):
    """Pure-Python reference of the documented spec: normalize, symbolize,
    apply rules IN RANK ORDER (one left-to-right non-overlapping pass
    each), count remaining symbols.  Independent of both the string-
    replace encoding (expression path) and the greedy loop (Arrow path)."""
    import re

    from flume_spark.operators.text import _bpe_merge_word

    if text is None:
        return None
    norm = re.sub("[^a-z0-9]+", " ", text.lower())
    total = 0
    for word in norm.split():
        syms = tuple(word)
        for a, b in merges:
            syms = _bpe_merge_word(syms, a, b)
        total += len(syms)
    return total


def test_bpe_property_three_paths_agree(spark):
    """Hypothesis: on random corpora with merge tables LEARNED from them
    (learned tables are well-formed by construction, the precondition for
    rank-order == greedy equivalence), the expression path, the Arrow
    path, and the pure-Python spec all agree.  This pins the subtle part:
    the space-delimited string-replace encoding is exactly the tuple
    semantics, including merged-symbol adjacency and word boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flume_spark.operators import text

    word = st.text(alphabet="abcz01", min_size=1, max_size=6)
    corpus = st.lists(word, min_size=1, max_size=12)

    @given(words=corpus, n_merges=st.integers(min_value=0, max_value=6))
    @settings(max_examples=30, deadline=None)
    def check(words, n_merges):
        freqs: dict[str, int] = {}
        for w in words:
            freqs[w] = freqs.get(w, 0) + 1
        merges = text.bpe_learn_merges(freqs, n_merges)
        docs = [" ".join(words), words[0], "", "zz!! " + words[-1].upper()]
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        expr_path = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in text.bpe_token_count(df, "doc_id", "text", merges).collect()
        }
        arrow_path = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in text.bpe_token_count_arrow(
                df, "doc_id", "text", merges
            ).collect()
        }
        spec = {i: _bpe_spec_count(d, merges) for i, d in enumerate(docs)}
        assert expr_path == spec and arrow_path == spec

    check()


def test_bpe_learn_from_corpus_matches_vocab_grain(spark):
    """The distributed trainer (one corpus scan -> capped vocabulary ->
    driver loop) equals training on independently-counted word
    frequencies of the same corpus."""
    import re
    from collections import Counter

    from flume_spark.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = text.bpe_learn_merges_from_corpus(docs, "text", n_merges=8)
    local = Counter()
    for r in docs.select("text").collect():
        local.update(re.sub("[^a-z0-9]+", " ", (r["text"] or "").lower()).split())
    want = text.bpe_learn_merges(dict(local), 8)
    assert got == want and len(got) == 8


def test_kcore_peel_known_graph(spark):
    """Triangle (0,1,2) with a path tail 2-3-4: the 2-core is exactly the
    triangle (peeling 4 exposes 3, which then also falls — the cascade is
    what distinguishes k-core from a one-shot degree filter)."""
    from flume_spark.operators import graph

    und = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    both = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(both, "src long, dst long")
    got = {
        r["vertex"]: r["deg"]
        for r in graph.kcore_peel(edges, k=2, rounds=8).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}
    # one-shot degree filter would have kept vertex 3 (degree 2): pin that
    # the cascade actually ran
    assert 3 not in got and 4 not in got


# ---------------------------------------------------------------------------
# product quantization (operators/similarity.py pq_*)
# ---------------------------------------------------------------------------


def test_pq_adc_recall_floor(spark):
    """ADC with sign-seeded + 1-Lloyd-round codebooks must keep recall@10
    >= 0.4 (mean over queries) against EXACT int-code L2 — the
    apples-to-apples reference (same metric, same quantization; the only
    error source is the PQ cell approximation).  Deterministic on the
    fixed testdata: no flake margin needed."""
    from pyspark.sql.window import Window

    from flume_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pred = F.col("vec_id") < 4
    pq = {}
    for r in S.pq_adc_topk(emb, pred, k=10).collect():
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    qf = S._quantized_frame(emb, "vec_id", "embedding", code_type="int")
    q = qf.filter(pred).select(
        F.col("vec_id").alias("query_id"), F.col("_code").alias("qc")
    )
    n = qf.select(F.col("vec_id").alias("neighbor_id"), F.col("_code").alias("nc"))
    d = F.aggregate(
        F.zip_with("qc", "nc", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda a, p: a + p,
    )
    ex = (
        F.broadcast(q)
        .join(n, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d.alias("l2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("l2").asc(), "neighbor_id")
    exact = {}
    for r in ex.withColumn("r", F.row_number().over(w)).filter("r <= 10").collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q0] & pq.get(q0, set())) / 10 for q0 in exact]
    assert len(recalls) == 4
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_pq_codebook_mean_is_negative_safe(spark):
    """The +127 offset trick: integer half-up means must round the same
    for negative code values as the pure-Python reference (floor-division
    asymmetry on negatives is the cross-engine trap the offset removes)."""
    from flume_spark.operators import similarity as S

    # two vectors in one sign cell with negative components: mean of
    # (-3, -4) must round half-up to -3 (not floor to -4)
    df = spark.createDataFrame(
        [(1, [-3.0] * 8), (2, [-4.0] * 8)], "vec_id long, embedding array<double>"
    )
    cb = S.pq_codebooks(df, m=1, dim=8, sign_bits=2, refine_rounds=0).collect()
    assert len(cb) == 1
    # both vectors quantize to all -127 codes (scale = max|x|), so the
    # mean is exactly -127 — then perturb to force a half boundary
    assert cb[0]["centroid"] == [-127] * 8
    df2 = spark.createDataFrame(
        [(1, [-1.0, -2.0] * 4), (2, [-2.0, -2.0] * 4)],
        "vec_id long, embedding array<double>",
    )
    # codes: v1 scale 2 -> [-64,-127]*4 ; v2 -> [-127,-127]*4
    # per-dim means: (-64 + -127)/2 = -95.5 -> half-up -> -95 ; -127
    cb2 = S.pq_codebooks(df2, m=1, dim=8, sign_bits=2, refine_rounds=0).collect()
    assert cb2[0]["centroid"] == [-95, -127] * 4


def test_leakage_safe_split_keeps_clusters_whole(spark):
    """The decontamination property: keyed on the component, no near-dup
    cluster ever straddles two splits — while the naive per-doc draw
    demonstrably strands several on this corpus (so the property is doing
    real work, not holding vacuously)."""
    from flume_spark.operators import dedup, text

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = dedup.simhash_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=3, blocks=4
    )
    comps = dedup.connected_components(pairs, "doc_a", "doc_b")

    naive = text.train_val_test_split(docs.select("doc_id"), "doc_id").join(
        comps, "doc_id"
    )
    naive_leaks = (
        naive.groupBy("component")
        .agg(F.count_distinct("split").alias("ns"))
        .filter("ns > 1")
        .count()
    )
    assert naive_leaks > 0, "corpus has no splittable clusters — test is vacuous"

    grouped = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("group_id")
        )
    )
    safe = text.train_val_test_split(grouped, "group_id").join(comps, "doc_id")
    safe_leaks = (
        safe.groupBy("component")
        .agg(F.count_distinct("split").alias("ns"))
        .filter("ns > 1")
        .count()
    )
    assert safe_leaks == 0


def test_kcore_property_matches_reference(spark):
    """Hypothesis: bounded peeling on random graphs equals a pure-Python
    reference peel (same round semantics).  Catches off-by-one-round and
    directionality bugs the fixed kite test can't."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flume_spark.operators import graph

    edge = st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    )

    @given(
        und=st.lists(edge, min_size=1, max_size=20),
        k=st.integers(min_value=1, max_value=4),
        rounds=st.integers(min_value=1, max_value=4),
    )
    @settings(max_examples=25, deadline=None)
    def check(und, k, rounds):
        und = {(min(a, b), max(a, b)) for a, b in und if a != b}
        if not und:
            return
        both = sorted(und) + [(b, a) for a, b in sorted(und)]

        # pure-Python reference: same bounded-round semantics
        live = set(both)
        for _ in range(rounds):
            deg: dict[int, int] = {}
            for u, _v in live:
                deg[u] = deg.get(u, 0) + 1
            keep = {u for u, d in deg.items() if d >= k}
            nxt = {(u, v) for u, v in live if u in keep and v in keep}
            if nxt == live:
                break
            live = nxt
        want: dict[int, int] = {}
        for u, _v in live:
            want[u] = want.get(u, 0) + 1

        edges = spark.createDataFrame(both, "src long, dst long")
        got = {
            r["vertex"]: r["deg"]
            for r in graph.kcore_peel(edges, k=k, rounds=rounds).collect()
        }
        assert got == want

    check()


def test_pq_centroid_property_matches_reference(spark):
    """Hypothesis: the Spark integer-mean centroids equal a pure-Python
    half-up mean on random small vector sets — pinning the +127 offset
    rounding on arbitrary sign mixes, not just the fixture values."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flume_spark.operators import similarity as S

    vec = st.lists(
        st.integers(min_value=-5, max_value=5), min_size=4, max_size=4
    )

    @given(vecs=st.lists(vec, min_size=1, max_size=6))
    @settings(max_examples=20, deadline=None)
    def check(vecs):
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        cb = {
            (r["sub"], r["code"]): r["centroid"]
            for r in S.pq_codebooks(
                df, m=1, dim=4, sign_bits=2, refine_rounds=0
            ).collect()
        }

        # pure-Python reference: quantize, group by 2-bit sign key,
        # half-up mean per dim via the offset trick
        groups: dict[int, list[list[int]]] = {}
        for v in vecs:
            scale = max(abs(x) for x in v) or 1
            code = [int(__import__("math").floor(x / scale * 127 + 0.5)) for x in v]
            gk = (1 if code[0] >= 0 else 0) + (2 if code[1] >= 0 else 0)
            groups.setdefault(gk, []).append(code)
        want = {}
        for gk, members in groups.items():
            cent = []
            for pos in range(4):
                s = sum(c[pos] + 127 for c in members)
                n = len(members)
                cent.append((2 * s + n) // (2 * n) - 127)
            want[(0, gk)] = cent
        assert cb == want

    check()


def test_pq_ingestor_streaming_index(spark, tmp_path):
    """Streaming PQ: vectors arrive in 3 batches (one REPLAYED) against
    fixed codebooks; the ingested codes table equals the whole-corpus
    encode, and ADC search over it equals whole-corpus search — the
    append-only index property that lets a 100 TB pipeline encode at
    ingest and search any time."""
    from flume_spark.operators import similarity as S
    from flume_spark.streaming.sketch import PqIngestor

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = S.pq_codebooks(emb, refine_rounds=1).localCheckpoint(eager=True)
    ing = PqIngestor(
        spark, str(tmp_path / "codes"), str(tmp_path / "ledger"), cb
    )
    for b in range(3):
        ing.process(emb.filter(F.col("vec_id") % 3 == b), b)
    ing.process(emb.filter(F.col("vec_id") % 3 == 1), 1)  # replay: no-op

    whole = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in S.pq_encode(emb, cb).collect()
    }
    streamed = {
        (r["vec_id"], r["sub"]): r["code"] for r in ing.codes().collect()
    }
    assert streamed == whole

    pred = F.col("vec_id") < 2
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.pq_adc_topk(emb, pred, k=5, codebooks=cb).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.pq_adc_topk(
            emb, pred, k=5, codebooks=cb, codes=ing.codes()
        ).collect()
    }
    assert got == want


def test_pq_encode_arrow_matches_expression(spark):
    """The numpy/Arrow encode (the scale path) is bit-identical to the
    expression path: same quantization float sequence, same integer
    distances, same first-minimum tie-break (cells ordered by code)."""
    from flume_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = S.pq_codebooks(emb, refine_rounds=1).localCheckpoint(eager=True)
    a = {
        (r["vec_id"], r["sub"]): (r["code"], r["dist"])
        for r in S.pq_encode(emb, cb).collect()
    }
    b = {
        (r["vec_id"], r["sub"]): (r["code"], r["dist"])
        for r in S.pq_encode_arrow(emb, cb).collect()
    }
    assert a == b and len(a) == 4000
