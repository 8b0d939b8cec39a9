"""Row-level contracts of the shingle / decontamination / connected-
components operators (operators/dedup.py), each against a pure-Python
reference on hand-built inputs: the word_shingles tokenizer, the
distinct-shared-shingle count of contamination_pairs, and the min-label
components with their per-round labels under max_iter."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from flume_spark.operators import dedup

# ---------------------------------------------------------------------------
# word_shingles
# ---------------------------------------------------------------------------

SHINGLE_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "one"),  # shorter than n=2,3
    (3, "two words"),  # shorter than n=3
    (4, "  leading and trailing spaces  "),
    (5, "repeated   spaces\tand\ttabs\n\nand newlines"),
    (6, "MiXeD CaSe mixed case MIXED CASE"),
    (7, "a b a b a b a b"),  # repeated shingles: distinct vs multiset
    (8, "\tleading tab kept by trim"),  # trim strips spaces only
    (9, ""),
    (10, None),
]


def _ref_shingles(text: str | None, n: int) -> list[str]:
    """Spark's tokenizer: trim (spaces only), lowercase, split on \\s+
    keeping empty edge tokens; n-grams only when the doc has >= n words."""
    if text is None:
        return []
    words = re.split(r"\s+", text.strip(" ").lower())
    if n == 1:
        return words
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 3])
@pytest.mark.parametrize("distinct", [True, False])
def test_word_shingles_match_python_reference(spark, n, distinct):
    df = spark.createDataFrame(SHINGLE_DOCS, "doc_id long, text string")
    got = Counter(
        (r["id"], r["shingle"])
        for r in dedup.word_shingles(df, "doc_id", "text", n, distinct).collect()
    )
    want = Counter(
        (i, s)
        for i, t in SHINGLE_DOCS
        for s in (set if distinct else list)(_ref_shingles(t, n))
    )
    assert got == want
    if not distinct:
        # the multiset really carries repeats (doc 7), so the two modes differ
        assert max(got.values()) > 1


# ---------------------------------------------------------------------------
# contamination_pairs
# ---------------------------------------------------------------------------


def test_contamination_counts_each_shared_shingle_once(spark):
    """A corpus doc repeating a probe's shingle many times shares it ONCE:
    n_shared is |distinct shingles(doc) & distinct shingles(probe)| however
    often either side repeats it."""
    corpus = [
        (1, " ".join(["alpha beta gamma"] * 40)),  # 1 probe shingle, x40
        (2, "alpha beta gamma delta epsilon zeta"),  # 4 distinct shared
        (3, "completely unrelated words in this one"),
        (4, "delta epsilon zeta " * 10 + "alpha beta gamma"),
    ]
    probes = [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma alpha beta gamma"),  # probe repeats too
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    pdf = spark.createDataFrame(probes, "doc_id long, text string")
    got = {
        (r["doc_id"], r["probe_id"]): r["n_shared"]
        for r in dedup.contamination_pairs(
            cdf, pdf, "doc_id", "text", n=3, min_shared=1
        ).collect()
    }
    want = {}
    for d, dt in corpus:
        for p, pt in probes:
            k = len(set(_ref_shingles(dt, 3)) & set(_ref_shingles(pt, 3)))
            if k:
                want[(d, p)] = k
    assert got == want
    # doc 1 holds each of these shingles ~40 times, probe 101 twice
    assert got[(1, 100)] == 1 and got[(1, 101)] == 3


# ---------------------------------------------------------------------------
# connected_components
# ---------------------------------------------------------------------------


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _min_label_rounds(edges: list[tuple[int, int]], max_iter: int) -> dict[int, int]:
    """The min-label propagation with pointer jumping, round by round from
    label = node: each node takes min(own, neighbors', label's label), and
    stops after the first round that changes nothing."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {
            v: min([labels[v], labels[labels[v]]] + [labels[u] for u in nbrs[v]])
            for v in labels
        }
        if new == labels:
            break
        labels = new
    return labels


def _components(spark, edges, max_iter=15):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(df, "doc_a", "doc_b", max_iter).collect()
    }


# a path whose min id sits at one end (diameter 11: several rounds even
# with pointer jumping), listed out of order
PATH = [(i, i + 1) for i in range(1, 12)][::-1]
GRAPHS = {
    "path": PATH,
    "star": [(50, leaf) for leaf in (51, 52, 53, 54, 55)] + [(56, 50)],
    "disjoint": [(10, 11), (11, 12), (20, 21), (30, 31), (31, 32), (32, 30)],
    "single_edge": [(7, 3)],
    "cycle": [(5, 6), (6, 7), (7, 8), (8, 5)],
    "two_components": [(4, 9), (9, 2), (15, 13), (13, 14)],
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_connected_components_match_union_find(spark, graph):
    assert _components(spark, GRAPHS[graph]) == _union_find(GRAPHS[graph])


def test_connected_components_empty_edges(spark):
    assert _components(spark, []) == {}


@pytest.mark.parametrize("max_iter", [1, 2, 3])
def test_connected_components_round_cap(spark, max_iter):
    """max_iter caps the rounds exactly: round 1 is min over self and
    neighbors, later rounds add the pointer jump — a path needs more than
    three, so every cap here stops short of the components."""
    got = _components(spark, PATH, max_iter)
    assert got == _min_label_rounds(PATH, max_iter)
    assert got != _union_find(PATH)


def test_connected_components_rejects_string_ids(spark):
    df = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    with pytest.raises(TypeError):
        dedup.connected_components(df, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# components_ctes: the oracles' connected-components SQL, in DuckDB alone
# ---------------------------------------------------------------------------


def _components_sql(edges: list[tuple[int, int]]) -> dict[int, int]:
    import duckdb

    from flume_spark.queries.llm_ops import components_ctes

    con = duckdb.connect()
    con.execute("CREATE TABLE g (doc_a BIGINT, doc_b BIGINT)")
    if edges:
        con.executemany("INSERT INTO g VALUES (?, ?)", edges)
    rows = con.execute(
        f"WITH RECURSIVE {components_ctes('g')} "
        "SELECT doc_id, component FROM components"
    ).fetchall()
    labels = dict(rows)
    assert len(labels) == len(rows), "a node was labelled twice"
    return labels


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_components_fragment_matches_union_find(graph):
    assert _components_sql(GRAPHS[graph]) == _union_find(GRAPHS[graph])


def test_components_fragment_empty_edges():
    assert _components_sql([]) == {}
