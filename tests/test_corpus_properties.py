"""Randomized property tests for corpus operators: connected
components vs a union-find oracle on random graphs, and chunking vs a
pure-Python slicing oracle — seeded, so failures reproduce."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import Row

from hive_parse_lineage_spark.operators.components import connected_components
from hive_parse_lineage_spark.operators.corpus import chunk_documents
from tests.test_corpus import _union_find


@pytest.mark.parametrize("seed", [7, 21, 1234])
def test_connected_components_random_graphs(spark, seed):
    rnd = random.Random(seed)
    n = 40
    edges = sorted({tuple(sorted(rnd.sample(range(n), 2)))
                    for _ in range(rnd.randrange(5, 60))})
    verts = list(range(n))
    edf = spark.createDataFrame(edges, "id_a: long, id_b: long")
    vdf = spark.createDataFrame([(v,) for v in verts], "vertex: long")
    got = {r["vertex"]: r["component"]
           for r in connected_components(edf, vertices=vdf).collect()}
    assert got == _union_find(edges, verts)


def _min_within_hops(edges, verts, k):
    """Min vertex id within ``k`` hops over the subgraph induced by
    ``verts`` (an edge with an endpoint outside it does not exist)."""
    nbrs = {v: {v} for v in verts}
    for a, b in edges:
        if a in nbrs and b in nbrs:
            nbrs[a].add(b)
            nbrs[b].add(a)
    out = {}
    for v in verts:
        seen = {v}
        for _ in range(k):
            seen = set().union(*(nbrs[u] for u in seen))
        out[v] = min(seen)
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(verts=st.sets(st.integers(0, 11), min_size=1, max_size=10),
       edges=st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
                      max_size=14))
# the diameter-4 chain, with an isolated vertex and an outside endpoint
@example(verts={1, 2, 3, 4, 5, 9}, edges=[(5, 4), (4, 3), (3, 2), (2, 1),
                                          (1, 13)])
def test_bounded_components_are_min_within_k_hops(spark, verts, edges):
    """``max_iter=k`` labels every vertex with the min vertex id within
    k hops; vertices without edges keep their own id, and edges that
    leave ``vertices`` neither get labelled nor pass a label."""
    edf = spark.createDataFrame(edges, "id_a: long, id_b: long")
    vdf = spark.createDataFrame([(v,) for v in sorted(verts)],
                                "vertex: long")
    for k in range(1, 5):
        got = {r["vertex"]: r["component"]
               for r in connected_components(edf, vertices=vdf,
                                             max_iter=k).collect()}
        assert got == _min_within_hops(edges, verts, k), k


@pytest.mark.parametrize("seed", [3, 99])
def test_chunking_matches_python_slicing(spark, seed):
    rnd = random.Random(seed)
    chunk, stride = 16, 12
    docs, expect = [], {}
    for doc_id in range(8):
        n = rnd.randrange(1, 80)
        toks = [f"w{doc_id}_{i}" for i in range(n)]
        docs.append(Row(doc_id=doc_id, text=" ".join(toks)))
        n_chunks = 1 + max(0, -(-(n - chunk) // stride))  # 1 + ceil
        for c in range(n_chunks):
            piece = toks[c * stride: c * stride + chunk]
            expect[(doc_id, c)] = (len(piece), " ".join(piece))
    got = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(spark.createDataFrame(docs),
                                    chunk_tokens=chunk,
                                    stride=stride).collect()}
    assert got == expect


@pytest.mark.parametrize("seed", [11, 12])
def test_containment_matches_python_sets(spark, seed):
    """ngram_containment_pairs (k=1, unblocked) == plain Python set
    containment over random token docs, including the directional
    asymmetry."""
    from hive_parse_lineage_spark.operators.dedup import ngram_containment_pairs
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rnd.choices(vocab, k=rnd.randint(1, 15))))
            for i in range(14)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in ngram_containment_pairs(df, shingle_k=1, threshold=0.6,
                                            blocked=False).collect()}
    toks = {i: set(t.split(" ")) for i, t in docs}
    want = {}
    for a in toks:
        for b in toks:
            if a == b:
                continue
            c = len(toks[a] & toks[b]) / len(toks[a])
            if c >= 0.6:
                want[(a, b)] = round(c, 4)
    assert got == want


def test_blocked_containment_loses_nothing(spark):
    """The |sh(B)| >= t|sh(A)| block is lossless: blocked and unblocked
    runs emit identical pairs."""
    from hive_parse_lineage_spark.operators.dedup import ngram_containment_pairs
    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(10)]
    docs = [(i, " ".join(rnd.choices(vocab, k=rnd.randint(1, 20))))
            for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    run = lambda b: sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in ngram_containment_pairs(df, shingle_k=1, threshold=0.7,
                                         blocked=b).collect())
    assert run(True) == run(False)


def test_stratified_sample_hash_is_reproducible(spark, tables, sf_dir):
    """x61's salted-hash sampling is deterministic: two runs (fresh
    plans) select the same rows — the property Bernoulli sampleBy
    cannot give."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    fn = corpus_queries()["x61_stratified_sample"]
    a = [r["doc_id"] for r in fn(spark, sf_dir).collect()]
    b = [r["doc_id"] for r in fn(spark, sf_dir).collect()]
    assert a == b and len(a) > 0


@pytest.mark.parametrize("seed", [5, 77, 4242])
def test_duplicate_span_stats_matches_python_reference(spark, seed):
    """The interval-union spelling of duplicate_span_stats must equal a
    brute-force reference (materialize every covered position, count
    the set) on random corpora with a tiny vocabulary — small vocab
    forces heavy cross-doc shingle sharing, overlapping spans, short
    docs and whole-doc shingles all at once."""
    from hive_parse_lineage_spark.operators.corpus import duplicate_span_stats

    rnd = random.Random(seed)
    n, min_docs = 4, 2
    vocab = [f"v{i}" for i in range(6)]
    texts = {d: [rnd.choice(vocab) for _ in range(rnd.randrange(1, 15))]
             for d in range(30)}

    def shingles(toks):
        if len(toks) >= n:
            return [(" ".join(toks[i:i + n]), i) for i in range(len(toks) - n + 1)]
        return [(" ".join(toks), 0)]

    docs_of = {}
    for d, toks in texts.items():
        for s, _ in shingles(toks):
            docs_of.setdefault(s, set()).add(d)
    expect = {}
    for d, toks in texts.items():
        cov = set()
        for s, pos in shingles(toks):
            if len(docs_of[s]) >= min_docs:
                end = pos + n - 1 if len(toks) >= n else len(toks) - 1
                cov.update(range(pos, end + 1))
        expect[d] = (len(toks), len(cov), len(cov) * 1000 // len(toks))

    df = spark.createDataFrame(
        [Row(doc_id=d, text=" ".join(t)) for d, t in texts.items()])
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_permille"])
           for r in duplicate_span_stats(df, n=n, min_docs=min_docs).collect()}
    assert got == expect
