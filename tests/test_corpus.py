"""Operator-level tests for corpus statistics and connected components
(the x41-x50 query surface is oracle-tested in test_queries_oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from hive_parse_lineage_spark.operators.components import (
    connected_components, dedup_survivors)
from hive_parse_lineage_spark.operators.corpus import (
    common_shingles, contamination_score, inverted_index, ngram_counts,
    tf_idf_topk)


def _union_find(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # component = min vertex id in the set
    comp = {}
    for v in vertices:
        comp.setdefault(find(v), []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


EDGE_SETS = [
    # chain 1-2-3-4-5: worst case for propagation (diameter 4)
    [(1, 2), (2, 3), (3, 4), (4, 5)],
    # two triangles bridged + a singleton pair
    [(1, 2), (2, 3), (1, 3), (3, 7), (7, 8), (8, 9), (7, 9), (20, 21)],
    # star
    [(10, 1), (10, 2), (10, 3), (10, 4)],
]


@pytest.mark.parametrize("edges", EDGE_SETS)
def test_connected_components_converged_matches_union_find(spark, edges):
    verts = sorted({v for e in edges for v in e} | {99})  # 99 = isolated
    edf = spark.createDataFrame(edges, "id_a: long, id_b: long")
    vdf = spark.createDataFrame([(v,) for v in verts], "vertex: long")
    got = {r["vertex"]: r["component"]
           for r in connected_components(edf, vertices=vdf).collect()}
    assert got == _union_find(edges, verts)


def test_connected_components_bounded_needs_enough_rounds(spark):
    """A diameter-4 chain is NOT resolved in 1 round but is in 4 —
    guards the bounded mode the x46 oracle replays."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edf = spark.createDataFrame(edges, "id_a: long, id_b: long")
    one = {r["vertex"]: r["component"]
           for r in connected_components(edf, max_iter=1).collect()}
    four = {r["vertex"]: r["component"]
            for r in connected_components(edf, max_iter=4).collect()}
    assert one[5] == 4  # only one hop propagated
    assert four == {v: 1 for v in (1, 2, 3, 4, 5)}


def test_connected_components_adjacency_reads_edges_once(spark):
    """Both edge directions come from ONE pass over ``edges``, so the
    pair emitter upstream (MinHash-LSH in x46/x59) is planned once, not
    once per direction. The filter literal marks the edge subplan."""
    edf = (spark.range(1, 3)
           .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
           .filter(F.col("id_a") != 918273645))
    vdf = spark.range(1, 4).select(F.col("id").alias("vertex"))
    labels = connected_components(edf, vertices=vdf, max_iter=1,
                                  checkpoint=False)
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("918273645") == 1, plan
    assert ({r["vertex"]: r["component"] for r in labels.collect()}
            == {1: 1, 2: 1, 3: 2})


def _edges_and_vertices(spark):
    # the edges come out of a shuffle, like the pair emitters' do
    edf = (spark.range(1, 40).groupBy((F.col("id") % 13).alias("g"))
           .agg(F.min("id").alias("id_a"), F.max("id").alias("id_b"))
           .select("id_a", "id_b"))
    return edf, spark.range(1, 40).select(F.col("id").alias("vertex"))


def test_bounded_components_plan_is_one_round_chain(spark):
    """``max_iter`` rounds are ``max_iter`` min-aggregates over ONE
    checkpointed adjacency: no per-round label checkpoint, and every
    round scans the previous labels once, so the plan grows linearly."""
    edf, vdf = _edges_and_vertices(spark)
    labels = connected_components(edf, vertices=vdf, max_iter=4)
    plan = labels._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    kinds = {leaves.apply(i).nodeName() for i in range(leaves.size())}
    rdds = {leaves.apply(i).rdd().id() for i in range(leaves.size())}
    assert kinds == {"LogicalRDD"} and len(rdds) == 1, plan.toString()
    aggs = [line for line in plan.toString().splitlines()
            if "Aggregate [" in line and "min(" in line]
    assert len(aggs) == 4, plan.toString()


def test_bounded_components_build_runs_only_the_adjacency_checkpoint(spark):
    """Building the bounded labels (as x46 does) runs the adjacency's
    checkpoint jobs and nothing else: 4 rounds cost no more jobs at
    build time than 1, and without the checkpoint the build runs none."""
    sc = spark.sparkContext
    edf, vdf = _edges_and_vertices(spark)

    def build_jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            connected_components(edf, vertices=vdf, **kw).orderBy("vertex")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = build_jobs("cc-build-1", max_iter=1)
    assert one > 0
    assert build_jobs("cc-build-4", max_iter=4) == one
    assert build_jobs("cc-build-lazy", max_iter=4, checkpoint=False) == 0


def test_dedup_survivors_keeps_min_per_cluster(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(6)])
    edges = spark.createDataFrame([(0, 3), (3, 5)], "id_a: long, id_b: long")
    kept = sorted(r["doc_id"] for r in dedup_survivors(docs, edges).collect())
    assert kept == [0, 1, 2, 4]  # 3 and 5 collapse into 0


@pytest.fixture(scope="module")
def mini_docs(spark):
    boiler = "all rights reserved by the site"
    rows = [Row(doc_id=i, text=f"unique words {i} " * 3 + boiler)
            for i in range(4)]
    rows.append(Row(doc_id=4, text="totally fresh content here nothing shared"))
    return spark.createDataFrame(rows)


def test_common_shingles_flags_boilerplate(mini_docs):
    flagged = {r["shingle"]: r["n_docs"]
               for r in common_shingles(mini_docs, n=5, min_docs=3).collect()}
    assert "rights reserved by the site" in flagged
    assert flagged["rights reserved by the site"] == 4
    assert all(n >= 3 for n in flagged.values())


def test_contamination_score_keep_logic(mini_docs):
    flagged = common_shingles(mini_docs, n=5, min_docs=3)
    res = {r["doc_id"]: r for r in
           contamination_score(mini_docs, flagged, n=5,
                               max_flagged_pct=5).collect()}
    assert not res[0]["keep"]          # boilerplate-heavy doc
    assert res[4]["keep"]              # clean doc
    assert res[4]["n_flagged"] == 0


def test_inverted_index_postings_sorted(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=2, text="b a"), Row(doc_id=0, text="a"),
         Row(doc_id=1, text="a b a")])
    idx = {r["token"]: r for r in inverted_index(docs).collect()}
    assert idx["a"]["postings"] == "0,1,2" and idx["a"]["df"] == 3
    assert idx["b"]["postings"] == "1,2" and idx["b"]["df"] == 2


def test_tfidf_prefers_rare_terms(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="common rare rare"),
         Row(doc_id=1, text="common stuff"),
         Row(doc_id=2, text="common other")])
    top = (tf_idf_topk(docs, k=1)
           .filter(F.col("doc_id") == 0).collect()[0])
    assert top["token"] == "rare"      # tf=2, df=1 beats ubiquitous 'common'


def test_ngram_counts(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="a b a b"),
                                  Row(doc_id=1, text="a b")])
    got = {r["ngram"]: r["n"] for r in ngram_counts(docs, n=2).collect()}
    assert got == {"a b": 3, "b a": 1}


def test_quantize_int8_bounds_and_reconstruction(spark):
    from hive_parse_lineage_spark.functions.vector import quantize_int8
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.5, -1.0, 0.25, 0.0]),
         Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0])])  # zero vector
    codes, scale = quantize_int8("embedding")
    rows = {r["vec_id"]: r for r in
            df.select("vec_id", codes.alias("c"), scale.alias("s")).collect()}
    assert rows[0]["s"] == 1.0
    assert rows[0]["c"] == [63, -127, 31, 0]     # floor semantics
    assert all(-128 <= c <= 127 for c in rows[0]["c"])
    assert rows[1]["c"] == [0, 0, 0, 0]          # zero vector stays finite
    # reconstruction error bounded by one quantization step
    for r in rows.values():
        for x, c in zip([0.5, -1.0, 0.25, 0.0] if r["vec_id"] == 0 else [0.0] * 4,
                        r["c"]):
            assert abs(x - c * r["s"] / 127.0) <= r["s"] / 127.0 + 1e-12


def test_quantize_int8_null_and_empty(spark):
    # The r13 O(dim) rewrite routes codes through
    # flatten(transform(array(scale), ...)) — pin the null/empty
    # semantics that route could plausibly have changed.
    from hive_parse_lineage_spark.functions.vector import quantize_int8
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.5]), Row(vec_id=1, embedding=[]),
         Row(vec_id=2, embedding=None)],
        "vec_id INT, embedding ARRAY<FLOAT>")
    codes, _ = quantize_int8("embedding")
    rows = {r["vec_id"]: r["c"] for r in
            df.select("vec_id", codes.alias("c")).collect()}
    assert rows[0] == [127]      # floor(0.5 * 127 / 0.5)
    assert rows[1] == []         # empty vector stays empty
    assert rows[2] is None       # null vector stays null


def test_chunk_documents_windows_and_overlap(spark):
    from hive_parse_lineage_spark.operators.corpus import chunk_documents
    toks = [f"t{i}" for i in range(100)]
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=" ".join(toks)), Row(doc_id=1, text="a b c")])
    rows = {(r["doc_id"], r["chunk_id"]): r for r in
            chunk_documents(docs, chunk_tokens=64, stride=48).collect()}
    # 100 tokens -> chunks at offsets 0 and 48: 1 + ceil(36/48) = 2
    assert {k for k in rows if k[0] == 0} == {(0, 0), (0, 1)}
    assert rows[(0, 0)]["n_tokens"] == 64
    assert rows[(0, 0)]["chunk_text"].split()[:2] == ["t0", "t1"]
    assert rows[(0, 1)]["chunk_text"].split()[0] == "t48"  # 16-token overlap
    assert rows[(0, 1)]["n_tokens"] == 52                  # 100 - 48
    # short doc -> one whole-doc chunk
    assert rows[(1, 0)]["chunk_text"] == "a b c" and rows[(1, 0)]["n_tokens"] == 3


def test_cap_per_group_binds_and_is_deterministic(spark):
    from hive_parse_lineage_spark.operators.sampling import cap_per_group
    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 2}") for i in range(30)])
    out1 = {(r["doc_id"], r["pick_rank"])
            for r in cap_per_group(docs, "source", cap=5).collect()}
    out2 = {(r["doc_id"], r["pick_rank"])
            for r in cap_per_group(docs, "source", cap=5).collect()}
    assert out1 == out2 and len(out1) == 10          # 5 per source, stable
    resalted = {(r["doc_id"], r["pick_rank"])
                for r in cap_per_group(docs, "source", cap=5,
                                       salt="other").collect()}
    assert resalted != out1                           # salt re-rolls picks


def test_salted_agg_matches_plain_agg(spark):
    from hive_parse_lineage_spark.operators.skew import salted_agg
    df = spark.createDataFrame(
        [Row(k="hot", v=float(i)) for i in range(500)]
        + [Row(k="cold", v=1.0)])
    got = {r["k"]: (r["n"], r["sum_v"])
           for r in salted_agg(df, ["k"], sums=["v"]).collect()}
    assert got["hot"][0] == 500 and abs(got["hot"][1] - sum(range(500))) < 1e-6
    assert got["cold"] == (1, 1.0)


def test_duplicate_span_stats_crafted_overlap(spark):
    from hive_parse_lineage_spark.operators.corpus import duplicate_span_stats
    # docs 1 and 2 share an exact 10-token prefix; doc 3 is disjoint;
    # docs 4 and 5 are identical 3-token shorties (whole-doc shingle).
    shared = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=shared + " tail1 tail2"),
        Row(doc_id=2, text=shared + " other3 other4 other5"),
        Row(doc_id=3, text=" ".join(f"u{i}" for i in range(12))),
        Row(doc_id=4, text="tiny dup doc"),
        Row(doc_id=5, text="tiny dup doc"),
    ])
    out = {r["doc_id"]: r.asDict()
           for r in duplicate_span_stats(docs, n=10, min_docs=2).collect()}
    # exactly the 10 shared prefix positions are covered in docs 1/2
    assert out[1]["dup_tokens"] == 10 and out[2]["dup_tokens"] == 10
    assert out[1]["dup_permille"] == 10 * 1000 // 12
    assert out[3]["dup_tokens"] == 0 and out[3]["dup_permille"] == 0
    # whole-doc shingle of a short doc spans the whole doc
    assert out[4]["dup_tokens"] == 3 and out[4]["dup_permille"] == 1000
    assert out[5]["dup_tokens"] == 3


def test_weighted_mix_epochs_and_fraction(spark):
    from hive_parse_lineage_spark.operators.sampling import weighted_mix
    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 4}") for i in range(400)])
    weights = {"s0": 2.0, "s1": 0.5, "s2": 0.0}  # s3 defaults to 1.0
    out = weighted_mix(df, weights, salt="t").groupBy("source").count()
    counts = {r["source"]: r["count"] for r in out.collect()}
    assert counts["s0"] == 200            # exactly 2 epochs
    assert counts["s3"] == 100            # default weight 1.0
    assert "s2" not in counts             # weight 0 drops the source
    assert 30 <= counts["s1"] <= 70       # hash-chosen ~50% of 100
    # deterministic: same salt -> identical mix
    again = {r["source"]: r["count"]
             for r in weighted_mix(df, weights, salt="t")
             .groupBy("source").count().collect()}
    assert again == counts
    # copy indices are 1-based and dense per doc
    copies = (weighted_mix(df, weights, salt="t")
              .filter(F.col("source") == "s0")
              .groupBy("doc_id").agg(F.sort_array(F.collect_list("copy"))
                                     .alias("c")).collect())
    assert all(r["c"] == [1, 2] for r in copies)


def test_chunk_dedup_keeps_first_and_counts(spark):
    from hive_parse_lineage_spark.operators.dedup import chunk_dedup
    block = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=block),                 # chunk == doc 2's chunk
        Row(doc_id=2, text=block),
        Row(doc_id=3, text="solo unique words"),
    ])
    out = chunk_dedup(docs, chunk_tokens=8, stride=8)
    rows = {(r["doc_id"], r["chunk_id"]): r["n_copies"] for r in out.collect()}
    assert rows == {(1, 0): 2, (3, 0): 1}  # doc 2's copy deduped away
