"""Property-based invariants for the text/split column functions
(SURVEY §5.2(3)): every function is compared against an independent
pure-Python oracle on randomized documents — one DataFrame round-trip
per example batch to keep JVM overhead bounded.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

word_st = st.text(alphabet="abcdefghijklmnopqrstuvwxyz.,!0123456789",
                  min_size=1, max_size=8)
doc_st = st.lists(word_st, min_size=1, max_size=40).map(" ".join)
docs_st = st.lists(doc_st, min_size=1, max_size=8)

_SETTINGS = dict(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _df(spark, docs):
    return spark.createDataFrame(list(enumerate(docs)),
                                 "doc_id long, text string")


def _py_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@settings(**_SETTINGS)
@given(docs=docs_st)
def test_token_stats_match_python(spark, docs):
    from hive_parse_lineage_spark.functions import text as T
    rows = (_df(spark, docs)
            .select("doc_id", T.token_count("text").alias("n"),
                    T.distinct_token_count("text").alias("nd"),
                    T.avg_token_length_hundredths("text").alias("avg_c"),
                    T.total_token_chars("text").alias("total"))
            .collect())
    for r in rows:
        toks = docs[r["doc_id"]].split(" ")
        total = sum(len(t) for t in toks)
        assert r["n"] == len(toks)
        assert r["nd"] == len(set(toks))
        assert r["total"] == total
        assert r["avg_c"] == math.floor(total * 100 / len(toks))


@settings(**_SETTINGS)
@given(docs=docs_st)
def test_portable_hash_matches_python_md5(spark, docs):
    from hive_parse_lineage_spark.functions import text as T
    rows = (_df(spark, docs)
            .select("doc_id", T.portable_hash64("text").alias("h"))
            .collect())
    for r in rows:
        h = r["h"]
        assert 0 <= h < (1 << 60)
        assert h == _py_hash(docs[r["doc_id"]])


@settings(**_SETTINGS)
@given(docs=docs_st)
def test_fingerprint_matches_python_rolling_hash(spark, docs):
    from hive_parse_lineage_spark.functions import text as T
    rows = (_df(spark, docs)
            .select("doc_id", T.doc_fingerprint("text").alias("fp"))
            .collect())
    for r in rows:
        acc = 0
        for t in docs[r["doc_id"]].split(" "):
            th = (ord(t[0]) if t else 0) * len(t)
            acc = (acc * 31 + th) % T.FINGERPRINT_MOD
        assert r["fp"] == acc


@settings(**_SETTINGS)
@given(docs=docs_st, k=st.integers(min_value=2, max_value=4))
def test_repetition_bounds_and_exactness(spark, docs, k):
    from hive_parse_lineage_spark.functions import text as T
    rows = (_df(spark, docs)
            .select("doc_id", T.repetition_hundredths("text", k).alias("rep"))
            .collect())
    for r in rows:
        toks = docs[r["doc_id"]].split(" ")
        if len(toks) >= k:
            sh = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        else:
            sh = [docs[r["doc_id"]]]
        want = math.floor((len(sh) - len(set(sh))) * 10000 / len(sh))
        assert 0 <= r["rep"] <= 10000
        assert r["rep"] == want


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=20, unique=True),
       salt=st.sampled_from(["", "v1", "roll2"]))
def test_hash_split_matches_python_and_partitions(spark, ids, salt):
    from hive_parse_lineage_spark.operators.sampling import hash_split
    df = spark.createDataFrame([(i, "x") for i in ids],
                               "doc_id long, text string")
    rows = hash_split(df, salt=salt).collect()
    assert len(rows) == len(ids)  # projection only: no row loss/dup
    for r in rows:
        b = _py_hash(f"{salt}{r['doc_id']}") % 100
        assert r["bucket"] == b
        assert r["split"] == ("train" if b < 80 else "val" if b < 90 else "test")


def _word_shingles_resplit(text: str, k: int):
    """The earlier spelling of ``word_shingles``: ``split(text)`` is
    referenced inside the per-shingle lambda, so every shingle re-splits
    the document. Kept here as the reference the rewrite must equal."""
    t = F.split(F.col(text), " ")
    return F.when(
        F.size(t) >= k,
        F.transform(F.sequence(F.lit(0), F.size(t) - k),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", t)))


def test_word_shingles_equals_resplit_spelling(spark):
    from hive_parse_lineage_spark.functions.text import word_shingles
    ks = range(1, 9)
    docs = [None, "", "a", "a  b", "  a b c", "a b c  ", "  a  b  c  d  "]
    docs += [" ".join(f"w{j}" for j in range(k)) for k in ks]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    rows = df.select(
        "doc_id",
        *[word_shingles("text", k).alias(f"new{k}") for k in ks],
        *[_word_shingles_resplit("text", k).alias(f"ref{k}") for k in ks],
    ).collect()
    assert len(rows) == len(docs)
    for r in rows:
        for k in ks:
            assert r[f"new{k}"] == r[f"ref{k}"], (docs[r["doc_id"]], k)
    analyzed = (df.select(word_shingles("text", 3).alias("sh"))
                ._jdf.queryExecution().analyzed().toString())
    assert analyzed.count("split(") == 1, analyzed
