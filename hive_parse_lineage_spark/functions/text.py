"""Text-analysis column functions for large-scale training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions``
(whole-stage codegen, no Python in the hot path) so a 100 TB documents
table pays only a projection — no shuffle, no UDF serialization.

Each function returns a Column usable in ``select``; the corresponding
oracle-checkable queries live in ``extra_queries.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Stopword lists (top common words per language — public knowledge).
# Deliberately small: the operator is a *heuristic* language scorer, the
# kind used as a cheap pre-filter before a real LID model.
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "ich", "mit", "auf"],
    "en": ["the", "and", "is", "of", "to", "a", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "por"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "que", "pour", "dans"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (documents.text is space-separated)."""
    return F.split(F.col(text) if isinstance(text, str) else text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_length_hundredths(text: Column | str) -> Column:
    """Average token length in integer hundredths (``floor(total*100/n)``).

    Integer-exact on purpose: a plain ``round(total/n, 2)`` lands on
    exact .xx5 boundaries (e.g. 189/40) where Spark (HALF_UP via
    BigDecimal.valueOf) and DuckDB (correct double rounding) disagree.
    floor() is safe: a non-integer rational a/b (b ≤ doc length) is
    ≥ 1/b away from an integer — far beyond double ulp."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.floor(total * 100 / F.size(t))


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of DISTINCT stopwords of ``lang`` present in the text."""
    return F.size(F.array_intersect(
        tokens(text), F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (rounded 4dp)."""
    t = tokens(text)
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(t, lambda x: F.array_contains(stops, x)))
    return F.round(hits / F.size(t), 4)


def language_id(text: Column | str) -> Column:
    """Heuristic language ID: lang with the max stopword-hit score,
    ties broken by alphabetical language order."""
    scores = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    all_scores = list(scores.values())
    pred = None
    for lang in sorted(STOPWORDS, reverse=True):
        s = scores[lang]
        cond = s >= F.greatest(*all_scores)
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(cond, F.lit(lang)).otherwise(pred)
    # reverse iteration + overwrite-on-match makes the alphabetically
    # first max win, matching the oracle's CASE chain
    return pred


def quality_score(text: Column | str) -> Column:
    """Cheap document-quality heuristic in [0, 1] (rounded 4dp):
    rewards mid-length docs, diverse vocabulary, sane token lengths —
    the length/diversity filters of C4-style corpus cleaning."""
    t = tokens(text)
    n = F.size(t)
    diversity = F.size(F.array_distinct(t)) / n
    length_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    total_len = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    avg_len = total_len / n
    len_ok = F.when((avg_len >= 2.0) & (avg_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(diversity * 0.5 + length_ok * 0.25 + len_ok * 0.25, 4)


def doc_fingerprint(text: Column | str) -> Column:
    """Order-sensitive rolling hash over tokens (polynomial, mod 1e9+7).

    Token hash is pure arithmetic (``ascii(first_char) * length``) so the
    DuckDB oracle can recompute it exactly; the production variant would
    swap in ``xxhash64`` per token (same plan shape).
    """
    th = F.transform(tokens(text),
                     lambda x: (F.ascii(x) * F.length(x)).cast("long"))
    return F.aggregate(
        th, F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD)


#: BPE-ish pre-tokenization pattern: letter runs, single digits,
#: single non-alphanumeric marks — the GPT-2-style split shape (letter
#: runs then merges; digits one-at-a-time). Kept to ASCII classes +
#: literal space so Java regex (Spark) and RE2 (DuckDB) agree exactly.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Array of BPE-ish pre-tokens (codegen regexp_extract_all)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def total_token_chars(text: Column | str) -> Column:
    """Sum of token lengths (codegen fold — no Python)."""
    return F.aggregate(tokens(text), F.lit(0).cast("long"),
                       lambda acc, x: acc + F.length(x))


def repetition_hundredths(text: Column | str, k: int = 3) -> Column:
    """Repeated-k-shingle fraction in integer hundredths-of-a-percent:
    ``floor((n - n_distinct) * 10000 / n)`` over word k-shingles — the
    Gopher-style repetition filter signal, integer-exact on purpose so
    the DuckDB oracle agrees bit-for-bit (same rationale as
    :func:`avg_token_length_hundredths`)."""
    sh = word_shingles(text, k)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    return F.floor((n - nd) * 10000 / n)


def portable_hash64(s: Column | str) -> Column:
    """60-bit hash both Spark and DuckDB compute identically: the
    integer value of the first 15 hex chars of ``md5``.

    The production hot path uses ``xxhash64`` (one JVM intrinsic, no
    string round-trip); this variant exists so hash-based operators
    (MinHash, SimHash) can be differentially tested against a SQL
    oracle that replays the exact signatures. Same plan shape either
    way — a pure codegen projection.
    """
    c = F.col(s) if isinstance(s, str) else s
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB spelling of :func:`portable_hash64` (hex fold of md5)."""
    return ("list_reduce(list_transform(range(1,16), i -> "
            f"(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1)::BIGINT), "
            "(a,b) -> a*16+b)")


def portable_hash64_spark_sql(expr: str) -> str:
    """Spark-SQL spelling of :func:`portable_hash64` — for parsed-
    expression fusion where a loop would otherwise build one Column
    tree (4+ py4j calls) per hash (r12 _min_register_aggs pattern).
    Parses to the exact expression :func:`portable_hash64` builds."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (the MinHash/Jaccard unit).

    Docs shorter than k tokens yield a single whole-doc shingle
    (``sequence(0, size-k)`` would otherwise run descending).

    O(tokens·k) per document: the token array is bound once per row by
    a one-element outer ``transform`` (the ``quantize_int8`` idiom).
    Referencing ``split(text)`` inside the per-shingle lambda would
    re-split the whole document for every shingle — O(tokens²).
    """
    return F.flatten(F.transform(
        F.array(tokens(text)),
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(F.sequence(F.lit(0), F.size(t) - k),
                        lambda i: F.concat_ws(" ", F.slice(t, i + 1, k))),
        ).otherwise(F.array(F.concat_ws(" ", t)))))
