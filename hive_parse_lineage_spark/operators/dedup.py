"""Deduplication operators for training-data pipelines.

Four families, all expressed as DataFrame transformations designed for
100 TB inputs:

- **exact**: hash-groupBy on a content fingerprint (one shuffle on the
  hash — uniformly distributed, no skew).
- **MinHash + LSH**: shingle → n minhashes → b bands → bucket
  self-join. The only shuffle is on (band, band_hash); candidate
  verification is band-local. Standard banding theory: collision
  probability ≈ 1-(1-j^r)^b for Jaccard j, r = n/b rows per band.
  The banded rows go through one explicit exchange on (band,
  band_hash) that both join sides and the hot-bucket window read, so
  Spark plans a ReusedExchange and signatures are computed ONCE, not
  per join side — in the sort-merge shape and when AQE broadcasts the
  join alike (plan-asserted in tests/test_plans).
- **SimHash**: 64-bit signature; near-dup = Hamming distance ≤ k via
  pigeonhole block join (k+1 blocks: any pair within distance k agrees
  on ≥1 whole block).
- **n-gram Jaccard**: exact verification (array_intersect/union) —
  used standalone on small data or as the verify stage after LSH.

Everything is JVM-side (``transform``/``aggregate``/``xxhash64`` —
no Python UDFs), so signatures are computed map-side during the scan.
The hashing and MIN registers run in whole-stage codegen; the shingle
``Generate`` is interpreted, because higher-order functions fall back
from codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hive_parse_lineage_spark.functions.text import word_shingles

# Mersenne prime 2^31-1: with a, b, x all < 2^31, a*x + b < 2^62 stays
# within bigint range — modular arithmetic is exact in codegen longs.
_P = (1 << 31) - 1


def _perm_params(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash permutations
    h_i(x) = (a_i * x + b_i) mod p — fixed seed keeps tests reproducible."""
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(n_hashes)]


from hive_parse_lineage_spark.operators.util import \
    spread_for_compute as _spread_for_compute


def _free_col(df: DataFrame, base: str) -> str:
    """A helper-column name not present in ``df`` — the projection
    variants materialize-and-drop a scratch column, and a bare ``_mh_h``
    /``_sh_h`` would silently overwrite an input column of that name
    (r12 ADVICE)."""
    name = base
    while name in df.columns:
        name += "_"
    return name


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content fingerprint.

    ``md5`` of the content, then a min-aggregate on the hash: one
    shuffle keyed by the (uniform) hash — scales linearly, no skew.
    """
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (df.select(F.col(id_col), h)
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(df: DataFrame, text_col: str = "text",
                      n_hashes: int = 64, shingle_k: int = 3,
                      seed: int = 42, hasher=None) -> DataFrame:
    """Append ``minhash`` (array<bigint>, length n_hashes).

    Shingle hash = xxhash64 (JVM, seeded) reduced mod p; permutation
    minima via ``array_min(transform(...))`` — all codegen, computed
    map-side during the scan. 100 TB note: signature computation is a
    pure projection; nothing shuffles until the band join.

    ``hasher`` (Column -> Column) overrides the shingle hash; pass
    ``functions.text.portable_hash64`` for cross-engine-reproducible
    signatures (differential testing against a SQL oracle).
    """
    params = _perm_params(n_hashes, seed)
    sh = word_shingles(text_col, shingle_k)
    base = hasher if hasher is not None else F.xxhash64
    hashed = F.transform(sh, lambda s: F.pmod(base(s), F.lit(_P)))
    # One parsed expression instead of n_hashes Column trees: the
    # DataFrame is rebuilt per run, and py4j round-trips for 64
    # permutation columns were ~half the operator's driver wall
    # (measured r12; values bit-identical — same pmod arithmetic).
    h_col = _free_col(df, "_mh_h")
    sig = F.expr("array(" + ", ".join(
        f"array_min(transform(`{h_col}`, x -> pmod({a} * x + {b}, {_P})))"
        for a, b in params) + ")")
    return (_spread_for_compute(df)
            .withColumn(h_col, hashed)
            .withColumn("minhash", sig)
            .drop(h_col))


def minhash_signature_agg(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n_hashes: int = 64,
                          shingle_k: int = 3, seed: int = 42,
                          hasher=None) -> DataFrame:
    """(id, minhash) signatures via explode + n_hashes MIN aggregates.

    Same values as :func:`minhash_signature`, different physical shape:
    each shingle hash becomes a row and the permutation minima are
    plain ``MIN`` aggregate buffers — long registers in a codegen
    HashAggregate instead of 64 array allocations per row (~6x faster
    on measurement). Partial aggregation folds the minima map-side, so
    the exchange carries one 64-long row per (partition, doc) — tiny
    relative to the corpus scan at any scale. The projection variant
    stays for arbitrary-column appends and append-mode streaming
    (aggregation would need a watermark); this is the batch hot path
    ``minhash_near_dups`` uses.
    """
    params = _perm_params(n_hashes, seed)
    base = hasher if hasher is not None else F.xxhash64
    exploded = (_spread_for_compute(df)
                .select(id_col,
                        F.explode(word_shingles(text_col, shingle_k))
                        .alias("_sh"))
                .select(id_col,
                        F.pmod(base(F.col("_sh")), F.lit(_P)).alias("_h")))
    return _min_register_aggs(exploded, id_col, params)


def minhash_signature_from_shingles(df: DataFrame,
                                    shingles_col: str = "shs",
                                    id_col: str = "doc_id",
                                    n_hashes: int = 64, seed: int = 42,
                                    hasher=None) -> DataFrame:
    """(id, minhash) signatures from a PRE-COMPUTED shingle array
    column — the one-tokenization path for pipelines that already
    materialize shingle sets for exact verification (x125's rule:
    never tokenize the corpus twice in one job).

    Values are IDENTICAL to :func:`minhash_signature_agg` over the
    source text: MIN is idempotent over duplicate elements, so a
    distinct-ed shingle array (the usual verification-side shape)
    yields the same permutation minima as the raw shingle stream.
    Physical shape is the same explode + n_hashes MIN aggregate
    registers; the upstream scan is whatever produced the shingle
    table — typically a localCheckpoint shared with the verifier, so
    the corpus text is read and split exactly once."""
    params = _perm_params(n_hashes, seed)
    base = hasher if hasher is not None else F.xxhash64
    exploded = (df.select(id_col, F.explode(shingles_col).alias("_sh"))
                .select(id_col,
                        F.pmod(base(F.col("_sh")), F.lit(_P)).alias("_h")))
    return _min_register_aggs(exploded, id_col, params)


def _min_register_aggs(exploded: DataFrame, id_col: str,
                       params: list[tuple[int, int]]) -> DataFrame:
    """The n_hashes MIN permutation registers over an (id, _h) stream,
    parsed from SQL text: one py4j expression per register (and one for
    the array assembly) instead of ~8 Column calls each — the Column
    trees were ~half the LSH operators' driver wall because every run
    rebuilds the DataFrame (measured r12). Values bit-identical."""
    aggs = [F.expr(f"min(pmod({a} * _h + {b}, {_P})) AS _m{i}")
            for i, (a, b) in enumerate(params)]
    arr = ("array(" + ", ".join(f"_m{i}" for i in range(len(params)))
           + ") AS minhash")
    return exploded.groupBy(id_col).agg(*aggs).selectExpr(id_col, arr)


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        n_hashes: int = 64, bands: int = 16,
                        max_bucket_size: int | None = 1000,
                        cap_observation=None) -> DataFrame:
    """Candidate near-dup pairs from banding: explode signatures into
    (band_idx, band_hash) buckets, self-join within buckets.

    Shuffle key is (band_idx, band_hash) — at 100 TB, hot buckets (many
    docs sharing a band) are the quadratic risk: boilerplate-heavy
    corpora can put thousands of docs in one bucket, and the self-join
    then emits O(n²) pairs inside it. ``max_bucket_size`` drops buckets
    above the cap before the join (a window count on the join key, so
    the exchange is shared with the join — no extra shuffle). Docs
    whose EVERY band is oversized are exact/boilerplate duplicates by
    construction — ``exact_dedup`` and the common-shingle pass (x41)
    are the right tools there, not pairwise LSH. ``None`` disables the
    guard. The cap is a deliberate recall trade — pass a
    ``pyspark.sql.Observation`` as ``cap_observation`` to surface how
    much was dropped: after the first action on the result,
    ``obs.get`` carries ``capped_bucket_rows`` (bucket entries removed)
    and ``total_bucket_rows``, at zero extra passes (metrics piggyback
    on the scan). Output: distinct (id_a < id_b) pairs with the
    estimated Jaccard (fraction of agreeing minhash components).
    """
    buckets = _band_buckets(sig_df, id_col, n_hashes, bands, max_bucket_size,
                            cap_observation)
    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = (left.join(right,
                       (F.col("l.band") == F.col("r.band"))
                       & (F.col("l.band_hash") == F.col("r.band_hash"))
                       & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.col("l.minhash").alias("mh_a"),
                     F.col("r.minhash").alias("mh_b"))
             .dropDuplicates(["id_a", "id_b"]))
    return pairs.select("id_a", "id_b",
                        _est_jaccard(n_hashes).alias("est_jaccard"))


def _band_buckets(sig_df: DataFrame, id_col: str, n_hashes: int, bands: int,
                  max_bucket_size: int | None,
                  cap_observation=None) -> DataFrame:
    """Explode (id, minhash) into (id, minhash, band, band_hash) rows,
    optionally dropping oversized buckets (see lsh_candidate_pairs)."""
    r = n_hashes // bands
    # one parsed expression for all bands (see _min_register_aggs)
    band_entries = F.expr("array(" + ", ".join(
        "named_struct('band', {i}, 'band_hash', xxhash64(concat_ws(',', {e})))"
        .format(i=i, e=", ".join(
            f"cast(element_at(minhash, {i * r + j + 1}) as string)"
            for j in range(r)))
        for i in range(bands)) + ")")
    # The explicit band-key exchange is the one the join and the cap
    # window both consume, whichever join AQE picks: a broadcast join
    # would otherwise recompute the signatures above it per join side.
    buckets = (sig_df
               .select(id_col, "minhash", F.explode(band_entries).alias("b"))
               .select(id_col, "minhash", "b.band", "b.band_hash")
               .repartition("band", "band_hash"))
    if max_bucket_size is not None:
        from pyspark.sql import Window
        n_in_bucket = F.count(F.lit(1)).over(
            Window.partitionBy("band", "band_hash"))
        buckets = buckets.withColumn("_bn", n_in_bucket)
        if cap_observation is not None:
            buckets = buckets.observe(
                cap_observation,
                F.sum((F.col("_bn") > max_bucket_size).cast("long"))
                 .alias("capped_bucket_rows"),
                F.count(F.lit(1)).alias("total_bucket_rows"))
        buckets = (buckets.filter(F.col("_bn") <= max_bucket_size)
                   .drop("_bn"))
    return buckets


def _est_jaccard(n_hashes: int) -> Column:
    return F.expr(
        "round(size(filter(zip_with(mh_a, mh_b, "
        "(a, b) -> cast((a = b) as int)), x -> x = 1)) "
        f"/ {n_hashes}, 4)")


def lsh_cross_pairs(sig_new: DataFrame, sig_corpus: DataFrame,
                    id_col: str = "doc_id", n_hashes: int = 64,
                    bands: int = 16,
                    max_bucket_size: int | None = 1000,
                    cap_observation=None) -> DataFrame:
    """Near-dup pairs BETWEEN two signature sets — the incremental-
    ingestion shape: a new batch is checked against the standing corpus
    without ever joining the corpus to itself.

    Both sides band identically, so the equi-join on (band, band_hash)
    co-locates new-batch buckets with only the matching corpus buckets;
    corpus-vs-corpus pairs are never generated. At 100 TB the corpus
    signatures are precomputed once and persisted (bucketed by band
    hash), and each daily batch joins against them — cost scales with
    the batch, not the corpus. The bucket cap applies to the corpus
    side, where boilerplate accumulates. Output: distinct
    (new_id, corpus_id, est_jaccard).
    """
    nb = _band_buckets(sig_new, id_col, n_hashes, bands, None).alias("l")
    cb = _band_buckets(sig_corpus, id_col, n_hashes, bands,
                       max_bucket_size, cap_observation).alias("r")
    pairs = (nb.join(cb, (F.col("l.band") == F.col("r.band"))
                     & (F.col("l.band_hash") == F.col("r.band_hash")))
             .select(F.col(f"l.{id_col}").alias("new_id"),
                     F.col(f"r.{id_col}").alias("corpus_id"),
                     F.col("l.minhash").alias("mh_a"),
                     F.col("r.minhash").alias("mh_b"))
             .dropDuplicates(["new_id", "corpus_id"]))
    return pairs.select("new_id", "corpus_id",
                        _est_jaccard(n_hashes).alias("est_jaccard"))


def minhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.7,
                      n_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 3, seed: int = 42,
                      hasher=None,
                      max_bucket_size: int | None = 1000,
                      cap_observation=None) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection (``cap_observation``:
    see :func:`lsh_candidate_pairs`)."""
    sig = minhash_signature_agg(df, text_col, id_col, n_hashes,
                                shingle_k, seed, hasher)
    cand = lsh_candidate_pairs(sig, id_col, n_hashes, bands,
                               max_bucket_size=max_bucket_size,
                               cap_observation=cap_observation)
    return cand.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text",
            token_expr: Column | None = None, hasher=None) -> DataFrame:
    """Append a 64-bit ``simhash`` (bigint) column.

    Per token: xxhash64 → 64 sign contributions (+1 if bit set, −1
    otherwise) accumulated per bit position; signature bit b = 1 iff the
    accumulated weight is positive. Pure codegen expressions — the
    64-counter accumulator is an array<int> folded with ``aggregate`` +
    ``zip_with``. ``hasher`` overrides the token hash (see
    ``minhash_signature``).
    """
    toks = token_expr if token_expr is not None else F.split(F.col(text_col), " ")
    base = hasher if hasher is not None else F.xxhash64
    # signed-long bit masks; bit 63 is the (negative) sign-bit mask,
    # spelled shiftleft(1L, 63) in SQL text. The whole fold is ONE
    # parsed expression instead of ~400 Column calls (see
    # _min_register_aggs) — values bit-identical.
    mask_sql = [f"CAST({1 << b} AS BIGINT)" if b < 63
                else "shiftleft(CAST(1 AS BIGINT), 63)" for b in range(64)]
    vote = ", ".join(f"CASE WHEN (h & {m}) != 0 THEN 1 ELSE -1 END"
                     for m in mask_sql)
    h_col = _free_col(df, "_sh_h")
    counters = (f"aggregate(`{h_col}`, array_repeat(0, 64), "
                f"(acc, h) -> zip_with(acc, array({vote}), (x, y) -> x + y))")
    sig = (f"aggregate(zip_with({counters}, array({', '.join(mask_sql)}), "
           "(c, m) -> CASE WHEN c > 0 THEN m ELSE CAST(0 AS BIGINT) END), "
           "CAST(0 AS BIGINT), (acc, x) -> acc | x)")
    return (_spread_for_compute(df)
            .withColumn(h_col, F.transform(toks, lambda t: base(t)))
            .withColumn("simhash", F.expr(sig))
            .drop(h_col))


def simhash_agg(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", hasher=None,
                token_expr: Column | None = None) -> DataFrame:
    """(id, simhash) signatures via explode + 64 bit-count aggregates —
    the same values as :func:`simhash`, the same physical trick as
    :func:`minhash_signature_agg`: signature bit b is set iff the
    signed token vote is positive, and the vote is 2*ones_b - T where
    ones_b counts tokens whose hash has bit b set. So instead of
    folding a 64-element ±1 array per token (64 array allocations per
    row), each token hash becomes one row and the 64 ones-counters are
    plain SUM registers in a codegen HashAggregate with map-side
    partial aggregation — the exchange carries one 65-long row per
    (partition, doc). This is the batch hot path
    ``simhash_near_dups`` uses; the projection variant stays for
    arbitrary-column appends and append-mode streaming."""
    toks = (token_expr if token_expr is not None
            else F.split(F.col(text_col), " "))
    base = hasher if hasher is not None else F.xxhash64
    # explode_outer + a size tag so NULL/empty token arrays keep their
    # doc row exactly like the projection variant (ADVICE r8: plain
    # explode silently dropped NULL-array docs from candidate
    # generation): _sz == -1 marks a NULL array (NULL signature, as
    # aggregate(NULL,...) yields in the projection form), _sz == 0 an
    # empty one (signature 0); the padding row's _h stays NULL so it
    # feeds no SUM register, while a genuine NULL ELEMENT of a
    # non-empty array is hashed — base(NULL) — just as transform() does.
    exploded = (_spread_for_compute(df)
                .select(id_col,
                        F.coalesce(F.size(toks), F.lit(-1)).alias("_sz"),
                        F.explode_outer(toks).alias("_t"))
                .select(id_col, "_sz",
                        F.when(F.col("_sz") >= 1,
                               base(F.col("_t"))).alias("_h")))
    # SQL-text spellings of the 64 ones-counters and the mask fold —
    # one parsed expression each instead of hundreds of Column calls
    # (see _min_register_aggs); values bit-identical, bit 63 spelled
    # shiftleft(1L, 63) which IS the long sign-bit mask.
    aggs = [F.expr(f"sum(shiftright(_h, {b}) & 1) AS _o{b}")
            for b in range(64)]
    per_doc = exploded.groupBy(id_col).agg(
        F.expr("count(_h) AS _t"), F.expr("min(_sz) AS _sz"), *aggs)
    terms = " | ".join(
        f"(CASE WHEN _o{b} * 2 > _t THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)" for b in range(64))
    sig = (f"CASE WHEN _sz = -1 THEN CAST(NULL AS BIGINT) ELSE ({terms}) END"
           " AS simhash")
    return per_doc.selectExpr(id_col, sig)


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      hasher=None) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: split 64 bits into (max_hamming+1) blocks; any
    pair within distance k must agree exactly on at least one block →
    equi-join per block on the block value, then verify with
    ``bit_count(a XOR b)``. The join key is a 16-bit block value —
    uniform, shuffle-friendly; no quadratic blowup at scale.
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sig = simhash_agg(df, text_col, id_col, hasher=hasher)
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftright("simhash", i * width)
                  .bitwiseAND(F.lit((1 << width) - 1)).alias("blk_val"))
        for i in range(n_blocks)
    ])
    b = sig.select(id_col, "simhash", F.explode(blocks).alias("b")) \
           .select(id_col, "simhash", "b.blk", "b.blk_val")
    l, r = b.alias("l"), b.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (l.join(r, (F.col("l.blk") == F.col("r.blk"))
                      & (F.col("l.blk_val") == F.col("r.blk_val"))
                      & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .filter(ham <= max_hamming)
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     ham.alias("hamming"))
             .dropDuplicates(["id_a", "id_b"]))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------

def embedding_near_dups(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", threshold: float = 0.95,
                        n_bits: int = 8, seed: int = 42,
                        dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (semantic dedup).

    Candidates come from random-hyperplane LSH buckets (near-identical
    vectors share all signature bits with high probability), verified
    with the exact cosine. One corpus shuffle on the signature; no
    all-pairs blowup. Raise ``n_bits`` for tighter buckets at scale,
    or union several seeds for recall.
    """
    from hive_parse_lineage_spark.functions.vector import cosine
    from hive_parse_lineage_spark.operators.similarity import (
        hyperplane_signature, make_planes)
    planes = make_planes(n_bits, dim, seed)
    sig = hyperplane_signature(df.select(id_col, vec_col), planes, vec_col)
    l = sig.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "sig")
    r = sig.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "sig")
    cos = cosine(F.col("va"), F.col("vb"))
    return (l.join(r, "sig")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_k: int = 3,
                        threshold: float = 0.5,
                        blocked: bool = True) -> DataFrame:
    """Exact Jaccard over distinct word-k-shingle sets.

    ``blocked=True`` (the scale path) restricts comparisons to pairs
    whose shingle-count ratio can reach the threshold (|A|/|B| >= t is
    necessary for J(A,B) >= t), implemented as a range condition on
    size buckets; small data can run ``blocked=False`` brute force.
    """
    sh = (df.select(id_col,
                    F.array_distinct(word_shingles(text_col, shingle_k)).alias("sh"))
            .withColumn("n_sh", F.size("sh")))
    l, r = sh.alias("l"), sh.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if blocked:
        cond = cond & (F.col("l.n_sh") >= F.col("r.n_sh") * threshold) \
                    & (F.col("r.n_sh") >= F.col("l.n_sh") * threshold)
    jac = (F.size(F.array_intersect("l.sh", "r.sh"))
           / F.size(F.array_union("l.sh", "r.sh")))
    return (l.join(r, cond)
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.round(jac, 4).alias("jaccard"))
             .filter(F.col("jaccard") >= threshold))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_k: int = 3,
                            threshold: float = 0.8,
                            blocked: bool = True) -> DataFrame:
    """Asymmetric containment C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Catches subset duplication that Jaccard misses: a paragraph quoted
    whole inside a much larger doc has near-1 containment but low
    Jaccard (the union is dominated by B). Directional — (id_a, id_b)
    means A is contained in B; both directions are emitted when both
    clear the threshold. ``blocked=True`` keeps only pairs where
    |sh(A)| <= |sh(B)| — containment of the larger doc in the smaller
    is bounded by |B|/|A| < 1 and tested separately by the swapped
    orientation, so the restriction is lossless for threshold > size
    ratio and halves the join. Same one-shuffle shape as
    :func:`ngram_jaccard_pairs`.
    """
    sh = (df.select(id_col,
                    F.array_distinct(word_shingles(text_col, shingle_k)).alias("sh"))
            .withColumn("n_sh", F.size("sh")))
    l, r = sh.alias("l"), sh.alias("r")
    cond = F.col(f"l.{id_col}") != F.col(f"r.{id_col}")
    if blocked:
        # |A ∩ B| <= |B|, so C(A in B) >= t requires |B| >= t*|A|
        cond = cond & (F.col("r.n_sh") >= F.col("l.n_sh") * threshold)
    cont = (F.size(F.array_intersect("l.sh", "r.sh")) / F.col("l.n_sh"))
    return (l.join(r, cond)
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.round(cont, 4).alias("containment"))
             .filter(F.col("containment") >= threshold))


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 64, stride: int = 48,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup at CHUNK granularity: chunk every document into
    overlapping token windows, then keep one surviving chunk per
    distinct chunk text (first in (doc, chunk) order), with the
    corpus-wide copy count.

    Doc-level dedup (:func:`exact_dedup`) misses the common case where
    different documents embed the same boilerplate block or where a
    RAG/pretraining corpus is assembled from overlapping sources — the
    unit that must be unique downstream is the training chunk, not the
    document. Plan: the explode-only chunker, an md5 per chunk, then
    keep-first + copy count as two window functions over ONE hash
    exchange (same partition key, so Spark plans a single shuffle; the
    md5 key is uniform, so no skew at any corpus size).
    """
    from pyspark.sql import Window

    from hive_parse_lineage_spark.operators.corpus import chunk_documents

    chunks = (chunk_documents(docs, chunk_tokens=chunk_tokens, stride=stride,
                              text_col=text_col, id_col=id_col)
              .withColumn("chunk_hash", F.md5("chunk_text")))
    w_first = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_id")
    w_all = Window.partitionBy("chunk_hash")
    return (chunks
            .withColumn("n_copies", F.count("*").over(w_all))
            .withColumn("_rk", F.row_number().over(w_first))
            .filter(F.col("_rk") == 1)
            .select(id_col, "chunk_id", "n_tokens", "n_copies"))


def seed_assign(corpus: DataFrame, seeds: DataFrame,
                vec_col: str = "embedding", id_col: str = "vec_id",
                seed_id_col: str = "seed_id") -> DataFrame:
    """Assign every corpus vector to its most-cosine-similar seed
    centroid (ties toward the lowest seed id). ``seeds`` is broadcast
    — a k-row table at any corpus scale — and the argmax is one hash
    aggregate over a min-of-structs ``(-cos, seed_id)``, so map-side
    partials collapse the k-way expansion before the only shuffle.
    Returns (id, cell, cos_to_cell, v) with the vector carried along
    for downstream within-cell work."""
    from hive_parse_lineage_spark.functions.vector import dot, norm

    s = seeds.select(F.col(seed_id_col).alias("cell"),
                     F.col(vec_col).alias("s_vec"),
                     norm(vec_col).alias("s_norm"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("c_vec"),
                      norm(vec_col).alias("c_norm"))
    cos = dot("c_vec", "s_vec") / (F.col("c_norm") * F.col("s_norm"))
    # (-cos, cell) min-struct = argmax cosine with lowest-seed tiebreak;
    # c_vec rides along (never compared: (cos, cell) is unique per row)
    pick = F.min(F.struct((-cos).alias("neg"), F.col("cell"),
                          F.col("c_vec"))).alias("m")
    return (c.crossJoin(F.broadcast(s))
            .groupBy(id_col).agg(pick)
            .select(F.col(id_col), F.col("m.cell").alias("cell"),
                    (-F.col("m.neg")).alias("cos_to_cell"),
                    F.col("m.c_vec").alias("v")))


def semdedup(corpus: DataFrame, seeds: DataFrame, threshold: float = 0.2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             seed_id_col: str = "seed_id",
             checkpoint: bool = True, use_arrow: bool = True) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings, then drop near-identical vectors *within* each
    cluster — clusters bound the pairwise comparison exactly the way
    LSH bands bound MinHash, so the quadratic blowup of all-pairs
    cosine never happens.

    1. **Assign**: each corpus vector goes to its most-similar seed
       centroid (``seeds`` is broadcast — at 100 TB it is a k-row
       table). The argmax is a single hash aggregate over a min-of-
       structs ``(-cos, seed_id)`` — map-side partials collapse the
       k-way expansion before the only corpus shuffle (on the id).
    2. **Dedup**: within a cell, a vector is dropped iff a lower-id
       cell-mate has cosine >= ``threshold`` with it. Default
       (``use_arrow``): one Arrow batch per cell, the cell's pair
       cosines as ONE BLAS gram matrix ``U @ U.T`` over L2-normalized
       rows (x145's applyInPandas pattern) — measured ~60 s -> ~1 s at
       sf1.0 against the SQL pair join, whose per-pair higher-order
       ``aggregate`` folds were ~95% of the operator's wall.
       ``use_arrow=False`` keeps the pure-SQL per-cell equi-join
       (cosine as an explicit fold). Both spellings and the DuckDB
       oracle (native ``list_cosine_similarity`` — a third summation
       order) compute float64 cosine, so they agree at any realistic
       threshold: the contract is float64 cosine, not one fold shape.

    At 100 TB: assignment is one broadcast pass; cells are
    seed-granularity-bounded and each Arrow batch holds one cell
    (n_cell x dim floats), so executor memory is O(cell), never
    O(corpus). A pathologically hot cell (gram matrix n_cell^2) is the
    same failure mode as an LSH hot bucket — split the seed or chunk
    the matmul row-block-wise; the x127 pre-flight diagnosis applies
    unchanged.

    Returns (id, cell, cos_to_cell, kept). Deterministic: ties in the
    assignment argmax break toward the lowest seed id; the keep rule
    is pure (lowest id in a duplicate pair survives), so a SQL oracle
    replays it exactly.
    """
    assigned = seed_assign(corpus, seeds, vec_col=vec_col, id_col=id_col,
                           seed_id_col=seed_id_col)
    if checkpoint:
        # The assignment subtree (a |corpus| x k argmax — the whole
        # operator's N*k work) feeds both the pair stage and the final
        # keep join; localCheckpoint stores O(corpus) rows once
        # instead of recomputing the argmax per consumer.
        assigned = assigned.localCheckpoint(eager=True)
    if use_arrow:
        import pandas as pd

        def _cell_drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np
            ids = pdf["_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
            n = np.linalg.norm(V, axis=1)
            n[n == 0.0] = 1.0
            U = V / n[:, None]
            hit = np.triu(U @ U.T >= threshold, k=1)  # [i, j] => i < j
            return pd.DataFrame({"_id": ids[hit.any(axis=0)]})

        dropped = (assigned
                   .select("cell", F.col(id_col).alias("_id"), "v")
                   .groupBy("cell")
                   .applyInPandas(_cell_drops, schema="_id long")
                   .withColumnRenamed("_id", id_col))
    else:
        from hive_parse_lineage_spark.functions.vector import dot, norm
        a = assigned.select(F.col("cell"), F.col(id_col).alias("id_a"),
                            F.col("v").alias("va"))
        b = assigned.select(F.col("cell"), F.col(id_col).alias("id_b"),
                            F.col("v").alias("vb"))
        pair_cos = dot("va", "vb") / (norm("va") * norm("vb"))
        dropped = (a.join(b, "cell")
                   .filter((F.col("id_a") < F.col("id_b"))
                           & (pair_cos >= threshold))
                   .select(F.col("id_b").alias(id_col)).distinct())
    return (assigned
            .join(dropped.withColumn("_d", F.lit(1)), id_col, "left")
            .select(id_col, "cell",
                    F.round("cos_to_cell", 4).alias("cos_to_cell"),
                    F.col("_d").isNull().cast("int").alias("kept")))


def segment_dedup_rebuild(docs: DataFrame, seg_tokens: int = 16,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Segment-level dedup with document reconstruction: cut each
    document into non-overlapping ``seg_tokens``-token segments, keep
    only the globally FIRST occurrence of each distinct segment text
    (ordered by id, then position), and rebuild each document's
    surviving prose in original order.

    The 'clean the corpus, keep it readable' operator: unlike whole-doc
    dedup it removes repeated boilerplate blocks INSIDE otherwise-unique
    documents. One shuffle on the segment text (keep-first window), one
    per-doc aggregate; documents whose every segment was seen earlier
    drop out. Output: (id, n_kept, rebuilt).
    """
    from pyspark.sql import Window
    w = F.split(F.col(text_col), " ")
    segs = (docs.select(id_col, w.alias("w"))
            .select(id_col,
                    F.explode(F.expr(
                        f"sequence(0, (size(w) + {seg_tokens - 1}) "
                        f"div {seg_tokens} - 1)")).alias("seg_idx"),
                    F.col("w"))
            .select(id_col, "seg_idx",
                    F.array_join(
                        F.slice("w", F.col("seg_idx") * seg_tokens + 1,
                                F.lit(seg_tokens)), " ").alias("seg")))
    first = Window.partitionBy("seg").orderBy(id_col, "seg_idx")
    kept = (segs.withColumn("_rn", F.row_number().over(first))
            .filter(F.col("_rn") == 1))
    rebuilt = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s.seg), " ")
    return (kept.groupBy(id_col)
            .agg(F.count("*").alias("n_kept"), rebuilt.alias("rebuilt")))
