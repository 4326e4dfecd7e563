"""Analytics query surface x141+: entropy-class corpus metrics made
hash-gate deterministic, language-model surprise scoring, retrieval
evaluation, rank-list similarity, and an Arrow-batched spectral audit
over the embedding table.

The new primitive this module introduces is the exact integer
floor-log2: ``ibits(x) = length(bin(x)) = floor(log2 x) + 1`` for any
positive BIGINT, and the two engines agree bit-for-bit (Spark ``bin``
and DuckDB ``bin`` both emit the minimal binary string). That unlocks
the whole entropy/cross-entropy/perplexity metric family — normally
libm territory where SUM(double) is partition-order dependent — as
pure integer arithmetic under the hash gate. The same determinism
playbook as corpus_queries applies everywhere else: explicit
tie-breaks under every rank, integer surrogates, and cross-multiplied
inequalities instead of ratios.

Reference parity: the reference's query surface (see SURVEY.md §2) is
declarative SQL over scanned tables; these entries extend it with the
corpus-QA metrics a training-data pipeline needs at 100 TB, each with
an exact DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_parse_lineage_spark.sources.loader import load_tables

#: query terms for the retrieval-evaluation entry (x143) — reuse the
#: x88 BM25 terms so the two entries describe the same retrieval run.
MRR_TERMS = ["spark", "table", "hash", "merge"]

#: RBO depth and the exact integer weight table for p = 1/2 (x144).
#: W(m) = sum_{d=m..8} 2^(8-d) * (840 / d)  — 840 = lcm(1..8), so
#: every term is integral; rbo_scaled = sum over docs of W(max rank),
#: and the perfect-agreement total is 840 * (2^8 - 1) = 214200.
RBO_DEPTH = 8
RBO_WEIGHTS = [148969, 41449, 14569, 5609, 2249, 905, 345, 105]
RBO_MAX = 214200


def _q(fn: Callable[[SparkSession, dict], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = load_tables(spark, sf_dir)
        return fn(spark, tables)
    return run


def _ibits(col):
    """floor(log2(x)) + 1 for positive integers, exact on both engines."""
    return F.length(F.bin(col))


def _sql_str(s: str) -> str:
    """A data-derived string as a Spark SQL single-quoted literal that
    round-trips EXACTLY. Spark's default literal parser processes
    backslash escapes (r11 ADVICE: quote-only escaping turned
    ``'a\\b'`` into ``a + backspace`` — probed live: backslash-b IS
    the backspace escape), so both the backslash and the quote are
    backslash-escaped. Used by every VALUES LocalRelation that embeds
    corpus-derived strings (x170/x185)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# Spark implementations
# ---------------------------------------------------------------------------

def _x141_entropy_bits(spark, tables):
    """Per-source token-entropy audit in exact integer floor-bit
    units: with ibits(x) = floor(log2 x) + 1, the per-token surprise
    ibits(T) - ibits(c) brackets log2(T/c) within one bit, and the
    Shannon-entropy proxy sum_t c_t * (ibits(T) - ibits(c_t)) stays
    integer end-to-end — entropy-class corpus health (is a source
    degenerate/templated? is its vocabulary collapsing?) without libm
    and without an order-dependent SUM(double).

    Scale shape: one explode -> one map-side-combinable (source, tok)
    count -> a per-source window over vocab-sized rows -> one tiny
    per-source aggregate. No broadcast, no global window; the token
    shuffle is the only corpus-proportional exchange."""
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").alias("c"))
    t_tok = F.sum("c").over(Window.partitionBy("source"))
    scored = (c.withColumn("t_tok", t_tok)
              .withColumn("bits",
                          F.col("c") * (_ibits(F.col("t_tok"))
                                        - _ibits(F.col("c")))))
    return (scored.groupBy("source")
            .agg(F.max("t_tok").alias("n_tokens"),
                 F.count("*").alias("n_vocab"),
                 F.sum("bits").alias("total_bits"),
                 F.expr("sum(bits) * 1000 div max(t_tok)")
                 .alias("bits_per_tok_milli"))
            .orderBy("source"))


_ENTROPY_BITS_ORACLE = """
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok
), t AS (
  SELECT source, c,
         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS t_tok
  FROM c
), s AS (
  SELECT source, c, t_tok,
         c * (length(bin(t_tok)) - length(bin(c))) AS bits
  FROM t
)
SELECT source, MAX(t_tok) AS n_tokens, COUNT(*) AS n_vocab,
       CAST(SUM(bits) AS BIGINT) AS total_bits,
       CAST(SUM(bits) AS BIGINT) * 1000 // MAX(t_tok) AS bits_per_tok_milli
FROM s GROUP BY source ORDER BY source
"""


def _x142_bigram_surprise(spark, tables):
    """Bigram language-model surprise scoring: train corpus bigram
    counts, score every document by its mean conditional surprise
    ibits(c1(prev)) - ibits(c2(prev, tok)) in floor-bits — the
    KenLM-style perplexity filter for incoherent / shuffled /
    machine-mangled text, integer-exact under the hash gate. Top 20
    most-surprising docs (desc milli-bits, tie doc_id).

    Scale shape (r11 rewrite — the r10 spelling was 2.48x at sf1.0):
    the bigram stream has exactly ONE corpus-sized exchange, and it is
    load-bearing twice over — the per-doc window that builds the lag
    pairs doubles as the materialization point Catalyst's exchange
    reuse hands to both consumers (the measured alternatives all lose:
    a no-shuffle zip_with comprehension recomputes the 2.7M-row
    explode once per consumer, 2.6x worse; localCheckpoint pays a
    serialize+read of the full stream, 2.7x worse; a repartition
    exchange shuffles raw rows where groupBy ships map-side partials,
    1.9x worse). The bigram rides the shuffle as ONE concat key
    instead of a (prev, tok) string pair; c1 folds out of c2 (sum
    over prev extracted from the 9k-row vocab table, never a second
    corpus aggregate); the surprise join is vocab-sized — AQE
    broadcasts it when actually small, forcing it would be the
    x89-class driver hazard — and a broadcast join preserves the
    doc partitioning, so the per-doc rollup re-uses the window
    exchange too; top-20 is TakeOrdered, never a global sort."""
    d = tables["documents"]
    tk = d.select("doc_id",
                  F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (tk.withColumn("prev", F.lag("tok").over(wd))
          .filter(F.col("prev").isNotNull())
          .select("doc_id", F.concat_ws(" ", "prev", "tok").alias("bgk")))
    c2 = bg.groupBy("bgk").agg(F.count("*").alias("c2"))
    c1 = (c2.groupBy(F.substring_index("bgk", " ", 1).alias("prev"))
          .agg(F.sum("c2").alias("c1")))
    surp = (c2.withColumn("prev", F.substring_index("bgk", " ", 1))
            .join(c1, "prev")
            .select("bgk",
                    (_ibits(F.col("c1")) - _ibits(F.col("c2")))
                    .alias("bits")))
    scored = bg.join(surp, "bgk")
    per_doc = (scored.groupBy("doc_id")
               .agg(F.count("*").alias("n_bigrams"),
                    F.sum("bits").alias("total_bits"),
                    F.expr("sum(bits) * 1000 div count(*)")
                    .alias("bits_per_bigram_milli")))
    return (per_doc
            .orderBy(F.desc("bits_per_bigram_milli"), "doc_id")
            .limit(20))


_BIGRAM_SURPRISE_ORACLE = """
WITH tk AS (
  SELECT doc_id, s.pos AS pos, s.tok AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> struct_pack(pos := i, tok := w[i]))) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents))
), bg AS (
  SELECT doc_id, prev, tok FROM (
    SELECT doc_id, tok,
           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM tk)
  WHERE prev IS NOT NULL
), c2 AS (
  SELECT prev, tok, COUNT(*) AS c2 FROM bg GROUP BY prev, tok
), c1 AS (
  SELECT prev, COUNT(*) AS c1 FROM bg GROUP BY prev
), scored AS (
  SELECT bg.doc_id, length(bin(c1.c1)) - length(bin(c2.c2)) AS bits
  FROM bg JOIN c2 USING (prev, tok) JOIN c1 USING (prev)
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(bits) AS BIGINT) AS total_bits,
         CAST(SUM(bits) AS BIGINT) * 1000 // COUNT(*)
             AS bits_per_bigram_milli
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, total_bits, bits_per_bigram_milli
FROM per_doc
ORDER BY bits_per_bigram_milli DESC, doc_id
LIMIT 20
"""


def _x143_retrieval_mrr(spark, tables):
    """Retrieval evaluation: exact-permille MRR@10 of the x88 BM25
    ranking, with "relevant" defined deterministically as tf >= 3
    (the document uses the query term at least three times). Per
    term: the rank of the first relevant hit in the top-10 (0 = none)
    and its reciprocal in permille — the eval loop a retrieval-backed
    data pipeline runs after every index rebuild, exact rational
    arithmetic so the gate never sees a float.

    Scale shape: inherits x88's plan (filtered explode, df/corpus
    stats broadcast — both provably bounded by the query-term list);
    the eval itself is a tiny per-term aggregate over k rows."""
    from hive_parse_lineage_spark.operators.retrieval import bm25_term_topk
    bm = bm25_term_topk(tables["documents"], MRR_TERMS, k=10)
    first = F.min(F.when(F.col("tf") >= 3, F.col("rank")))
    return (bm.groupBy("term")
            .agg(F.coalesce(first, F.lit(0)).alias("first_rel_rank"),
                 F.coalesce(F.expr(
                     "1000 div min(CASE WHEN tf >= 3 THEN rank END)"),
                     F.lit(0)).alias("rr_permille"))
            .orderBy("term"))


def _mrr_oracle_sql() -> str:
    from hive_parse_lineage_spark.operators.retrieval import bm25_oracle_sql
    bm = bm25_oracle_sql(MRR_TERMS, k=10)
    return f"""
SELECT term,
       COALESCE(MIN(CASE WHEN tf >= 3 THEN rank END), 0) AS first_rel_rank,
       COALESCE(1000 // MIN(CASE WHEN tf >= 3 THEN rank END), 0)
           AS rr_permille
FROM ({bm}) bm
GROUP BY term ORDER BY term
"""


def _x144_rbo_rank_stability(spark, tables):
    """Rank-biased overlap (Webber et al.) between two per-source
    quality rankings — documents by raw chars vs documents by token
    count — at depth 8 with persistence p = 1/2, as exact integers:
    a document whose worse rank is m <= 8 contributes the precomputed
    weight W(m) = sum_{d=m..8} 2^(8-d) * (840/d), so
    rbo_scaled / 214200 is the textbook truncated RBO. The top-weight
    sanity metric for "did my cheap quality proxy reorder the corpus?"
    — rank-list similarity without floats.

    Scale shape: two row_number windows over the SAME (source)
    partitioning — one shuffle, both ranks computed in one pass —
    then a per-source aggregate over the depth-8 survivors."""
    from hive_parse_lineage_spark.functions.text import token_count
    d = tables["documents"]
    base = d.select("source", "doc_id", "n_chars",
                    token_count("text").cast("long").alias("n_tok"))
    wa = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    wb = Window.partitionBy("source").orderBy(F.desc("n_tok"), "doc_id")
    ranked = (base.withColumn("ra", F.row_number().over(wa))
              .withColumn("rb", F.row_number().over(wb))
              .withColumn("m", F.greatest("ra", "rb"))
              .filter(F.col("m") <= RBO_DEPTH))
    weight = F.element_at(
        F.array(*[F.lit(w) for w in RBO_WEIGHTS]), F.col("m").cast("int"))
    return (ranked.withColumn("w", weight)
            .groupBy("source")
            .agg(F.count("*").alias("n_overlap_docs"),
                 F.sum("w").alias("rbo_scaled"),
                 F.expr(f"sum(w) * 1000 div {RBO_MAX}")
                 .alias("rbo_permille"))
            .orderBy("source"))


def _rbo_oracle_sql() -> str:
    cases = " ".join(
        f"WHEN {m + 1} THEN {w}" for m, w in enumerate(RBO_WEIGHTS))
    return f"""
WITH base AS (
  SELECT source, doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_tok DESC, doc_id) AS rb
  FROM base
), surv AS (
  SELECT source, GREATEST(ra, rb) AS m FROM ranked
  WHERE GREATEST(ra, rb) <= {RBO_DEPTH}
)
SELECT source, COUNT(*) AS n_overlap_docs,
       CAST(SUM(CASE m {cases} END) AS BIGINT) AS rbo_scaled,
       CAST(SUM(CASE m {cases} END) AS BIGINT) * 1000 // {RBO_MAX}
           AS rbo_permille
FROM surv GROUP BY source ORDER BY source
"""


def _x145_principal_direction(spark, tables):
    """Spectral anisotropy audit of the embedding table: the dominant
    direction of the (uncentered) second-moment matrix via two
    integer power-iteration rounds — the "did my embedding space
    collapse onto one axis?" check run before any cosine-based dedup
    is trusted. Embeddings quantize to exact milli-units, the 64x64
    moment matrix accumulates in one Arrow-batched mapInPandas pass
    (numpy int64 outer products per batch -> 4096-cell partials ->
    one map-side-combinable SUM), and both normalization steps use
    sign * (|u| * 1000 // max|u|) so truncation agrees across engines
    (Spark div truncates toward zero; DuckDB // floors — identical on
    the non-negatives we feed them).

    Scale shape: the corpus-proportional work is ONE mapInPandas scan
    emitting fixed-size (4096-row) partials per batch; everything
    after is a constant-size matrix, so the plan is a single pass +
    two joins over 64-row vectors. The SQL oracle replays the exact
    same integer arithmetic via a vec_id self-join."""
    import pandas as pd

    emb = tables["embeddings"]

    def moment_partials(batches):
        import numpy as np
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype("float64")
                * 1000.0).astype("int64")
            mm = mat.T @ mat  # exact: |milli| <= ~2k, sums fit int64
            i, j = np.indices(mm.shape)
            yield pd.DataFrame({"i": i.ravel().astype("int64"),
                                "j": j.ravel().astype("int64"),
                                "m": mm.ravel()})

    # The matrix is referenced by both rounds and both normalizers —
    # localCheckpoint materializes the 4096-row result ONCE so the
    # corpus-proportional Arrow scan runs exactly once (without it the
    # subtree recomputes per branch: 6 full corpus passes).
    m = (emb.select("embedding")
         .mapInPandas(moment_partials, schema="i long, j long, m long")
         .groupBy("i", "j").agg(F.sum("m").alias("m"))
         .localCheckpoint(eager=True))

    def norm_milli(df, col):
        top = df.agg(F.max(F.abs(F.col(col))).alias("_n"))
        sign = F.when(F.col(col) < 0, F.lit(-1)).otherwise(F.lit(1))
        return (df.crossJoin(F.broadcast(top))
                .select("i", (sign * F.expr(f"abs({col}) * 1000 div _n"))
                        .alias("v")))

    # round 1: u1 = M . ones  (row sums), then milli-normalize
    u1 = m.groupBy("i").agg(F.sum("m").alias("u"))
    v1 = norm_milli(u1, "u")
    # round 2: u2 = M . v1, then milli-normalize
    u2 = (m.join(v1.select(F.col("i").alias("j"), "v"), "j")
          .groupBy("i").agg(F.sum(F.col("m") * F.col("v")).alias("u")))
    v2 = norm_milli(u2, "u")
    return (v2.select(F.col("i").alias("dim_i"),
                      F.col("v").alias("v2_milli"))
            .orderBy("dim_i"))


_PRINCIPAL_DIRECTION_ORACLE = """
WITH e AS (
  SELECT vec_id, s.i AS i, s.v AS v
  FROM (SELECT vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      k -> struct_pack(
                          i := k - 1,
                          v := CAST(FLOOR(CAST(embedding[k] AS DOUBLE)
                                          * 1000.0) AS BIGINT)))) AS s
        FROM embeddings)
), m AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS m
  FROM e a JOIN e b USING (vec_id)
  GROUP BY a.i, b.i
), u1 AS (
  SELECT i, CAST(SUM(m) AS BIGINT) AS u FROM m GROUP BY i
), n1 AS (
  SELECT MAX(ABS(u)) AS n FROM u1
), v1 AS (
  SELECT i, (CASE WHEN u < 0 THEN -1 ELSE 1 END)
             * (ABS(u) * 1000 // (SELECT n FROM n1)) AS v
  FROM u1
), u2 AS (
  SELECT m.i AS i, CAST(SUM(m.m * v1.v) AS BIGINT) AS u
  FROM m JOIN v1 ON m.j = v1.i
  GROUP BY m.i
), n2 AS (
  SELECT MAX(ABS(u)) AS n FROM u2
)
SELECT i AS dim_i,
       (CASE WHEN u < 0 THEN -1 ELSE 1 END)
           * (ABS(u) * 1000 // (SELECT n FROM n2)) AS v2_milli
FROM u2 ORDER BY dim_i
"""


def _x146_hapax_audit(spark, tables):
    """Vocabulary-health audit: hapax (count = 1) and dis (count = 2)
    legomena per source, as counts and permille of the vocabulary —
    the fast proxy for "is this source natural text or templated
    boilerplate?" (natural corpora sit near ~50% hapax by Zipf;
    generated/templated text collapses far below). Complements x98's
    frequency spectrum (global) and x132's vocabulary growth (by
    volume) with the per-source health row.

    Scale shape: one explode, one map-side-combinable (source, tok)
    count, one per-source aggregate. Nothing global, no broadcast."""
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").alias("c"))
    return (c.groupBy("source")
            .agg(F.count("*").alias("n_vocab"),
                 F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
                 F.sum((F.col("c") == 2).cast("long")).alias("n_dis"),
                 F.expr("sum(CAST(c = 1 AS LONG)) * 1000 div count(*)")
                 .alias("hapax_permille"))
            .orderBy("source"))


_HAPAX_ORACLE = """
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok
)
SELECT source, COUNT(*) AS n_vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000
           // COUNT(*) AS hapax_permille
FROM c GROUP BY source ORDER BY source
"""


def _x147_bag_dedup_lift(spark, tables):
    """Normalization-sensitivity audit for exact dedup: how many MORE
    documents become duplicates when the hash key is the SORTED token
    bag (order-insensitive — catches templated text with reshuffled
    clauses) instead of the raw text. Per source: exact-dup docs,
    bag-dup docs, and the lift in permille of the source — the number
    a curator checks before deciding which key production dedup runs
    on.

    Scale shape: two hash-key windows (raw md5, bag md5) — each one
    uniform-key shuffle, the same exchange class as x11's exact dedup
    — then one per-source rollup. No broadcast, no global window."""
    d = tables["documents"]
    bag = F.md5(F.concat_ws(" ", F.sort_array(F.split("text", " "))))
    keyed = d.select("doc_id", "source",
                     F.md5(F.col("text")).alias("raw_h"), bag.alias("bag_h"))
    n_raw = F.count("*").over(Window.partitionBy("raw_h"))
    n_bag = F.count("*").over(Window.partitionBy("bag_h"))
    flagged = (keyed.withColumn("is_raw_dup", (n_raw > 1).cast("long"))
               .withColumn("is_bag_dup", (n_bag > 1).cast("long")))
    return (flagged.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("is_raw_dup").alias("n_raw_dup"),
                 F.sum("is_bag_dup").alias("n_bag_dup"),
                 F.expr("(sum(is_bag_dup) - sum(is_raw_dup)) * 1000 "
                        "div count(*)").alias("lift_permille"))
            .orderBy("source"))


_BAG_DEDUP_LIFT_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, md5(text) AS raw_h,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
             AS bag_h
  FROM documents
), flagged AS (
  SELECT source,
         CASE WHEN COUNT(*) OVER (PARTITION BY raw_h) > 1
              THEN 1 ELSE 0 END AS is_raw_dup,
         CASE WHEN COUNT(*) OVER (PARTITION BY bag_h) > 1
              THEN 1 ELSE 0 END AS is_bag_dup
  FROM keyed
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(is_raw_dup) AS BIGINT) AS n_raw_dup,
       CAST(SUM(is_bag_dup) AS BIGINT) AS n_bag_dup,
       (CAST(SUM(is_bag_dup) AS BIGINT) - CAST(SUM(is_raw_dup) AS BIGINT))
           * 1000 // COUNT(*) AS lift_permille
FROM flagged GROUP BY source ORDER BY source
"""


def _x148_length_octaves(spark, tables):
    """Per-source document-length spectrum in octaves: bucket every
    document by ibits(n_chars) = floor(log2) + 1 and report count +
    permille per (source, octave) — the log-histogram a pipeline
    plots to spot truncation spikes and runaway-document tails that
    linear quantiles (x91/x131) smooth over. Integer-exact via the
    same bin() primitive as x141.

    Scale shape: one narrow projection, one map-side-combinable
    count, one per-source window over the ~60-row aggregate."""
    d = tables["documents"]
    octv = (d.filter(F.col("n_chars") >= 1)
            .select("source", _ibits(F.col("n_chars")).alias("octave")))
    per = octv.groupBy("source", "octave").agg(F.count("*").alias("n_docs"))
    tot = F.sum("n_docs").over(Window.partitionBy("source"))
    return (per.withColumn("_t", tot)
            .select("source", "octave", "n_docs",
                    F.expr("n_docs * 1000 div _t").alias("permille"))
            .orderBy("source", "octave"))


_LENGTH_OCTAVES_ORACLE = """
WITH octv AS (
  SELECT source, length(bin(n_chars)) AS octave
  FROM documents WHERE n_chars >= 1
), per AS (
  SELECT source, octave, COUNT(*) AS n_docs
  FROM octv GROUP BY source, octave
)
SELECT source, octave, n_docs,
       n_docs * 1000
           // CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
           AS permille
FROM per ORDER BY source, octave
"""


def _x149_dup_graph_triangles(spark, tables):
    """Triangle census of the near-dup graph (x46's LSH edges): edge,
    wedge, and triangle counts plus the global clustering coefficient
    in permille — boilerplate families form near-cliques (high
    closure) while chance LSH collisions form stars (low closure), so
    this one number says whether the dup graph is real duplication or
    banding noise. Oriented-edge counting (a < b < c) so every
    triangle is produced exactly once; all-integer.

    Scale shape: see :func:`operators.graph.triangle_census` — the
    census body is shared with bench.py's capped sweep variant so the
    two measurements can never drift; only the edge builder differs
    (uncapped portable hash here, capped xxhash64 in the sweep)."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    from hive_parse_lineage_spark.operators.graph import triangle_census
    docs = tables["documents"]
    edges = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    return (triangle_census(edges)
            .select(F.col("e").alias("n_edges"),
                    F.col("w").alias("n_wedges"),
                    F.col("t").alias("n_triangles"),
                    F.expr("CASE WHEN w > 0 THEN 3 * t * 1000 div w "
                           "ELSE 0 END").alias("global_cc_permille")))


def _dup_triangles_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import _cc_edges_sql
    return f"""
WITH {_cc_edges_sql()},
deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
wedges AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS w FROM deg),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM mh e1
  JOIN mh e2 ON e2.id_a = e1.id_b
  JOIN mh e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
), ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS e FROM mh)
SELECT ne.e AS n_edges, wedges.w AS n_wedges, tri.t AS n_triangles,
       CASE WHEN wedges.w > 0 THEN 3 * tri.t * 1000 // wedges.w
            ELSE 0 END AS global_cc_permille
FROM ne, wedges, tri
"""


def _x150_kendall_quality(spark, tables):
    """Kendall tau-a concordance between two document quality signals
    (raw chars vs token count) over a bounded per-source pair census:
    the first 32 docs of each source (by id — at scale swap in
    cap_per_group's hash order for an unbiased sample) give <= 496
    pairs per source, so the quadratic stays constant-bounded no
    matter the corpus size. All-integer: concordant/discordant via
    the sign of the cross product, tau in floored permille — do two
    quality proxies actually agree before one replaces the other in
    the filter stack?

    Scale shape: one per-source window (top-32), one within-source
    self-join whose side is <= 32 rows per key, one rollup. The pair
    join shuffles on source; no broadcast hints."""
    from hive_parse_lineage_spark.functions.text import token_count
    d = tables["documents"]
    w = Window.partitionBy("source").orderBy("doc_id")
    top = (d.select("source", "doc_id", "n_chars",
                    token_count("text").cast("long").alias("n_tok"))
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= 32)
           .drop("_rn"))
    lhs = top.select("source", F.col("doc_id").alias("id1"),
                     F.col("n_chars").alias("a1"), F.col("n_tok").alias("b1"))
    rhs = top.select("source", F.col("doc_id").alias("id2"),
                     F.col("n_chars").alias("a2"), F.col("n_tok").alias("b2"))
    pairs = (lhs.join(rhs, "source")
             .filter(F.col("id1") < F.col("id2"))
             .withColumn("prod", (F.col("a1") - F.col("a2"))
                         * (F.col("b1") - F.col("b2"))))
    return (pairs.groupBy("source")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum((F.col("prod") > 0).cast("long")).alias("n_concordant"),
                 F.sum((F.col("prod") < 0).cast("long")).alias("n_discordant"),
                 # sign * (abs * 1000 div n): tau can be negative, and
                 # Spark div truncates toward zero while DuckDB //
                 # floors — identical only on non-negative operands
                 F.expr("CASE WHEN sum(CAST(prod > 0 AS LONG)) "
                        "< sum(CAST(prod < 0 AS LONG)) THEN -1 ELSE 1 END "
                        "* (abs(sum(CAST(prod > 0 AS LONG)) "
                        "- sum(CAST(prod < 0 AS LONG))) * 1000 div count(*))")
                 .alias("tau_permille"))
            .orderBy("source"))


_KENDALL_ORACLE = """
WITH top AS (
  SELECT source, doc_id, n_chars, len(string_split(text, ' ')) AS n_tok
  FROM (SELECT source, doc_id, n_chars, text,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY doc_id) AS rn
        FROM documents)
  WHERE rn <= 32
), pairs AS (
  SELECT l.source,
         (l.n_chars - r.n_chars) * (l.n_tok - r.n_tok) AS prod
  FROM top l JOIN top r
    ON l.source = r.source AND l.doc_id < r.doc_id
)
SELECT source, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_concordant,
       CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_discordant,
       (CASE WHEN SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
                  < SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END)
             THEN -1 ELSE 1 END)
           * (ABS(CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  - CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT))
              * 1000 // COUNT(*)) AS tau_permille
FROM pairs GROUP BY source ORDER BY source
"""


def _x151_split_contamination(spark, tables):
    """Cross-split contamination audit — the QA gate a training
    pipeline runs after splitting: near-dup pairs (x07's MinHash-LSH,
    threshold 0.5) whose two documents land in DIFFERENT splits of
    x39's deterministic hash split (salt 'v1', 80/10/10). A test doc
    near-duplicating a train doc silently inflates eval scores; this
    reports the pair census by unordered split pair (least/greatest
    normalization, so train-test and test-train are one row).

    Scale shape: the split map is a pure projection (no shuffle); the
    LSH pair stream is bucketed/capped in production (uncapped
    portable-hash spelling here so DuckDB replays it row-for-row);
    the two split lookups are doc-keyed equi-joins of the
    edge-proportional pair list. No hints — all sides corpus-sized."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    pairs = (minhash_near_dups(docs, threshold=0.5, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b"))
    h = portable_hash64(F.concat(F.lit("v1"), F.col("doc_id").cast("string")))
    split = docs.select(
        "doc_id",
        F.when(h % 100 < 80, F.lit("train"))
        .when(h % 100 < 90, F.lit("val"))
        .otherwise(F.lit("test")).alias("split"))
    sa = split.select(F.col("doc_id").alias("id_a"),
                      F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("id_b"),
                      F.col("split").alias("sb"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select(F.least("sa", "sb").alias("split_a"),
                    F.greatest("sa", "sb").alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("split_a", "split_b"))


def _x152_qq_alignment(spark, tables):
    """QQ-plot alignment table: per source, the exact decile values of
    n_chars (value-at-row, x91's all-integer discrete quantile) next
    to the GLOBAL decile values, with the signed gap — does any
    source's length distribution diverge from the corpus before it
    skews a mixed batch? Tie-broken by doc_id under both sorts.

    Scale shape: one global sort and one per-source sort (both
    value-at-row extractions, 9 conditional aggregates each), then a
    9-row broadcast-sized join on decile. The AT-SCALE path is code:
    ``SPARK_GRAFT_APPROX_QUANTILES=1`` swaps the single-partition
    GLOBAL window for the range-partitioned exact rank
    (operators/ranks.py) + one scalar count — VALUE-IDENTICAL, tested
    equal (the per-source window is already partitioned)."""
    import os
    docs = tables["documents"]
    use_ranges = os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1"
    def deciles(df, part_cols):
        if not part_cols and use_ranges:
            from hive_parse_lineage_spark.operators.ranks import (
                range_partitioned_row_number)
            ranked, n_total = range_partitioned_row_number(
                df.select("n_chars", "doc_id"),
                ["n_chars", "doc_id"], "rn", return_total=True)
            ranked = ranked.withColumn("n", F.lit(n_total))
        else:
            w = (Window.partitionBy(*part_cols).orderBy("n_chars", "doc_id")
                 if part_cols else Window.orderBy("n_chars", "doc_id"))
            wn = (Window.partitionBy(*part_cols) if part_cols
                  else Window.partitionBy())
            ranked = df.select(*part_cols, "n_chars", "doc_id",
                               F.row_number().over(w).alias("rn"),
                               F.count("*").over(wn).alias("n"))
        # r13 build-tail fusion: parsed-SQL aggregates, one py4j call
        # each (identical expressions after parsing).
        aggs = [F.expr(f"max(CASE WHEN rn = ({d} * n + 9) div 10 "
                       f"THEN n_chars END) AS d{d}")
                for d in range(1, 10)]
        return ranked.groupBy(*part_cols).agg(*aggs)
    gl = deciles(docs, [])
    gl_long = gl.select(F.expr("explode(array(" + ", ".join(
        f"named_struct('decile', {d}, 'global_v', d{d})"
        for d in range(1, 10)) + ")) AS s")).select("s.*")
    src = deciles(docs, ["source"])
    src_long = src.select("source", F.expr("explode(array(" + ", ".join(
        f"named_struct('decile', {d}, 'src_v', d{d})"
        for d in range(1, 10)) + ")) AS s")).select("source", "s.*")
    return (src_long.join(gl_long, "decile")
            .select("source", "decile", "src_v", "global_v",
                    (F.col("src_v") - F.col("global_v")).alias("gap"))
            .orderBy("source", "decile"))


def _x153_null_safe_join(spark, tables):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM) — the SQL
    surface's remaining join-predicate family member: two aggregated
    key histograms whose key is NULLIF-punched, joined null-safely so
    the NULL bucket matches the NULL bucket (a plain ``=`` silently
    drops it — the classic missing-rows bug this operator exists to
    avoid). Output is the matched histogram with NULLS FIRST pinned.

    Scale shape: both sides pre-aggregate to the key cardinality
    before the join (the join is over tiny aggregates, never rows);
    a null-safe condition hash-partitions like any equi-join — NULL
    is just one more key value."""
    o = tables["orders"]
    li = tables["lineitem"]
    a = (o.select(F.expr("NULLIF(o_orderkey % 10, 5)").alias("k"))
         .groupBy("k").agg(F.count("*").alias("n_a")))
    b = (li.select(F.expr("NULLIF(l_orderkey % 10, 5)").alias("k"))
         .groupBy("k").agg(F.count("*").alias("n_b")))
    return (a.join(b, a["k"].eqNullSafe(b["k"]))
            .select(a["k"].alias("k"), "n_a", "n_b")
            .orderBy(F.col("k").asc_nulls_first()))


def _x154_rank_distributions(spark, tables):
    """percent_rank / cume_dist — the two normalized-rank window
    builtins (x25 covers the integer ranks): per customer over the
    first 2000 orders, ROUND(...,4). Deterministic across engines
    because both compute the same two small-integer divisions
    ((rank-1)/(n-1), peer_rank/n) — single IEEE divides of identical
    operands are exactly rounded, so the doubles agree bit-for-bit
    (the x92 fixed-tree rule; no accumulation involved)."""
    o = tables["orders"].filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (o.select("o_orderkey", "o_custkey",
                     F.round(F.percent_rank().over(w), 4).alias("pr"),
                     F.round(F.cume_dist().over(w), 4).alias("cd"))
            .orderBy("o_orderkey"))


def _x155_gaps_islands(spark, tables):
    """Gaps-and-islands over the open-order key space: maximal runs of
    CONSECUTIVE o_orderkey values among status-'O' orders, reported as
    a run-length histogram (how fragmented is the open-order keyspace
    — the classic sequence-audit SQL pattern, e.g. for detecting
    allocation gaps). Island id is the engine-free ``key - dense
    row_number`` constant; all-integer.

    Scale shape: one global sort (the pattern's inherent cost). The
    AT-SCALE path is code, not prose: ``SPARK_GRAFT_APPROX_QUANTILES=1``
    swaps the global row_number for the range-partitioned exact rank
    (operators/ranks.py — per-range sorts + a bounded offsets collect;
    consecutive keys co-locate by construction), VALUE-IDENTICAL and
    tested equal. Then two tiny aggregates either way."""
    import os
    o = tables["orders"].filter(F.col("o_orderstatus") == "O")
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        from hive_parse_lineage_spark.operators.ranks import (
            range_partitioned_row_number)
        ranked = range_partitioned_row_number(
            o.select("o_orderkey"), ["o_orderkey"], "_rk")
        runs = (ranked.select((F.col("o_orderkey") - F.col("_rk"))
                              .alias("grp"))
                .groupBy("grp").agg(F.count("*").alias("island_len")))
    else:
        w = Window.orderBy("o_orderkey")
        runs = (o.select("o_orderkey",
                         (F.col("o_orderkey")
                          - F.row_number().over(w)).alias("grp"))
                .groupBy("grp").agg(F.count("*").alias("island_len")))
    return (runs.groupBy("island_len")
            .agg(F.count("*").alias("n_islands"))
            .orderBy("island_len"))


def _x156_mad_outliers(spark, tables):
    """Robust per-source outlier census via MAD (median absolute
    deviation): exact median of n_chars (value-at-row), exact median
    of |n_chars - median|, then the count of docs with deviation
    > 3x MAD — the quality-filter stage that survives heavy tails
    where x22's stddev does not. All-integer; both medians tie-broken
    by doc_id.

    Scale shape: two per-source sorts (the exact gate spelling) + one
    count join-back; the 100 TB swap is approx_percentile for both
    medians (x91 pattern), which removes both sorts."""
    docs = tables["documents"]
    w1 = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    med = (docs.select("source", "n_chars", "doc_id",
                       F.row_number().over(w1).alias("rn"),
                       F.count("*").over(wn).alias("n"))
           .groupBy("source")
           .agg(F.max(F.when(F.expr("rn = (n + 1) div 2"),
                             F.col("n_chars"))).alias("med"),
                F.max("n").alias("n_docs")))
    dev = (docs.join(med, "source")
           .select("source", "doc_id", "n_docs", "med",
                   F.abs(F.col("n_chars") - F.col("med")).alias("dev")))
    w2 = Window.partitionBy("source").orderBy("dev", "doc_id")
    mad = (dev.select("source", "dev", "doc_id",
                      F.row_number().over(w2).alias("rn"),
                      F.col("n_docs"))
           .groupBy("source")
           .agg(F.max(F.when(F.expr("rn = (n_docs + 1) div 2"),
                             F.col("dev"))).alias("mad")))
    return (dev.join(mad, "source")
            .groupBy("source", "n_docs", "med", "mad")
            .agg(F.sum((F.col("dev") > 3 * F.col("mad")).cast("long"))
                 .alias("n_outliers"))
            .orderBy("source"))


def _x157_chi2_independence(spark, tables):
    """Chi-square independence audit of the lang x source contingency
    table — is language distribution uniform across sources, or does
    one source skew the mix? All-integer in scaled units so the sum
    is order-independent under the hash gate: E_milli = R*C*1000 div
    N, d_milli = O*1000 - E_milli, per-cell term = d_milli^2 div
    E_milli (= 1000*(O-E)^2/E), chi2_milli = SUM(term). Intermediate
    bound: d_milli^2 <= (1000*N)^2 needs N <= 3e6 docs per... no —
    d_milli <= 1000*max(O, E) <= 1000*N, so d_milli^2 fits int64 up
    to N ~ 3e9 docs; beyond that drop to the x92 double-tree.

    Scale shape: one (lang, source) aggregate (tiny output), then
    row/column margins as two window sums over that tiny table —
    nothing corpus-sized is shuffled twice."""
    docs = tables["documents"]
    cell = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wg = Window.partitionBy()
    t = (cell.withColumn("r", F.sum("o").over(wl))
         .withColumn("c", F.sum("o").over(ws))
         .withColumn("n", F.sum("o").over(wg))
         .withColumn("e_milli", F.expr("r * c * 1000 div n"))
         .withColumn("term", F.expr(
             "(o * 1000 - e_milli) * (o * 1000 - e_milli) div e_milli")))
    return (t.agg(F.count("*").alias("n_cells"),
                  F.max("n").alias("n_docs"),
                  F.sum("term").alias("chi2_milli")))


#: x158's shingle width. Production decontamination uses 13-gram
#: collisions (the GPT-3 convention); the fixture corpus averages ~20
#: tokens/doc, so 13-grams would make nearly every doc a single
#: shingle and the audit degenerate — 8 keeps multiple shingles per
#: doc at every SF while exercising the identical plan.
DECONTAM_K = 8

#: a doc is "contaminated" when >= 20% of its distinct shingles occur
#: in some benchmark doc.
DECONTAM_PERMILLE = 200


def _x158_benchmark_decontamination(spark, tables):
    """Benchmark decontamination — the pre-training QA gate that keeps
    eval answers out of the training set: flag every corpus doc whose
    distinct 8-gram shingles overlap a held-out benchmark set by >=
    20%, reported per source. The benchmark stand-in is the
    deterministic 1/97 slice ``doc_id % 97 = 0`` (in production it is
    an external eval-suite table); flagged fraction and the aggregate
    shingle hit rate are integer permille, so the hash gate is exact.

    Distinct from x151: that audit finds NEAR-dup pairs crossing a
    random split; this one finds verbatim n-gram CONTAINMENT of a
    fixed benchmark, the decontamination contract evals actually
    state.

    Scale shape: shingle explode -> one equi-join on the shingle
    string -> per-doc hash agg -> per-source hash agg. The benchmark
    side here is corpus-proportional (1/97), so it is a plain shuffle
    join under the broadcast policy; a real eval suite is bounded
    (~1e4 docs) and swaps to ``F.broadcast`` making the whole audit a
    map-side pass over the corpus — the at-scale posture."""
    from hive_parse_lineage_spark.functions.text import word_shingles
    docs = tables["documents"]
    grams = docs.select(
        "doc_id", "source",
        F.explode(F.array_distinct(word_shingles("text", DECONTAM_K)))
        .alias("gram"))
    bench_grams = (grams.filter(F.col("doc_id") % 97 == 0)
                   .select("gram").distinct()
                   .withColumn("hit", F.lit(1)))
    per_doc = (grams.filter(F.col("doc_id") % 97 != 0)
               .join(bench_grams, "gram", "left")
               .groupBy("doc_id", "source")
               .agg(F.count("*").alias("n_grams"),
                    F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits")))
    contaminated = (F.col("n_hits") * 1000
                    >= F.lit(DECONTAM_PERMILLE) * F.col("n_grams"))
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(contaminated, 1).otherwise(0))
                 .alias("n_contaminated"),
                 F.expr("CAST(SUM(n_hits) * 1000 DIV SUM(n_grams) "
                        "AS BIGINT)").alias("hit_permille"))
            .orderBy("source"))


def _x159_token_gini(spark, tables):
    """Token-concentration (Gini) audit per source: how unevenly are
    a source's tokens spread over its documents? A source whose token
    mass concentrates in a few giant docs behaves very differently
    under doc-level sampling than its doc count suggests. Exact
    integer Gini via the rank formula over docs sorted ascending by
    token count (tie-broken by doc_id):
    ``gini_permille = (2*SUM(rn*tok) - (n+1)*SUM(tok)) * 1000
    div (n * SUM(tok))``  — every term integral, so the hash gate is
    exact on both engines.

    Scale shape: one projection, one per-source sort (window
    row_number — Spark sorts within hash partitions of ``source``),
    one hash agg. Nothing quadratic; the sort is the cost and is the
    same work an exact percentile needs. At 100 TB swap the exact
    ranks for a fixed-width histogram Lorenz approximation (x131's
    sketch)."""
    from hive_parse_lineage_spark.functions.text import token_count
    docs = tables["documents"].select(
        "doc_id", "source", token_count("text").alias("tok"))
    w = Window.partitionBy("source").orderBy("tok", "doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return (ranked.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("tok").alias("total_tokens"),
                 F.expr("CAST((2 * SUM(rn * tok) - (COUNT(*) + 1) "
                        "* SUM(tok)) * 1000 DIV (COUNT(*) * SUM(tok)) "
                        "AS BIGINT)").alias("gini_permille"))
            .orderBy("source"))


def _x160_fuzzy_linkage(spark, tables):
    """Blocked fuzzy record linkage (entity resolution) over the part
    catalog: candidate pairs share a block key — (noun, brand, size) —
    and are verified by exact Levenshtein distance over the full
    descriptor ``p_name || ' ' || p_type``; per noun the census reports
    pair volume, linked pairs (distance <= 4), and the distance range.
    This is the entity-dedup primitive every ingestion pipeline needs
    before exact/near-dup text passes (two records of the SAME product
    are not "near-duplicate documents", they are the same entity).

    Determinism: Spark ``levenshtein`` and DuckDB ``levenshtein`` both
    compute the unit-cost insert/delete/substitute edit distance, so
    the counts hash-match exactly.

    Scale shape: the self-join is a plain hash equi-join on the block
    key (never hinted — both sides are the corpus), and the block key
    includes the exact size so block populations stay O(catalog /
    #blocks); the quadratic verify is per-block bounded the same way
    LSH bands bound MinHash. Skewed blocks are x127's pre-flight
    diagnosis; the fix (split the block key further) is local."""
    p = tables["part"].select(
        "p_partkey",
        F.split("p_name", " ").getItem(1).alias("noun"),
        "p_brand", "p_size",
        F.concat(F.col("p_name"), F.lit(" "), F.col("p_type")).alias("s"))
    a, b = p.alias("a"), p.alias("b")
    pairs = (a.join(b, (F.col("a.noun") == F.col("b.noun"))
                    & (F.col("a.p_brand") == F.col("b.p_brand"))
                    & (F.col("a.p_size") == F.col("b.p_size"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey")))
             .select(F.col("a.noun").alias("noun"),
                     F.levenshtein(F.col("a.s"), F.col("b.s"))
                     .cast("long").alias("lev")))
    return (pairs.groupBy("noun")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum((F.col("lev") <= 4).cast("long")).alias("n_linked"),
                 F.min("lev").alias("min_lev"),
                 F.max("lev").alias("max_lev"))
            .orderBy("noun"))


_FUZZY_LINKAGE_ORACLE = """
WITH p AS (
  SELECT p_partkey, string_split(p_name, ' ')[2] AS noun, p_brand, p_size,
         p_name || ' ' || p_type AS s
  FROM part
), pairs AS (
  SELECT a.noun AS noun, levenshtein(a.s, b.s) AS lev
  FROM p a JOIN p b
    ON a.noun = b.noun AND a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
)
SELECT noun, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN lev <= 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_linked,
       MIN(lev) AS min_lev, MAX(lev) AS max_lev
FROM pairs GROUP BY noun ORDER BY noun
"""


def _x161_kcore_peel(spark, tables):
    """Bounded k-core peeling (k = 2, 3 rounds) of the near-dup graph:
    iteratively delete vertices of degree < 2 and the edges they carry,
    reporting (surviving vertices, surviving edges) after each round.
    Peeling separates incidental pairwise near-dups (degree-1 fringe —
    harmless) from the dense boilerplate CORE that survives every
    round — the thing a curator must actually fix. Complements x46
    (who is connected to whom) and x100 (who radiates rank) with HOW
    DENSE the duplication is.

    Bounded rounds keep the iteration SQL-unrollable, the same
    contract as connected_components/pagerank; all arithmetic is
    counting, so the gate is exact.

    Scale shape: edges come from the banded LSH pipeline (never
    all-pairs) and are localCheckpointed ONCE — each peel round is
    then one degree count + two semi-join filters over the
    edge-proportional survivor set, never touching documents again.
    The round summaries are single-row aggregates crossed into a
    3-row result."""
    from functools import reduce

    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    e = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                           shingle_k=2, hasher=portable_hash64,
                           max_bucket_size=None)
         .select("id_a", "id_b").localCheckpoint(eager=True))
    out = []
    for r in (1, 2, 3):
        adj = (e.select(F.explode(F.array(
                   F.col("id_a"), F.col("id_b"))).alias("v")))
        kept = (adj.groupBy("v").agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= 2).select("v"))
        e = (e.join(kept.select(F.col("v").alias("id_a")), "id_a")
             .join(kept.select(F.col("v").alias("id_b")), "id_b")
             .select("id_a", "id_b").localCheckpoint(eager=True))
        out.append(kept.agg(F.count("*").alias("n_vertices"))
                   .crossJoin(e.agg(F.count("*").alias("n_edges")))
                   .select(F.lit(r).alias("peel_round"),
                           "n_vertices", "n_edges"))
    return reduce(lambda x, y: x.unionByName(y), out).orderBy("peel_round")


def _kcore_oracle_sql() -> str:
    # Every CTE in the peel chain is AS MATERIALIZED: each round
    # references its predecessor 4x (degree stream x2, edge filter,
    # scalar counts), so DuckDB's default inlining re-expands the
    # whole LSH edge pipeline ~4^3 times — at sf1.0 that walked past
    # 100 GiB and OOM'd the oracle. Materialization evaluates each
    # level once; results are byte-identical (re-verified at every SF).
    from hive_parse_lineage_spark.corpus_queries import _cc_edges_sql
    rounds = []
    prev = "e0"
    for r in (1, 2, 3):
        rounds.append(f"""
a{r} AS MATERIALIZED (
  SELECT id_a AS v FROM {prev} UNION ALL SELECT id_b FROM {prev}),
d{r} AS (SELECT v, COUNT(*) AS deg FROM a{r} GROUP BY v),
k{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= 2),
e{r} AS MATERIALIZED (SELECT {prev}.id_a, {prev}.id_b FROM {prev}
         JOIN k{r} ka ON {prev}.id_a = ka.v
         JOIN k{r} kb ON {prev}.id_b = kb.v)""")
        prev = f"e{r}"
    selects = " UNION ALL ".join(
        f"SELECT {r} AS peel_round, "
        f"(SELECT COUNT(*) FROM k{r}) AS n_vertices, "
        f"(SELECT COUNT(*) FROM e{r}) AS n_edges" for r in (1, 2, 3))
    edges = _cc_edges_sql().replace("mh AS (", "mh AS MATERIALIZED (", 1)
    return f"""
WITH {edges},
e0 AS MATERIALIZED (SELECT id_a, id_b FROM mh),{",".join(rounds)}
{selects} ORDER BY peel_round
"""


def _x162_curriculum_schedule(spark, tables):
    """Deterministic curriculum construction: documents are split into
    4 global difficulty quartiles (token count ascending — the
    easy-to-hard axis; exact NTILE over the tie-broken total order),
    and within each quartile the sources are interleaved round-robin
    (position ordered by per-source rank, then source) so no source
    floods any contiguous stretch of the schedule. The output manifest
    — per (quartile, source): document count and the first/last
    schedule position — is what a training loader needs to seek its
    shard of the curriculum.

    Scale shape: the global quartile is ONE total-order ntile; the
    AT-SCALE path is real code, not prose — the same
    ``SPARK_GRAFT_APPROX_QUANTILES=1`` knob as x179 swaps BOTH global
    windows (the ntile AND the 4-partition schedule-position sort) for
    range-partitioned exact ranks (operators/ranks.py) plus
    closed-form NTILE/offset arithmetic; that spelling is
    VALUE-IDENTICAL (tested hash-equal), so the flag trades constant
    cost (a range exchange + bounded counts collect per rank) for
    removing every single-/few-partition sort. Flag off keeps the
    cheap direct windows the sub-sf1 gate replays. No joins anywhere
    on either path."""
    import os

    from hive_parse_lineage_spark.functions.text import token_count
    d = tables["documents"].select(
        "doc_id", "source", token_count("text").alias("n_tok"))
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        from hive_parse_lineage_spark.operators.ranks import (
            bucket_start_offset, ntile_from_rank,
            range_partitioned_row_number)
        qd, n = range_partitioned_row_number(
            d, ["n_tok", "doc_id"], "_rk", return_total=True)
        qd = (qd.withColumn("quartile", ntile_from_rank("_rk", n, 4))
              .drop("_rk"))
        r = qd.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("quartile", "source")
                .orderBy("n_tok", "doc_id")))
        # schedule position: global rank over (quartile, rn, source,
        # doc_id) minus the quartile's closed-form start offset — the
        # quartile sizes are determined by (n, 4), so no per-quartile
        # aggregate or join is needed to localize the rank
        p = (range_partitioned_row_number(
                r, ["quartile", "rn", "source", "doc_id"], "_grk")
             .withColumn("pos", (F.col("_grk")
                                 - bucket_start_offset("quartile", n, 4))
                         .cast("long"))
             .drop("_grk"))
    else:
        qd = d.withColumn(
            "quartile",
            F.ntile(4).over(Window.orderBy("n_tok", "doc_id")).cast("long"))
        r = qd.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("quartile", "source")
                .orderBy("n_tok", "doc_id")))
        p = r.withColumn(
            "pos", F.row_number().over(
                Window.partitionBy("quartile")
                .orderBy("rn", "source", "doc_id")).cast("long"))
    return (p.groupBy("quartile", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.min("pos").alias("first_pos"),
                 F.max("pos").alias("last_pos"))
            .orderBy("quartile", "source"))


_CURRICULUM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
  FROM documents
), qd AS (
  SELECT doc_id, source, n_tok,
         NTILE(4) OVER (ORDER BY n_tok, doc_id) AS quartile
  FROM d
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY quartile, source
                               ORDER BY n_tok, doc_id) AS rn
  FROM qd
), p AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY quartile
                               ORDER BY rn, source, doc_id) AS pos
  FROM r
)
SELECT quartile, source, COUNT(*) AS n_docs,
       MIN(pos) AS first_pos, MAX(pos) AS last_pos
FROM p GROUP BY quartile, source ORDER BY quartile, source
"""


#: Session-scoped memo for _kmeans_milli_round1, keyed by
#: (applicationId, input files): x163 and x203 both start from the
#: same round-1, and without the memo the second entry re-runs the
#: full 100-centroid distance pass the first one just checkpointed.
#: localCheckpoint blocks die with the session, so the applicationId
#: in the key makes stale reuse impossible.
_KMEANS_ROUND1_CACHE: dict = {}


def _kmeans_milli_round1(tables):
    """Shared round-1 of the x163 integer Lloyd iteration: quantized
    vectors, seed centroids, the broadcast assign() closure, the
    round-1 assignment and the round-1 updated centroids — one
    spelling feeding both x163 (the clustering itself) and x203 (the
    assignment-margin audit), so the two can never drift. Memoized per
    (session, input files): the two entries SPLIT one distance pass
    instead of each paying it."""
    emb = tables["embeddings"]
    try:
        files = tuple(sorted(emb.inputFiles()))
        # memoize ONLY file-backed inputs: a LocalRelation (toy test
        # table) has no input files, and keying it by () would collide
        # every in-memory table into one cache slot
        key = ((emb.sparkSession.sparkContext.applicationId, files)
               if files else None)
    except Exception:
        key = None
    if key is not None and key in _KMEANS_ROUND1_CACHE:
        return _KMEANS_ROUND1_CACHE[key]
    vq = (emb
          .select("vec_id",
                  F.expr("transform(embedding, x -> CAST(FLOOR("
                         "CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
                  .alias("q"))
          .localCheckpoint(eager=True))
    seeds0 = (vq.filter((F.col("vec_id") % 25 == 0)
                        & (F.col("vec_id") < 2500))
              .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))

    def dist_stream(cents):
        dist = F.aggregate(
            F.zip_with("q", "cq", lambda x, c: (x - c) * (x - c)),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
        return (vq.crossJoin(F.broadcast(cents))
                .select("vec_id", "cid", dist.alias("d")))

    def assign(cents):
        return (dist_stream(cents)
                .groupBy("vec_id")
                .agg(F.min(F.struct("d", "cid")).alias("m"))
                .select("vec_id", F.col("m.cid").alias("cid"),
                        F.col("m.d").alias("d")))

    a1 = assign(seeds0).localCheckpoint(eager=True)
    c1 = (a1.join(vq, "vec_id")
          .select("cid", F.posexplode("q").alias("k", "qv"))
          .groupBy("cid", "k")
          .agg(F.expr("CASE WHEN SUM(qv) >= 0 THEN SUM(qv) div COUNT(*) "
                      "ELSE -((-SUM(qv)) div COUNT(*)) END").alias("qm"))
          .groupBy("cid")
          .agg(F.expr("transform(array_sort(collect_list(struct(k, qm))),"
                      " s -> s.qm)").alias("cq"))
          # <= 100 rows; pin so neither consumer re-runs the centroid
          # update aggregate before its own round-2 pass
          .localCheckpoint(eager=True))
    out = (vq, seeds0, dist_stream, assign, a1, c1)
    if key is not None:
        _KMEANS_ROUND1_CACHE[key] = out
    return out


def _x163_kmeans_milli(spark, tables):
    """Two Lloyd rounds of k-means over the embedding table, made
    hash-gate exact: vectors quantize to integer milli units
    (``CAST(FLOOR(x * 1000) AS BIGINT)`` per dim — the x145
    quantization), distances are integer squared-L2, assignment ties
    break to the lowest centroid id, and centroid updates use the
    sign-reconciled truncating division (the x150 spelling, since
    Spark ``div`` truncates while DuckDB ``//`` floors). Output per
    seed centroid: members after round 1, members and integer inertia
    after round 2 — the clustering primitive under x78's SemDeDup and
    x79's IVF, here as a first-class auditable operator.

    Scale shape: the centroid table is PROVABLY bounded (<= 100 rows
    by the ``vec_id < 2500`` seed predicate at any corpus size), so
    broadcasting it is the legitimate-broadcast class (x104); each
    round is one broadcast pass over the corpus + a (k x dim)-row
    update aggregate. The quantized vector stream and the round-1
    assignment are localCheckpointed — each feeds two consumers. The
    oracle unrolls the identical two rounds relationally (per-dim
    long form)."""
    vq, seeds0, _dist, assign, a1, c1 = _kmeans_milli_round1(tables)
    a2 = assign(c1)
    n1 = a1.groupBy("cid").agg(F.count("*").alias("c1n"))
    n2 = (a2.groupBy("cid")
          .agg(F.count("*").alias("c2n"), F.sum("d").alias("i2")))
    return (seeds0.select("cid")
            .join(n1, "cid", "left").join(n2, "cid", "left")
            .select("cid",
                    F.coalesce("c1n", F.lit(0)).alias("n1"),
                    F.coalesce("c2n", F.lit(0)).alias("n2"),
                    F.coalesce("i2", F.lit(0)).alias("inertia2"))
            .orderBy("cid"))


# Shared CTE prefix for x163/x203: quantized vectors, seeds, round-1
# assignment, round-1 centroids, and the round-2 distance stream d2.
_KMEANS_PREFIX_SQL = """
WITH vq AS (
  SELECT vec_id, s.k AS k, s.q AS q
  FROM (SELECT vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(
                          k := i - 1,
                          q := CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                                          * 1000.0) AS BIGINT)))) AS s
        FROM embeddings)
), c0 AS (
  SELECT vec_id AS cid, k, q FROM vq
  WHERE vec_id % 25 = 0 AND vec_id < 2500
), d1 AS (
  SELECT vq.vec_id, c0.cid,
         CAST(SUM((vq.q - c0.q) * (vq.q - c0.q)) AS BIGINT) AS d
  FROM vq JOIN c0 USING (k)
  GROUP BY vq.vec_id, c0.cid
), a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d1) WHERE rn = 1
), c1 AS (
  SELECT a1.cid AS cid, vq.k AS k,
         CASE WHEN SUM(vq.q) >= 0
              THEN CAST(SUM(vq.q) AS BIGINT) // COUNT(*)
              ELSE -(CAST(-SUM(vq.q) AS BIGINT) // COUNT(*)) END AS q
  FROM a1 JOIN vq USING (vec_id)
  GROUP BY a1.cid, vq.k
), d2 AS (
  SELECT vq.vec_id, c1.cid,
         CAST(SUM((vq.q - c1.q) * (vq.q - c1.q)) AS BIGINT) AS d
  FROM vq JOIN c1 USING (k)
  GROUP BY vq.vec_id, c1.cid
)"""


_KMEANS_MILLI_ORACLE = f"""{_KMEANS_PREFIX_SQL}, a2 AS (
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d2) WHERE rn = 1
), n1 AS (
  SELECT cid, COUNT(*) AS n1 FROM a1 GROUP BY cid
), n2 AS (
  SELECT cid, COUNT(*) AS n2, CAST(SUM(d) AS BIGINT) AS inertia2
  FROM a2 GROUP BY cid
)
SELECT s.cid AS cid,
       COALESCE(n1.n1, 0) AS n1,
       COALESCE(n2.n2, 0) AS n2,
       COALESCE(n2.inertia2, 0) AS inertia2
FROM (SELECT DISTINCT cid FROM c0) s
LEFT JOIN n1 USING (cid) LEFT JOIN n2 USING (cid)
ORDER BY cid
"""


def _x164_lsh_precision(spark, tables):
    """The LSH candidate generator's PRECISION curve — the complement
    of x125's recall audit: per estimated-Jaccard decile of the x07
    pipeline's emitted pairs (threshold 0.3, k = 2 shingles), how many
    pairs are TRUE near-dups by exact distinct-shingle Jaccard
    (>= 300 permille)? Recall says what banding misses; this says how
    much of what it emits is real — the number that decides whether a
    verify stage is needed before deleting documents.

    All-integer: the signature-match count m is recovered exactly from
    est_jaccard (m = round(est * 64)), buckets are ``m*10 div 64``,
    and exact Jaccard is the x125 integer-permille spelling.

    Scale shape: exact verification joins the PAIR stream to the
    per-doc shingle sets — work is sum of pair-side shingle counts,
    bounded by LSH fanout, never all-pairs. The pair stream and the
    distinct-shingle stream are each localCheckpointed (both feed two
    consumers; Spark reuses exchanges, not scan+explode subtrees)."""
    from hive_parse_lineage_spark.functions.text import (
        portable_hash64, word_shingles)
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    pairs = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b",
                     F.expr("CAST(ROUND(est_jaccard * 64) AS BIGINT)")
                     .alias("m"))
             .localCheckpoint(eager=True))
    ds = (docs.select("doc_id",
                      F.explode(F.array_distinct(word_shingles("text", 2)))
                      .alias("sh"))
          .localCheckpoint(eager=True))
    na = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (pairs.select("id_a", "id_b")
             .join(ds.select(F.col("doc_id").alias("id_a"), "sh"), "id_a")
             .join(ds.select(F.col("doc_id").alias("id_b"), "sh"),
                   ["id_b", "sh"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("ni")))
    j = (pairs
         .join(inter, ["id_a", "id_b"], "left")
         .join(na.select(F.col("doc_id").alias("id_a"),
                         F.col("n").alias("na")), "id_a")
         .join(na.select(F.col("doc_id").alias("id_b"),
                         F.col("n").alias("nb")), "id_b")
         .select(F.expr("m * 10 div 64").alias("bucket"),
                 F.expr("coalesce(ni, 0L) * 1000 div "
                        "(na + nb - coalesce(ni, 0L))").alias("jp")))
    return (j.groupBy("bucket")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum((F.col("jp") >= 300).cast("long")).alias("n_true"),
                 F.expr("CAST(SUM(CAST(jp >= 300 AS BIGINT)) * 1000 "
                        "DIV COUNT(*) AS BIGINT)")
                 .alias("precision_permille"),
                 F.expr("CAST(SUM(jp) DIV COUNT(*) AS BIGINT)")
                 .alias("mean_jp"))
            .orderBy("bucket"))


def _lsh_precision_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import _shingle_list_sql
    from hive_parse_lineage_spark.extra_queries import _minhash_oracle_sql
    mh = _minhash_oracle_sql(n_hashes=64, bands=16, shingle_k=2,
                             threshold=0.3)
    return f"""
WITH mh AS (
{mh}
), p AS (
  SELECT id_a, id_b, CAST(ROUND(est_jaccard * 64) AS BIGINT) AS m FROM mh
), w AS (
  SELECT doc_id, string_split(text, ' ') AS w, text FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({_shingle_list_sql(2)}) AS sh FROM w
), na AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS ni
  FROM p JOIN sh a ON a.doc_id = p.id_a
         JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
  GROUP BY p.id_a, p.id_b
), j AS (
  SELECT (p.m * 10) // 64 AS bucket,
         COALESCE(i.ni, 0) * 1000
             // (wa.n + wb.n - COALESCE(i.ni, 0)) AS jp
  FROM p LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       JOIN na wa ON wa.doc_id = p.id_a
       JOIN na wb ON wb.doc_id = p.id_b
)
SELECT bucket, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN jp >= 300 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true,
       CAST(SUM(CASE WHEN jp >= 300 THEN 1 ELSE 0 END) AS BIGINT)
           * 1000 // COUNT(*) AS precision_permille,
       CAST(SUM(jp) AS BIGINT) // COUNT(*) AS mean_jp
FROM j GROUP BY bucket ORDER BY bucket
"""


def _x165_stratified_sample(spark, tables):
    """Range-Neyman stratified sampling design + its exact realization:
    each source (stratum) gets a share of the 1000-document budget
    proportional to ``N_h * R_h`` (population size x token-count
    range — the all-integer stand-in for Neyman's N_h * S_h, which
    needs a sqrt both engines would round differently), and the sample
    itself is the n_h docs with the SMALLEST portable hash (tie-broken
    by doc_id) — exact counts, not Bernoulli approximations. Output
    per source: population, range, allocation, realized take, and the
    realized sample's token mass. The design table is what a curator
    reviews; the hash-rank rule is what makes the sample reproducible
    and incrementally stable (a new doc displaces at most one).

    Scale shape: one stats pass (map-side combinable), one |sources|-
    row design table joined back (AQE decides), one per-source
    hash-rank window. Allocations sum to <= 1000, so a STATIC
    ``rk <= 1000`` pre-filter sits directly on the window — that
    constant bound is what lets Spark push a WindowGroupLimit
    (map-side per-group top-k merge) below the exchange; the exact
    data-dependent ``rk <= n_alloc`` cut happens after the join. No
    global sort, no broadcast hints."""
    from hive_parse_lineage_spark.functions.text import (
        portable_hash64, token_count)
    docs = tables["documents"].select(
        "doc_id", "source", token_count("text").cast("long").alias("tok"),
        portable_hash64(F.concat(F.lit("smp"),
                                 F.col("doc_id").cast("string")))
        .alias("h"))
    stats = (docs.groupBy("source")
             .agg(F.count("*").alias("n_pop"),
                  (F.max("tok") - F.min("tok")).alias("rng")))
    tot = stats.agg(F.sum(F.expr("n_pop * rng")).alias("t"))
    design = (stats.crossJoin(tot)
              .select("source", "n_pop", "rng",
                      F.expr("1000 * (n_pop * rng) div t").alias("n_alloc")))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = (docs.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 1000))
    taken = (ranked.join(design.select("source", "n_alloc"), "source")
             .filter(F.col("rk") <= F.col("n_alloc"))
             .groupBy("source")
             .agg(F.count("*").alias("n_taken"),
                  F.sum("tok").alias("sample_tokens")))
    return (design.join(taken, "source", "left")
            .select("source", "n_pop", "rng", "n_alloc",
                    F.coalesce("n_taken", F.lit(0)).alias("n_taken"),
                    F.coalesce("sample_tokens", F.lit(0))
                    .alias("sample_tokens"))
            .orderBy("source"))


def _stratified_sample_oracle_sql() -> str:
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    h = portable_hash64_sql("'smp' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         {h} AS h
  FROM documents
), stats AS (
  SELECT source, COUNT(*) AS n_pop,
         CAST(MAX(tok) - MIN(tok) AS BIGINT) AS rng
  FROM d GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_pop * rng) AS BIGINT) AS t FROM stats
), design AS (
  SELECT source, n_pop, rng,
         1000 * (n_pop * rng) // t AS n_alloc
  FROM stats, tot
), ranked AS (
  SELECT source, tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM d
), taken AS (
  SELECT r.source, COUNT(*) AS n_taken,
         CAST(SUM(r.tok) AS BIGINT) AS sample_tokens
  FROM ranked r JOIN design g ON g.source = r.source
  WHERE r.rk <= g.n_alloc
  GROUP BY r.source
)
SELECT design.source, n_pop, rng, n_alloc,
       COALESCE(n_taken, 0) AS n_taken,
       COALESCE(sample_tokens, 0) AS sample_tokens
FROM design LEFT JOIN taken ON taken.source = design.source
ORDER BY design.source
"""


def _split_contamination_oracle_sql() -> str:
    from hive_parse_lineage_spark.extra_queries import _minhash_oracle_sql
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    mh = _minhash_oracle_sql(n_hashes=64, bands=16, shingle_k=2,
                             threshold=0.5)
    h = portable_hash64_sql("'v1' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH mh AS (
{mh}
), split AS (
  SELECT doc_id,
         CASE WHEN {h} % 100 < 80 THEN 'train'
              WHEN {h} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT LEAST(sa.split, sb.split) AS split_a,
       GREATEST(sa.split, sb.split) AS split_b,
       COUNT(*) AS n_pairs
FROM mh JOIN split sa ON sa.doc_id = mh.id_a
        JOIN split sb ON sb.doc_id = mh.id_b
GROUP BY 1, 2 ORDER BY split_a, split_b
"""


_QQ_ALIGNMENT_ORACLE = """
WITH g AS (
  SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents
), gd AS (
  SELECT d.d AS decile,
         MAX(CASE WHEN rn = (d.d * n + 9) // 10 THEN n_chars END) AS global_v
  FROM g, (SELECT unnest(range(1, 10)) AS d) d
  GROUP BY d.d
), s AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
), sd AS (
  SELECT source, d.d AS decile,
         MAX(CASE WHEN rn = (d.d * n + 9) // 10 THEN n_chars END) AS src_v
  FROM s, (SELECT unnest(range(1, 10)) AS d) d
  GROUP BY source, d.d
)
SELECT sd.source, sd.decile, sd.src_v, gd.global_v,
       sd.src_v - gd.global_v AS gap
FROM sd JOIN gd USING (decile)
ORDER BY source, decile
"""


_NULL_SAFE_JOIN_ORACLE = """
WITH a AS (
  SELECT NULLIF(o_orderkey % 10, 5) AS k, COUNT(*) AS n_a
  FROM orders GROUP BY 1
), b AS (
  SELECT NULLIF(l_orderkey % 10, 5) AS k, COUNT(*) AS n_b
  FROM lineitem GROUP BY 1
)
SELECT a.k, a.n_a, b.n_b
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY a.k NULLS FIRST
"""


_RANK_DISTRIBUTIONS_ORACLE = """
SELECT o_orderkey, o_custkey,
       ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey), 4) AS pr,
       ROUND(CUME_DIST() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey), 4) AS cd
FROM orders WHERE o_orderkey <= 2000
ORDER BY o_orderkey
"""


_GAPS_ISLANDS_ORACLE = """
WITH runs AS (
  SELECT o_orderkey - ROW_NUMBER() OVER (ORDER BY o_orderkey) AS grp
  FROM orders WHERE o_orderstatus = 'O'
), islands AS (
  SELECT grp, COUNT(*) AS island_len FROM runs GROUP BY grp
)
SELECT island_len, COUNT(*) AS n_islands
FROM islands GROUP BY island_len ORDER BY island_len
"""


_MAD_OUTLIERS_ORACLE = """
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
), med AS (
  SELECT source,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med,
         MAX(n) AS n_docs
  FROM ranked GROUP BY source
), dev AS (
  SELECT d.source, d.doc_id, m.n_docs, m.med,
         ABS(d.n_chars - m.med) AS dev
  FROM documents d JOIN med m USING (source)
), dranked AS (
  SELECT source, dev, n_docs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY dev, doc_id) AS rn
  FROM dev
), mad AS (
  SELECT source,
         MAX(CASE WHEN rn = (n_docs + 1) // 2 THEN dev END) AS mad
  FROM dranked GROUP BY source
)
SELECT d.source, d.n_docs, d.med, m.mad,
       CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM dev d JOIN mad m USING (source)
GROUP BY d.source, d.n_docs, d.med, m.mad
ORDER BY d.source
"""


_CHI2_ORACLE = """
WITH cell AS (
  SELECT lang, source, COUNT(*) AS o
  FROM documents GROUP BY lang, source
), t AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY lang) AS r,
         SUM(o) OVER (PARTITION BY source) AS c,
         SUM(o) OVER () AS n
  FROM cell
), terms AS (
  SELECT o, n, (r * c * 1000) // n AS e_milli FROM t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(SUM((o * 1000 - e_milli) * (o * 1000 - e_milli) // e_milli)
            AS BIGINT) AS chi2_milli
FROM terms
"""


def _decontamination_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import _shingle_list_sql
    return f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w, text
           FROM documents),
g AS (SELECT doc_id, source,
             unnest(list_distinct({_shingle_list_sql(DECONTAM_K)})) AS gram
      FROM w),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
cd AS (SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
              SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
       FROM g LEFT JOIN bg ON g.gram = bg.gram
       WHERE g.doc_id % 97 != 0
       GROUP BY g.doc_id, g.source)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_hits * 1000 >= {DECONTAM_PERMILLE} * n_grams
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(n_hits) * 1000 // SUM(n_grams) AS BIGINT) AS hit_permille
FROM cd GROUP BY source ORDER BY source
"""


_TOKEN_GINI_ORACLE = """
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS tok
  FROM documents
), ranked AS (
  SELECT source, tok,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY tok, doc_id) AS rn
  FROM d
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST((2 * SUM(rn * tok) - (COUNT(*) + 1) * SUM(tok)) * 1000
            // (COUNT(*) * SUM(tok)) AS BIGINT) AS gini_permille
FROM ranked GROUP BY source ORDER BY source
"""


def _x166_embedding_isotropy(spark, tables):
    """Per-label embedding anisotropy: how much of the cloud's energy
    sits in its mean direction — ``||mean(v)||^2 / mean(||v||^2)`` in
    exact integer permille over the floor(v*1000) milli surrogate
    (x134's order-free playbook). 1000 means every vector is the same
    point (a collapsed/degenerate label — dedup or re-embed); near 0
    means an isotropic cloud. The cheap first-moment screen a curation
    pipeline runs before paying for x145's power iteration: anisotropy
    IS the Rayleigh quotient of the mean direction, a lower bound on
    the top eigenvalue share.

    Scale shape: one posexplode into a map-side-combinable
    (label, pos) aggregate carrying SUM(iv) and SUM(iv*iv) together —
    dim x |labels| rows out of any corpus size — then a |labels|-row
    reduce. One shuffle total, no joins, no pair terms anywhere."""
    e = tables["embeddings"]
    comp = (e.select("label", F.posexplode("embedding").alias("pos", "v"))
            .select("label", "pos",
                    F.floor(F.col("v").cast("double") * 1000)
                    .cast("long").alias("iv")))
    per = comp.groupBy("label", "pos").agg(
        F.sum("iv").alias("s"), F.count("*").alias("n"),
        F.sum(F.col("iv") * F.col("iv")).alias("sq"))
    return (per.groupBy("label")
            .agg(F.max("n").alias("n_vecs"),
                 F.sum(F.expr("(s div n) * (s div n)"))
                 .alias("cent_sq_norm"),
                 F.expr("sum(sq) div max(n)").alias("mean_sq_norm"))
            .select("label", "n_vecs", "cent_sq_norm", "mean_sq_norm",
                    F.expr("cent_sq_norm * 1000 div mean_sq_norm")
                    .alias("anisotropy_permille"))
            .orderBy("label"))


_EMBEDDING_ISOTROPY_ORACLE = """
WITH d AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), comp AS (
  SELECT label,
         unnest(list_transform(range(1, len(e) + 1),
                i -> struct_pack(pos := i,
                                 iv := CAST(FLOOR(e[i] * 1000) AS BIGINT))))
             AS s
  FROM d
), c AS (
  SELECT label, s.pos AS pos, s.iv AS iv FROM comp
), per AS (
  SELECT label, pos, CAST(SUM(iv) AS BIGINT) AS s, COUNT(*) AS n,
         CAST(SUM(iv * iv) AS BIGINT) AS sq
  FROM c GROUP BY label, pos
), agg AS (
  SELECT label, MAX(n) AS n_vecs,
         CAST(SUM((s // n) * (s // n)) AS BIGINT) AS cent_sq_norm,
         CAST(SUM(sq) AS BIGINT) // MAX(n) AS mean_sq_norm
  FROM per GROUP BY label
)
SELECT label, n_vecs, cent_sq_norm, mean_sq_norm,
       cent_sq_norm * 1000 // mean_sq_norm AS anisotropy_permille
FROM agg ORDER BY label
"""


def _x167_incremental_rollup(spark, tables):
    """Incremental materialized-view maintenance: a per-customer
    order rollup (COUNT + integer-cents SUM) kept current by MERGING a
    delta aggregate into the stored base aggregate instead of
    rescanning the fact table — COUNT and SUM are commutative monoids,
    so ``merged = base (+) delta`` keyed on the group. Base here is
    orders with ``o_orderkey % 10 != 0`` (standing view), delta the
    remaining tenth (new arrivals); the entry recomputes the rollup
    from scratch too and emits a per-row ``matches_full`` proof that
    the combinator is lossless — the IVM correctness audit itself.

    Scale shape at 100 TB: the base aggregate is READ (a stored
    |customers|-row table), never recomputed — maintenance cost is
    delta-sized plus one co-partitioned FULL OUTER merge join; both
    sides here share the o_custkey partitioning. Cents use
    CAST(FLOOR(x*100) AS BIGINT) — the q24/x111/x137 determinism
    convention (plain CAST rounds in DuckDB, truncates in Spark)."""
    o = tables["orders"]
    cents = F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")

    def rollup(df):
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n"), F.sum(cents).alias("c"))

    base_r = rollup(o.filter(F.col("o_orderkey") % 10 != 0))
    delta_r = (rollup(o.filter(F.col("o_orderkey") % 10 == 0))
               .select("o_custkey", F.col("n").alias("dn"),
                       F.col("c").alias("dc")))
    merged = (base_r.join(delta_r, "o_custkey", "full_outer")
              .select("o_custkey",
                      (F.coalesce("n", F.lit(0))
                       + F.coalesce("dn", F.lit(0))).alias("n_orders"),
                      (F.coalesce("c", F.lit(0))
                       + F.coalesce("dc", F.lit(0))).alias("cents_total"),
                      F.coalesce("dn", F.lit(0)).alias("n_from_delta")))
    full = (rollup(o)
            .select("o_custkey", F.col("n").alias("fn"),
                    F.col("c").alias("fc")))
    return (merged.join(full, "o_custkey")
            .select("o_custkey", "n_orders", "cents_total", "n_from_delta",
                    ((F.col("n_orders") == F.col("fn"))
                     & (F.col("cents_total") == F.col("fc")))
                    .alias("matches_full"))
            .orderBy("o_custkey"))


_INCREMENTAL_ROLLUP_ORACLE = """
WITH base_r AS (
  SELECT o_custkey, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM orders WHERE o_orderkey % 10 != 0 GROUP BY o_custkey
), delta_r AS (
  SELECT o_custkey, COUNT(*) AS dn,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS dc
  FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_custkey
), merged AS (
  SELECT COALESCE(base_r.o_custkey, delta_r.o_custkey) AS o_custkey,
         COALESCE(n, 0) + COALESCE(dn, 0) AS n_orders,
         COALESCE(c, 0) + COALESCE(dc, 0) AS cents_total,
         COALESCE(dn, 0) AS n_from_delta
  FROM base_r FULL OUTER JOIN delta_r USING (o_custkey)
), full_r AS (
  SELECT o_custkey, COUNT(*) AS fn,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS fc
  FROM orders GROUP BY o_custkey
)
SELECT merged.o_custkey, n_orders, cents_total, n_from_delta,
       (n_orders = fn AND cents_total = fc) AS matches_full
FROM merged JOIN full_r ON full_r.o_custkey = merged.o_custkey
ORDER BY merged.o_custkey
"""


def _x168_ngram_diversity(spark, tables):
    """Distinct-n diversity per source — the self-BLEU-adjacent
    generation/curation metric: of all bigram (and trigram) slots a
    source emits, how many are DISTINCT grams, in exact permille.
    Low distinct-2/distinct-3 flags templated, boilerplate-heavy or
    model-generated sources that per-doc metrics miss (every doc can
    look fine while the source repeats itself across docs). x36 scores
    within-doc repetition; this is the cross-doc complement.

    Scale shape: one explode per gram order, unioned with a k tag so
    both orders ride ONE map-side-combinable (k, source, gram) count,
    then a |sources| x 2 reduce. Repetition must count, so there is
    deliberately no array_distinct here — the raw gram stream is the
    denominator."""
    from hive_parse_lineage_spark.functions.text import word_shingles
    d = tables["documents"]

    def grams(k):
        return d.select("source", F.lit(k).alias("k"),
                        F.explode(word_shingles("text", k)).alias("g"))

    cnt = (grams(2).unionByName(grams(3))
           .groupBy("source", "k", "g").agg(F.count("*").alias("c")))
    return (cnt.groupBy("source", "k")
            .agg(F.sum("c").alias("n_grams"),
                 F.count("*").alias("u_grams"))
            .select("source", "k", "n_grams", "u_grams",
                    F.expr("u_grams * 1000 div n_grams")
                    .alias("distinct_permille"))
            .orderBy("source", "k"))


def _ngram_diversity_oracle_sql() -> str:
    def branch(k):
        return f"""
  SELECT source, {k} AS k,
         unnest(CASE WHEN len(w) >= {k} THEN list_transform(
                range(1, len(w) - {k - 2}),
                i -> array_to_string(list_slice(w, i, i + {k - 1}), ' '))
                ELSE [text] END) AS g
  FROM w"""
    return f"""
WITH w AS (
  SELECT source, text, string_split(text, ' ') AS w FROM documents
), g AS ({branch(2)}
  UNION ALL{branch(3)}
), cnt AS (
  SELECT source, k, g, COUNT(*) AS c FROM g GROUP BY source, k, g
)
SELECT source, k, CAST(SUM(c) AS BIGINT) AS n_grams,
       COUNT(*) AS u_grams,
       COUNT(*) * 1000 // CAST(SUM(c) AS BIGINT) AS distinct_permille
FROM cnt GROUP BY source, k ORDER BY source, k
"""


def _x169_event_path_trigrams(spark, tables):
    """Top-20 three-step behavior paths: per user, events ordered by
    (ts, event_id) yield sliding event-type trigrams via two LEADs
    over one window; the global count ranks the most common journeys
    — x106's Markov transitions extended to second-order paths, the
    sequence-mining primitive behind funnel discovery and
    session-model training data. Deterministic: ties broken by path
    string, LEAD ordering tie-broken by event_id.

    Scale shape: ONE shuffle on user_id feeds both LEADs (same window
    spec), then a map-side-combinable path count and a 20-row
    TakeOrdered — no joins, no global sort materialization."""
    e = tables["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path")))
    return (tri.groupBy("path").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "path").limit(20))


_EVENT_PATH_TRIGRAMS_ORACLE = """
WITH tri AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
FROM tri WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 20
"""


def _x170_source_cross_entropy(spark, tables):
    """Pairwise source-to-source cross-entropy matrix in exact integer
    floor-bits: for every ordered source pair (A, B), the cost of
    coding A's tokens with B's Laplace-smoothed unigram model —
    ``sum_t c_A(t) * (ibits(T_B + V) - ibits(c_B(t) + 1))`` — plus the
    KL excess over A's self-coding cost (the matrix diagonal). This is
    the domain-affinity matrix data-mixing methods (DSIR/DoReMi-style
    proxies) rank sources with: low kl_bits means B's distribution
    predicts A well. x86 measures unigram TV distance (no logs); x141
    prices one source against itself; this prices every source against
    every other, exactly, under the hash gate.

    Scale shape: one (source, token) count shuffle; the count stream
    is then expanded |sources|-fold (a broadcast of the 20-row source
    list — bounded, not corpus-proportional) and left-joined against
    itself on (token, source) — vocab x |sources| rows, the documented
    cost of an exact matrix; per-source totals, the single-row union
    vocab size and the |sources|-row diagonal are the only other
    (all bounded) broadcasts. At 100 TB the same plan runs with a
    capped vocabulary (top-K by corpus frequency), the standard
    smoothing-dominated tail swap."""
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").alias("c"))
    c = c.localCheckpoint(eager=True)  # feeds 4 branches below
    tot = c.groupBy("source").agg(F.sum("c").alias("t_tok"))
    v = c.select("tok").distinct().agg(F.count("*").alias("v"))
    a = c.select(F.col("source").alias("source_a"), "tok",
                 F.col("c").alias("ca"))
    b = c.select(F.col("source").alias("source_b"), "tok",
                 F.col("c").alias("cb"))
    grid = a.crossJoin(F.broadcast(tot.select(
        F.col("source").alias("source_b"), "t_tok")))
    j = grid.join(b, ["source_b", "tok"], "left").crossJoin(F.broadcast(v))
    term = (F.col("ca")
            * (_ibits(F.col("t_tok") + F.col("v"))
               - _ibits(F.coalesce(F.col("cb"), F.lit(0)) + 1)))
    # the |sources|^2-row matrix is BOUNDED, so it collects and the
    # diagonal subtraction runs driver-side (r11 — the r10 spelling
    # eagerly checkpointed the 400-row matrix and joined the diagonal
    # back, a serialized tiny-job tail on top of the one real
    # vocab x |sources| aggregation), result as a VALUES LocalRelation
    mat = (j.groupBy("source_a", "source_b")
           .agg(F.sum(term).alias("cross_bits"))
           .collect())
    if not mat:                 # r11 ADVICE: empty VALUES is a parse
        return spark.sql(       # error — empty corpus gets an explicit
            "SELECT CAST(NULL AS STRING) AS source_a, "   # 0-row plan
            "CAST(NULL AS STRING) AS source_b, "
            "CAST(NULL AS BIGINT) AS cross_bits, "
            "CAST(NULL AS BIGINT) AS kl_bits WHERE 1 = 0")
    self_bits = {r["source_a"]: r["cross_bits"] for r in mat
                 if r["source_a"] == r["source_b"]}
    vals = ", ".join(
        "({}, {}, {}L, {}L)".format(
            _sql_str(r["source_a"]), _sql_str(r["source_b"]),
            r["cross_bits"],
            r["cross_bits"] - self_bits[r["source_a"]])
        for r in sorted(mat, key=lambda r: (r["source_a"],
                                            r["source_b"])))
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS "
        "t(source_a, source_b, cross_bits, kl_bits) "
        "ORDER BY source_a, source_b")


_SOURCE_CROSS_ENTROPY_ORACLE = """
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t_tok FROM c GROUP BY source
), v AS (
  SELECT COUNT(DISTINCT tok) AS v FROM c
), grid AS (
  SELECT a.source AS source_a, a.tok, a.c AS ca,
         tb.source AS source_b, tb.t_tok
  FROM c a CROSS JOIN tot tb
), mat AS (
  SELECT source_a, source_b,
         CAST(SUM(ca * (length(bin(t_tok + v.v))
                        - length(bin(COALESCE(b.c, 0) + 1)))) AS BIGINT)
             AS cross_bits
  FROM grid
  LEFT JOIN c b ON b.source = grid.source_b AND b.tok = grid.tok
  CROSS JOIN v
  GROUP BY source_a, source_b
), diag AS (
  SELECT source_a, cross_bits AS self_bits FROM mat
  WHERE source_a = source_b
)
SELECT mat.source_a, source_b, cross_bits,
       cross_bits - self_bits AS kl_bits
FROM mat JOIN diag ON diag.source_a = mat.source_a
ORDER BY mat.source_a, source_b
"""


def _x171_mattr(spark, tables):
    """Moving-Average Type-Token Ratio (MATTR, Covington & McFall) per
    document: mean distinct-token count over every 50-token sliding
    window, in exact integer permille — the length-independent lexical
    diversity score (raw TTR collapses as docs grow, so a fixed-window
    average is the comparable form). Degenerate/looped generations
    score low in EVERY window even when whole-doc TTR looks fine;
    docs shorter than the window fall back to whole-doc TTR over
    their actual length.

    Scale shape: a pure per-document projection — token array, then
    ``aggregate(sequence(...))`` folds window distinct-counts. ZERO
    shuffles, no joins, no window functions; work is O(tokens x 50)
    per doc and embarrassingly parallel at any corpus size. That bound
    needs the token array bound once per row (a one-element outer
    ``transform``): ``split(text)`` referenced inside the per-window
    lambda would re-split the whole document for every window —
    O(tokens²)."""
    W = 50
    toks = F.split("text", " ")
    n = F.size(toks)
    slide = F.transform(F.array(toks), lambda t: F.aggregate(
        F.sequence(F.lit(0), F.size(t) - W),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.size(
            F.array_distinct(F.slice(t, i + 1, F.lit(W))))))[0]
    d = tables["documents"].select(
        "doc_id", n.alias("n_tokens"),
        F.when(n >= W, n - W + 1).otherwise(F.lit(1)).alias("n_windows"),
        F.when(n >= W, slide)
        .otherwise(F.size(F.array_distinct(toks)).cast("long"))
        .alias("sum_distinct"))
    denom = (F.when(F.col("n_tokens") >= W,
                    F.lit(W) * F.col("n_windows"))
             .otherwise(F.col("n_tokens")))
    return (d.select("doc_id", "n_tokens", "n_windows",
                     F.expr(f"sum_distinct * 1000 div "
                            f"(CASE WHEN n_tokens >= {W} "
                            f"THEN {W} * n_windows ELSE n_tokens END)")
                     .alias("mattr_permille"))
            .orderBy("doc_id"))


_MATTR_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT doc_id, len(w) AS n_tokens,
         CASE WHEN len(w) >= 50 THEN len(w) - 50 + 1 ELSE 1 END AS n_windows,
         CASE WHEN len(w) >= 50 THEN
           CAST(list_sum(list_transform(range(0, len(w) - 50 + 1),
                i -> len(list_distinct(list_slice(w, i + 1, i + 50)))))
                AS BIGINT)
         ELSE CAST(len(list_distinct(w)) AS BIGINT) END AS sum_distinct
  FROM d
)
SELECT doc_id, n_tokens, n_windows,
       sum_distinct * 1000 //
       (CASE WHEN n_tokens >= 50 THEN 50 * n_windows
             ELSE n_tokens END) AS mattr_permille
FROM m ORDER BY doc_id
"""


def _x172_pair_provenance(spark, tables):
    """Near-dup pair PROVENANCE: for every x07 LSH pair, the exact
    distinct-5-gram Jaccard, the number of shared positional 5-gram
    matches, and the LONGEST CONTIGUOUS shared token run (the diagonal
    trick: positional shingle matches with equal ``pos_a - pos_b``
    that are consecutive in ``pos_a`` form one copied span) — then a
    three-way classification: ``near_full`` (J >= 0.9, drop a copy),
    ``long_span`` (a >= 24-token verbatim block inside otherwise
    different docs — quote/boilerplate, span-level dedup territory),
    ``scattered`` (shared vocabulary only — usually LSH noise). x73
    aggregates span coverage per DOC; this explains each PAIR, which
    is what a human reviews before authorizing deletion.

    Scale shape: everything downstream of the LSH pair list is
    edge-proportional — the positional and distinct shingle streams
    join THROUGH the (checkpointed) pair list, never all-pairs; run
    detection is a gaps-and-islands window partitioned by
    (pair, diagonal), bounded by doc length. The downstream body is
    shared with bench.py's capped skew-rung variant
    (pair_provenance_from_pairs), so the two measurements can never
    drift; only the edge builder differs (uncapped portable hash
    here, capped xxhash64 in the sweep)."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    pairs = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    return pair_provenance_from_pairs(docs, pairs)


def pair_provenance_from_pairs(docs, pairs):
    """x172's edge-proportional downstream over an arbitrary
    (id_a, id_b) pair list: exact distinct-5-gram Jaccard, shared
    positional matches, longest shared run, 3-way dup class."""
    from hive_parse_lineage_spark.functions.text import word_shingles
    pos = docs.select(
        "doc_id", F.posexplode(word_shingles("text", 5)).alias("p", "sh"))
    ds = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles("text", 5))).alias("sh"))
    nsh = ds.groupBy("doc_id").agg(F.count("*").alias("nt"))
    ia = pairs.join(ds.select(F.col("doc_id").alias("id_a"), "sh"), "id_a")
    ni = (ia.join(ds.select(F.col("doc_id").alias("id_b"), "sh"),
                  ["id_b", "sh"])
          .groupBy("id_a", "id_b").agg(F.count("*").alias("ni")))
    ma = pairs.join(pos.select(F.col("doc_id").alias("id_a"),
                               F.col("p").alias("pa"), "sh"), "id_a")
    m = ma.join(pos.select(F.col("doc_id").alias("id_b"),
                           F.col("p").alias("pb"), "sh"), ["id_b", "sh"])
    wd = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (m.select("id_a", "id_b", "pa",
                     (F.col("pa") - F.col("pb")).alias("diag"))
            .withColumn("isl", F.col("pa") - F.row_number().over(wd))
            .groupBy("id_a", "id_b", "diag", "isl")
            .agg(F.count("*").alias("rl")))
    lr = runs.groupBy("id_a", "id_b").agg(F.max("rl").alias("mr"))
    j = (pairs
         .join(ni, ["id_a", "id_b"])
         .join(nsh.select(F.col("doc_id").alias("id_a"),
                          F.col("nt").alias("na")), "id_a")
         .join(nsh.select(F.col("doc_id").alias("id_b"),
                          F.col("nt").alias("nb")), "id_b")
         .join(lr, ["id_a", "id_b"], "left")
         .select("id_a", "id_b",
                 F.expr("ni * 1000 div (na + nb - ni)").alias("jp"),
                 F.col("ni").alias("n_shared"),
                 F.coalesce(F.col("mr") + 4, F.lit(0))
                 .alias("longest_run_tokens")))
    cls = (F.when(F.col("jp") >= 900, F.lit("near_full"))
           .when(F.col("longest_run_tokens") >= 24, F.lit("long_span"))
           .otherwise(F.lit("scattered")))
    return (j.withColumn("dup_class", cls)
            .orderBy("id_a", "id_b"))


def _pair_provenance_oracle_sql() -> str:
    from hive_parse_lineage_spark.extra_queries import _minhash_oracle_sql
    mh = _minhash_oracle_sql(n_hashes=64, bands=16, shingle_k=2,
                             threshold=0.3)
    return f"""
WITH mh AS (
{mh}
), pairs AS (
  SELECT id_a, id_b FROM mh
), w5 AS (
  SELECT doc_id, string_split(text, ' ') AS w, text FROM documents
), occ0 AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 5 THEN list_transform(range(1, len(w) - 3),
                i -> {{'pos': i - 1,
                      'shingle': array_to_string(list_slice(w, i, i + 4), ' ')}})
              ELSE [{{'pos': 0, 'shingle': text}}] END AS occs
  FROM w5
), pos AS (
  SELECT doc_id, unnest(occs, recursive := true) FROM occ0
), ds AS (
  SELECT DISTINCT doc_id, shingle FROM pos
), nsh AS (
  SELECT doc_id, COUNT(*) AS nt FROM ds GROUP BY doc_id
), ni AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS ni
  FROM pairs p
  JOIN ds a ON a.doc_id = p.id_a
  JOIN ds b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
), m AS (
  SELECT p.id_a, p.id_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM pairs p
  JOIN pos a ON a.doc_id = p.id_a
  JOIN pos b ON b.doc_id = p.id_b AND b.shingle = a.shingle
), isl AS (
  SELECT id_a, id_b, diag, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                 ORDER BY pa) AS isl
  FROM m
), runs AS (
  SELECT id_a, id_b, COUNT(*) AS rl
  FROM isl GROUP BY id_a, id_b, diag, isl
), lr AS (
  SELECT id_a, id_b, MAX(rl) AS mr FROM runs GROUP BY id_a, id_b
), j AS (
  SELECT p.id_a, p.id_b,
         ni.ni * 1000 // (na.nt + nb.nt - ni.ni) AS jp,
         ni.ni AS n_shared,
         COALESCE(lr.mr + 4, 0) AS longest_run_tokens
  FROM pairs p
  JOIN ni ON ni.id_a = p.id_a AND ni.id_b = p.id_b
  JOIN nsh na ON na.doc_id = p.id_a
  JOIN nsh nb ON nb.doc_id = p.id_b
  LEFT JOIN lr ON lr.id_a = p.id_a AND lr.id_b = p.id_b
)
SELECT id_a, id_b, jp, n_shared, longest_run_tokens,
       CASE WHEN jp >= 900 THEN 'near_full'
            WHEN longest_run_tokens >= 24 THEN 'long_span'
            ELSE 'scattered' END AS dup_class
FROM j ORDER BY id_a, id_b
"""


def _x173_dedup_quota(spark, tables):
    """Budget-capped dedup policy: per source, at most HALF of the
    near-dup losers (x46's non-representative cluster members) are
    actually dropped — the shortest (lowest-token, tie doc_id) half —
    and the rest are PROTECTED. Uncapped dedup can silently erase a
    small source whose docs happen to cluster with a big one's
    boilerplate; production curation caps removal per source and
    reviews the protected remainder. Output is the per-source policy
    ledger: population, losers, dropped, protected, drop permille.

    Scale shape: the x46 label-propagation labels (bounded rounds),
    one docs join, one per-source rank window over the LOSER subset
    only, then a |sources|-row reduce. ``n_dropped = n_losers div 2``
    exactly (rank*2 <= count spelling), so the cap is replayable."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.components import (
        connected_components)
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    edges = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b"))
    comp = connected_components(
        edges, vertices=docs.select(F.col("doc_id").alias("vertex")),
        max_iter=4)
    base = docs.select("doc_id", "source",
                       F.size(F.split("text", " ")).alias("n_tokens"))
    losers = (comp.filter(F.col("vertex") != F.col("component"))
              .join(base, comp["vertex"] == base["doc_id"])
              .select("doc_id", "source", "n_tokens"))
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    cw = Window.partitionBy("source")
    marked = (losers
              .withColumn("rk", F.row_number().over(w))
              .withColumn("nl", F.count("*").over(cw))
              .withColumn("dropped", (F.col("rk") * 2 <= F.col("nl"))))
    per_loser = (marked.groupBy("source")
                 .agg(F.count("*").alias("n_losers"),
                      F.sum(F.col("dropped").cast("long"))
                      .alias("n_dropped")))
    return (base.groupBy("source").agg(F.count("*").alias("n_docs"))
            .join(per_loser, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("n_losers", F.lit(0)).alias("n_losers"),
                    F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
                    (F.coalesce("n_losers", F.lit(0))
                     - F.coalesce("n_dropped", F.lit(0)))
                    .alias("n_protected"),
                    F.expr("coalesce(n_dropped, 0) * 1000 div n_docs")
                    .alias("drop_permille"))
            .orderBy("source"))


def _dedup_quota_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import (
        _cc_edges_sql, _cc_round)
    return f"""
WITH {_cc_edges_sql()},
l0 AS (SELECT doc_id AS vertex, doc_id AS component FROM documents),
{_cc_round('l0', 'l1')},
{_cc_round('l1', 'l2')},
{_cc_round('l2', 'l3')},
{_cc_round('l3', 'l4')},
base AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), losers AS (
  SELECT b.doc_id, b.source, b.n_tokens
  FROM l4 JOIN base b ON b.doc_id = l4.vertex
  WHERE l4.vertex != l4.component
), marked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_tokens, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS nl
  FROM losers
), per_loser AS (
  SELECT source, COUNT(*) AS n_losers,
         CAST(SUM(CASE WHEN rk * 2 <= nl THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
  FROM marked GROUP BY source
), pop AS (
  SELECT source, COUNT(*) AS n_docs FROM base GROUP BY source
)
SELECT pop.source, n_docs,
       COALESCE(n_losers, 0) AS n_losers,
       COALESCE(n_dropped, 0) AS n_dropped,
       COALESCE(n_losers, 0) - COALESCE(n_dropped, 0) AS n_protected,
       COALESCE(n_dropped, 0) * 1000 // n_docs AS drop_permille
FROM pop LEFT JOIN per_loser ON per_loser.source = pop.source
ORDER BY pop.source
"""


def _x174_pii_density(spark, tables):
    """Per-source PII density audit with an in-band redaction proof:
    the corpus is synthetic and PII-free, so a deterministic contact
    block is injected into every 7th document (both engines build the
    same fixture in-query, x50's playbook); the report counts
    PII-bearing docs, email/phone hits per 1000 docs per source — the
    numbers a release review reads — and ``residual``, the match count
    REMAINING after redaction, which must be 0 on every row: the
    operator carries its own completeness proof.

    Scale shape: pure projection (two regexp_counts + two
    regexp_replaces, all codegen) then one |sources|-row aggregate;
    zero joins, zero extra scans."""
    from hive_parse_lineage_spark.corpus_queries import EMAIL_RE, PHONE_RE
    d = tables["documents"]
    synth = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" reach u"),
                 F.col("doc_id").cast("string"), F.lit("@x.org tel 555-"),
                 F.lpad(F.col("doc_id").cast("string"), 4, "0"))
    ).otherwise(F.col("text"))
    ne = F.regexp_count(synth, F.lit(EMAIL_RE))
    np = F.regexp_count(synth, F.lit(PHONE_RE))
    red = F.regexp_replace(
        F.regexp_replace(synth, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    res = (F.regexp_count(red, F.lit(EMAIL_RE))
           + F.regexp_count(red, F.lit(PHONE_RE)))
    scored = d.select("source", ne.alias("ne"), np.alias("np"),
                      res.alias("res"))
    return (scored.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum((F.col("ne") + F.col("np") > 0).cast("long"))
                 .alias("docs_with_pii"),
                 F.sum("ne").alias("n_emails"),
                 F.sum("np").alias("n_phones"),
                 F.sum("res").alias("residual"))
            .select("source", "n_docs", "docs_with_pii",
                    F.expr("n_emails * 1000 div n_docs")
                    .alias("emails_per_kdoc"),
                    F.expr("n_phones * 1000 div n_docs")
                    .alias("phones_per_kdoc"),
                    "residual")
            .orderBy("source"))


def _pii_density_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import EMAIL_RE, PHONE_RE
    return f"""
WITH synth AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' reach u' || CAST(doc_id AS VARCHAR)
                   || '@x.org tel 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              ELSE text END AS s
  FROM documents
), scored AS (
  SELECT source,
         len(regexp_extract_all(s, '{EMAIL_RE}')) AS ne,
         len(regexp_extract_all(s, '{PHONE_RE}')) AS np,
         len(regexp_extract_all(
             regexp_replace(regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g'),
                            '{PHONE_RE}', '<PHONE>', 'g'),
             '{EMAIL_RE}'))
         + len(regexp_extract_all(
             regexp_replace(regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g'),
                            '{PHONE_RE}', '<PHONE>', 'g'),
             '{PHONE_RE}')) AS res
  FROM synth
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_pii,
       CAST(SUM(ne) AS BIGINT) * 1000 // COUNT(*) AS emails_per_kdoc,
       CAST(SUM(np) AS BIGINT) * 1000 // COUNT(*) AS phones_per_kdoc,
       CAST(SUM(res) AS BIGINT) AS residual
FROM scored GROUP BY source ORDER BY source
"""


def _x175_effective_tokens(spark, tables):
    """Effective (dedup-discounted) token mass per source: each doc's
    tokens are weighted by 1/|its x46 duplicate cluster| in exact
    integer milli-tokens, so a doc copied 5 times contributes its
    token count once across the corpus no matter which copies a
    survivor rule keeps. ``inflation_permille`` (raw/effective) is the
    honest epochs-equivalent multiplier: a source at 1400 is 40%
    self-copies — the number token-budget planning needs BEFORE a
    survivor set even exists.

    Scale shape: x46's bounded label propagation, one |clusters|-row
    size aggregate joined back on the label, one |sources|-row
    reduce. The cluster-size join is label-keyed (cluster count <=
    doc count), never a pair join."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.components import (
        connected_components)
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = tables["documents"]
    edges = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b"))
    comp = connected_components(
        edges, vertices=docs.select(F.col("doc_id").alias("vertex")),
        max_iter=4)
    csize = comp.groupBy("component").agg(F.count("*").alias("cs"))
    base = docs.select("doc_id", "source",
                       F.size(F.split("text", " "))
                       .cast("long").alias("n_tokens"))
    j = (comp.join(csize, "component")
         .join(base, comp["vertex"] == base["doc_id"])
         .select("source", "n_tokens",
                 F.expr("n_tokens * 1000 div cs").alias("eff_milli")))
    return (j.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("raw_tokens"),
                 F.sum("eff_milli").alias("eff_milli_tokens"))
            .withColumn("inflation_permille",
                        F.expr("raw_tokens * 1000000 div eff_milli_tokens"))
            .orderBy("source"))


def _effective_tokens_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import (
        _cc_edges_sql, _cc_round)
    return f"""
WITH {_cc_edges_sql()},
l0 AS (SELECT doc_id AS vertex, doc_id AS component FROM documents),
{_cc_round('l0', 'l1')},
{_cc_round('l1', 'l2')},
{_cc_round('l2', 'l3')},
{_cc_round('l3', 'l4')},
csize AS (
  SELECT component, COUNT(*) AS cs FROM l4 GROUP BY component
), base AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), j AS (
  SELECT b.source, b.n_tokens, b.n_tokens * 1000 // c.cs AS eff_milli
  FROM l4 JOIN csize c ON c.component = l4.component
          JOIN base b ON b.doc_id = l4.vertex
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(SUM(eff_milli) AS BIGINT) AS eff_milli_tokens,
       CAST(SUM(n_tokens) AS BIGINT) * 1000000
           // CAST(SUM(eff_milli) AS BIGINT) AS inflation_permille
FROM j GROUP BY source ORDER BY source
"""


def _x176_rendezvous_sharding(spark, tables):
    """Rendezvous (highest-random-weight) sharding vs mod-hash, with
    the shrink-by-one churn measured exactly: HRW assigns each doc to
    ``argmax_s h(doc, s)`` over 16 shard ids, so removing shard 15
    moves ONLY the docs that lived there (~1/16 — the consistent-
    hashing property); ``doc_id % 16 -> % 15`` reshuffles almost
    everything. One row per scheme: balance extremes at 16 shards and
    the moved-doc count/permille after the shrink — the numbers that
    justify rendezvous placement for any 100 TB shard map (resharding
    IS a full-corpus rewrite under mod placement).

    Scale shape: two pure projections (16 portable hashes + argmax via
    array_position/array_max — first-index tie rule on both engines)
    and two tiny aggregates; zero joins, zero corpus shuffles beyond
    the 16-row load counts."""
    from hive_parse_lineage_spark.functions.text import (
        portable_hash64_spark_sql)
    d = tables["documents"]
    # r13 build-tail fusion: one parsed expression instead of 16
    # Column trees (~130 py4j round-trips); identical after parsing.
    hs = F.expr("array(" + ", ".join(
        portable_hash64_spark_sql(
            f"concat('hrw{s}#', CAST(doc_id AS STRING))")
        for s in range(16)) + ")")
    assigned = d.select(
        "doc_id", hs.alias("h16"), F.slice(hs, 1, 15).alias("h15"))
    assigned = assigned.select(
        "doc_id",
        (F.array_position(F.col("h16"), F.array_max("h16")) - 1)
        .alias("s16"),
        (F.array_position(F.col("h15"), F.array_max("h15")) - 1)
        .alias("s15"),
        (F.col("doc_id") % 16).alias("m16"),
        (F.col("doc_id") % 15).alias("m15"))
    hrw_loads = assigned.groupBy("s16").agg(F.count("*").alias("n"))
    hrw = (assigned.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("s16") != F.col("s15")).cast("long"))
        .alias("n_moved"))
        .crossJoin(hrw_loads.agg(F.max("n").alias("max_load"),
                                 F.min("n").alias("min_load")))
        .select(F.lit("hrw").alias("scheme"), "n_docs", "n_moved",
                F.expr("n_moved * 1000 div n_docs").alias("moved_permille"),
                "max_load", "min_load"))
    mod_loads = assigned.groupBy("m16").agg(F.count("*").alias("n"))
    mod = (assigned.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("m16") != F.col("m15")).cast("long"))
        .alias("n_moved"))
        .crossJoin(mod_loads.agg(F.max("n").alias("max_load"),
                                 F.min("n").alias("min_load")))
        .select(F.lit("mod").alias("scheme"), "n_docs", "n_moved",
                F.expr("n_moved * 1000 div n_docs").alias("moved_permille"),
                "max_load", "min_load"))
    return hrw.unionByName(mod).orderBy("scheme")


def _rendezvous_oracle_sql() -> str:
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    hs = ", ".join(
        portable_hash64_sql(f"'hrw{s}#' || CAST(doc_id AS VARCHAR)")
        for s in range(16))
    return f"""
WITH h AS (
  SELECT doc_id, [{hs}] AS h16 FROM documents
), a AS (
  SELECT doc_id,
         list_indexof(h16, list_max(h16)) - 1 AS s16,
         list_indexof(h16[1:15], list_max(h16[1:15])) - 1 AS s15,
         doc_id % 16 AS m16, doc_id % 15 AS m15
  FROM h
), hrw_l AS (
  SELECT MAX(n) AS max_load, MIN(n) AS min_load
  FROM (SELECT COUNT(*) AS n FROM a GROUP BY s16)
), mod_l AS (
  SELECT MAX(n) AS max_load, MIN(n) AS min_load
  FROM (SELECT COUNT(*) AS n FROM a GROUP BY m16)
), hrw AS (
  SELECT 'hrw' AS scheme, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN s16 != s15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
  FROM a
), mod AS (
  SELECT 'mod' AS scheme, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN m16 != m15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved
  FROM a
)
SELECT scheme, n_docs, n_moved, n_moved * 1000 // n_docs AS moved_permille,
       max_load, min_load
FROM (SELECT hrw.*, hrw_l.* FROM hrw, hrw_l
      UNION ALL SELECT mod.*, mod_l.* FROM mod, mod_l)
ORDER BY scheme
"""


def _x177_source_minhash(spark, tables):
    """Source-level MinHash UNION sketch with exact error accounting:
    each source's 20-hash signature is a plain MIN aggregate over its
    token stream — MIN is a commutative monoid, so per-shard partial
    signatures MERGE into the exact source signature at any scale
    (the sketch-union property that makes source-overlap monitoring
    O(|sources| x 20) instead of a vocab shuffle). Pairwise estimated
    token-set Jaccard (matching positions / 20) sits next to the
    EXACT distinct-token Jaccard, with the absolute error in permille
    — x129 measures shingle overlap exactly; this is its mergeable
    streaming-budget twin, certified against ground truth.

    Scale shape: the signature pass is one map-side-combinable
    aggregate (20 long registers per source); the exact pass is the
    only vocab shuffle, and at 100 TB it is SAMPLED or dropped while
    the sketch keeps running — that swap is the point."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import _P, _perm_params
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    h = tk.select("source",
                  F.pmod(portable_hash64(F.col("tok")), F.lit(_P))
                  .alias("h"))
    params = _perm_params(20, seed=7)
    # SQL-text register spellings (see dedup._min_register_aggs):
    # values bit-identical, ~10x fewer py4j round-trips per build
    aggs = [F.expr(f"min(pmod({a} * h + {b}, {_P})) AS m{i}")
            for i, (a, b) in enumerate(params)]
    sig = h.groupBy("source").agg(*aggs)
    sa = sig.selectExpr("source AS source_a",
                        *[f"m{i} AS a{i}" for i in range(20)])
    sb = sig.selectExpr("source AS source_b",
                        *[f"m{i} AS b{i}" for i in range(20)])
    match = F.expr(" + ".join(
        f"CAST((a{i} = b{i}) AS LONG)" for i in range(20)))
    est = (sa.join(sb, sa["source_a"] < sb["source_b"])
           .select("source_a", "source_b",
                   (match * 50).alias("est_permille")))
    ds = d.select("source", F.explode(F.split("text", " "))
                  .alias("tok")).distinct()
    nt = ds.groupBy("source").agg(F.count("*").alias("nt"))
    inter = (ds.alias("x").join(
        ds.alias("y"),
        (F.col("x.tok") == F.col("y.tok"))
        & (F.col("x.source") < F.col("y.source")))
        .groupBy(F.col("x.source").alias("source_a"),
                 F.col("y.source").alias("source_b"))
        .agg(F.count("*").alias("ni")))
    exact = (inter
             .join(nt.select(F.col("source").alias("source_a"),
                             F.col("nt").alias("na")), "source_a")
             .join(nt.select(F.col("source").alias("source_b"),
                             F.col("nt").alias("nb")), "source_b")
             .select("source_a", "source_b",
                     F.expr("ni * 1000 div (na + nb - ni)")
                     .alias("exact_permille")))
    return (est.join(exact, ["source_a", "source_b"], "left")
            .select("source_a", "source_b", "est_permille",
                    F.coalesce("exact_permille", F.lit(0))
                    .alias("exact_permille"),
                    F.abs(F.col("est_permille")
                          - F.coalesce("exact_permille", F.lit(0)))
                    .alias("abs_err_permille"))
            .orderBy("source_a", "source_b"))


def _source_minhash_oracle_sql() -> str:
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    from hive_parse_lineage_spark.operators.dedup import _P, _perm_params
    params = _perm_params(20, seed=7)
    hsql = portable_hash64_sql("tok")
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS m{i}"
        for i, (a, b) in enumerate(params))
    match = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(20))
    return f"""
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT source, {hsql} % {_P} AS h FROM tk
), sig AS (
  SELECT source,
         {mins}
  FROM h GROUP BY source
), est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         ({match}) * 50 AS est_permille
  FROM sig a JOIN sig b ON a.source < b.source
), ds AS (
  SELECT DISTINCT source, tok FROM tk
), nt AS (
  SELECT source, COUNT(*) AS nt FROM ds GROUP BY source
), inter AS (
  SELECT x.source AS source_a, y.source AS source_b, COUNT(*) AS ni
  FROM ds x JOIN ds y ON x.tok = y.tok AND x.source < y.source
  GROUP BY x.source, y.source
), exact AS (
  SELECT source_a, source_b,
         ni * 1000 // (na.nt + nb.nt - ni) AS exact_permille
  FROM inter JOIN nt na ON na.source = inter.source_a
             JOIN nt nb ON nb.source = inter.source_b
)
SELECT est.source_a, est.source_b, est_permille,
       COALESCE(exact_permille, 0) AS exact_permille,
       abs(est_permille - COALESCE(exact_permille, 0)) AS abs_err_permille
FROM est LEFT JOIN exact ON exact.source_a = est.source_a
                        AND exact.source_b = est.source_b
ORDER BY est.source_a, est.source_b
"""


def _x178_stream_custom_state(spark, tables):
    """CUSTOM stateful streaming operator under the EXACT hash gate —
    the sixth real stream in the family and the first through the
    ARBITRARY-state API the built-in operators can't express:
    per-event-type running SUM/COUNT held in explicit GroupState
    across real micro-batches (parquet file source, update-mode memory
    sink, applyInPandasWithState). Update mode emits one row per
    (key, touching batch); the FINAL update per key — selected by the
    strictly-increasing row count — must equal the batch GROUP BY,
    which proves the cross-batch state arithmetic itself, not just a
    plan. Integer cents (floor(value*100)) keep the state merge
    order-free, so the gate is exact whatever file order the source
    replays in. State is one (total, n) pair per key: O(keys), never
    O(events). ``running_cents_tws`` (streaming/windows.py) is the
    same operator on Spark 4's transformWithState successor API —
    pytest-covered where its protobuf state protocol is available;
    this gate spelling stays dependency-free so any harness can
    replay it."""
    import uuid

    from hive_parse_lineage_spark.streaming.windows import (
        run_stream_over_batch, running_cents_state)
    e = (tables["events"]
         .select("event_type",
                 F.expr("CAST(FLOOR(value * 100) AS BIGINT)")
                 .alias("cents"))
         .coalesce(4))
    sink = run_stream_over_batch(
        spark, e, running_cents_state,
        query_name=f"x178_{uuid.uuid4().hex[:8]}", output_mode="update")
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (sink.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("event_type", "total_cents", "n")
            .orderBy("event_type"))


_STREAM_TWS_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


#: Sketch accuracy for the flag-on approx-decile path: rank error is
#: bounded by n/accuracy rows (percentile_approx's contract), i.e.
#: 0.01% of the population at 10_000 — tests/test_ranks.py asserts
#: this bound holds against the exact value-at-row spelling.
X179_APPROX_ACCURACY = 10_000


def _decile_edges(df, value_col: str) -> list:
    """The 9 interior decile edges of ``df[value_col]`` — exact
    value-at-row by default (the gate spelling: global row_number,
    min value at each rank multiple), or ONE ``percentile_approx``
    aggregate when ``SPARK_GRAFT_APPROX_QUANTILES=1`` (the 100-TB
    path: map-side-combinable sketch, no global sort, rank error
    <= n/X179_APPROX_ACCURACY)."""
    import os
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        row = df.agg(F.percentile_approx(
            value_col, [i / 10 for i in range(1, 10)],
            F.lit(X179_APPROX_ACCURACY)).alias("es")).first()
        return list(row["es"])
    w = Window.orderBy(value_col)
    n = df.count()
    edges = (df.select(value_col, F.row_number().over(w).alias("rn"))
             .filter(F.expr(f"rn % GREATEST({n} div 10, 1) = 0"
                            f" AND rn div GREATEST({n} div 10, 1)"
                            f" BETWEEN 1 AND 9"))
             .groupBy(F.expr(f"rn div GREATEST({n} div 10, 1)")
                      .alias("edge_i"))
             .agg(F.min(value_col).alias("edge"))
             .orderBy("edge_i"))
    return [r["edge"] for r in edges.collect()]


def _x179_psi_drift(spark, tables):
    """Population Stability Index between the corpus's OLD and NEW
    halves (id-range split standing in for crawl date, x93's
    convention), in exact integer floor-bits: buckets are the old
    half's exact length deciles (value-at-row, x152's spelling), and
    each bucket's term is ``(p_permille - q_permille) *
    (ibits(p_cnt * Tq) - ibits(q_cnt * Tp))`` — the ibits difference
    brackets log2(p/q), so the classic sum (p-q)·ln(p/q) becomes pure
    integer arithmetic under the hash gate. PSI is THE production
    drift gate (scorecard monitoring's standard): x113's KS answers
    "did the distribution move anywhere", PSI says WHERE and how much
    per bucket, which is what triggers re-binning. +1 Laplace on the
    counts keeps empty buckets finite.

    Scale shape: one stats pass for the decile edges — the AT-SCALE
    path is real code, not prose: ``SPARK_GRAFT_APPROX_QUANTILES=1``
    swaps the exact value-at-row global window for one
    ``percentile_approx`` aggregate (KLL-style sketch, rank error
    <= n/accuracy, accuracy=X179_APPROX_ACCURACY; map-side
    combinable, NO single-partition sort — tests/test_ranks.py pins
    the rank-error bound against the exact spelling). Then one
    bucket-assignment projection via a 9-edge broadcast-free CASE and
    two |buckets|-row aggregates. No corpus joins. The flag is off
    for the gate because the DuckDB twin replays exact deciles."""
    d = tables["documents"].select(
        "doc_id", F.col("n_chars").cast("long").alias("v"))
    # id-range halves without a data-dependent literal: tag by the max
    # id (single-row crossJoin, bounded)
    mx = d.agg(F.max("doc_id").alias("mx"))
    tagged = d.crossJoin(F.broadcast(mx)).select(
        "v", (F.col("doc_id") * 2 <= F.col("mx")).alias("is_old"))
    old = tagged.filter("is_old")
    es = _decile_edges(old, "v")
    bucket = F.lit(len(es))
    for i in range(len(es) - 1, -1, -1):
        bucket = F.when(F.col("v") < F.lit(es[i]), F.lit(i)).otherwise(bucket)
    counts = (tagged.select("is_old", bucket.alias("b"))
              .groupBy("b")
              .agg(F.sum(F.col("is_old").cast("long")).alias("p_raw"),
                   F.sum((~F.col("is_old")).cast("long")).alias("q_raw"))
              .select("b", (F.col("p_raw") + 1).alias("p_cnt"),
                      (F.col("q_raw") + 1).alias("q_cnt"))
              # |buckets| rows; materialized so the totals crossJoin
              # doesn't recompute the corpus aggregate a second time
              .localCheckpoint(eager=True))
    tot = counts.agg(F.sum("p_cnt").alias("tp"), F.sum("q_cnt").alias("tq"))
    scored = (counts.crossJoin(F.broadcast(tot))
              .select("b", "p_cnt", "q_cnt",
                      F.expr("p_cnt * 1000 div tp").alias("p_permille"),
                      F.expr("q_cnt * 1000 div tq").alias("q_permille"),
                      (_ibits(F.col("p_cnt") * F.col("tq"))
                       - _ibits(F.col("q_cnt") * F.col("tp")))
                      .alias("log2_ratio_bits")))
    return (scored.select(
        "b", "p_cnt", "q_cnt", "p_permille", "q_permille",
        ((F.col("p_permille") - F.col("q_permille"))
         * F.col("log2_ratio_bits")).alias("psi_term_millibits"))
        .orderBy("b"))


_PSI_DRIFT_ORACLE = """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
), mx AS (
  SELECT MAX(doc_id) AS mx FROM d
), tagged AS (
  SELECT v, (doc_id * 2 <= mx) AS is_old FROM d, mx
), old AS (
  SELECT v FROM tagged WHERE is_old
), n AS (
  SELECT COUNT(*) AS n_old FROM old
), ranked AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM old
), edges AS (
  SELECT rn // GREATEST(n_old // 10, 1) AS edge_i, MIN(v) AS edge
  FROM ranked, n
  WHERE rn % GREATEST(n_old // 10, 1) = 0
    AND rn // GREATEST(n_old // 10, 1) BETWEEN 1 AND 9
  GROUP BY 1
), b AS (
  SELECT is_old,
         (SELECT COUNT(*) FROM edges WHERE edge <= t.v) AS b
  FROM tagged t
), counts AS (
  SELECT b,
         CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) + 1 AS BIGINT)
             AS p_cnt,
         CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) + 1 AS BIGINT)
             AS q_cnt
  FROM b GROUP BY b
), tot AS (
  SELECT CAST(SUM(p_cnt) AS BIGINT) AS tp,
         CAST(SUM(q_cnt) AS BIGINT) AS tq
  FROM counts
)
SELECT b, p_cnt, q_cnt,
       p_cnt * 1000 // tp AS p_permille,
       q_cnt * 1000 // tq AS q_permille,
       (p_cnt * 1000 // tp - q_cnt * 1000 // tq)
       * (length(bin(p_cnt * tq)) - length(bin(q_cnt * tp)))
           AS psi_term_millibits
FROM counts, tot ORDER BY b
"""


def _x180_sorted_neighborhood(spark, tables):
    """Sorted-Neighborhood dedup (Hernandez-Stolfo SNM) — the
    database-classic blocking alternative to LSH banding: sort the
    corpus once by a cheap fingerprint key (first 16 chars, tie
    doc_id), compare each doc only to its w=3 following neighbors, and
    exact-verify candidates with distinct-token Jaccard >= 0.5. Where
    LSH's candidate set is probabilistic, SNM's is deterministic in
    the sort key — near-dups with shared prefixes (the common
    boilerplate-header case) land adjacent and ARE found; divergent
    prefixes are the documented miss class (mitigated in production by
    multi-pass SNM over different keys, exactly like extra LSH bands).

    Scale shape: the global sort rank is range-partitioned for real
    (operators/ranks.py — per-range parallel sorts + bounded offsets,
    value-identical to the single-partition window it replaces, the
    caveat-to-code conversion x196 proved); neighbor pairing is w
    self-equi-joins on the MANUFACTURED rank+k key — plain hash
    joins, never a theta join; verification is per-candidate
    array_intersect, O(w * n) pairs total."""
    from hive_parse_lineage_spark.functions.text import tokens
    from hive_parse_lineage_spark.operators.ranks import (
        range_partitioned_row_number)
    d = tables["documents"].select(
        "doc_id", F.substring("text", 1, 16).alias("k16"),
        F.array_distinct(tokens("text")).alias("toks"))
    ranked = (range_partitioned_row_number(d, ["k16", "doc_id"], "rk")
              .localCheckpoint(eager=True))
    pairs = None
    for k in (1, 2, 3):
        a = ranked.select(F.col("doc_id").alias("id_a"),
                          F.col("toks").alias("ta"),
                          (F.col("rk") + k).alias("rk_b"))
        b = ranked.select(F.col("doc_id").alias("id_b"),
                          F.col("toks").alias("tb"),
                          F.col("rk").alias("rk_b"))
        p = (a.join(b, "rk_b")
             .select("id_a", "id_b", F.lit(k).alias("window_dist"),
                     F.size(F.array_intersect("ta", "tb")).alias("ni"),
                     F.size("ta").alias("na"), F.size("tb").alias("nb")))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (pairs
            .withColumn("jac_permille",
                        F.expr("ni * 1000 div (na + nb - ni)"))
            .filter(F.col("jac_permille") >= 500)
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "window_dist", "jac_permille")
            .orderBy("id_a", "id_b", "window_dist"))


_SORTED_NEIGHBORHOOD_ORACLE = """
WITH d AS (
  SELECT doc_id, substr(text, 1, 16) AS k16,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), ranked AS (
  SELECT doc_id, toks,
         ROW_NUMBER() OVER (ORDER BY k16, doc_id) AS rk
  FROM d
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, k.k AS window_dist,
         len(list_intersect(a.toks, b.toks)) AS ni,
         len(a.toks) AS na, len(b.toks) AS nb
  FROM ranked a
  JOIN (SELECT unnest([1, 2, 3]) AS k) k ON TRUE
  JOIN ranked b ON b.rk = a.rk + k.k
)
SELECT LEAST(id_a, id_b) AS id_a, GREATEST(id_a, id_b) AS id_b,
       window_dist, ni * 1000 // (na + nb - ni) AS jac_permille
FROM pairs
WHERE ni * 1000 // (na + nb - ni) >= 500
ORDER BY id_a, id_b, window_dist
"""


def _x181_gopher_rules(spark, tables):
    """Gopher-style heuristic quality gate (Rae et al. 2021, table A1)
    adapted to the whitespace-token corpus, reported as a per-source
    pass-rate scorecard: word-count bounds, mean-word-length band,
    stopword presence, max identical-token run, and type/token ratio —
    all in exact integer arithmetic (cross-multiplied thresholds, no
    ratios), so the gate is reproducible bit-for-bit on any engine.
    x03/x37 score and filter per-doc; this is the RULE-LEVEL audit that
    says WHICH rule gates each source, the number a curation run tunes.

    Scale shape: one projection computes four of five signals from
    array ops (no explode); the max-run signal is the only positional
    pass — posexplode then a PER-DOC window (partitionBy doc_id, never
    global), two map-side-combinable aggregates. One shuffle by doc
    for the run-length join, one by source for the report."""
    d = tables["documents"]
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "data", "value")])
    base = d.select(
        "doc_id", "source",
        F.size(toks).alias("n_words"),
        (F.length("text") - F.size(toks) + 1).alias("n_word_chars"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.size(F.array_intersect(F.array_distinct(toks), stop))
        .alias("n_stop_types"))
    pos = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = (pos
            .withColumn("new_run",
                        F.when(F.lag("tok").over(wd) == F.col("tok"),
                               F.lit(0)).otherwise(F.lit(1)))
            .withColumn("run_id", F.sum("new_run").over(wd))
            .groupBy("doc_id", "run_id").agg(F.count("*").alias("rl"))
            .groupBy("doc_id").agg(F.max("rl").alias("max_run")))
    scored = (base.join(runs, "doc_id")
              .select(
                  "source",
                  F.expr("CASE WHEN n_words BETWEEN 20 AND 100000 "
                         "THEN 1 ELSE 0 END").alias("p_len"),
                  F.expr("CASE WHEN n_word_chars * 1000 >= 3000 * n_words "
                         "AND n_word_chars * 1000 <= 10000 * n_words "
                         "THEN 1 ELSE 0 END").alias("p_mwl"),
                  F.expr("CASE WHEN n_stop_types >= 2 THEN 1 ELSE 0 END")
                  .alias("p_stop"),
                  F.expr("CASE WHEN max_run <= 4 THEN 1 ELSE 0 END")
                  .alias("p_run"),
                  F.expr("CASE WHEN n_types * 1000 >= 200 * n_words "
                         "THEN 1 ELSE 0 END").alias("p_ttr")))
    return (scored.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("p_len").alias("pass_len"),
                 F.sum("p_mwl").alias("pass_mwl"),
                 F.sum("p_stop").alias("pass_stop"),
                 F.sum("p_run").alias("pass_run"),
                 F.sum("p_ttr").alias("pass_ttr"),
                 F.sum(F.expr("p_len * p_mwl * p_stop * p_run * p_ttr"))
                 .alias("pass_all"))
            .orderBy("source"))


_GOPHER_RULES_ORACLE = """
WITH d AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS toks
  FROM documents
), base AS (
  SELECT doc_id, source,
         len(toks) AS n_words,
         length(text) - len(toks) + 1 AS n_word_chars,
         len(list_distinct(toks)) AS n_types,
         len(list_intersect(list_distinct(toks),
                            ['the', 'a', 'data', 'value'])) AS n_stop_types
  FROM d
), pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos,
         unnest(toks) AS tok
  FROM d
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
              THEN 0 ELSE 1 END AS new_run
  FROM pos
), islands AS (
  SELECT doc_id,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM marked
), rl AS (
  SELECT doc_id, run_id, COUNT(*) AS rl FROM islands GROUP BY 1, 2
), mr AS (
  SELECT doc_id, MAX(rl) AS max_run FROM rl GROUP BY doc_id
), scored AS (
  SELECT b.source,
         CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS p_len,
         CASE WHEN n_word_chars * 1000 >= 3000 * n_words
              AND n_word_chars * 1000 <= 10000 * n_words
              THEN 1 ELSE 0 END AS p_mwl,
         CASE WHEN n_stop_types >= 2 THEN 1 ELSE 0 END AS p_stop,
         CASE WHEN max_run <= 4 THEN 1 ELSE 0 END AS p_run,
         CASE WHEN n_types * 1000 >= 200 * n_words THEN 1 ELSE 0 END AS p_ttr
  FROM base b JOIN mr USING (doc_id)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(p_len) AS BIGINT) AS pass_len,
       CAST(SUM(p_mwl) AS BIGINT) AS pass_mwl,
       CAST(SUM(p_stop) AS BIGINT) AS pass_stop,
       CAST(SUM(p_run) AS BIGINT) AS pass_run,
       CAST(SUM(p_ttr) AS BIGINT) AS pass_ttr,
       CAST(SUM(p_len * p_mwl * p_stop * p_run * p_ttr) AS BIGINT)
           AS pass_all
FROM scored GROUP BY source ORDER BY source
"""


def _x182_pareto_skyline(spark, tables):
    """Per-language Pareto skyline over (maximize vocabulary richness,
    minimize length): the docs no other same-language doc dominates —
    the classic SKYLINE operator, which neither engine ships natively.
    For 2-D skylines the O(n^2) dominance anti-join collapses to ONE
    window: a doc survives iff its quality strictly beats the best
    quality over all strictly-shorter docs (RANGE frame to 1
    PRECEDING), it ties the best at its own exact length, and it is
    the lowest doc_id among those ties — deterministic representative
    per frontier point. The curation read: the efficient frontier of
    "most diverse doc per length budget", the exemplar set x83 would
    sample from.

    Scale shape: zero joins. Three windows, all partitioned by lang
    (and by (lang, n_chars) / (lang, n_chars, qual) for the tie
    lanes) — at 100 TB each language sorts independently; the RANGE
    frame is the documented range-partition + boundary-carry posture
    (x155/x180)."""
    d = tables["documents"].select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(F.split("text", " "))).alias("qual"))
    w_short = (Window.partitionBy("lang").orderBy("n_chars")
               .rangeBetween(Window.unboundedPreceding, -1))
    w_len = Window.partitionBy("lang", "n_chars")
    w_tie = Window.partitionBy("lang", "n_chars", "qual")
    return (d.withColumn("best_shorter", F.max("qual").over(w_short))
            .withColumn("best_here", F.max("qual").over(w_len))
            .withColumn("min_id", F.min("doc_id").over(w_tie))
            .filter((F.col("qual") == F.col("best_here"))
                    & (F.col("qual")
                       > F.coalesce(F.col("best_shorter"), F.lit(-1)))
                    & (F.col("doc_id") == F.col("min_id")))
            .select("lang", "n_chars", "doc_id", "qual")
            .orderBy("lang", "n_chars"))


_PARETO_SKYLINE_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         len(list_distinct(string_split(text, ' '))) AS qual
  FROM documents
), scored AS (
  SELECT doc_id, lang, n_chars, qual,
         MAX(qual) OVER (PARTITION BY lang ORDER BY n_chars
                         RANGE BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS best_shorter,
         MAX(qual) OVER (PARTITION BY lang, n_chars) AS best_here,
         MIN(doc_id) OVER (PARTITION BY lang, n_chars, qual) AS min_id
  FROM d
)
SELECT lang, n_chars, doc_id, qual
FROM scored
WHERE qual = best_here
  AND qual > COALESCE(best_shorter, -1)
  AND doc_id = min_id
ORDER BY lang, n_chars
"""


#: bootstrap replicate count for x183 — fixed so the oracle unrolls it.
BOOTSTRAP_B = 16

#: integer inverse-CDF thresholds (permille) for Poisson(1): P(X<=k)
#: cumulative ~ .368/.736/.920/.981/.996, tail mass to 5.
_POISSON_EDGES = (368, 736, 920, 981, 996)


def _x183_poisson_bootstrap(spark, tables):
    """Per-source mean document length with a DETERMINISTIC Poisson
    bootstrap standard error — the streaming-friendly bootstrap
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams"): each doc's weight in replicate b is a Poisson(1) draw
    derived from hash(doc_id:b) through a fixed integer inverse-CDF
    permille table, so every engine (and every rerun at 100 TB)
    produces the SAME replicates — no RNG state, no resampling pass
    over the corpus, and replicate membership is decided map-side row
    by row. Output per source: point mean plus bootstrap mean/variance
    of the replicate means, all integer milli.

    Scale shape: one explode by B=16 (map-side, no shuffle), one
    (source, b)-keyed aggregate, one source-keyed aggregate over
    B-row groups. At 100 TB the explode is the only corpus
    multiplier; the replicate dimension never shuffles separately."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    d = tables["documents"].select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("v"))
    reps = d.select(
        "source", "doc_id", "v",
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))).alias("b"))
    h = F.pmod(
        portable_hash64(F.concat_ws(":", F.col("doc_id"), F.col("b"))),
        F.lit(1000))
    w = F.lit(len(_POISSON_EDGES))
    for k in range(len(_POISSON_EDGES) - 1, -1, -1):
        w = F.when(h < F.lit(_POISSON_EDGES[k]), F.lit(k)).otherwise(w)
    per_rep = (reps.withColumn("w", w)
               .groupBy("source", "b")
               .agg(F.sum("w").alias("sw"),
                    F.sum(F.col("w") * F.col("v")).alias("swv"))
               .select("source", "b",
                       F.expr("CASE WHEN sw = 0 THEN 0 "
                              "ELSE swv * 1000 div sw END").alias("rm")))
    boot = (per_rep.groupBy("source")
            .agg(F.sum("rm").alias("sr"),
                 F.sum(F.col("rm") * F.col("rm")).alias("sr2")))
    point = (d.groupBy("source")
             .agg(F.count("*").alias("n_docs"),
                  F.expr("SUM(v) * 1000 div COUNT(*)").alias("mean_milli")))
    return (point.join(boot, "source")
            .select("source", "n_docs", "mean_milli",
                    F.expr(f"sr div {BOOTSTRAP_B}").alias("boot_mean_milli"),
                    # integer div end-to-end: the numerator is
                    # non-negative (Cauchy-Schwarz), so truncating div
                    # matches the oracle's exact // — routing through a
                    # double here would lose bits above 2^53
                    F.expr(f"({BOOTSTRAP_B} * sr2 - sr * sr) div "
                           f"{BOOTSTRAP_B * BOOTSTRAP_B}")
                    .alias("boot_var_milli2"))
            .orderBy("source"))


def _poisson_bootstrap_oracle_sql() -> str:
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    b_ = BOOTSTRAP_B
    h = portable_hash64_sql(
        "concat(CAST(doc_id AS VARCHAR), ':', CAST(b AS VARCHAR))")
    e = _POISSON_EDGES
    return f"""
WITH d AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_chars AS BIGINT) AS v
  FROM documents
), reps AS (
  SELECT source, doc_id, v, r.range AS b,
         {h} % 1000 AS h
  FROM d CROSS JOIN range({b_}) r
), weighted AS (
  SELECT source, b, v,
         CASE WHEN h < {e[0]} THEN 0 WHEN h < {e[1]} THEN 1
              WHEN h < {e[2]} THEN 2 WHEN h < {e[3]} THEN 3
              WHEN h < {e[4]} THEN 4 ELSE 5 END AS w
  FROM reps
), per_rep AS (
  SELECT source, b,
         CASE WHEN SUM(w) = 0 THEN 0
              ELSE CAST(SUM(w * v) AS BIGINT) * 1000
                   // CAST(SUM(w) AS BIGINT) END AS rm
  FROM weighted GROUP BY source, b
), boot AS (
  SELECT source, CAST(SUM(rm) AS BIGINT) AS sr,
         CAST(SUM(rm * rm) AS BIGINT) AS sr2
  FROM per_rep GROUP BY source
), point AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS mean_milli
  FROM d GROUP BY source
)
SELECT p.source, p.n_docs, p.mean_milli,
       b.sr // {b_} AS boot_mean_milli,
       ({b_} * b.sr2 - b.sr * b.sr) // ({b_} * {b_}) AS boot_var_milli2
FROM point p JOIN boot b ON p.source = b.source
ORDER BY p.source
"""


#: fixed query ids for the x184 ADC scan — bounded at any corpus size.
PQ_QUERY_IDS = (7, 19, 37, 53)


def _x184_pq_adc(spark, tables):
    """Product-quantization ANN (Jegou et al., PQ/ADC): the 64-dim
    embedding splits into 8 subspaces of 8 dims; the codebook is the
    first 16 vectors' subvectors (deterministic seeding, the x163
    convention); every vector encodes as 8 nearest-code ids (integer
    milli squared-L2, ties to the lowest code id); queries score the
    whole corpus ASYMMETRICALLY — a 16-entry distance table per
    (query, subspace), then adc_dist(v) = sum of 8 table lookups —
    never touching the original vectors again. This is the memory
    model IVF-PQ indexes (x79's scale path) use to hold billions of
    vectors: 8 bytes/vector instead of 256.

    Scale shape: the codebook (16 codes x 8 subspaces, long form
    1024 rows) and the distance table (|queries| x 128 rows) are
    PROVABLY bounded, so both broadcasts are the legitimate class
    (x104/x163). Encoding is one broadcast pass + one
    (vec, subspace)-keyed argmin; the ADC scan is one broadcast
    lookup join + an 8-row-per-pair sum. The corpus never self-joins
    and the original embeddings are read exactly once."""
    vq = (tables["embeddings"]
          .select("vec_id",
                  F.posexplode(F.expr(
                      "transform(embedding, x -> CAST(FLOOR("
                      "CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"))
                  .alias("k", "q"))
          .select("vec_id", F.expr("k div 8").alias("s"), "k", "q")
          .localCheckpoint(eager=True))
    cb = (vq.filter(F.col("vec_id") < 16)
          .select(F.col("vec_id").alias("cid"), "k",
                  F.col("q").alias("cq")))
    dd = (vq.join(F.broadcast(cb), "k")
          .groupBy("vec_id", "s", "cid")
          .agg(F.sum((F.col("q") - F.col("cq"))
                     * (F.col("q") - F.col("cq"))).alias("d")))
    enc = (dd.groupBy("vec_id", "s")
           .agg(F.min(F.struct("d", "cid")).alias("m"))
           .select("vec_id", "s", F.col("m.cid").alias("cid")))
    dtab = (dd.filter(F.col("vec_id").isin(*PQ_QUERY_IDS))
            .select(F.col("vec_id").alias("query_id"), "s", "cid", "d"))
    adc = (enc.join(F.broadcast(dtab), ["s", "cid"])
           .groupBy("query_id", "vec_id")
           .agg(F.sum("d").alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "rank", "vec_id", "adc_dist")
            .orderBy("query_id", "rank"))


def _pq_adc_oracle_sql() -> str:
    qids = ", ".join(str(q) for q in PQ_QUERY_IDS)
    return f"""
WITH vq AS (
  SELECT vec_id, s.k // 8 AS s, s.k AS k, s.q AS q
  FROM (SELECT vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(
                          k := i - 1,
                          q := CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                                          * 1000.0) AS BIGINT)))) AS s
        FROM embeddings)
), cb AS (
  SELECT vec_id AS cid, k, q AS cq FROM vq WHERE vec_id < 16
), dd AS (
  SELECT vq.vec_id, vq.s, cb.cid,
         CAST(SUM((vq.q - cb.cq) * (vq.q - cb.cq)) AS BIGINT) AS d
  FROM vq JOIN cb USING (k)
  GROUP BY vq.vec_id, vq.s, cb.cid
), enc AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
    FROM dd) WHERE rn = 1
), dtab AS (
  SELECT vec_id AS query_id, s, cid, d FROM dd
  WHERE vec_id IN ({qids})
), adc AS (
  SELECT dtab.query_id, enc.vec_id,
         CAST(SUM(dtab.d) AS BIGINT) AS adc_dist
  FROM enc JOIN dtab ON enc.s = dtab.s AND enc.cid = dtab.cid
  GROUP BY dtab.query_id, enc.vec_id
)
SELECT query_id, rank, vec_id, adc_dist FROM (
  SELECT query_id, vec_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM adc)
WHERE rank <= 5
ORDER BY query_id, rank
"""


#: multiplicative-weights rounds for x185 — fixed so the oracle unrolls.
REWEIGHT_ROUNDS = 5


def _x185_domain_reweight(spark, tables):
    """DoReMi-lite domain reweighting (Xie et al. 2023, the
    multiplicative-weights core): each source's loss proxy is its
    integer cross-entropy under the corpus unigram model (x170's
    floor-bit spelling, milli-bits/token); five rounds of w *=
    (1000 + clamp(loss - weighted_avg_loss, ±500)) / 1000 with
    permille renormalization upweight the domains the proxy finds
    hardest — the mixture a second training pass would use instead of
    token-proportional sampling. Every quantity is a non-negative
    integer at division time, so truncating div agrees across engines.

    Scale shape (r11 rewrite — the r10 spelling was 2.68x at sf1.0
    and BIMODAL: its token stream recomputed three times — global
    counts, total, join probe — and AQE flapped between broadcasting
    the vocab and sort-merging the 6M-row stream, a ~2.5 s coin
    flip visible in its own pass walls [4.34, 1.71, 1.68]): the
    corpus explodes ONCE into a per-(source, token) count whose
    shuffle exchange feeds all three consumers via Catalyst exchange
    reuse (the x142 lesson); the global unigram counts and total FOLD
    OUT of the per-source counts, so the scoring join is vocab-sized
    on both sides (weighted by cs — identical integers to the
    occurrence-level sum). The loss table is BOUNDED by the source
    domain, so it collects and the five multiplicative-weights rounds
    run driver-side in the same truncating integer permille the
    oracle unrolls (the r10 spelling localCheckpointed the
    |sources|-row table once per round — five serialized tiny jobs,
    the x194 disease); the result is a VALUES LocalRelation. Same
    bounded-collect class as the per-range tables in
    operators/ranks.py."""
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cst = tk.groupBy("source", "tok").agg(F.count("*").alias("cs"))
    ct = cst.groupBy("tok").agg(F.sum("cs").alias("c"))
    tt = cst.agg(F.sum("cs").alias("t"))
    loss_rows = (cst.join(ct, "tok").crossJoin(F.broadcast(tt))
                 .groupBy("source")
                 .agg(F.expr("CAST(SUM(cs * (length(bin(t)) "
                             "- length(bin(c)))) AS BIGINT) "
                             "* 1000 div SUM(cs)")
                      .alias("loss"))
                 .collect())                  # bounded: one row per source
    if not loss_rows:           # r11 ADVICE: empty corpus would hit
        return spark.sql(       # ZeroDivision + an empty-VALUES parse
            "SELECT CAST(NULL AS STRING) AS source, "     # error below
            "CAST(NULL AS BIGINT) AS loss_millibits, "
            "CAST(NULL AS BIGINT) AS weight, "
            "CAST(NULL AS BIGINT) AS weight_permille WHERE 1 = 0")
    rows = sorted((r["source"], r["loss"]) for r in loss_rows)
    w = {s: 100000 for s, _ in rows}
    # every quantity below is a non-negative integer at division time
    # (the clamp keeps the factor >= 500), so python // == Spark div
    for _ in range(REWEIGHT_ROUNDS):
        avg = sum(w[s] * l for s, l in rows) // sum(w.values())
        upd = {s: w[s] * (1000 + max(-500, min(500, l - avg))) // 1000
               for s, l in rows}
        sw = sum(upd.values())
        w = {s: upd[s] * 100000 // sw for s, _ in rows}
    tw = sum(w.values())
    vals = ", ".join(
        "({}, {}L, {}L, {}L)".format(_sql_str(s), l, w[s],
                                     w[s] * 1000 // tw)
        for s, l in rows)
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS "
        "t(source, loss_millibits, weight, weight_permille) "
        "ORDER BY source")


def _domain_reweight_oracle_sql() -> str:
    parts = ["""
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), ct AS (
  SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
), tt AS (
  SELECT COUNT(*) AS t FROM tk
), r0 AS MATERIALIZED (
  SELECT source,
         CAST(SUM(length(bin(t)) - length(bin(c))) AS BIGINT) * 1000
             // COUNT(*) AS loss,
         CAST(100000 AS BIGINT) AS w
  FROM tk JOIN ct USING (tok) CROSS JOIN tt
  GROUP BY source
)"""]
    for i in range(REWEIGHT_ROUNDS):
        parts.append(f""", a{i} AS (
  SELECT CAST(SUM(w * loss) AS BIGINT) // CAST(SUM(w) AS BIGINT)
             AS avg_loss
  FROM r{i}
), u{i} AS (
  SELECT source, loss,
         w * (1000 + GREATEST(-500, LEAST(500, loss - avg_loss))) // 1000
             AS w
  FROM r{i}, a{i}
), s{i} AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw FROM u{i}
), r{i + 1} AS MATERIALIZED (
  SELECT source, loss, w * 100000 // sw AS w FROM u{i}, s{i}
)""")
    parts.append(f""", tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS tw FROM r{REWEIGHT_ROUNDS}
)
SELECT source, loss AS loss_millibits, w AS weight,
       w * 1000 // tw AS weight_permille
FROM r{REWEIGHT_ROUNDS}, tot
ORDER BY source""")
    return "".join(parts)


def _sdiv(num: str, den: str) -> str:
    """Sign-reconciled truncating division as a SQL fragment (the x150
    spelling): it PINS truncate-toward-zero semantics regardless of
    whether the twin engine floors or truncates integer division, by
    routing negative numerators through the positive case. (The
    installed DuckDB 1.x truncates toward zero, -9 // 4 = -2, same as
    Spark ``div`` — but flooring engines exist, and this spelling is
    correct on both.) ``den`` must be positive."""
    return (f"CASE WHEN ({num}) >= 0 THEN ({num}) div ({den}) "
            f"ELSE -((-({num})) div ({den})) END")


def _x186_zipf_alpha(spark, tables):
    """Per-source Zipf power-law exponent fitted in EXACT integer
    arithmetic: token frequencies ranked (count desc, token), each
    (rank, count) point mapped to integer floor-bits (x141's ibits),
    and alpha = -slope of the OLS line through the (ibits(rank),
    ibits(count)) cloud using x121's integer moment sums with x150's
    sign-reconciled division. Natural text sits near alpha ~ 1000
    (milli); a templated source collapses toward 0 (flat spectrum) or
    blows past ~2000 (one token dominating) — the one-number
    vocabulary-health fit on top of x98's raw spectrum.

    Scale shape: one (source, token) count, one per-source window
    rank over vocab-sized rows, one per-source moment aggregate. No
    joins, no broadcast; degenerate sources (constant x) guard to
    NULL via the zero-denominator CASE."""
    d = tables["documents"]
    tk = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = tk.groupBy("source", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), "tok")
    pts = c.select(
        "source",
        _ibits(F.row_number().over(w)).cast("long").alias("x"),
        _ibits(F.col("c")).cast("long").alias("y"))
    m = (pts.groupBy("source")
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("x") * F.col("y")).alias("sxy")))
    slope = _sdiv("(n * sxy - sx * sy) * 1000", "n * sxx - sx * sx")
    return (m.select(
        "source", F.col("n").alias("n_types"),
        F.expr(f"CASE WHEN n * sxx - sx * sx = 0 THEN NULL "
               f"ELSE -({slope}) END").alias("alpha_milli"),
        F.expr(f"CASE WHEN n * sxx - sx * sx = 0 THEN NULL "
               f"ELSE {_sdiv(f'sy * 1000 - ({slope}) * sx', 'n * 1000')} "
               f"* 1000 END").alias("intercept_millibits"))
        .orderBy("source"))


_ZIPF_ALPHA_ORACLE = """
WITH tk AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok
), pts AS (
  SELECT source,
         CAST(length(bin(ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY c DESC, tok))) AS BIGINT) AS x,
         CAST(length(bin(c)) AS BIGINT) AS y
  FROM c
), m AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY source
), s AS (
  SELECT source, n, sx, sy, sxx, sxy,
         CASE WHEN (n * sxy - sx * sy) * 1000 >= 0
              THEN (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx)
              ELSE -((-((n * sxy - sx * sy) * 1000))
                     // (n * sxx - sx * sx)) END AS slope
  FROM m WHERE n * sxx - sx * sx != 0
)
SELECT m.source, m.n AS n_types,
       CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN NULL
            ELSE -s.slope END AS alpha_milli,
       CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN NULL
            ELSE (CASE WHEN m.sy * 1000 - s.slope * m.sx >= 0
                       THEN (m.sy * 1000 - s.slope * m.sx) // (m.n * 1000)
                       ELSE -((-(m.sy * 1000 - s.slope * m.sx))
                              // (m.n * 1000)) END) * 1000
            END AS intercept_millibits
FROM m LEFT JOIN s ON m.source = s.source
ORDER BY m.source
"""


#: watermark thresholds audited by x187 (label, microseconds).
WATERMARK_THRESHOLDS = (("wm_01min", 60_000_000),
                        ("wm_10min", 600_000_000),
                        ("wm_60min", 3_600_000_000))


def _x187_watermark_lateness(spark, tables):
    """Watermark-lateness audit over the event stream: replaying
    events in arrival order (event_id), each event's lateness is
    running_max(event_time) - event_time in exact integer
    microseconds — precisely the quantity Structured Streaming's
    ``withWatermark`` compares against its delay threshold. For three
    candidate watermarks the report counts the events a real stream
    (x111/x118/x135) WOULD DROP — the number that picks the
    delay/state-size trade-off before any streaming job is written.

    Scale shape: one global running-max window in arrival order. The
    AT-SCALE path is code: ``SPARK_GRAFT_APPROX_QUANTILES=1`` swaps it
    for ``range_partitioned_running_max`` (operators/ranks.py —
    per-range running max + a bounded |ranges|-row prefix-max carry),
    VALUE-IDENTICAL and tested equal. Then a 3x threshold explode
    feeding one map-side-combinable aggregate. No joins."""
    import os
    ev = tables["events"].select(
        "event_id", F.unix_micros("ts").alias("t"))
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        from hive_parse_lineage_spark.operators.ranks import (
            range_partitioned_running_max)
        late = (range_partitioned_running_max(ev, ["event_id"], "t", "_rm")
                .select((F.col("_rm") - F.col("t")).alias("late_us")))
    else:
        w = (Window.orderBy("event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        late = ev.select(
            (F.max("t").over(w) - F.col("t")).alias("late_us"))
    thr = F.array(*[
        F.struct(F.lit(label).alias("wm"), F.lit(us).alias("w_us"))
        for label, us in WATERMARK_THRESHOLDS])
    return (late.select("late_us", F.explode(thr).alias("s"))
            .select("late_us", F.col("s.wm").alias("wm"),
                    F.col("s.w_us").alias("w_us"))
            .groupBy("wm", "w_us")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.expr("CASE WHEN late_us > w_us THEN 1 ELSE 0 END"))
                 .alias("n_dropped"))
            .select("wm", "w_us", "n_events", "n_dropped",
                    F.expr("n_dropped * 1000 div n_events")
                    .alias("dropped_permille"))
            .orderBy("w_us"))


def _watermark_lateness_oracle_sql() -> str:
    packs = ", ".join(
        f"struct_pack(wm := '{label}', w_us := CAST({us} AS BIGINT))"
        for label, us in WATERMARK_THRESHOLDS)
    return f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS t FROM events
), late AS (
  SELECT MAX(t) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) - t AS late_us
  FROM ev
), thr AS (
  SELECT unnest([{packs}]) AS s
), j AS (
  SELECT late.late_us, thr.s.wm AS wm, thr.s.w_us AS w_us
  FROM late CROSS JOIN thr
)
SELECT wm, w_us, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN late_us > w_us THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(SUM(CASE WHEN late_us > w_us THEN 1 ELSE 0 END) AS BIGINT)
           * 1000 // COUNT(*) AS dropped_permille
FROM j GROUP BY wm, w_us ORDER BY w_us
"""


def _x188_rfm_segments(spark, tables):
    """RFM (recency / frequency / monetary) user segmentation — the
    database-marketing classic as exact SQL: per user the last event
    time (epoch micros), event count, and integer-cents spend
    (FLOOR(value*100), the q24 convention); each metric quartiled
    with NTILE(4) under fully tie-broken orders (metric, user_id); the
    report is the segment grid with user counts and mean spend. The
    training-data read: the same grid segments SOURCES by (freshness,
    volume, token mass) for mix design.

    Scale shape: one user-keyed aggregate, three global NTILE windows
    over the |users|-row table; the AT-SCALE path is real code —
    ``SPARK_GRAFT_APPROX_QUANTILES=1`` (x179's knob) swaps each global
    ntile for a range-partitioned exact rank (operators/ranks.py) +
    closed-form NTILE arithmetic, VALUE-IDENTICAL to the window
    spelling (tested hash-equal) with per-range parallel sorts instead
    of three single-partition ones. Then one 64-row-max aggregate."""
    import os
    ev = tables["events"].select(
        "user_id", F.unix_micros("ts").alias("t"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"))
    per_user = (ev.groupBy("user_id")
                .agg(F.max("t").alias("recency"),
                     F.count("*").alias("frequency"),
                     F.sum("cents").alias("monetary")))
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        from hive_parse_lineage_spark.operators.ranks import (
            ntile_from_rank, range_partitioned_row_number)
        scored, n = per_user, None
        for col, alias in (("recency", "r_q"), ("frequency", "f_q"),
                           ("monetary", "m_q")):
            if n is None:  # first rank's bounded collect yields |rows|
                scored, n = range_partitioned_row_number(
                    scored, [col, "user_id"], "_rk", return_total=True)
            else:
                scored = range_partitioned_row_number(
                    scored, [col, "user_id"], "_rk")
            scored = (scored
                      .withColumn(alias, ntile_from_rank("_rk", n, 4))
                      .drop("_rk"))
        scored = scored.select("user_id", "monetary",
                               "r_q", "f_q", "m_q")
    else:
        q = lambda col: F.ntile(4).over(Window.orderBy(col, "user_id"))
        scored = per_user.select(
            "user_id", "monetary",
            q("recency").alias("r_q"), q("frequency").alias("f_q"),
            q("monetary").alias("m_q"))
    return (scored.groupBy("r_q", "f_q", "m_q")
            .agg(F.count("*").alias("n_users"),
                 F.expr(_sdiv("SUM(monetary)", "COUNT(*)"))
                 .alias("mean_cents"))
            .orderBy("r_q", "f_q", "m_q"))


_RFM_SEGMENTS_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
), per_user AS (
  SELECT user_id, MAX(t) AS recency, COUNT(*) AS frequency,
         CAST(SUM(cents) AS BIGINT) AS monetary
  FROM ev GROUP BY user_id
), scored AS (
  SELECT user_id, monetary,
         NTILE(4) OVER (ORDER BY recency, user_id) AS r_q,
         NTILE(4) OVER (ORDER BY frequency, user_id) AS f_q,
         NTILE(4) OVER (ORDER BY monetary, user_id) AS m_q
  FROM per_user
)
SELECT r_q, f_q, m_q, COUNT(*) AS n_users,
       CASE WHEN CAST(SUM(monetary) AS BIGINT) >= 0
            THEN CAST(SUM(monetary) AS BIGINT) // COUNT(*)
            ELSE -((-CAST(SUM(monetary) AS BIGINT)) // COUNT(*)) END
           AS mean_cents
FROM scored GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q
"""


#: seed query terms for the x189 feedback loop (subset of the x88/x143
#: retrieval vocabulary so the runs describe the same corpus).
PRF_TERMS = ("spark", "merge")


def _x189_prf_expansion(spark, tables):
    """Pseudo-relevance-feedback retrieval (Rocchio's core loop) made
    hash-gate exact by running BOTH rounds on the all-integer TF-IDF
    surrogate (x44's tf * (n_docs div df)): round 1 ranks docs per
    seed term, the top-5 docs vote expansion terms (top-2 non-seed
    tokens by summed integer weight, ties alphabetical), and round 2
    re-ranks the corpus against seed + expansions with an
    order-free INTEGER score sum — the classic recall lever over x88's
    single-shot ranking, with zero floating point anywhere.

    Scale shape: the (token, doc) score stream is computed once and
    localCheckpointed — all three consumers (round-1 seed ranking,
    feedback voting, round-2 scoring) read the materialized stream;
    df attaches via a vocab-keyed shuffle join (never broadcast —
    x89's posture); the expansion table is PROVABLY bounded (top-2
    per seed) and joins back by token equi-key, left to AQE."""
    d = tables["documents"]
    base = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = base.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    sc = (tf.join(df_, "tok").crossJoin(F.broadcast(nd))
          .select("tok", "doc_id",
                  F.expr("tf * (n_docs div df)").alias("sc"))
          .localCheckpoint(eager=True))
    seeds = list(PRF_TERMS)
    w1 = Window.partitionBy("tok").orderBy(F.desc("sc"), "doc_id")
    r1 = (sc.filter(F.col("tok").isin(seeds))
          .withColumn("rn", F.row_number().over(w1))
          .filter(F.col("rn") <= 5)
          .select(F.col("tok").alias("seed"), "doc_id"))
    w2 = Window.partitionBy("seed").orderBy(F.desc("wt"), "tok")
    exp = (r1.join(sc, "doc_id")
           .filter(~F.col("tok").isin(seeds))
           .groupBy("seed", "tok").agg(F.sum("sc").alias("wt"))
           .withColumn("rn", F.row_number().over(w2))
           .filter(F.col("rn") <= 2)
           .select("seed", "tok"))
    grp = exp.unionByName(
        spark.createDataFrame([(s, s) for s in seeds], "seed string, tok string"))
    w3 = Window.partitionBy("seed").orderBy(F.desc("total"), "doc_id")
    return (grp.join(sc, "tok")
            .groupBy("seed", "doc_id").agg(F.sum("sc").alias("total"))
            .withColumn("rank", F.row_number().over(w3))
            .filter(F.col("rank") <= 10)
            .select(F.col("seed").alias("term"), "rank", "doc_id",
                    F.col("total").alias("score_int"))
            .orderBy("term", "rank"))


def _prf_expansion_oracle_sql() -> str:
    seed_list = ", ".join(f"'{s}'" for s in PRF_TERMS)
    seed_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS seed, '{s}' AS tok" for s in PRF_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT tok, doc_id, COUNT(*) AS tf FROM base GROUP BY tok, doc_id
), df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), sc AS (
  SELECT tf.tok, tf.doc_id, tf.tf * (nd.n_docs // df.df) AS sc
  FROM tf JOIN df USING (tok) CROSS JOIN nd
), r1 AS (
  SELECT tok AS seed, doc_id FROM (
    SELECT tok, doc_id,
           ROW_NUMBER() OVER (PARTITION BY tok
                              ORDER BY sc DESC, doc_id) AS rn
    FROM sc WHERE tok IN ({seed_list})) WHERE rn <= 5
), votes AS (
  SELECT r1.seed, sc.tok, CAST(SUM(sc.sc) AS BIGINT) AS wt
  FROM r1 JOIN sc USING (doc_id)
  WHERE sc.tok NOT IN ({seed_list})
  GROUP BY r1.seed, sc.tok
), exp AS (
  SELECT seed, tok FROM (
    SELECT seed, tok,
           ROW_NUMBER() OVER (PARTITION BY seed
                              ORDER BY wt DESC, tok) AS rn
    FROM votes) WHERE rn <= 2
), grp AS (
  SELECT seed, tok FROM exp UNION ALL {seed_rows}
), r2 AS (
  SELECT grp.seed, sc.doc_id, CAST(SUM(sc.sc) AS BIGINT) AS total
  FROM grp JOIN sc USING (tok)
  GROUP BY grp.seed, sc.doc_id
)
SELECT seed AS term, rank, doc_id, total AS score_int FROM (
  SELECT seed, doc_id, total,
         ROW_NUMBER() OVER (PARTITION BY seed
                            ORDER BY total DESC, doc_id) AS rank
  FROM r2) WHERE rank <= 10
ORDER BY term, rank
"""


#: x190 stream shape: micro-batches and the watermark delay (minutes).
X190_BATCHES = 4
X190_DELAY_MIN = 31
#: Micro-batches by which the LATE-DATA FILTER watermark lags the
#: progress watermark in the oracle's replay (the `ROWS BETWEEN
#: UNBOUNDED PRECEDING AND {lag} PRECEDING` frame): Spark applies the
#: watermark computed at the END of batch i to filter batch i+1's
#: input, so the filter applied to batch b sees max event time through
#: batch b-2 (one batch of propagation delay + the current batch
#: excluded). Empirically pinned against Spark 4.1.2 (file source
#: ordered by explicit mtime); a minor-version change to watermark
#: propagation breaks x190 ALONE — start the bisect at this constant.
X190_FILTER_LAG_BATCHES = 2

#: The Spark release X190_FILTER_LAG_BATCHES was pinned against. The
#: one-batch filter lag is EMPIRICAL micro-batch-engine behavior (not
#: a documented contract), so a Spark upgrade must re-derive the lag:
#: tests/test_version_pin.py fails with a pointer here instead of
#: letting a changed lag redden the x190 oracle corpus-wide.
X190_PINNED_SPARK = "4.1.2"


def _x190_stream_watermark_windows(spark, tables):
    """The one watermark behavior no other streaming entry exercises:
    LATE-DATA DROP. An append-mode tumbling-window count runs through
    a REAL Structured Streaming query with a 31-minute watermark over
    four deterministic micro-batches (batch = event_id % 4, one file per
    batch, file order pinned by explicit mtimes) — and the oracle
    replays Spark's committed drop semantics exactly: a batch-k row
    is kept iff its window end exceeds the FILTER watermark, which is
    the ms-truncated max event time over batches <= k-2 minus the
    delay (the filter lags the progress-reported watermark by one
    batch — pinned empirically, row-for-row, and stable across SFs);
    a window is emitted iff its end <= the final watermark (the
    no-data flush batch). x111/x118 gate state MERGING under
    drop-free watermarks; this entry gates the DROPPING itself — the
    exactness contract behind every x187-style delay choice.

    Scale shape: one streaming shuffle per micro-batch keyed by
    (window, event_type); state is O(open windows), evicted as the
    watermark passes. The 4-way staging split is the gate's
    deterministic replay harness, not a data path."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid
    ev = (tables["events"].select("event_id", "ts", "event_type")
          .withColumn("b", F.expr(f"pmod(event_id, {X190_BATCHES})")))
    src = tempfile.mkdtemp(prefix="x190_src_")
    try:
        for i in range(X190_BATCHES):
            stage = tempfile.mkdtemp(prefix="x190_stage_")
            try:
                (ev.filter(F.col("b") == i).drop("b").coalesce(1)
                 .write.mode("overwrite").parquet(stage))
                part = glob.glob(stage + "/part-*.parquet")[0]
                dst = os.path.join(src, f"b{i}.parquet")
                shutil.move(part, dst)
                # file-source order = (mtime, path); explicit mtimes pin
                # batch order without sleeps
                os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        schema = ev.drop("b").schema
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .withWatermark("ts", f"{X190_DELAY_MIN} minutes")
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("w_start"), "event_type", "n"))
        name = f"x190_{uuid.uuid4().hex[:8]}"
        q = (s.writeStream.outputMode("append")
             .format("memory").queryName(name).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # memory sink holds the rows driver-side; once checkpointed,
        # drop the uuid-named view so repeated sweeps in one session
        # don't accumulate collected row sets
        out = spark.table(name).orderBy("w_start", "event_type")
        out = out.localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return out


def _stream_watermark_oracle_sql() -> str:
    b_, d_, lag_ = X190_BATCHES, X190_DELAY_MIN, X190_FILTER_LAG_BATCHES
    return f"""
WITH ev AS (
  SELECT event_id, ts, event_type, event_id % {b_} AS b,
         date_trunc('hour', ts) AS w_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end
  FROM events
), bm AS (
  SELECT b, MAX(ts) AS mx FROM ev GROUP BY b
), wm AS (
  SELECT b,
         to_timestamp(epoch_ms(
             MAX(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                           AND {lag_} PRECEDING)
             - INTERVAL {d_} MINUTE) / 1000.0) AS wm_lag
  FROM bm
), kept AS (
  SELECT ev.* FROM ev JOIN wm USING (b)
  WHERE wm.wm_lag IS NULL OR ev.w_end > wm.wm_lag
), fw AS (
  SELECT to_timestamp(epoch_ms(MAX(ts) - INTERVAL {d_} MINUTE)
                      / 1000.0) AS final_wm
  FROM ev
), agg AS (
  SELECT w_start, event_type, COUNT(*) AS n, MAX(w_end) AS w_end
  FROM kept GROUP BY w_start, event_type
)
SELECT w_start, event_type, n
FROM agg, fw WHERE w_end <= final_wm
ORDER BY w_start, event_type
"""


def _x191_scd2_asof_join(spark, tables):
    """Dimension time-travel: events join the SCD2 customer dimension
    AS OF their event time — the warehouse-standard temporal lookup
    that closes the loop x55 opens (x55 BUILDS the versioned
    dimension; this entry READS it correctly). Versions: every 5th
    customer re-versions at 2024-01-15, mid-stream, so the event
    month genuinely straddles the boundary and both versions take
    traffic. The join is an equi-join on the key plus the validity
    residual (effective_from <= ts < coalesce(effective_to, inf)) —
    never a theta join, and per-key fanout is bounded by the version
    count (<= 2 here; version-count-bounded generally).

    Scale shape: one hash equi-join keyed by custkey (the dimension
    is |keys x versions| — small vs the fact but NOT hinted; AQE
    decides), one (key, version) aggregate. Integer cents keep the
    spend sum order-free."""
    from hive_parse_lineage_spark.operators.merge import scd2_apply
    c = tables["customer"]
    dim = c.select(
        "c_custkey", "c_acctbal",
        F.lit("2024-01-01").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"))
    updates = (c.filter(F.col("c_custkey") % 5 == 0)
               .select("c_custkey",
                       (F.col("c_acctbal") + 100).alias("c_acctbal"),
                       F.lit("2024-01-15").cast("timestamp")
                       .alias("effective_from")))
    scd = scd2_apply(dim, updates, "c_custkey")
    ev = tables["events"].select(
        F.col("user_id").alias("c_custkey"), "ts",
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"))
    j = (ev.join(scd, "c_custkey")
         .filter((F.col("ts") >= F.col("effective_from"))
                 & (F.col("effective_to").isNull()
                    | (F.col("ts") < F.col("effective_to")))))
    return (j.groupBy("c_custkey", "effective_from")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("sum_cents"))
            .orderBy("c_custkey", "effective_from"))


_SCD2_ASOF_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_acctbal,
         CAST('2024-01-01' AS TIMESTAMP) AS effective_from,
         CAST(NULL AS TIMESTAMP) AS effective_to
  FROM customer
), upd AS (
  SELECT c_custkey, c_acctbal + 100 AS c_acctbal,
         CAST('2024-01-15' AS TIMESTAMP) AS effective_from,
         CAST(NULL AS TIMESTAMP) AS effective_to
  FROM customer WHERE c_custkey % 5 = 0
), closed AS (
  SELECT d.c_custkey, d.c_acctbal, d.effective_from,
         CASE WHEN u.nf IS NOT NULL THEN u.nf
              ELSE d.effective_to END AS effective_to
  FROM dim d LEFT JOIN (SELECT c_custkey, effective_from AS nf
                        FROM upd) u USING (c_custkey)
), scd AS (
  SELECT * FROM closed UNION ALL SELECT * FROM upd
), ev AS (
  SELECT user_id AS c_custkey, ts,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT ev.c_custkey, scd.effective_from,
       COUNT(*) AS n_events,
       CAST(SUM(ev.cents) AS BIGINT) AS sum_cents
FROM ev JOIN scd USING (c_custkey)
WHERE ev.ts >= scd.effective_from
  AND (scd.effective_to IS NULL OR ev.ts < scd.effective_to)
GROUP BY ev.c_custkey, scd.effective_from
ORDER BY ev.c_custkey, scd.effective_from
"""


def _x192_wav_roundtrip_stats(spark, tables):
    """The multimodal plumbing under the ORACLE gate: every document's
    UTF-8 bytes become a genuine RIFF/WAVE file (8-bit PCM, mono,
    8 kHz — a deterministic synthesizer both sides can replay), the
    corpus of WAV blobs decodes through the REAL Arrow-batched
    ``decode_audio`` path (operators/multimodal.py — binary column in,
    fmt-chunk walk, PCM out), and per-clip sample statistics come off
    the decoded PCM with NumPy. Because 8-bit PCM samples ARE the text
    bytes and the corpus is ASCII, the DuckDB twin computes identical
    stats from the characters — so the binary schema, the WAV
    container walk, the mapInPandas batch contract and the decode
    arithmetic all sit under the exact value-hash gate instead of
    pytest alone. rms_int uses isqrt(ss div n); at PCM magnitudes
    (< 255^2) FLOOR(SQRT(double)) is exactly isqrt on both engines.

    Scale shape: two Arrow mapInPandas passes (synthesize, decode) and
    one stats projection — all partition-local, zero shuffles before
    the final sort; blobs never leave their partition."""
    import math
    import struct

    import pandas as pd

    from hive_parse_lineage_spark.operators.multimodal import decode_audio

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                n = len(body)
                wav = (b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
                       + b"fmt " + struct.pack("<I", 16)
                       + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
                       + b"data" + struct.pack("<I", n) + body)
                rows.append((doc_id, wav))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    def stats(batches):
        import numpy as np
        for pdf in batches:
            rows = []
            for doc_id, n, pcm in zip(pdf["doc_id"], pdf["n_samples"],
                                      pdf["pcm"]):
                v = np.frombuffer(bytes(pcm), np.uint8).astype(np.int64)
                s, ss = int(v.sum()), int((v * v).sum())
                rows.append((doc_id, int(n), int(v.max()),
                             s * 1000 // int(n),
                             math.isqrt(ss // int(n))))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_samples", "peak", "mean_milli", "rms_int"])

    wavs = (tables["documents"].select("doc_id", "text")
            .mapInPandas(synth, schema="doc_id long, content binary"))
    decoded = decode_audio(wavs, content_col="content", id_col="doc_id")
    return (decoded.mapInPandas(
        stats, schema="doc_id long, n_samples long, peak long, "
                      "mean_milli long, rms_int long")
        .orderBy("doc_id"))


_WAV_ROUNDTRIP_ORACLE = """
WITH ch AS (
  SELECT doc_id, ord(unnest(string_split_regex(text, ''))) AS v
  FROM documents
), agg AS (
  SELECT doc_id, COUNT(*) AS n_samples, MAX(v) AS peak,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM ch GROUP BY doc_id
)
SELECT doc_id, n_samples, CAST(peak AS BIGINT) AS peak,
       s * 1000 // n_samples AS mean_milli,
       CAST(FLOOR(SQRT(CAST(ss // n_samples AS DOUBLE))) AS BIGINT)
           AS rms_int
FROM agg ORDER BY doc_id
"""


def _x193_cooccurrence_itemsets(spark, tables):
    """Frequent token-pair mining (the Apriori/market-basket first
    pass) with the scale cap built in: candidate items are
    medium-frequency CONTENT tokens (5 <= df and df*5 <= n_docs*4,
    cross-multiplied — near-universal boilerplate tokens and hapaxes
    never generate), each doc contributes only its
    m = 8 rarest such tokens (rank by (df, tok) — deterministic), so
    per-doc fanout is bounded at C(8,2) = 28 pairs whatever the doc
    length. Support-filtered (>= 4 docs), top-30 by (support desc,
    pair) — the co-occurrence signal behind topic discovery and
    template detection that adjacent-bigram entries (x45/x92)
    structurally miss.

    Scale shape (r10 rewrite): the (doc, token) distinct stream is
    materialized ONCE (localCheckpoint — it feeds both the df count
    and the band join; without the pin each branch re-scanned the
    corpus), then one vocab-keyed shuffle join for df (never
    broadcast), one per-doc collect into a sorted <=8-slot array
    (hash aggregate — replaces the former row_number window sort),
    and the <=28 pairs per doc come from a pure-codegen array
    comprehension over that array (replaces the former doc-keyed
    self-join entirely), then one pair count + TakeOrdered(30). The
    df band plus per-doc cap is what keeps candidate volume linear
    in corpus size — the same production posture as x72's LSH cap."""
    d = tables["documents"]
    nd = d.agg(F.count("*").alias("n_docs"))
    dt = (d.select("doc_id",
                   F.explode(F.array_distinct(F.split("text", " ")))
                   .alias("tok"))
          .localCheckpoint(eager=True))
    df_ = dt.groupBy("tok").agg(F.count("*").alias("df"))
    band = (df_.crossJoin(F.broadcast(nd))
            .filter((F.col("df") >= 5)
                    & (F.col("df") * 5 <= F.col("n_docs") * 4))
            .select("tok", "df"))
    # array_sort on struct(df, tok) = the former ORDER BY df, tok;
    # slice keeps the 8 rarest; the nested transform emits ordered
    # (i < j) pairs, i.e. exactly the old ra < rb self-join output
    top = (dt.join(band, "tok")
           .groupBy("doc_id")
           .agg(F.slice(F.array_sort(F.collect_list(
               F.struct("df", "tok"))), 1, 8).alias("top")))
    pairs = top.select(F.explode(F.expr(
        "flatten(transform(top, (x, i) -> "
        "transform(slice(top, i + 2, size(top)), y -> "
        "struct(least(x.tok, y.tok) AS t1, "
        "greatest(x.tok, y.tok) AS t2))))")).alias("p")).select("p.*")
    return (pairs.groupBy("t1", "t2").agg(F.count("*").alias("support"))
            .filter(F.col("support") >= 4)
            .orderBy(F.desc("support"), "t1", "t2")
            .limit(30))


_COOCCURRENCE_ORACLE = """
WITH nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), dt AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), df AS (
  SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok
), band AS (
  SELECT tok, df FROM df, nd WHERE df >= 5 AND df * 5 <= n_docs * 4
), ranked AS (
  SELECT doc_id, tok, rk FROM (
    SELECT dt.doc_id, dt.tok,
           ROW_NUMBER() OVER (PARTITION BY dt.doc_id
                              ORDER BY band.df, dt.tok) AS rk
    FROM dt JOIN band USING (tok)) WHERE rk <= 8
), pairs AS (
  SELECT LEAST(a.tok, b.tok) AS t1, GREATEST(a.tok, b.tok) AS t2
  FROM ranked a JOIN ranked b
    ON a.doc_id = b.doc_id AND a.rk < b.rk
)
SELECT t1, t2, COUNT(*) AS support
FROM pairs GROUP BY t1, t2 HAVING COUNT(*) >= 4
ORDER BY support DESC, t1, t2 LIMIT 30
"""


#: x194 chain horizon: P^(2^4) = 16 steps — deep enough that both
#: absorbing states capture essentially all mass.
ATTRIB_SQUARINGS = 4

#: channels whose removal effect x194 reports (the non-converting
#: event types; 'purchase' is the conversion state itself).
ATTRIB_CHANNELS = ("click", "error", "signup", "view")

#: r11 verdict ask #2 — x194's per-user journey assembly was the one
#: unbounded ``collect_list`` left in the repo: a hot/bot user (the
#: --skew corpus gives user 777 ~10% of ALL events, 100k rows at
#: sf1.0) concentrated its entire history into one task's in-memory
#: array, the classic 100 TB straggler/OOM. Journeys now truncate to
#: the FIRST ``ATTRIB_JOURNEY_CAP`` events per user (row_number over
#: (ts, event_id) — the x85 pre-cap shape, corpus_queries.py:835)
#: BEFORE assembly, in BOTH engines, so the gate still hashes. 128 is
#: above the uniform corpus's per-user maximum (99 at every graded
#: SF — uniform results are bit-unchanged) and turns the skew corpus
#: hot user from a 100k-row task into a 128-row one. The attribution
#: semantics were already truncation-shaped: journeys cut at the
#: first conversion anyway; the cap bounds the pre-truncation scan.
ATTRIB_JOURNEY_CAP = 128


def _x194_markov_attribution(spark, tables):
    """Markov removal-effect attribution (Anderl et al.) — the
    principled multi-touch alternative to last-click: user journeys
    (events per user in (ts, event_id) order, truncated at the first
    purchase) define a first-order chain over {START, channels, CONV,
    NULL}; conversion probability is the START->CONV entry of P^16
    (four matrix SQUARINGS, done relationally on the tiny transition
    table); each channel's removal effect is the conversion drop when
    transitions into it redirect to NULL. All probabilities are
    integer permille with truncating products — deterministic on both
    engines, and the oracle unrolls the identical four squarings.

    Scale shape (r11 rewrite — the r10 spelling was 14.8x at sf1.0,
    and the dissection showed 90% of its wall was FOUR eager
    localCheckpoints serializing tiny jobs on a <=250-row table): the
    corpus-proportional work is ONE exchange — events sort-shuffle by
    user and a ``row_number() <= ATTRIB_JOURNEY_CAP`` pre-cap (r12,
    the x85 shape) bounds every journey BEFORE ``collect_list``, so no
    task ever assembles more than CAP rows per user (the window sort
    is the external spillable kind; the r11 sortless spelling saved
    the sort but let a hot user's whole history into one in-memory
    array); the groupBy reuses the window's hash partitioning (no
    second exchange) and a pure-codegen array comprehension emits the
    transition pairs, followed by a map-side-combinable (from,to)
    count. That count is BOUNDED by the event-type domain
    ((|types|+1) x (|types|+2) rows, independent of event count), so
    it is collected and the four squarings run driver-side in the
    same truncating integer permille the oracle unrolls —
    distributing a <=7x7 matrix product is pure scheduling overhead
    at ANY scale. Same bounded-collect class as the per-range tables
    in operators/ranks.py."""
    ev = tables["events"]
    # one exchange: per-user capped journey as a sorted state array,
    # truncated at the first conversion; transitions via codegen
    # comprehension. State codes ride the exchange as ONE byte; the
    # decode back to exact state strings happens AFTER the shuffle,
    # and an event type outside the documented domain travels
    # verbatim in the (then non-NULL) fallback column — compact AND
    # exact for any domain.
    enc = ("CAST(CASE event_type WHEN 'purchase' THEN 0 "
           + " ".join(f"WHEN '{c}' THEN {i + 1}"
                      for i, c in enumerate(ATTRIB_CHANNELS))
           + " ELSE -1 END AS TINYINT)")
    dec = ("CASE x.stc WHEN 0 THEN 'CONV' "
           + " ".join(f"WHEN {i + 1} THEN '{c}'"
                      for i, c in enumerate(ATTRIB_CHANNELS))
           + " ELSE x.sto END")
    wj = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.selectExpr("user_id", "ts", "event_id",
                           f"{enc} AS stc",
                           f"IF({enc} = -1, event_type, NULL) AS sto")
             .withColumn("rn", F.row_number().over(wj))
             .filter(F.col("rn") <= ATTRIB_JOURNEY_CAP)
             .groupBy("user_id")
             .agg(F.array_sort(F.collect_list(F.struct(
                 "rn", "stc", "sto"))).alias("a"))
             .select(F.expr(f"transform(a, x -> {dec})").alias("sts"))
             .select(F.expr(
                 "CASE WHEN array_position(sts, 'CONV') > 0 THEN "
                 "slice(sts, 1, int(array_position(sts, 'CONV'))) "
                 "ELSE sts END").alias("j"))
             .select(F.explode(F.expr(
                 "concat(transform(sequence(1, size(j)), i -> struct("
                 "IF(i = 1, 'START', element_at(j, i - 1)) AS from_st, "
                 "element_at(j, i) AS to_st)), "
                 # non-converting journeys absorb into NULL (filter
                 # keeps the struct-array type an empty CASE arm won't)
                 "filter(array(struct(element_at(j, -1) AS from_st, "
                 "'NULL' AS to_st)), x -> x.from_st != 'CONV'))"))
                 .alias("t"))
             .select("t.from_st", "t.to_st"))
    counts = pairs.groupBy("from_st", "to_st").agg(F.count("*").alias("c"))
    rows = counts.collect()          # bounded by the event-type domain
    # r11 ADVICE: the bounded-collect contract assumes a small fixed
    # event-type domain — a high-cardinality event_type would collect
    # O(|types|^2) rows and the driver-side squarings would degrade
    # quadratically. Fail loudly instead of hanging the driver.
    if len(rows) > 4096:
        raise ValueError(
            f"x194: transition table has {len(rows)} rows; the "
            "driver-side squaring contract assumes a small fixed "
            "event-type domain (<= 4096 transitions)")
    tot: dict = {}
    for r in rows:
        tot[r["from_st"]] = tot.get(r["from_st"], 0) + r["c"]
    base = {(r["from_st"], r["to_st"]): r["c"] * 1000 // tot[r["from_st"]]
            for r in rows}
    base[("CONV", "CONV")] = 1000
    base[("NULL", "NULL")] = 1000

    def conv_milli(variant: str) -> int:
        # removal variant: transitions FROM the channel vanish (its
        # row becomes the absorbing channel->NULL), transitions INTO
        # it redirect to NULL — byte-identical to the relational
        # variant construction the oracle replays
        if variant == "base":
            m = dict(base)
        else:
            m = {}
            for (f_st, t_st), p in base.items():
                if f_st == variant:
                    continue
                t_st = "NULL" if t_st == variant else t_st
                m[(f_st, t_st)] = m.get((f_st, t_st), 0) + p
            m[(variant, "NULL")] = 1000
        for _ in range(ATTRIB_SQUARINGS):
            nxt: dict = {}
            for (i, k), pa in m.items():
                for (k2, j), pb in m.items():
                    if k2 == k:
                        nxt[(i, j)] = nxt.get((i, j), 0) + pa * pb
            m = {ij: p // 1000 for ij, p in nxt.items() if p >= 1000}
        return m.get(("START", "CONV"), 0)

    bm = conv_milli("base")
    per_chan = {c: conv_milli(c) for c in ATTRIB_CHANNELS}
    # VALUES literal, not createDataFrame: a 4-row local relation via
    # the Python-RDD path costs ~1.5 s of worker spin-up; the SQL
    # literal is a JVM LocalRelation (~15 ms). Channel names are
    # module constants (no quoting hazard).
    vals = ", ".join(
        f"('{c}', {bm}L, {per_chan[c]}L, {bm - per_chan[c]}L)"
        for c in sorted(ATTRIB_CHANNELS))
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS "
        "t(channel, base_milli, conv_milli, removal_effect_milli) "
        "ORDER BY channel")


def _markov_attribution_oracle_sql() -> str:
    chans = ", ".join(f"('{c}')" for c in ATTRIB_CHANNELS)
    sq = ["""
WITH mapped AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'CONV'
              ELSE event_type END AS st
  FROM events
), capped AS (
  -- r12: the same first-CAP-events-per-user pre-cap the Spark plan
  -- applies before journey assembly (ATTRIB_JOURNEY_CAP)
  SELECT user_id, st, rk FROM (
    SELECT user_id, st,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rk
    FROM mapped
  ) WHERE rk <= """ + str(ATTRIB_JOURNEY_CAP) + """
), jr AS (
  SELECT user_id, st, rk,
         SUM(CASE WHEN st = 'CONV' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY rk) AS cum_conv
  FROM capped
), j AS (
  SELECT user_id, st, rk FROM jr
  WHERE cum_conv = 0 OR (cum_conv = 1 AND st = 'CONV')
), steps AS (
  SELECT COALESCE(LAG(st) OVER (PARTITION BY user_id ORDER BY rk),
                  'START') AS from_st,
         st AS to_st,
         LEAD(st) OVER (PARTITION BY user_id ORDER BY rk) AS nxt, st
  FROM j
), trans AS (
  SELECT from_st, to_st FROM steps
  UNION ALL
  SELECT st, 'NULL' FROM steps WHERE nxt IS NULL AND st != 'CONV'
), counts AS (
  SELECT from_st, to_st, COUNT(*) AS c FROM trans GROUP BY 1, 2
), tot AS (
  SELECT from_st, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY 1
), probs AS (
  SELECT counts.from_st, counts.to_st,
         counts.c * 1000 // tot.t AS p
  FROM counts JOIN tot USING (from_st)
  UNION ALL SELECT 'CONV', 'CONV', 1000
  UNION ALL SELECT 'NULL', 'NULL', 1000
), vd AS (
  SELECT 'base' AS variant
  UNION ALL SELECT col0 FROM (VALUES """ + chans + """) t(col0)
), m0 AS MATERIALIZED (
  SELECT variant, from_st, to_st, CAST(SUM(p) AS BIGINT) AS p FROM (
    SELECT vd.variant, probs.from_st,
           CASE WHEN vd.variant != 'base' AND probs.to_st = vd.variant
                THEN 'NULL' ELSE probs.to_st END AS to_st,
           probs.p
    FROM probs CROSS JOIN vd
    WHERE NOT (vd.variant != 'base' AND probs.from_st = vd.variant)
  ) GROUP BY 1, 2, 3
  UNION ALL
  SELECT variant, variant, 'NULL', 1000 FROM vd WHERE variant != 'base'
)"""]
    for i in range(ATTRIB_SQUARINGS):
        sq.append(f""", m{i + 1} AS MATERIALIZED (
  SELECT a.variant, a.from_st, b.to_st,
         CAST(SUM(a.p * b.p) AS BIGINT) // 1000 AS p
  FROM m{i} a JOIN m{i} b
    ON a.variant = b.variant AND a.to_st = b.from_st
  GROUP BY 1, 2, 3
  HAVING CAST(SUM(a.p * b.p) AS BIGINT) // 1000 > 0
)""")
    n = ATTRIB_SQUARINGS
    sq.append(f""", hits AS (
  SELECT variant, p AS cm FROM m{n}
  WHERE from_st = 'START' AND to_st = 'CONV'
), conv AS (
  SELECT vd.variant, COALESCE(hits.cm, 0) AS conv_milli
  FROM vd LEFT JOIN hits USING (variant)
)
SELECT c.variant AS channel, b.conv_milli AS base_milli,
       c.conv_milli,
       b.conv_milli - c.conv_milli AS removal_effect_milli
FROM conv c CROSS JOIN (SELECT conv_milli FROM conv
                        WHERE variant = 'base') b
WHERE c.variant != 'base'
ORDER BY channel""")
    return "".join(sq)


def _x195_dataset_card(spark, tables):
    """The per-source DATASET CARD: one wide row per source with the
    numbers a data consumer reads before mixing it in — volume (docs,
    tokens), vocabulary (exact distinct tokens), duplication (docs
    minus distinct md5 bodies), quality (the x56 gate's pass count),
    length (mean milli + exact p50, x91's value-at-row spelling) and
    language spread. Composes the registry's audit operators into ONE
    lazy plan per source — the provenance sheet next to x101's
    manifest.

    Scale shape: three source-keyed aggregates (scalar stats + exact
    distinct-token count + p50 rank pick) joined at |sources|
    cardinality; the only corpus-proportional exchanges are the token
    explode and the doc-count shuffles feeding them."""
    d = tables["documents"]
    toks = F.split("text", " ")
    n_t, nd_t = F.size(toks), F.size(F.array_distinct(toks))
    total = (F.length("text") - F.size(toks) + 1)
    keep_q = ((n_t >= 20) & (n_t <= 1000)
              & (total >= 2 * n_t) & (total <= 12 * n_t)
              & (nd_t * 10 >= 3 * n_t))
    base = (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(toks)).alias("n_tokens"),
                 (F.count("*")
                  - F.countDistinct(F.md5("text"))).alias("dup_docs"),
                 F.sum(keep_q.cast("long")).alias("quality_pass"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.expr("SUM(n_chars) * 1000 div COUNT(*)")
                 .alias("mean_len_milli")))
    vocab = (d.select("source", F.explode(F.array_distinct(toks))
                      .alias("tok"))
             .groupBy("source")
             .agg(F.countDistinct("tok").alias("n_vocab")))
    wl = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cnt = Window.partitionBy("source")
    p50 = (d.select("source", "n_chars", "doc_id")
           .withColumn("rn", F.row_number().over(wl))
           .withColumn("n", F.count("*").over(cnt))
           .filter(F.expr("rn * 2 = n OR rn * 2 = n + 1"))
           .groupBy("source")
           .agg(F.min("n_chars").alias("p50_len")))
    return (base.join(vocab, "source").join(p50, "source")
            .select("source", "n_docs", "n_tokens", "n_vocab",
                    "dup_docs", "quality_pass", "n_langs",
                    "mean_len_milli", "p50_len")
            .orderBy("source"))


_DATASET_CARD_ORACLE = """
WITH d AS (
  SELECT doc_id, source, lang, text, CAST(n_chars AS BIGINT) AS n_chars,
         string_split(text, ' ') AS toks
  FROM documents
), base AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
         COUNT(*) - COUNT(DISTINCT md5(text)) AS dup_docs,
         CAST(SUM(CASE WHEN len(toks) BETWEEN 20 AND 1000
                   AND (length(text) - len(toks) + 1) >= 2 * len(toks)
                   AND (length(text) - len(toks) + 1) <= 12 * len(toks)
                   AND len(list_distinct(toks)) * 10 >= 3 * len(toks)
              THEN 1 ELSE 0 END) AS BIGINT) AS quality_pass,
         COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) * 1000 // COUNT(*)
             AS mean_len_milli
  FROM d GROUP BY source
), vocab AS (
  SELECT source, COUNT(DISTINCT tok) AS n_vocab
  FROM (SELECT source, unnest(list_distinct(toks)) AS tok FROM d)
  GROUP BY source
), ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
), p50 AS (
  SELECT source, MIN(n_chars) AS p50_len FROM ranked
  WHERE rn * 2 = n OR rn * 2 = n + 1
  GROUP BY source
)
SELECT base.source, n_docs, n_tokens, n_vocab, dup_docs, quality_pass,
       n_langs, mean_len_milli, p50_len
FROM base JOIN vocab USING (source) JOIN p50 USING (source)
ORDER BY base.source
"""


def _x196_dedup_method_census(spark, tables):
    """Dedup-method AGREEMENT census — the meta-audit that says which
    blocking strategy finds which near-dups before anyone authorizes a
    delete: three candidate generators run over the same corpus (exact
    md5 bodies 'E'; uncapped portable MinHash-LSH banding 'L', x07's
    spelling; Sorted-Neighborhood w=3 'S', x180's spelling), LSH and
    SNM candidates exact-verified at distinct-2-shingle Jaccard >=
    0.5, and every surviving pair is tagged with the sorted set of
    methods that found it. The report is pair counts per method
    combination ('E', 'EL', 'ELS', 'LS', ...) — LSH-only mass is what
    SNM's single sort key misses (divergent prefixes), SNM-only mass
    is what banding's probabilistic recall dropped, and E outside LS
    would be an alarm.

    Scale shape: ONE checkpointed distinct-shingle-list table feeds
    the MinHash signatures AND both verifiers (x125's one-tokenization
    rule — MIN is idempotent over duplicates, so the distinct arrays
    give identical signatures to the raw shingle stream); the LSH join
    is band-bucketed (uncapped here as the gate spelling — the capped
    production posture is x72), SNM's global rank is range-partitioned
    (operators/ranks.py — per-range parallel sorts + bounded offsets,
    never a single-partition window) feeding rank+k hash equi-joins,
    exact is an md5-keyed self-join; the method union is
    pair-proportional. The only broadcast is the num_ranges-row rank
    offset table."""
    from hive_parse_lineage_spark.functions.text import (
        portable_hash64, word_shingles)
    from hive_parse_lineage_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signature_from_shingles)
    from hive_parse_lineage_spark.operators.ranks import (
        range_partitioned_row_number)
    docs = tables["documents"].select("doc_id", "text")
    # lazy checkpoint: the rank operator's bounded counts collect is
    # the first action and pins dsh AND the range split in ONE job;
    # the final action reuses both block sets
    dsh = (docs.select("doc_id",
                       F.array_distinct(word_shingles("text", 2))
                       .alias("shs"),
                       F.substring("text", 1, 16).alias("k16"),
                       F.md5("text").alias("h"))
           .localCheckpoint(eager=False))
    sig = minhash_signature_from_shingles(dsh.select("doc_id", "shs"),
                                          hasher=portable_hash64)
    lsh_cand = (lsh_candidate_pairs(sig, max_bucket_size=None)
                .select("id_a", "id_b", F.lit("L").alias("m")))
    ranked = range_partitioned_row_number(
        dsh.select("doc_id", "k16"), ["k16", "doc_id"], "rk")
    # one exploded neighbor join replaces three rank+k self-joins; the
    # rank is unique per doc, so each pair arises at exactly one k and
    # needs no dedup shuffle
    a = ranked.select(F.col("doc_id").alias("id_a"),
                      F.explode(F.array(*[F.col("rk") + k
                                          for k in (1, 2, 3)]))
                      .alias("rk_b"))
    b = ranked.select(F.col("doc_id").alias("id_b"),
                      F.col("rk").alias("rk_b"))
    snm_cand = (a.join(b, "rk_b")
                .select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                        F.lit("S").alias("m")))
    # ONE verify pass over the union, carrying the method tag — the
    # heavy shs-payload joins against dsh happen once, not per method
    cand = lsh_cand.unionByName(snm_cand)
    va = dsh.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("sa"))
    vb = dsh.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("sb"))
    verified = (cand.join(va, "id_a").join(vb, "id_b")
                .select("id_a", "id_b", "m",
                        F.size(F.array_intersect("sa", "sb")).alias("ni"),
                        F.size("sa").alias("na"), F.size("sb").alias("nb"))
                .filter(F.expr("ni * 1000 div (na + nb - ni) >= 500"))
                .select("id_a", "id_b", "m"))
    ea = dsh.select(F.col("doc_id").alias("id_a"), F.col("h").alias("ha"))
    eb = dsh.select(F.col("doc_id").alias("id_b"), F.col("h").alias("hb"))
    exact = (ea.join(eb, (F.col("ha") == F.col("hb"))
                     & (F.col("id_a") < F.col("id_b")))
             .select("id_a", "id_b", F.lit("E").alias("m")))
    tagged = exact.unionByName(verified)
    return (tagged.groupBy("id_a", "id_b")
            .agg(F.concat_ws("", F.array_sort(F.collect_set("m")))
                 .alias("combo"))
            .groupBy("combo").agg(F.count("*").alias("n_pairs"))
            .orderBy("combo"))


def _dedup_method_census_oracle_sql() -> str:
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    from hive_parse_lineage_spark.operators.dedup import _P, _perm_params
    n, bands, k = 64, 16, 2
    rows = n // bands
    h = portable_hash64_sql("s")
    mins = ",\n    ".join(
        f"list_min(list_transform(hs, x -> ({a}*x + {b}) % {_P}))"
        for a, b in _perm_params(n, 42))
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, text,
         CASE WHEN len(t) >= {k}
              THEN list_transform(range(1, len(t) - {k} + 2),
                                  i -> array_to_string(
                                      list_slice(t, i, i + {k} - 1), ' '))
              ELSE [text] END AS shingles
  FROM toks
), dsh AS MATERIALIZED (
  SELECT doc_id, list_distinct(shingles) AS shs,
         substr(text, 1, 16) AS k16, md5(text) AS h
  FROM sh
), hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {h} % {_P}) AS hs FROM sh
), sigs AS (
  SELECT doc_id, [{mins}] AS sig FROM hashed
), bk AS MATERIALIZED (
  SELECT doc_id, r.range AS band,
         list_slice(sig, r.range*{rows} + 1, r.range*{rows} + {rows}) AS bv
  FROM sigs, range({bands}) r
), lsh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
), lsh AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.shs, b.shs)) AS ni,
           len(a.shs) AS na, len(b.shs) AS nb
    FROM lsh_cand c JOIN dsh a ON c.id_a = a.doc_id
                    JOIN dsh b ON c.id_b = b.doc_id)
  WHERE ni * 1000 // (na + nb - ni) >= 500
), ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k16, doc_id) AS rk FROM dsh
), snm_cand AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
                  GREATEST(a.doc_id, b.doc_id) AS id_b
  FROM ranked a
  JOIN (SELECT unnest([1, 2, 3]) AS k) k ON TRUE
  JOIN ranked b ON b.rk = a.rk + k.k
), snm AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.shs, b.shs)) AS ni,
           len(a.shs) AS na, len(b.shs) AS nb
    FROM snm_cand c JOIN dsh a ON c.id_a = a.doc_id
                    JOIN dsh b ON c.id_b = b.doc_id)
  WHERE ni * 1000 // (na + nb - ni) >= 500
), exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dsh a JOIN dsh b ON a.h = b.h AND a.doc_id < b.doc_id
), tagged AS (
  SELECT id_a, id_b, 'E' AS m FROM exact
  UNION ALL SELECT id_a, id_b, 'L' FROM lsh
  UNION ALL SELECT id_a, id_b, 'S' FROM snm
), combos AS (
  SELECT id_a, id_b,
         string_agg(DISTINCT m, '' ORDER BY m) AS combo
  FROM tagged GROUP BY id_a, id_b
)
SELECT combo, COUNT(*) AS n_pairs FROM combos
GROUP BY combo ORDER BY combo
"""


def _x197_time_weighted_avg(spark, tables):
    """Time-weighted average value per event type — the TWAP/metrics
    classic for IRREGULARLY-SAMPLED series, where the plain AVG is
    wrong by construction (a value that held for an hour must weigh
    3600x one that held a second): each event's value (integer cents)
    holds until the same user's next event of that type; the last
    observation is right-censored at the user's final event time and
    contributes zero duration. Exact integer microsecond weights; the
    cents*dur_us products and their sums run in DECIMAL(38,0) (exact
    fixed-point, overflow-safe past 1e38 — a BIGINT sum of us-weighted
    cents overflows already at sf0.1), with one integral div at the
    end projecting back to BIGINT outputs. Order-free everywhere;
    all inputs non-negative so truncating div agrees across engines.

    Scale shape: one per-(user, type) LEAD window + one per-user max
    (both partition-local at any scale), one map-side-combinable
    aggregate (decimal sums are still hash-agg + codegen). Zero
    joins."""
    ev = tables["events"].select(
        "user_id", "event_type",
        F.unix_micros("ts").alias("t"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"))
    w = Window.partitionBy("user_id", "event_type").orderBy("t", "cents")
    wu = Window.partitionBy("user_id")
    held = (ev.withColumn("t_next", F.lead("t").over(w))
            .withColumn("t_end", F.max("t").over(wu))
            .select("event_type", "cents",
                    (F.coalesce("t_next", "t_end") - F.col("t"))
                    .alias("dur_us")))
    dsum = "SUM(CAST(dur_us AS DECIMAL(38,0)))"
    psum = ("SUM(CAST(cents AS DECIMAL(19,0)) * "
            "CAST(dur_us AS DECIMAL(19,0)))")
    return (held.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.expr(f"CAST({dsum} div 1000000 AS BIGINT)")
                 .alias("total_s"),
                 F.expr(f"CASE WHEN {dsum} = 0 THEN NULL "
                        f"ELSE {psum} div {dsum} END")
                 .alias("twap_cents"),
                 F.expr("SUM(cents) div COUNT(*)").alias("naive_cents"))
            .orderBy("event_type"))


_TIME_WEIGHTED_AVG_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
), held AS (
  SELECT event_type, cents,
         COALESCE(LEAD(t) OVER (PARTITION BY user_id, event_type
                                ORDER BY t, cents),
                  MAX(t) OVER (PARTITION BY user_id)) - t AS dur_us
  FROM ev
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(dur_us AS HUGEINT)) // 1000000 AS BIGINT) AS total_s,
       CASE WHEN SUM(CAST(dur_us AS HUGEINT)) = 0 THEN NULL
            ELSE CAST(SUM(CAST(cents AS HUGEINT) * CAST(dur_us AS HUGEINT))
                      // SUM(CAST(dur_us AS HUGEINT)) AS BIGINT)
       END AS twap_cents,
       CAST(CAST(SUM(cents) AS HUGEINT) // COUNT(*) AS BIGINT) AS naive_cents
FROM held GROUP BY event_type ORDER BY event_type
"""


X198_BATCHES = 4


def _x198_stream_static_join(spark, tables):
    """Stream-STATIC join under the exact hash gate — the one join
    execution path no other streaming entry exercises (x135 gates
    stream-STREAM): each micro-batch of the event stream hash-joins
    the static customer dimension batch-side (stateless — the static
    side is re-planned per micro-batch, no join state, no watermark
    needed), then feeds a stateful per-nation aggregate whose state
    MERGES across the four micro-batches; complete mode emits the
    final merged table, which is exactly the batch join+aggregate —
    so the DuckDB twin is the plain SQL spelling and the per-batch
    re-plan, the join itself and the cross-batch state merge all sit
    under the value-hash gate.

    Scale shape: the static dim joins as a normal equi-join each
    micro-batch (AQE broadcasts it when genuinely small — at 100 TB
    a large dim stays a shuffle join); aggregate state is O(|nations|).
    The 4-way staging split is the gate's deterministic replay
    harness, not a data path."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid
    ev = (tables["events"].select("event_id", "user_id", "value")
          .withColumn("b", F.expr(f"pmod(event_id, {X198_BATCHES})")))
    dim = tables["customer"].select("c_custkey", "c_nationkey")
    src = tempfile.mkdtemp(prefix="x198_src_")
    try:
        for i in range(X198_BATCHES):
            stage = tempfile.mkdtemp(prefix="x198_stage_")
            try:
                (ev.filter(F.col("b") == i).drop("b").coalesce(1)
                 .write.mode("overwrite").parquet(stage))
                part = glob.glob(stage + "/part-*.parquet")[0]
                dst = os.path.join(src, f"b{i}.parquet")
                shutil.move(part, dst)
                os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        schema = ev.drop("b").schema
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .join(dim, F.col("user_id") == F.col("c_custkey"))
             .groupBy(F.col("c_nationkey").cast("bigint")
                      .alias("nationkey"))
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.expr("CAST(FLOOR(value * 100) AS BIGINT)"))
                  .alias("cents")))
        name = f"x198_{uuid.uuid4().hex[:8]}"
        q = (s.writeStream.outputMode("complete")
             .format("memory").queryName(name).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name).orderBy("nationkey")
        out = out.localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return out


_STREAM_STATIC_JOIN_ORACLE = """
SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey ORDER BY nationkey
"""


def _x199_bmp_roundtrip_stats(spark, tables):
    """The IMAGE half of the multimodal certification x192 gives audio:
    every document's UTF-8 bytes become a genuine 24-bit BMP — 5 px
    wide, so each 15-byte payload row carries ONE real stride-padding
    byte; stored BOTTOM-UP in BGR order, the two transforms
    ``decode_bmp`` must undo — and the corpus decodes through the REAL
    Arrow-batched ``decode_image`` container walk
    (operators/multimodal.py). Because decode must flip the rows,
    swizzle BGR->RGB and strip the stride padding for the decoded
    top-down RGB stream to equal the original bytes, the gate uses a
    POSITION-WEIGHTED checksum (sum of (1-based index)*byte) — any
    row-order, channel-order or stride mistake shifts bytes and
    breaks the hash, unlike x192's order-free stats. The DuckDB twin
    computes the same checksum from character positions (corpus is
    ASCII; trailing pad zeros contribute nothing).

    Scale shape: two Arrow mapInPandas passes (synthesize, decode) and
    one stats pass — all partition-local, zero shuffles before the
    final sort; blobs never leave their partition."""
    import struct

    import pandas as pd

    from hive_parse_lineage_spark.operators.multimodal import decode_image

    W = 5                      # 15 payload bytes/row, stride 16

    def synth(batches):
        import numpy as np
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                n = len(body)
                if n == 0:
                    continue
                h = (n + 3 * W - 1) // (3 * W)
                pay = np.zeros(h * 3 * W, np.uint8)
                pay[:n] = np.frombuffer(body, np.uint8)
                rgb = pay.reshape(h, W, 3)
                bgr = rgb[:, :, ::-1]          # decode swizzles back
                stored = bgr[::-1]             # bottom-up rows
                padded = np.zeros((h, (3 * W + 3) & ~3), np.uint8)
                padded[:, :3 * W] = stored.reshape(h, 3 * W)
                px = padded.tobytes()
                hdr = (b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
                       + struct.pack("<IiiHHIIiiII", 40, W, h, 1, 24,
                                     0, len(px), 2835, 2835, 0, 0))
                rows.append((doc_id, hdr + px))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    def stats(batches):
        import numpy as np
        for pdf in batches:
            rows = []
            for doc_id, h, pix in zip(pdf["doc_id"], pdf["height"],
                                      pdf["pixels"]):
                v = np.frombuffer(bytes(pix), np.uint8).astype(np.int64)
                idx = np.arange(1, len(v) + 1, dtype=np.int64)
                rows.append((doc_id, int(h), len(v), int(v.max()),
                             int((idx * v).sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "height", "n_bytes", "peak", "possum"])

    bmps = (tables["documents"].select("doc_id", "text")
            .filter(F.length("text") > 0)
            .mapInPandas(synth, schema="doc_id long, content binary"))
    decoded = decode_image(bmps, content_col="content", id_col="doc_id")
    return (decoded.mapInPandas(
        stats, schema="doc_id long, height long, n_bytes long, "
                      "peak long, possum long")
        .orderBy("doc_id"))


_BMP_ROUNDTRIP_ORACLE = """
WITH ch AS (
  SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS v
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
                    1, CAST(length(text) AS BIGINT))) AS i) t
  WHERE length(text) > 0
), agg AS (
  SELECT doc_id, COUNT(*) AS n, MAX(v) AS peak,
         CAST(SUM(i * v) AS BIGINT) AS possum
  FROM ch GROUP BY doc_id
)
SELECT doc_id, (n + 14) // 15 AS height, ((n + 14) // 15) * 15 AS n_bytes,
       CAST(peak AS BIGINT) AS peak, possum
FROM agg ORDER BY doc_id
"""


def _x200_quantile_normalize(spark, tables):
    """Cross-source QUANTILE NORMALIZATION lookup table — the
    microarray-normalization classic applied to corpus curation: a
    'long doc' from a tweets source and a 'long doc' from a books
    source sit at wildly different absolute token counts, so
    source-uniform absolute thresholds mis-filter; the fix maps each
    source's score distribution onto the GLOBAL one by rank. Emitted
    as the 10-row-per-source mapping table a curation pass applies:
    for each source and decile k, the source's exact value at row
    ceil(k*m/10) next to the global value at row ceil(k*N/10) (x91's
    all-integer value-at-row discrete quantile — no interpolation, no
    float divergence), plus the shift in permille of the global
    value. Deciles land long-form via an explode of the k in 1..10
    whose boundary row this is — no join, no broadcast; a row serves
    every k it bounds (small sources hit the same row repeatedly).

    Scale shape: one per-source window + one global window. The
    AT-SCALE path is code: ``SPARK_GRAFT_APPROX_QUANTILES=1`` swaps
    the single-partition global row_number for the range-partitioned
    exact rank (operators/ranks.py) + one scalar count —
    VALUE-IDENTICAL, tested equal (the per-source window stays
    partitioned). Then a 10-row x (10*|sources|)-row equi-join AQE
    resolves. Corpus scanned twice, column-pruned to (source, n,
    doc_id)."""
    import os
    d = tables["documents"].select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n"))
    ws = Window.partitionBy("source").orderBy("n", "doc_id")
    src_b = (d.select("source", "n",
                      F.row_number().over(ws).alias("rn"),
                      F.count("*").over(
                          Window.partitionBy("source")).alias("m"))
             .select("source", F.col("n").alias("src_value"),
                     F.explode(F.expr(
                         "filter(sequence(1, 10), "
                         "k -> rn = (k * m + 9) div 10)")).alias("k")))
    if os.environ.get("SPARK_GRAFT_APPROX_QUANTILES", "") == "1":
        from hive_parse_lineage_spark.operators.ranks import (
            range_partitioned_row_number)
        g = d.select("n", "doc_id")
        glob_ranked, m_total = range_partitioned_row_number(
            g, ["n", "doc_id"], "rn", return_total=True)
        glob_ranked = glob_ranked.withColumn("m", F.lit(m_total))
    else:
        wg = Window.orderBy("n", "doc_id")
        glob_ranked = d.select(
            "n", F.row_number().over(wg).alias("rn"),
            F.count("*").over(Window.partitionBy(F.lit(1))).alias("m"))
    glob_b = (glob_ranked
              .select(F.col("n").alias("global_value"),
                      F.explode(F.expr(
                          "filter(sequence(1, 10), "
                          "k -> rn = (k * m + 9) div 10)")).alias("k")))
    return (src_b.join(glob_b, "k")
            .select("source", F.col("k").alias("decile"),
                    "src_value", "global_value",
                    F.expr("(src_value - global_value) * 1000 "
                           "div global_value").alias("shift_permille"))
            .orderBy("source", "decile"))


_QUANTILE_NORMALIZE_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), rs AS (
  SELECT source, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS m
  FROM d
), src_b AS (
  SELECT source, n AS src_value, k
  FROM rs, LATERAL (SELECT unnest(generate_series(1, 10)) AS k) t
  WHERE rn = (k * m + 9) // 10
), rg AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n, doc_id) AS rn,
         COUNT(*) OVER () AS m
  FROM d
), glob_b AS (
  SELECT n AS global_value, k
  FROM rg, LATERAL (SELECT unnest(generate_series(1, 10)) AS k) t
  WHERE rn = (k * m + 9) // 10
)
SELECT s.source, CAST(s.k AS INT) AS decile, s.src_value, g.global_value,
       (s.src_value - g.global_value) * 1000 // g.global_value
           AS shift_permille
FROM src_b s JOIN glob_b g USING (k)
ORDER BY s.source, decile
"""


def _x201_cluster_safe_split(spark, tables):
    """LEAKAGE-SAFE train/val/test split — the composition x39 + x46
    exist for: a plain per-doc hash split (x39) puts ~19% of every
    near-dup cluster's mass in val/test, silently leaking training
    content into eval (the x84 audit measures exactly this damage);
    the fix assigns the split by hash of each doc's DUP-CLUSTER label
    (x46's bounded min-label propagation over MinHash-LSH edges), so
    a whole near-dup family lands in ONE split by construction. The
    output is the audit a pipeline gates on: per split, doc and
    cluster counts, plus ``straddling_clusters`` — clusters seen in
    more than one split — which this construction forces to 0 (the
    operator ships its own leakage proof, x174-style).

    Scale shape: x46's edge generation (banded LSH, never all-pairs)
    + 4 bounded label-prop rounds (one equi-join + map-side MIN per
    round), then one hash projection and two small aggregates; the
    1-row straddle count cross-joins the 3-row summary (nested-loop
    on singletons, no hint)."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.components import (
        connected_components)
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    from hive_parse_lineage_spark.operators.sampling import hash_split
    docs = tables["documents"]
    edges = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, hasher=portable_hash64,
                               max_bucket_size=None)
             .select("id_a", "id_b"))
    vertices = docs.select(F.col("doc_id").alias("vertex"))
    comp = connected_components(edges, vertices=vertices, max_iter=4)
    labeled = hash_split(comp, id_col="component", salt="v1")
    per_split = (labeled.groupBy("split")
                 .agg(F.count("*").alias("n_docs"),
                      F.countDistinct("component").alias("n_clusters")))
    straddle = (labeled.groupBy("component")
                .agg(F.countDistinct("split").alias("ns"))
                .filter(F.col("ns") > 1)
                .agg(F.count("*").alias("straddling_clusters")))
    return (per_split.crossJoin(straddle)
            .select("split", "n_docs", "n_clusters", "straddling_clusters")
            .orderBy("split"))


def _cluster_safe_split_oracle_sql() -> str:
    from hive_parse_lineage_spark.corpus_queries import (
        _cc_edges_sql, _cc_round)
    from hive_parse_lineage_spark.functions.text import portable_hash64_sql
    h = portable_hash64_sql("'v1' || CAST(component AS VARCHAR)")
    return f"""
WITH {_cc_edges_sql()},
l0 AS (SELECT doc_id AS vertex, doc_id AS component FROM documents),
{_cc_round('l0', 'l1')},
{_cc_round('l1', 'l2')},
{_cc_round('l2', 'l3')},
{_cc_round('l3', 'l4')},
lab AS (
  SELECT vertex, component, {h} % 100 AS bucket FROM l4
), s AS MATERIALIZED (
  SELECT vertex, component,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
  FROM lab
), per AS (
  SELECT split, COUNT(*) AS n_docs,
         COUNT(DISTINCT component) AS n_clusters
  FROM s GROUP BY split
), st AS (
  SELECT COUNT(*) AS straddling_clusters FROM (
    SELECT component FROM s GROUP BY component
    HAVING COUNT(DISTINCT split) > 1)
)
SELECT split, n_docs, n_clusters, straddling_clusters
FROM per, st ORDER BY split
"""


def _x202_dq_constraints(spark, tables):
    """Declarative data-quality constraint suite (the Deequ / dbt-test
    shape): one report row per constraint with checked and violation
    counts — completeness (NOT NULL), uniqueness (primary keys),
    referential integrity (foreign keys, as anti-join orphan
    censuses), domain membership and numeric range — over the
    warehouse tables a pipeline actually gates on. The report is what
    a nightly run diffs before promoting a snapshot; x136 profiles
    what IS in a column, this asserts what MUST be.

    Scale shape: completeness/domain/range are single-scan map-side
    aggregates; uniqueness is one groupBy on the key; each FK check
    is a plain left-anti equi-join (never broadcast-forced — at
    100 TB both sides are corpus-proportional; AQE decides). Each
    constraint touches only its own columns (column-pruned scans),
    and the union of 1-row results is negligible."""
    o, c, li = tables["orders"], tables["customer"], tables["lineitem"]

    def row(name, checked_df, viol_col):
        return (checked_df.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(viol_col.cast("long")).alias("n_violations"))
            .select(F.lit(name).alias("check_name"),
                    "n_checked", "n_violations"))

    complete = row("orders.o_custkey NOT NULL", o,
                   F.col("o_custkey").isNull())
    uniq_o = row("orders.o_orderkey UNIQUE",
                 o.groupBy("o_orderkey").agg(F.count("*").alias("n")),
                 F.col("n") > 1)
    uniq_li = row("lineitem.(l_orderkey,l_linenumber) UNIQUE",
                  li.groupBy("l_orderkey", "l_linenumber")
                  .agg(F.count("*").alias("n")),
                  F.col("n") > 1)
    # FK orphan censuses: left-anti count over the referenced key
    fk_oc = (o.select("o_custkey")
             .join(c.select(F.col("c_custkey")),
                   F.col("o_custkey") == F.col("c_custkey"), "left_anti")
             .agg(F.count("*").alias("n_violations"))
             .crossJoin(o.agg(F.count("*").alias("n_checked")))
             .select(F.lit("orders.o_custkey -> customer FK")
                     .alias("check_name"), "n_checked", "n_violations"))
    fk_lo = (li.select("l_orderkey")
             .join(o.select(F.col("o_orderkey")),
                   F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
             .agg(F.count("*").alias("n_violations"))
             .crossJoin(li.agg(F.count("*").alias("n_checked")))
             .select(F.lit("lineitem.l_orderkey -> orders FK")
                     .alias("check_name"), "n_checked", "n_violations"))
    domain = row("orders.o_orderstatus IN (F,O,P)", o,
                 ~F.col("o_orderstatus").isin("F", "O", "P"))
    rng = row("lineitem.l_quantity IN [1,50]", li,
              (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
    disc = row("lineitem.l_discount IN [0,0.1]", li,
               (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1))
    out = (complete.unionAll(uniq_o).unionAll(uniq_li).unionAll(fk_oc)
           .unionAll(fk_lo).unionAll(domain).unionAll(rng)
           .unionAll(disc))
    return (out.withColumn(
        "violation_permille",
        F.expr("n_violations * 1000 div n_checked"))
        .orderBy("check_name"))


_DQ_CONSTRAINTS_ORACLE = """
WITH r AS (
  SELECT 'orders.o_custkey NOT NULL' AS check_name,
         COUNT(*) AS n_checked,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders.o_orderkey UNIQUE', COUNT(*),
         CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'lineitem.(l_orderkey,l_linenumber) UNIQUE', COUNT(*),
         CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS n
        FROM lineitem GROUP BY l_orderkey, l_linenumber)
  UNION ALL
  SELECT 'orders.o_custkey -> customer FK',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem.l_orderkey -> orders FK',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'orders.o_orderstatus IN (F,O,P)', COUNT(*),
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem.l_quantity IN [1,50]', COUNT(*),
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_discount IN [0,0.1]', COUNT(*),
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
)
SELECT check_name, n_checked, n_violations,
       n_violations * 1000 // n_checked AS violation_permille
FROM r ORDER BY check_name
"""


def _x203_cluster_margin(spark, tables):
    """Clustering-quality audit for x163's integer k-means — the
    silhouette-style ASSIGNMENT-MARGIN report: for every vector, the
    squared-L2 gap between its second-best and best round-1 centroid
    (margin 0 = sits on a cluster boundary), aggregated per cluster
    as mean gap and the permille of AMBIGUOUS members (second-best
    within 10%: 10*d2nd <= 11*d1st, cross-multiplied integer). The
    dial that says which x163/x78/x79 clusters are real structure and
    which are arbitrary Voronoi cuts — exactly what SemDeDup-style
    dedup must know before trusting within-cluster pruning.

    Scale shape: one broadcast pass of the provably-bounded (<= 100
    row) centroid table over the quantized corpus, then rn <= 2 over
    a per-vector window — which compiles to WindowGroupLimit (the
    x108 pattern), so each map task ships at most 2 of the 100
    distances per vector; final aggregate is |clusters|-sized.
    Reuses x163's checkpointed round-1 via the shared helper, so the
    audit can never drift from the clustering it audits."""
    vq, seeds0, dist_stream, assign, a1, c1 = _kmeans_milli_round1(tables)
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    top2 = (dist_stream(c1)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2))
    piv = (top2.groupBy("vec_id")
           .agg(F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
                F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
                F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"))
           .withColumn("d2", F.coalesce("d2", "d1")))
    return (piv.groupBy("cid")
            .agg(F.count("*").alias("n_members"),
                 F.expr("SUM(d2 - d1) div COUNT(*)").alias("mean_gap"),
                 F.expr("SUM(CAST(10 * d2 <= 11 * d1 AS BIGINT)) * 1000 "
                        "div COUNT(*)").alias("ambiguous_permille"))
            .orderBy("cid"))


_CLUSTER_MARGIN_ORACLE = f"""{_KMEANS_PREFIX_SQL}, top2 AS (
  SELECT vec_id, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM d2
), piv AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
         MAX(CASE WHEN rn = 1 THEN d END) AS d1,
         COALESCE(MAX(CASE WHEN rn = 2 THEN d END),
                  MAX(CASE WHEN rn = 1 THEN d END)) AS d2
  FROM top2 WHERE rn <= 2 GROUP BY vec_id
)
SELECT cid, COUNT(*) AS n_members,
       CAST(SUM(d2 - d1) AS BIGINT) // COUNT(*) AS mean_gap,
       CAST(SUM(CASE WHEN 10 * d2 <= 11 * d1 THEN 1 ELSE 0 END) * 1000
            AS BIGINT) // COUNT(*) AS ambiguous_permille
FROM piv GROUP BY cid ORDER BY cid
"""


def _x205_user_predictability(spark, tables):
    """Per-user BEHAVIORAL PREDICTABILITY: the entropy of each user's
    next-event-type distribution, in the exact integer floor-log2
    surrogate the x141 family established — sum over the user's
    next-event counts c of c*(ibits(T_u) - ibits(c)), normalized to
    milli-bits-per-transition. A bot or scripted account shows near-0
    entropy (one dominant transition); an organic user sits near the
    type-count ceiling — the per-user dial x106's corpus-wide Markov
    matrix cannot give, and the feature a session-model or
    abuse-filter trains on. Ships with the user's dominant next type
    and its permille share for interpretability.

    Scale shape: one per-user LEAD window (partition-local at any
    scale), one (user, to_type) count, one per-user aggregate. Zero
    joins."""
    e = tables["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (e.select("user_id", "ts", "event_id", "event_type")
           .withColumn("to_type", F.lead("event_type").over(w))
           .filter(F.col("to_type").isNotNull()))
    c = (nxt.groupBy("user_id", "to_type")
         .agg(F.count("*").alias("c")))
    ct = (c.withColumn("t", F.sum("c").over(
               Window.partitionBy("user_id")))
          .withColumn("bits",
                      F.expr("c * (length(bin(t)) - length(bin(c)))")))
    return (ct.groupBy("user_id")
            .agg(F.max("t").alias("n_transitions"),
                 F.count("*").alias("n_types"),
                 F.expr("SUM(bits) * 1000 div MAX(t)")
                 .alias("entropy_millibits"),
                 F.max(F.struct("c", "to_type")).alias("m"))
            .select("user_id", "n_transitions", "n_types",
                    "entropy_millibits",
                    F.col("m.to_type").alias("top_type"),
                    F.expr("m.c * 1000 div n_transitions")
                    .alias("top_share_permille"))
            .orderBy("user_id"))


_USER_PREDICTABILITY_ORACLE = """
WITH nxt AS (
  SELECT user_id,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), c AS (
  SELECT user_id, to_type, COUNT(*) AS c
  FROM nxt WHERE to_type IS NOT NULL GROUP BY user_id, to_type
), ct AS (
  SELECT user_id, to_type, c,
         CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS t,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, to_type DESC) AS rn
  FROM c
), b AS (
  SELECT user_id, to_type, c, t, rn,
         c * (length(bin(t)) - length(bin(c))) AS bits
  FROM ct
)
SELECT user_id, MAX(t) AS n_transitions, COUNT(*) AS n_types,
       CAST(SUM(bits) * 1000 AS BIGINT) // MAX(t) AS entropy_millibits,
       MAX(CASE WHEN rn = 1 THEN to_type END) AS top_type,
       CAST(MAX(CASE WHEN rn = 1 THEN c END) * 1000 AS BIGINT)
           // MAX(t) AS top_share_permille
FROM b GROUP BY user_id ORDER BY user_id
"""


_BENFORD_PERMILLE = (301, 176, 125, 97, 79, 67, 58, 51, 46)


def _x204_benford_audit(spark, tables):
    """Benford first-digit audit of the money column — the forensic
    data-QA classic: naturally-arising multiplicative amounts follow
    P(d) = log10(1 + 1/d), and a synthetic, capped, or fat-fingered
    column shows up as per-digit deviation long before any range check
    fires. Digits come from integer cents (no float formatting
    divergence), observed shares are integer permille, expected shares
    are the hard-coded floor(log10(1+1/d)*1000) table both engines
    carry verbatim, and the report adds |obs - exp| plus a chi-square
    integer surrogate (dev^2 * 1000 div exp) per digit — the same
    all-integer posture as every x141-family entry.

    Scale shape: one column-pruned scan + one 9-group aggregate; the
    permille normalization is a window over the 9-row result. Zero
    joins."""
    exp_arr = "array({})".format(
        ", ".join(str(v) for v in _BENFORD_PERMILLE))
    o = (tables["orders"]
         .select(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
                 .alias("cents"))
         .filter(F.col("cents") > 0)
         .select(F.expr("CAST(substring(CAST(cents AS STRING), 1, 1) "
                        "AS INT)").alias("digit")))
    counts = o.groupBy("digit").agg(F.count("*").alias("n"))
    wall = Window.partitionBy(F.lit(1))
    return (counts
            .withColumn("_t", F.sum("n").over(wall))
            .select("digit", "n",
                    F.expr("n * 1000 div _t").alias("obs_permille"),
                    F.expr(f"CAST(element_at({exp_arr}, digit) AS BIGINT)")
                    .alias("benford_permille"))
            .withColumn("dev_permille",
                        F.expr("abs(obs_permille - benford_permille)"))
            .withColumn("chi2_milli",
                        F.expr("dev_permille * dev_permille * 1000 "
                               "div benford_permille"))
            .orderBy("digit"))


_BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
  FROM (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders)
  WHERE cents > 0
), c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
), e(digit, benford_permille) AS (
  VALUES {", ".join(f"({i + 1}, CAST({v} AS BIGINT))"
                    for i, v in enumerate(_BENFORD_PERMILLE))}
), j AS (
  SELECT c.digit, c.n,
         c.n * 1000 // SUM(c.n) OVER () AS obs_permille,
         e.benford_permille
  FROM c JOIN e USING (digit)
)
SELECT digit, n, obs_permille, benford_permille,
       abs(obs_permille - benford_permille) AS dev_permille,
       abs(obs_permille - benford_permille)
           * abs(obs_permille - benford_permille) * 1000
           // benford_permille AS chi2_milli
FROM j ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def analytics_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "x141_entropy_bits": _q(_x141_entropy_bits),
        "x142_bigram_surprise": _q(_x142_bigram_surprise),
        "x143_retrieval_mrr": _q(_x143_retrieval_mrr),
        "x144_rbo_rank_stability": _q(_x144_rbo_rank_stability),
        "x145_principal_direction": _q(_x145_principal_direction),
        "x146_hapax_audit": _q(_x146_hapax_audit),
        "x147_bag_dedup_lift": _q(_x147_bag_dedup_lift),
        "x148_length_octaves": _q(_x148_length_octaves),
        "x149_dup_graph_triangles": _q(_x149_dup_graph_triangles),
        "x150_kendall_quality": _q(_x150_kendall_quality),
        "x151_split_contamination": _q(_x151_split_contamination),
        "x152_qq_alignment": _q(_x152_qq_alignment),
        "x153_null_safe_join": _q(_x153_null_safe_join),
        "x154_rank_distributions": _q(_x154_rank_distributions),
        "x155_gaps_islands": _q(_x155_gaps_islands),
        "x156_mad_outliers": _q(_x156_mad_outliers),
        "x157_chi2_independence": _q(_x157_chi2_independence),
        "x158_benchmark_decontamination": _q(_x158_benchmark_decontamination),
        "x159_token_gini": _q(_x159_token_gini),
        "x160_fuzzy_linkage": _q(_x160_fuzzy_linkage),
        "x161_kcore_peel": _q(_x161_kcore_peel),
        "x162_curriculum_schedule": _q(_x162_curriculum_schedule),
        "x163_kmeans_milli": _q(_x163_kmeans_milli),
        "x164_lsh_precision": _q(_x164_lsh_precision),
        "x165_stratified_sample": _q(_x165_stratified_sample),
        "x166_embedding_isotropy": _q(_x166_embedding_isotropy),
        "x167_incremental_rollup": _q(_x167_incremental_rollup),
        "x168_ngram_diversity": _q(_x168_ngram_diversity),
        "x169_event_path_trigrams": _q(_x169_event_path_trigrams),
        "x170_source_cross_entropy": _q(_x170_source_cross_entropy),
        "x171_mattr": _q(_x171_mattr),
        "x172_pair_provenance": _q(_x172_pair_provenance),
        "x173_dedup_quota": _q(_x173_dedup_quota),
        "x174_pii_density": _q(_x174_pii_density),
        "x175_effective_tokens": _q(_x175_effective_tokens),
        "x176_rendezvous_sharding": _q(_x176_rendezvous_sharding),
        "x177_source_minhash": _q(_x177_source_minhash),
        "x178_stream_custom_state": _q(_x178_stream_custom_state),
        "x179_psi_drift": _q(_x179_psi_drift),
        "x180_sorted_neighborhood": _q(_x180_sorted_neighborhood),
        "x181_gopher_rules": _q(_x181_gopher_rules),
        "x182_pareto_skyline": _q(_x182_pareto_skyline),
        "x183_poisson_bootstrap": _q(_x183_poisson_bootstrap),
        "x184_pq_adc": _q(_x184_pq_adc),
        "x185_domain_reweight": _q(_x185_domain_reweight),
        "x186_zipf_alpha": _q(_x186_zipf_alpha),
        "x187_watermark_lateness": _q(_x187_watermark_lateness),
        "x188_rfm_segments": _q(_x188_rfm_segments),
        "x189_prf_expansion": _q(_x189_prf_expansion),
        "x190_stream_watermark_windows": _q(_x190_stream_watermark_windows),
        "x191_scd2_asof_join": _q(_x191_scd2_asof_join),
        "x192_wav_roundtrip_stats": _q(_x192_wav_roundtrip_stats),
        "x193_cooccurrence_itemsets": _q(_x193_cooccurrence_itemsets),
        "x194_markov_attribution": _q(_x194_markov_attribution),
        "x195_dataset_card": _q(_x195_dataset_card),
        "x196_dedup_method_census": _q(_x196_dedup_method_census),
        "x197_time_weighted_avg": _q(_x197_time_weighted_avg),
        "x198_stream_static_join": _q(_x198_stream_static_join),
        "x199_bmp_roundtrip_stats": _q(_x199_bmp_roundtrip_stats),
        "x200_quantile_normalize": _q(_x200_quantile_normalize),
        "x201_cluster_safe_split": _q(_x201_cluster_safe_split),
        "x202_dq_constraints": _q(_x202_dq_constraints),
        "x203_cluster_margin": _q(_x203_cluster_margin),
        "x204_benford_audit": _q(_x204_benford_audit),
        "x205_user_predictability": _q(_x205_user_predictability),
    }


def analytics_oracle_sql() -> dict[str, str]:
    return {
        "x141_entropy_bits": _ENTROPY_BITS_ORACLE,
        "x142_bigram_surprise": _BIGRAM_SURPRISE_ORACLE,
        "x143_retrieval_mrr": _mrr_oracle_sql(),
        "x144_rbo_rank_stability": _rbo_oracle_sql(),
        "x145_principal_direction": _PRINCIPAL_DIRECTION_ORACLE,
        "x146_hapax_audit": _HAPAX_ORACLE,
        "x147_bag_dedup_lift": _BAG_DEDUP_LIFT_ORACLE,
        "x148_length_octaves": _LENGTH_OCTAVES_ORACLE,
        "x149_dup_graph_triangles": _dup_triangles_oracle_sql(),
        "x150_kendall_quality": _KENDALL_ORACLE,
        "x151_split_contamination": _split_contamination_oracle_sql(),
        "x152_qq_alignment": _QQ_ALIGNMENT_ORACLE,
        "x153_null_safe_join": _NULL_SAFE_JOIN_ORACLE,
        "x154_rank_distributions": _RANK_DISTRIBUTIONS_ORACLE,
        "x155_gaps_islands": _GAPS_ISLANDS_ORACLE,
        "x156_mad_outliers": _MAD_OUTLIERS_ORACLE,
        "x157_chi2_independence": _CHI2_ORACLE,
        "x158_benchmark_decontamination": _decontamination_oracle_sql(),
        "x159_token_gini": _TOKEN_GINI_ORACLE,
        "x160_fuzzy_linkage": _FUZZY_LINKAGE_ORACLE,
        "x161_kcore_peel": _kcore_oracle_sql(),
        "x162_curriculum_schedule": _CURRICULUM_ORACLE,
        "x163_kmeans_milli": _KMEANS_MILLI_ORACLE,
        "x164_lsh_precision": _lsh_precision_oracle_sql(),
        "x165_stratified_sample": _stratified_sample_oracle_sql(),
        "x166_embedding_isotropy": _EMBEDDING_ISOTROPY_ORACLE,
        "x167_incremental_rollup": _INCREMENTAL_ROLLUP_ORACLE,
        "x168_ngram_diversity": _ngram_diversity_oracle_sql(),
        "x169_event_path_trigrams": _EVENT_PATH_TRIGRAMS_ORACLE,
        "x170_source_cross_entropy": _SOURCE_CROSS_ENTROPY_ORACLE,
        "x171_mattr": _MATTR_ORACLE,
        "x172_pair_provenance": _pair_provenance_oracle_sql(),
        "x173_dedup_quota": _dedup_quota_oracle_sql(),
        "x174_pii_density": _pii_density_oracle_sql(),
        "x175_effective_tokens": _effective_tokens_oracle_sql(),
        "x176_rendezvous_sharding": _rendezvous_oracle_sql(),
        "x177_source_minhash": _source_minhash_oracle_sql(),
        "x178_stream_custom_state": _STREAM_TWS_ORACLE,
        "x179_psi_drift": _PSI_DRIFT_ORACLE,
        "x180_sorted_neighborhood": _SORTED_NEIGHBORHOOD_ORACLE,
        "x181_gopher_rules": _GOPHER_RULES_ORACLE,
        "x182_pareto_skyline": _PARETO_SKYLINE_ORACLE,
        "x183_poisson_bootstrap": _poisson_bootstrap_oracle_sql(),
        "x184_pq_adc": _pq_adc_oracle_sql(),
        "x185_domain_reweight": _domain_reweight_oracle_sql(),
        "x186_zipf_alpha": _ZIPF_ALPHA_ORACLE,
        "x187_watermark_lateness": _watermark_lateness_oracle_sql(),
        "x188_rfm_segments": _RFM_SEGMENTS_ORACLE,
        "x189_prf_expansion": _prf_expansion_oracle_sql(),
        "x190_stream_watermark_windows": _stream_watermark_oracle_sql(),
        "x191_scd2_asof_join": _SCD2_ASOF_ORACLE,
        "x192_wav_roundtrip_stats": _WAV_ROUNDTRIP_ORACLE,
        "x193_cooccurrence_itemsets": _COOCCURRENCE_ORACLE,
        "x194_markov_attribution": _markov_attribution_oracle_sql(),
        "x195_dataset_card": _DATASET_CARD_ORACLE,
        "x196_dedup_method_census": _dedup_method_census_oracle_sql(),
        "x197_time_weighted_avg": _TIME_WEIGHTED_AVG_ORACLE,
        "x198_stream_static_join": _STREAM_STATIC_JOIN_ORACLE,
        "x199_bmp_roundtrip_stats": _BMP_ROUNDTRIP_ORACLE,
        "x200_quantile_normalize": _QUANTILE_NORMALIZE_ORACLE,
        "x201_cluster_safe_split": _cluster_safe_split_oracle_sql(),
        "x202_dq_constraints": _DQ_CONSTRAINTS_ORACLE,
        "x203_cluster_margin": _CLUSTER_MARGIN_ORACLE,
        "x204_benford_audit": _BENFORD_ORACLE,
        "x205_user_predictability": _USER_PREDICTABILITY_ORACLE,
    }
