"""Physical-plan shape regressions (SURVEY §4.2): the declared queries
must compile to the plans we'd want at 100 TB — pruned scans, pushed
filters, hash joins (broadcast where a side is small), partial+final
aggregation, TakeOrderedAndProject for top-k, whole-stage codegen, AQE.

These inspect ``executedPlan`` without running jobs, so they're cheap;
they catch silent plan regressions (e.g. a join degrading to
CartesianProduct or codegen breaking) that row-level oracles can't see.
"""

from __future__ import annotations

import pytest

from hive_parse_lineage_spark.queries import DECLARED_QUERIES


def _plan(spark, name: str) -> str:
    return (spark.sql(DECLARED_QUERIES[name])
            ._jdf.queryExecution().executedPlan().toString())


def test_scan_prunes_columns(spark, tables):
    # q01 projects 2 of region's 3 columns; the parquet ReadSchema must
    # not include r_comment (ColumnPruning → file-source pruning)
    plan = _plan(spark, "q01_scan_project")
    assert "r_comment" not in plan
    assert "ReadSchema" in plan


def test_filter_pushdown_reaches_scan(spark, tables):
    plan = _plan(spark, "q02_filter_pred")
    assert "PushedFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:400]


def test_small_dim_join_broadcasts(spark, tables):
    # nation ⋈ region: region is tiny → BroadcastHashJoin, never SMJ/NLJ
    plan = _plan(spark, "q09_join_inner")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_multiway_join_no_cartesian(spark, tables):
    plan = _plan(spark, "q17_join_multiway_agg")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Join") >= 2


def test_semi_anti_joins_stay_joins(spark, tables):
    assert "LeftSemi" in _plan(spark, "q13_join_semi")
    assert "LeftAnti" in _plan(spark, "q14_join_anti")


def test_agg_is_partial_plus_final(spark, tables):
    # map-side combine: two HashAggregate levels around the exchange
    plan = _plan(spark, "q18_agg_groupby")
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark, tables):
    # ORDER BY + LIMIT must not global-sort: TakeOrderedAndProject
    plan = _plan(spark, "q28_topk")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_active(spark, tables):
    # AQE shows codegen spans only in the final (executed) plan
    df = spark.sql(DECLARED_QUERIES["q18_agg_groupby"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen spans print as "*(n) Operator" in the final-plan tree
    assert "*(" in plan


def test_aqe_enabled_on_session(spark, tables):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert "AdaptiveSparkPlan" in _plan(spark, "q17_join_multiway_agg")


@pytest.mark.parametrize("name", ["q12_join_full", "q16_join_theta"])
def test_nonbroadcastable_joins_compile(spark, tables, name):
    # full outer can't broadcast-hash both sides; theta join is NLJ by
    # nature — assert they still plan without error and theta stays
    # broadcast-NLJ (small side) rather than cartesian
    plan = _plan(spark, name)
    assert "Join" in plan or "CartesianProduct" in plan


def test_correlated_subquery_decorrelates(spark, tables):
    # Catalyst must rewrite Q36 to aggregate+join (no per-row subquery)
    plan = _plan(spark, "q36_correlated_subquery")
    assert "HashAggregate" in plan
    assert "Join" in plan


# --- LSH/blocked near-dup operators: the candidate join must be an
# --- equi join on the bucket key, never a nested-loop/cartesian pair
# --- enumeration — that IS the 100 TB scale property.

def _op_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_band_join_is_equi(spark, tables):
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    plan = _op_plan(minhash_near_dups(tables["documents"], threshold=0.3,
                                      n_hashes=16, bands=4, shingle_k=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan  # join keyed on (band, band_hash)


def test_simhash_block_join_is_equi(spark, tables):
    from hive_parse_lineage_spark.operators.dedup import simhash_near_dups
    plan = _op_plan(simhash_near_dups(tables["documents"], max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_join_is_equi(spark, tables):
    from hive_parse_lineage_spark.operators.dedup import embedding_near_dups
    plan = _op_plan(embedding_near_dups(tables["embeddings"], threshold=0.2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _final_plan(df) -> str:
    """The executed plan after an action — for an adaptive plan only
    its final plan (the adaptive node also prints the initial one)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_minhash_self_join_reuses_exchange(spark, tables):
    """The band self-join's two sides read ONE band-key exchange,
    whichever join AQE picks: the signature aggregate (and the shingle
    explode and hashing under it) runs once, not once per join side. A
    ReusedExchange prints as one line, so each phase of the signature
    HashAggregate — ``partial_min(`` and the final ``min(`` merge — must
    appear exactly once in the final plan, with and without the
    hot-bucket cap (x59 runs uncapped). Counting the merge too keeps
    the check honest when the reused exchange is the one on doc_id
    between the two phases."""
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold, join in ((old, "BroadcastHashJoin"),
                                ("-1", "SortMergeJoin")):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            for cap in (None, 1000):
                df = minhash_near_dups(tables["documents"], threshold=0.3,
                                       n_hashes=16, bands=4, shingle_k=2,
                                       max_bucket_size=cap)
                df.collect()
                plan = _final_plan(df)
                assert join in plan, plan
                assert "ReusedExchange" in plan, plan
                aggs = [line for line in plan.splitlines()
                        if "HashAggregate" in line and "min(pmod(" in line]
                assert len(aggs) == 2, plan
                assert sum("partial_min(" in line for line in aggs) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_elides_shuffle(spark, tables, tmp_path):
    """Co-located join: both sides bucketed on the key with the same
    bucket count -> sort-merge join with NO Exchange on either side.
    At 100 TB this is the difference between a full-fabric shuffle of
    both fact tables and a file-local zip of bucket pairs."""
    from hive_parse_lineage_spark.sources.bucketing import (
        bucketed_join, write_bucketed)
    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    cust = tables["customer"].select("c_custkey", "c_name")
    write_bucketed(orders.withColumnRenamed("o_custkey", "k"), "b_orders",
                   ["k"], n_buckets=4, sort_cols=["k"],
                   path=str(tmp_path / "b_orders"))
    write_bucketed(cust.withColumnRenamed("c_custkey", "k"), "b_cust",
                   ["k"], n_buckets=4, sort_cols=["k"],
                   path=str(tmp_path / "b_cust"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast plan so the shuffle (or its absence) shows
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_join(spark, "b_orders", "b_cust", "k")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_decontamination_broadcasts_flagged_set(spark, tables, sf_dir):
    """x42: the flagged-shingle set must broadcast — the corpus side
    never reshuffles for the join."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    plan = _op_plan(corpus_queries()["x42_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_training_pipeline_plan_shape(spark, tables, sf_dir):
    """x56: nothing goes cartesian and the only forced broadcast is
    the thresholded flagged-shingle set — the clean_ids/keep_ids
    survivor sets are corpus-proportional, so they must reach the plan
    as plain joins (AQE may still broadcast them at small SF, but no
    hint forces the driver to materialize them at 100 TB)."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x56_training_pipeline"](spark, sf_dir)
    plan = _op_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # ONE logical hint (the flagged set, broadcast once inside
    # contamination_score over the checkpointed shingle stream) printed
    # twice: the `clean` subtree carrying it feeds both the survivors
    # join and the exact_dedup keep_ids recompute. A third occurrence
    # would be a reintroduced survivor-id-set broadcast.
    assert analyzed.count("ResolvedHint") == 2, analyzed


def test_source_cap_single_window_shuffle(spark, tables, sf_dir):
    """x57: one hash partitioning on the group key feeds the ranking
    window — no extra exchanges."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    plan = _op_plan(corpus_queries()["x57_source_cap"](spark, sf_dir))
    assert "Window" in plan and "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(source") == 1


def test_lsh_bucket_cap_adds_no_exchange(spark, tables):
    """The hot-bucket window counts on the SAME key the self-join
    shuffles on, so enabling the cap must not add an exchange."""
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def n_exchanges(cap):
            df = minhash_near_dups(tables["documents"], threshold=0.3,
                                   n_hashes=16, bands=4, shingle_k=2,
                                   max_bucket_size=cap)
            df.collect()
            return df._jdf.queryExecution().executedPlan().toString() \
                .count("Exchange hashpartitioning")
        assert n_exchanges(1000) == n_exchanges(None)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lateral_topn_decorrelates(spark, tables):
    """The correlated LATERAL ORDER BY/LIMIT subquery (x67) must plan
    as a decorrelated window/join, not a per-outer-row re-execution."""
    from hive_parse_lineage_spark.corpus_queries import _LATERAL_TOPN_SQL
    plan = spark.sql(_LATERAL_TOPN_SQL)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # row_number-style decorrelation


def test_recursive_cte_plans_union_loop(spark, tables, sf_dir):
    """x66's WITH RECURSIVE executes as Spark 4's UnionLoop operator —
    iteration is native, not a driver-side loop."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x66_recursive_cte"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UnionLoop" in plan or "CTERelation" in plan, plan


def test_distribute_sort_by_partitions_then_local_sorts(spark, tables, sf_dir):
    """x68's actual contract (the oracle only checks the row set): a
    single hash Exchange on lang, then a WITHIN-partition sort on
    doc_id — Sort(global=false), never a global Exchange+Sort. This is
    the Hive idiom's whole point: no rangepartitioning pass."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x68_distribute_sort_by"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(lang" in plan, plan
    assert plan.count("Exchange") == 1, plan
    # Sort's second toString arg is the global flag: local sort only
    assert "], false, 0" in plan, plan
    assert "], true, 0" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_rolling_zscore_single_window_shuffle(spark, tables, sf_dir):
    """x65 shuffles once to the daily aggregate; the mean and stddev
    windows share one Window operator (same partition/order spec)."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x65_rolling_zscore"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 2  # one Window op (+AQE reprint slack)
    assert "CartesianProduct" not in plan


def test_dup_span_no_cartesian_and_pruned_scan(spark, tables, sf_dir):
    """x73 marks duplicated occurrences with one min!=max window over
    the shingle shuffle (no occurrence/dup-set join at min_docs=2, and
    never a cartesian); the documents scan must prune to
    (doc_id, text) only."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x73_dup_span_fraction"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "lang" not in plan.split("ReadSchema")[1][:200], plan


def test_weighted_mix_is_shuffle_free(spark, tables, sf_dir):
    """x74 is a codegen CASE + hash + explode: no Exchange at all
    before the final orderBy (scan -> filter -> generate), so at 100 TB
    it costs exactly one pass over the corpus."""
    from hive_parse_lineage_spark.operators.sampling import weighted_mix
    from hive_parse_lineage_spark.sources.loader import load_tables
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    df = weighted_mix(docs, {"src0": 2.5, "src1": 0.3}, salt="mix")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_chunk_dedup_single_hash_exchange(spark, tables, sf_dir):
    """x75's keep-first and copy-count windows share the chunk_hash
    partition key: one hash Exchange feeds both Window operators — a
    second shuffle would double the cost of the dominant stage."""
    from hive_parse_lineage_spark.operators.dedup import chunk_dedup
    from hive_parse_lineage_spark.sources.loader import load_tables
    df = chunk_dedup(load_tables(spark, sf_dir)["documents"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(chunk_hash" in plan, plan


def test_bloom_probe_joins_all_broadcast(spark, tables, sf_dir):
    """x77's membership test must be broadcast joins only on the
    corpus side — a SortMergeJoin against the bloom word table or the
    bench shingle set would reintroduce the corpus shuffle the bloom
    exists to avoid (the only Exchanges allowed are the tiny bench-side
    aggregation and the final per-doc agg)."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x77_bloom_decontaminate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_pair_join_is_cell_bounded(spark, tables, sf_dir):
    """x78's pair comparison must be an equi join on the cell key
    (cluster-bounded, the SemDeDup point) — never a cartesian; the
    seed assignment is the only nested-loop (broadcast, k seeds)."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x78_semdedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the within-cell self-join hashes on the cell key
    assert "cell" in plan, plan


def test_mmr_corpus_scanned_once_per_pool_build(spark, tables, sf_dir):
    """x80's round joins operate on localCheckpointed pool-sized
    frames: the executed plan of the final result must contain no
    parquet scan at all (the corpus was read exactly once, during
    candidate-pool materialization)."""
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    df = corpus_queries()["x80_mmr_diversify"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan


# --- r6: forced-broadcast hygiene for corpus-proportional tables ----------
#
# A `F.broadcast()` hint bypasses Spark's size check: the driver
# materializes the whole table no matter how big it is. That is fine
# for provably-bounded inputs (single-row stats, fixed-size sketches,
# thresholded hot/flagged sets, by-assumption-small query/batch sides)
# and a 100 TB OOM for anything corpus-proportional (vocabularies,
# survivor-id sets, per-doc size tables, the standing corpus's hash
# set). These budgets pin, per registry entry, EXACTLY how many hints
# its analyzed plan may carry and what each allowed hint is — any
# extra hint is a reintroduced scale killer.

_HINT_BUDGETS = {
    # query name -> (max ResolvedHint count, what the allowed hints are)
    "x44_tfidf_topk": (1, "single-row n_docs"),
    "x46_dup_clusters": (0, "no hints: edges/components all shuffle"),
    "x56_training_pipeline": (2, "one flagged boilerplate-shingle hint "
                                 "(over the checkpointed shingle stream) "
                                 "printed x2 via the clean-subtree "
                                 "recompute; survivor-id sets must NOT "
                                 "be hinted"),
    "x59_dedup_keep_one": (0, "loser set must NOT be hinted"),
    "x64_incremental_dedup": (2, "batch md5 set + hit set (<= batch); "
                                 "the corpus hash set must NOT be hinted"),
    "x89_importance_weights": (1, "single-row totals; unigram vocab "
                                  "must NOT be hinted"),
    "x92_pmi_collocations": (1, "single-row tot; unigram vocab x2 "
                                "must NOT be hinted"),
    "x105_ppjoin_exact": (0, "freq/na/nb are corpus-proportional, "
                             "never hinted"),
    "x107_langid_kappa": (1, "single-row pe_num"),
    "x108_kmv_distinct": (0, "no hints: per-source top-k + exact join "
                             "both shuffle"),
    "x109_key_skew_report": (0, "no joins at all"),
    "x110_quality_auc": (0, "no joins at all"),
    "x113_split_ks_drift": (1, "single-row totals"),
    "x114_rrf_hybrid": (2, "|terms|-row df + single-row stats (BM25 "
                           "side); density side and fusion join "
                           "must NOT be hinted"),
    "x115_phrase_match": (1, "K-row phrase table, bounded by request"),
    "x116_tokenizer_fertility": (0, "no joins at all"),
    "x117_incident_bin_join": (1, "fixed top-12 incident bin table"),
    "x118_stream_session_windows": (0, "no joins at all"),
    "x119_minhash_calibration": (0, "sig/shingle joins all shuffle; "
                                    "pair set is LSH-bounded"),
    "x120_temperature_mix": (1, "single-row totals"),
    "x121_lang_length_regression": (0, "no joins at all"),
    "x122_quantized_recall": (2, "8-row query side x2 (codes + floats); "
                                 "corpus never shuffles"),
    "x123_weighted_jaccard": (0, "no hints: the weight subtree is "
                                 "duplicated through the self-join, so "
                                 "even the single-row nd stays unhinted"),
    "x124_code_switch_audit": (0, "no joins at all"),
    "x125_lsh_pair_recall": (0, "truth/candidate joins all shuffle"),
    "x126_dedup_bias_audit": (1, "single-row totals"),
    "x127_shard_balance": (1, "single-row total"),
    "x128_arrow_doc_stats": (0, "no joins at all"),
    "x129_source_overlap": (0, "shingle pair join and |sources|-row "
                               "totals all shuffle; AQE decides"),
    "x130_lexical_concentration": (0, "no joins at all"),
    "x131_histogram_quantiles": (3, "single-row min/max + 3-row quantile "
                                    "literal + |sources|x3 target table"),
    "x132_vocab_growth": (2, "single-row max id x2 (the bucketed "
                             "gram stream feeds both aggregate "
                             "branches; subtree recompute)"),
    "x133_winnowing_fingerprints": (0, "fingerprint joins shuffle; "
                                       "df <= 32 cap bounds fanout"),
    "x134_label_centroid_drift": (1, "dim-row global centroid"),
    "x135_stream_stream_join": (0, "stream-stream join carries no "
                                   "hints; state bounded by watermark"),
    "x136_column_profile": (0, "single wide aggregate, no joins"),
    "x137_snapshot_diff": (0, "full-outer shuffles both snapshots; "
                              "neither side is small"),
    "x138_borda_quality_blend": (0, "windows only, no joins"),
    "x139_decay_mix_schedule": (3, "single-row max id x2 (the per-"
                                   "bucket subtree recomputes inside "
                                   "the total) + single-row total"),
    "x140_token_burstiness": (0, "per-doc windows + aggregates, "
                                 "no joins"),
    "x141_entropy_bits": (0, "per-source window + aggregate, no joins"),
    "x142_bigram_surprise": (0, "bigram/unigram count joins must "
                                "shuffle (vocab-sized); AQE decides"),
    "x143_retrieval_mrr": (2, "|terms|-row df + single-row stats "
                              "(inherited from the x88 BM25 plan)"),
    "x144_rbo_rank_stability": (0, "two windows over one partitioning, "
                                   "no joins"),
    "x145_principal_direction": (3, "single-row max-norm x2 — round-1's "
                                    "hint double-counts because the u2 "
                                    "subtree recomputes inside its own "
                                    "normalizer (matrix side is a "
                                    "checkpointed 4096-row RDD, "
                                    "never hinted)"),
    "x146_hapax_audit": (0, "one count + one rollup, no joins"),
    "x147_bag_dedup_lift": (0, "two hash-key windows, no joins"),
    "x148_length_octaves": (0, "count + per-source window, no joins"),
    "x149_dup_graph_triangles": (0, "edge-closure joins are edge-"
                                    "proportional and must shuffle; "
                                    "1-row census crossjoins unhinted"),
    "x150_kendall_quality": (0, "within-source pair join bounded to "
                                "32 rows per key; no hints"),
    "x151_split_contamination": (0, "LSH pair stream and split map "
                                    "both corpus-proportional; all "
                                    "joins shuffle, AQE decides"),
    "x152_qq_alignment": (0, "9-row decile join left to AQE; both "
                             "sort sides corpus-proportional"),
    "x153_null_safe_join": (0, "both sides pre-aggregated to key "
                               "cardinality; AQE decides"),
    "x154_rank_distributions": (0, "windows only, no joins"),
    "x155_gaps_islands": (0, "global-sort window + two aggregates, "
                             "no joins"),
    "x156_mad_outliers": (0, "med/mad tables are |sources|-row but "
                             "join back into corpus-sized dev stream; "
                             "AQE decides"),
    "x157_chi2_independence": (0, "window sums over the tiny "
                                  "contingency table, no joins"),
    "x160_fuzzy_linkage": (0, "block-key self-join must shuffle; "
                              "both sides are the catalog"),
    "x161_kcore_peel": (0, "edge-set filters all shuffle; summary "
                           "crossjoins are 1-row x 1-row, unhinted"),
    "x162_curriculum_schedule": (0, "windows only, no joins"),
    "x163_kmeans_milli": (1, "<= 100-row centroid table (bounded by "
                             "the vec_id < 2500 seed predicate); "
                             "round-1's hint is inside the a1 "
                             "checkpoint"),
    "x164_lsh_precision": (0, "pair/shingle joins all shuffle; LSH "
                              "internals are behind the checkpoints"),
    "x165_stratified_sample": (0, "design table joins left to AQE; "
                                  "1-row total crossjoin unhinted"),
    "x166_embedding_isotropy": (0, "one posexplode + two aggregates, "
                                   "no joins"),
    "x167_incremental_rollup": (0, "base/delta/full aggregates all "
                                   "customer-cardinality; the merge "
                                   "and audit joins must shuffle"),
    "x168_ngram_diversity": (0, "one unioned gram count + reduce, "
                                "no joins"),
    "x169_event_path_trigrams": (0, "one user window + count, no joins"),
    "x170_source_cross_entropy": (1, "|sources|-row diagonal over the "
                                     "checkpointed matrix (the totals-"
                                     "grid and vocab-size hints sit "
                                     "behind the checkpoint); the "
                                     "vocab-sized count stream joins "
                                     "must shuffle"),
    "x171_mattr": (0, "pure projection, zero shuffles"),
    "x172_pair_provenance": (0, "everything joins THROUGH the "
                                "checkpointed LSH pair list — edge-"
                                "proportional shuffles, never hinted"),
    "x173_dedup_quota": (0, "loser ranking is a window; the per-"
                            "source ledger joins shuffle"),
    "x174_pii_density": (0, "pure projection + one aggregate, "
                            "no joins"),
    "x175_effective_tokens": (0, "cluster-size join is label-keyed "
                                 "and corpus-proportional — must "
                                 "shuffle"),
    "x176_rendezvous_sharding": (0, "1-row x 1-row crossjoins "
                                    "unhinted; zero corpus joins"),
    "x177_source_minhash": (0, "signature pairs are |sources|-row; "
                               "the exact vocab join must shuffle"),
    "x178_stream_custom_state": (0, "stateful stream + final-update "
                                    "window, no joins"),
    "x179_psi_drift": (1, "single-row bucket totals over the "
                          "checkpointed bucket counts (the max-id "
                          "hint sits behind the checkpoint); bucket "
                          "assignment is a literal CASE, no corpus "
                          "joins"),
    "x180_sorted_neighborhood": (0, "rank+k neighbor joins are plain "
                                    "hash equi-joins over the "
                                    "checkpointed rank table"),
    "x181_gopher_rules": (0, "run-length join is doc-keyed corpus-"
                             "proportional; AQE decides"),
    "x182_pareto_skyline": (0, "windows only, no joins"),
    "x183_poisson_bootstrap": (0, "point/boot join is |sources|-row "
                                  "both sides; AQE decides"),
    "x184_pq_adc": (3, "provably bounded codebook (16 codes x 8 "
                       "subspaces, counted x2 via the dtab subtree "
                       "recompute over the checkpointed long-form "
                       "stream) + |queries|x128-row distance table"),
    "x185_domain_reweight": (1, "single-row final total; the MW "
                                "rounds' single-row avg/sum hints sit "
                                "behind per-round checkpoints of the "
                                "|sources|-row table"),
    "x186_zipf_alpha": (0, "count + per-source window + moment "
                           "aggregate, no joins"),
    "x187_watermark_lateness": (0, "one global running-max window + "
                                   "threshold explode, no joins"),
    "x188_rfm_segments": (0, "user aggregate + three NTILE windows, "
                             "no joins"),
    "x189_prf_expansion": (0, "single-row n_docs hint sits behind the "
                              "checkpointed score stream; df and "
                              "expansion joins shuffle, AQE decides"),
    "x190_stream_watermark_windows": (0, "real stream, result surfaced "
                                         "through a checkpoint; no "
                                         "joins anywhere"),
    "x191_scd2_asof_join": (1, "scd2_apply's update-key set "
                               "(batch-scaled, inherited from the x55 "
                               "dimension build); the fact join itself "
                               "is unhinted, AQE decides"),
    "x192_wav_roundtrip_stats": (0, "two Arrow passes + projection, "
                                    "no joins"),
    "x193_cooccurrence_itemsets": (1, "single-row n_docs total on the "
                                      "df band (r10 rewrite moved the "
                                      "checkpoint to the distinct-token "
                                      "stream, so the hint is visible "
                                      "again); the vocab df join is "
                                      "unhinted and the former pair "
                                      "self-join is gone entirely — "
                                      "pairs come from a per-doc array "
                                      "comprehension"),
    "x194_markov_attribution": (1, "single-row base conversion; the "
                                   "variant table hint and all chain "
                                   "squarings sit behind per-round "
                                   "checkpoints of the <=250-row "
                                   "matrix"),
    "x195_dataset_card": (0, "three |sources|-row aggregates joined; "
                             "AQE decides"),
    "x196_dedup_method_census": (2, "band-bucketed LSH join, exploded "
                                    "SNM neighbor join and the md5 "
                                    "self-join all shuffle off the "
                                    "checkpointed shingle-list table; "
                                    "the ONLY hinted table is the "
                                    "range-rank offset map (num_ranges "
                                    "rows, never data-proportional), "
                                    "seen twice because both SNM join "
                                    "sides derive from ranked"),
    "x197_time_weighted_avg": (0, "two partition-local windows + one "
                                  "aggregate, no joins"),
    "x198_stream_static_join": (0, "static dim joins each micro-batch "
                                   "as a plain equi-join; AQE decides "
                                   "— result is a checkpointed memory "
                                   "table"),
    "x199_bmp_roundtrip_stats": (0, "three partition-local Arrow "
                                    "passes, zero joins"),
    "x200_quantile_normalize": (0, "decile boundary tables are 10 and "
                                   "10*|sources| rows; their equi-join "
                                   "is AQE's call, no hints"),
    "x201_cluster_safe_split": (0, "x46's LSH + label-prop joins all "
                                   "plain shuffles; the 1-row straddle "
                                   "count nested-loops onto the 3-row "
                                   "summary unhinted"),
    "x202_dq_constraints": (0, "FK anti-joins are table-proportional "
                               "both sides, plain shuffles; all other "
                               "checks single-scan aggregates"),
    "x203_cluster_margin": (1, "<= 100-row round-1 centroid table "
                               "(bounded by the seed predicate at any "
                               "corpus size) broadcasts once; round-1 "
                               "assignment sits behind its checkpoint"),
    "x204_benford_audit": (0, "one scan, one 9-group aggregate, "
                              "no joins"),
    "x205_user_predictability": (0, "one per-user window + two "
                                    "partition-local aggregates, "
                                    "no joins"),
    "x206_y4m_frame_sample": (0, "partition-local mapInPandas passes "
                                 "+ one per-doc aggregate, no joins"),
    "x207_png_roundtrip_stats": (0, "partition-local mapInPandas "
                                    "passes only, no joins"),
    "x208_fd_violations": (0, "per-FD countDistinct aggregates, "
                              "no joins; AQE decides nothing"),
    "x209_join_cardinality_audit": (0, "per-join stats aggregates + "
                                       "the actual equi-join; AQE "
                                       "picks the strategy"),
    "x210_reciprocal_best_match": (0, "banded LSH edges, per-doc "
                                      "window, mutuality equi-join — "
                                      "all unhinted"),
    "x211_acf_lags": (0, "hours-bounded self equi-join after the "
                         "first aggregate; AQE decides"),
    "x212_edge_embeddedness": (0, "edge-list joins against the "
                                  "symmetrized adjacency, wedge-"
                                  "bounded, unhinted"),
    "x213_merkle_bucket_diff": (0, "two 256-group digests + a 256-row "
                                   "full-outer join; AQE decides"),
    "x214_zorder_clustering": (0, "two scans with 64-group "
                                  "aggregates, no joins"),
    "x215_interarrival_octaves": (0, "per-type window + one count "
                                     "aggregate, no joins"),
    "x216_bucket_balance_audit": (0, "N-group count aggregates per "
                                     "side, scalar rollups, no joins"),
    "x217_deletion_propagation": (0, "per-artifact aggregates + the "
                                     "funnel equi-join; AQE decides"),
    "x218_sparse_tfidf_pairs": (1, "the ONLY hinted table is the "
                                   "1-row corpus count folded into "
                                   "the weight projection; posting "
                                   "and dot joins are unhinted"),
    "x219_hamilton_allocation": (3, "1-row broadcasts only: the total "
                                    "(seen twice — the base table "
                                    "feeds both the base-sum and the "
                                    "main chain) and the base-sum — "
                                    "never data-proportional"),
    "x220_hazard_table": (1, "one 1-row observation-end broadcast "
                             "into the |users|-row span table"),
    "x221_normalization_collisions": (0, "one scan, per-source "
                                         "countDistinct aggregates, "
                                         "no joins"),
    "x222_kanonymity_census": (1, "one 1-row global-min broadcast "
                                  "into the octave table"),
    "x223_join_output_skew": (1, "the fact join runs unhinted; the "
                                 "ONLY hinted table is the 1-row "
                                 "contribution total"),
}


def test_incident_bin_join_is_equi_not_nested_loop(spark, tables, sf_dir):
    """x117's whole point: the interval-overlap match runs as a hash
    equi-join on the manufactured hour-bin key with a residual range
    filter — never the BroadcastNestedLoopJoin/CartesianProduct a raw
    theta join would produce (the oracle's naive spelling)."""
    from hive_parse_lineage_spark.pipeline_queries import pipeline_queries
    df = pipeline_queries()["x117_incident_bin_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_phrase_match_broadcasts_and_never_shuffles_context(
        spark, tables, sf_dir):
    """x115's whole point: the corpus-sized (anchor, t3, pos) context
    stream meets the K-row phrase table in a map-side broadcast hash
    join — no Exchange between the explode and the match, no
    cartesian, and the only shuffle in the plan is the final
    per-(doc, phrase) aggregate."""
    from hive_parse_lineage_spark.pipeline_queries import pipeline_queries
    df = pipeline_queries()["x115_phrase_match"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # one hash exchange for the groupBy + the broadcast exchange; no
    # extra repartition of the exploded context stream
    assert plan.count("Exchange hashpartitioning") <= 2, plan


@pytest.mark.parametrize("name", sorted(_HINT_BUDGETS))
def test_no_corpus_proportional_broadcast_hints(spark, tables, sf_dir, name):
    import __spark_entry__ as entry
    budget, what = _HINT_BUDGETS[name]
    df = entry.queries()[name](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n = analyzed.count("ResolvedHint")
    assert n <= budget, (
        f"{name}: {n} broadcast hints > budget {budget} ({what})\n"
        + analyzed[:3000])
