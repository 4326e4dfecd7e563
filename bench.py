#!/usr/bin/env python
"""Benchmark harness — runs the declared query surface and prints ONE JSON line.

Usage: python bench.py                  declared + corpus surface, one JSON line
       python bench.py --scale-sweep    heavy corpus operators (SWEEP_QUERIES
                                        + capped x46/x64/x149 variants) at
                                        every SF: rows/s scaling
       python bench.py --lineage        lineage stmts/s on the BASELINE corpus
       python bench.py --sf1-corpus     the heaviest corpus entries +
                                        DuckDB twins at SPARK_GRAFT_SF_DIR
                                        (default /tmp/sf1.0): per-entry ratios
       python bench.py --dedup-ladder   the 5 heaviest dedup/cluster entries
                                        at sf0.1 -> sf1.0 -> sf10 (100x over
                                        the graded SF): wall-over-token
                                        growth per rung -> SWEEP_r{N}.json
       python bench.py --ann-ladder     the query-set-bounded similarity
                                        entries on the same rungs: wall-over-
                                        vector-rows growth ->
                                        SWEEP_ANN_r{N}.json
       python bench.py --graph-ladder   x172/x210/x149 on the same rungs,
                                        wall-over-LSH-EDGE growth ->
                                        SWEEP_GRAPH_r{N}.json
       python bench.py --graph-skew     the same three in their CAPPED
                                        production posture on make_sfN.py
                                        --skew data, wall-over-CAPPED-edge
                                        growth -> SWEEP_GRAPH_r{N}.json
       python bench.py --event-ladder   x187/x197 (flag-on at-scale
                                        spellings) -> SWEEP_EVENT_r{N}.json
       python bench.py --skew-sweep     dedup/skew entries on make_sfN.py
                                        --skew data + capped-LSH cap-fire
                                        observation -> SWEEP_SKEW_r{N}.json
Env:   SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS    (default all cores)
       BENCH_ENGINE=duckdb to time the DuckDB baseline on the same queries
       BENCH_PASSES        timed passes on the declared surface (default 3)
       BENCH_CORPUS_PASSES / BENCH_CORPUS_DUCK_PASSES
                           timed passes on the WORK-DOMINATED corpus
                           subset (defaults 3 / 2); per-pass subset
                           walls published as work_dominated_pass_walls
       BENCH_STOCK=0       skip the same-run stock-Spark comparator
                           (default on: a fresh cold-JVM subprocess runs
                           the declared queries untuned, so tuned/stock/
                           DuckDB walls all come from one run)
       BENCH_CORPUS=0      skip the corpus surface
       BENCH_DETAIL_PATH   per-query detail file (default
                           BENCH_DETAIL_r{N}.json; the stdout line stays
                           a compact summary the driver can capture)
       BENCH_SWEEP_10X=1   add a synthesized 10x-documents sweep point
       BENCH_SWEEP_GEN=N   add an N-doc corpusgen sweep point (no source data)

Methodology: one untimed warm-up pass (JIT + codegen compilation of all
43 unique plans dominates a cold first pass), then BENCH_PASSES timed
passes; per-query time is the min across passes (the host shows
intermittent multi-second noise bursts; min-of-passes samples past
them — r8's apparent 0.62x -> 0.78x regression was pure single-pass
host drift, hence min-of-3 defaults from r9 on). Materialization fully transfers results to the client, like the
DuckDB baseline's ``fetchdf()``: ``collect()`` for small results
(~90 ms floor vs ~200 ms for Arrow setup), ``toPandas()`` (Arrow) for
large ones (2× faster at 600k rows); the warm-up pass picks per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Bench-specific tuning, applied on top of session.RUNTIME_CONFS:
# - shuffled-hash over sort-merge: every bench join has a small build side;
#   at 100 TB the planner would still pick SMJ where the build side is big
#   because this is a preference, not a force.
# - AQE: nominally pinned OFF here since r5, but r13 established that
#   the pin NEVER took effect at runtime — load_tables() calls
#   session.configure(), which re-applies RUNTIME_CONFS (adaptive=true)
#   over the builder-time conf, and every committed plans/r* dump shows
#   AdaptiveSparkPlan. All bench numbers of every round were measured
#   with AQE ON; the entry is now "true" so the dict matches the
#   runtime truth (zero behavior change — verified plan-identical).
# - 4 shuffle partitions is the CORPUS-pass posture (221 committed
#   plans measured under it). The DECLARED pass overrides at runtime
#   with a data-derived initial count AQE then coalesces per stage
#   (bench_spark, r13 — guide §2.2).
BENCH_CONFS = {
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1000000",
    "spark.ui.showConsoleProgress": "false",
}


def declared_pass_confs(sf_dir: str, cpus: int) -> dict[str, str]:
    """Runtime confs for the DECLARED bench pass (see the comment at
    the call site in bench_spark). Shared with tools_dump_plans.py so
    committed plans show exactly what the bench executes. On OSError
    (missing/renamed parquet) returns {} — the builder-time conf stays,
    rather than silently degrading a large-SF run to 1 partition
    (r12 ADVICE)."""
    from hive_parse_lineage_spark.sources.loader import TABLES
    try:
        in_bytes = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
            for t in TABLES)
    except OSError:
        return {}
    bytes_parts = max(1, -(-in_bytes // (128 << 20)))
    par_cap = min(cpus, max(1, -(-in_bytes // (4 << 20))))
    return {"spark.sql.shuffle.partitions": str(max(bytes_parts, par_cap)),
            "spark.sql.adaptive.enabled": "true"}


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _timed_passes(run_one, queries: dict[str, str], n_passes: int,
                  warm_run=None):
    sizes: dict[str, int] = {}
    for name, sql in queries.items():  # warm-up (untimed) + size probe
        sizes[name] = (warm_run or run_one)(name, sql)
    times: dict[str, float] = {}
    pass_totals: list[float] = []
    for _ in range(n_passes):
        t_pass = 0.0
        for name, sql in queries.items():
            t0 = time.perf_counter()
            run_one(name, sql)
            dt = time.perf_counter() - t0
            t_pass += dt
            times[name] = round(min(times.get(name, dt), dt), 4)
        pass_totals.append(round(t_pass, 4))
    return times, pass_totals


def bench_spark(sf_dir: str, queries: dict[str, str], n_passes: int,
                tuned: bool = True):
    from pyspark.sql import SparkSession

    from hive_parse_lineage_spark.session import RUNTIME_CONFS
    from hive_parse_lineage_spark.sources.loader import load_tables

    # tiny-per-query bench: 16 threads measured faster than 32 (task-launch
    # overhead dominates); SPARK_GRAFT_CPUS still overrides
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if tuned:
        builder = builder.config("spark.sql.shuffle.partitions", str(cpus))
        for k, v in {**RUNTIME_CONFS, **BENCH_CONFS}.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    if tuned:
        # Declared-surface shuffle sizing (r13, verdict ask #1): the
        # INITIAL partition count is derived from the data —
        # max(ceil(bytes/128MB advisory), min(cpus, ceil(bytes/4MB)))
        # — and AQE coalescing (on at runtime in every round, see
        # BENCH_CONFS) right-sizes each exchange downward per stage,
        # so the initial count is a parallelism ceiling, not a task
        # bill. The first term is the at-scale sizing (100MB-1GB per
        # partition, guide §2.2); the second lets reduce stages use
        # the cores whenever the data supports >=4MB per task — what
        # r12's pure-bytes rule lost: its 1 initial partition at sf0.1
        # is a ceiling AQE cannot RAISE, which serialized q12's
        # many-to-many full-outer join (+54% driver-measured) and made
        # the 8-vs-32-core probe blind by construction. At sf0.1
        # (~18 MB): 5; sf1.0 (~185 MB): cpus; 100 TB: the 128MB
        # advisory term dominates — scale-adaptive at every point.
        # Measured at sf0.1 (3 interleaved cold-JVM rounds, min-of-3
        # passes each, /tmp/ab2_summary.json): q12 0.79 -> 0.60 s,
        # q17 0.73 -> 0.71 s; the 41 floor-bound queries pay the
        # extra per-stage tasks + range-sampling jobs (+0.03-0.10 s
        # each, total 9.18 -> 10.52 s). No tested sizing avoids that
        # trade (p2/p4/aqe_p4/aqe_par/aqe_min4/aqe_min8 all cost the
        # floor queries the same or more, and 1 partition is what
        # serialized q12) — see OPTIMIZATION_r13.md for the matrix.
        # The corpus surface resets to BENCH_CONFS' partition value
        # below (its entries explode text into shingle streams ~10x
        # the input and their committed plans were measured under the
        # fixed corpus conf: 55.9 -> 58.3 s over the first 70 entries
        # at 1 partition).
        for k, v in declared_pass_confs(sf_dir, cpus).items():
            spark.conf.set(k, v)

    big: set[str] = set()

    def warm(name: str, sql: str) -> int:
        pdf = spark.sql(sql).toPandas()
        if len(pdf) > 5000:
            big.add(name)
        return len(pdf)

    def run(name: str, sql: str) -> int:
        df = spark.sql(sql)
        return len(df.toPandas()) if name in big else len(df.collect())

    return _timed_passes(run, queries, n_passes, warm_run=warm)


def bench_duckdb(sf_dir: str, queries: dict[str, str], n_passes: int):
    import duckdb

    from hive_parse_lineage_spark.sources.loader import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return _timed_passes(
        lambda name, sql: len(con.execute(sql).fetchdf()), queries, n_passes)


SWEEP_QUERIES = ("x41_common_shingles", "x56_training_pipeline",
                 "x89_importance_weights", "x90_segment_dedup_rebuild",
                 "x93_novelty_curve", "x105_ppjoin_exact",
                 "x129_source_overlap", "x133_winnowing_fingerprints",
                 "x142_bigram_surprise")


def _x64_proportional(spark, sf_dir: str):
    """x64's scale posture for the sweep: the registry entry pins
    cutoff=400 so DuckDB can replay it, which at sweep scales makes
    the 'batch' 99.9% of the corpus and inverts the batch-vs-corpus
    shape being measured. Here the cutoff tracks the data — 80%
    standing corpus, 20% incoming batch — so the sweep exercises the
    intended posture: batch-scaled broadcasts, corpus scanned but
    never shuffled, cross-LSH cost scaling with the batch."""
    from pyspark.sql import functions as F

    from hive_parse_lineage_spark.corpus_queries import (
        _x64_incremental_dedup)
    from hive_parse_lineage_spark.sources.loader import load_tables

    tables = load_tables(spark, sf_dir)
    max_id = tables["documents"].agg(
        F.max("doc_id").alias("m")).first()["m"]
    return _x64_incremental_dedup(spark, tables,
                                  cutoff=int(max_id * 0.8))


_PROFILE_DOC_COLS = ("doc_id", "source", "lang", "n_chars")


def _x136_docs_exact(spark, sf_dir: str):
    """x136's exact two-scan profiler over the DOCUMENTS table (the
    table the sweep's synthesized points actually scale — the registry
    entry profiles orders, which the 10x/gen points symlink). Same
    shared body as the gate entry (operators.profile.column_profile)."""
    from hive_parse_lineage_spark.operators.profile import column_profile
    from hive_parse_lineage_spark.sources.loader import load_tables

    return column_profile(load_tables(spark, sf_dir)["documents"],
                          _PROFILE_DOC_COLS, approx=False)


def _x136_docs_approx(spark, sf_dir: str):
    """The documented at-scale swap under measurement: distincts via
    approx_count_distinct folded into the ONE wide aggregate — a
    single scan, no pair-stream shuffle. The sweep must show it linear
    and cheaper than the exact spelling as the corpus grows."""
    from hive_parse_lineage_spark.operators.profile import column_profile
    from hive_parse_lineage_spark.sources.loader import load_tables

    return column_profile(load_tables(spark, sf_dir)["documents"],
                          _PROFILE_DOC_COLS, approx=True)


def _x91_quantiles_approx(spark, sf_dir: str):
    """x91's documented at-scale swap under measurement: per-language
    length quantile boundaries from approx_percentile (KLL-style
    sketch, one pass, map-side combinable) instead of the exact
    value-at-row window sort; the outlier-count join-back is
    identical. The registry entry keeps the exact oracle-replayable
    spelling; this variant is what a 100 TB run executes."""
    from pyspark.sql import functions as F

    from hive_parse_lineage_spark.sources.loader import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    q = (docs.groupBy("lang")
         .agg(F.count("*").alias("n_docs"),
              F.percentile_approx("n_chars", 0.1).alias("p10"),
              F.percentile_approx("n_chars", 0.5).alias("p50"),
              F.percentile_approx("n_chars", 0.9).alias("p90")))
    j = docs.join(F.broadcast(q), "lang")
    return (j.groupBy("lang", "n_docs", "p10", "p50", "p90")
            .agg(F.sum((F.col("n_chars") < F.col("p10")).cast("long"))
                 .alias("n_below"),
                 F.sum((F.col("n_chars") > F.col("p90")).cast("long"))
                 .alias("n_above"))
            .orderBy("lang"))


def _x46_capped(spark, sf_dir: str):
    """x46's PRODUCTION posture for the sweep: same LSH->components
    pipeline, but with the default xxhash64 hasher and the hot-bucket
    cap active (max_bucket_size=1000).

    The registry's x46 deliberately runs uncapped with a portable md5
    hash so DuckDB can replay it row-for-row; at sweep scales that
    spelling is the wrong thing to measure — on the Zipf-headed
    synthetic corpus a few band buckets grow to ~10^4 docs and the
    uncapped candidate-pair stage goes quadratic (both early sweep
    attempts died spilling that adjacency to disk). The cap bounds
    every bucket's pair count, which is exactly the posture a 100 TB
    run uses.
    """
    from pyspark.sql import functions as F

    from hive_parse_lineage_spark.operators.components import (
        connected_components)
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    from hive_parse_lineage_spark.sources.loader import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    edges = (minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                               shingle_k=2, max_bucket_size=1000)
             .select("id_a", "id_b"))
    vertices = docs.select(F.col("doc_id").alias("vertex"))
    return (connected_components(edges, vertices=vertices, max_iter=4)
            .orderBy("vertex"))


def scale_sweep() -> None:
    """``bench.py --scale-sweep``: the three heaviest corpus queries at
    every testdata SF (plus a synthesized 10x-documents point with
    ``BENCH_SWEEP_10X=1``), reporting wall and input rows/s per SF.

    This is the linear-scaling evidence behind the 100 TB claims: if
    rows/s holds (or rises — fixed overhead amortizing) as SF grows,
    the plan has no superlinear stage. Runs the ENGINE posture (AQE on,
    default shuffle sizing), not the bench tuning — scaling behavior is
    what's being measured, not floor latency.
    """
    import glob

    from pyspark.sql import SparkSession

    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    from hive_parse_lineage_spark.session import RUNTIME_CONFS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(os.cpu_count() or 4, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]").appName("scale-sweep")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from hive_parse_lineage_spark.analytics_queries import analytics_queries
    from hive_parse_lineage_spark.pipeline_queries import pipeline_queries
    pool = {**corpus_queries(), **pipeline_queries(), **analytics_queries()}
    qs = {k: v for k, v in pool.items() if k in SWEEP_QUERIES}
    qs["x46_dup_clusters_capped"] = _x46_capped
    qs["x64_incremental_dedup_prop"] = _x64_proportional
    qs["x149_triangles_capped"] = _x149_capped
    # approx-vs-exact swap pairs (r6 judge ask #9): the sweep measures
    # both spellings side by side so the documented at-scale swaps are
    # numbers, not docstring claims
    qs["x136_profile_docs_exact"] = _x136_docs_exact
    qs["x136_profile_docs_approx"] = _x136_docs_approx
    qs["x91_length_quantiles"] = pool["x91_length_quantiles"]
    qs["x91_quantiles_approx"] = _x91_quantiles_approx
    root = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    sf_dirs = sorted((d for d in glob.glob(os.path.join(root, "sf*"))
                      if infer_sf(d) > 0), key=infer_sf)
    if not sf_dirs:
        print(json.dumps({"metric": "scale_sweep",
                          "error": f"no sf* testdata directories under {root}"}))
        sys.exit(1)
    synth_dir = None
    if os.environ.get("BENCH_SWEEP_10X") == "1":
        synth_dir = _synth_10x(spark, sf_dirs[-1])
        sf_dirs.append(synth_dir)
    gen_rows = int(os.environ.get("BENCH_SWEEP_GEN", "0"))
    gen_dir = None
    if gen_rows > 0:
        gen_dir = _synth_generated(spark, sf_dirs[0], gen_rows)
        sf_dirs.append(gen_dir)

    # global warm phase: two untimed runs at the smallest SF so JIT /
    # codegen compilation doesn't masquerade as per-SF cost (the first
    # SF would otherwise look slower at identical row counts)
    for name, fn in sorted(qs.items()):
        for _ in range(2):
            fn(spark, sf_dirs[0]).collect()

    out: dict = {"metric": "scale_sweep", "unit": "sec", "sweep": []}
    try:
        for d in sf_dirs:
            from pyspark.sql import functions as F
            docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
            rows = docs.count()
            # token volume too: the sweep points differ in avg doc
            # length (corpusgen docs run ~2.5x longer than testdata
            # docs), so per-ROW growth over-reports the text operators'
            # cost growth; per-TOKEN is the like-for-like axis
            toks = docs.select(F.sum(F.size(F.split("text", " ")))
                               .alias("t")).first()["t"]
            entry: dict = {"sf_dir": os.path.basename(d.rstrip("/")),
                           "doc_rows": rows, "doc_tokens": int(toks),
                           "queries": {}}
            for name, fn in sorted(qs.items()):
                fn(spark, d).collect()                       # warm-up
                wall = float("inf")
                for _ in range(2):                           # min-of-2: skip host noise bursts
                    t0 = time.perf_counter()
                    fn(spark, d).collect()
                    wall = min(wall, time.perf_counter() - t0)
                entry["queries"][name] = {"wall": round(wall, 4),
                                          "rows_per_sec": round(rows / wall, 1)}
            out["sweep"].append(entry)
            # progress to stderr: a crash mid-sweep still leaves the
            # completed points on record
            print("sweep-point " + json.dumps(entry), file=sys.stderr,
                  flush=True)
    finally:
        import shutil
        for d in (synth_dir, gen_dir):
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)
    # growth check: wall must not grow faster than input volume between
    # SFs — reported against both axes (rows and tokens; token volume
    # is the honest axis when points differ in avg doc length)
    for name in sorted(qs):
        row_ratios, tok_ratios = [], []
        for a, b in zip(out["sweep"], out["sweep"][1:]):
            wall_g = (b["queries"][name]["wall"]
                      / max(a["queries"][name]["wall"], 1e-9))
            row_ratios.append(round(
                wall_g / (b["doc_rows"] / max(a["doc_rows"], 1)), 3))
            tok_ratios.append(round(
                wall_g / (b["doc_tokens"] / max(a["doc_tokens"], 1)), 3))
        out.setdefault("wall_growth_over_row_growth", {})[name] = row_ratios
        out.setdefault("wall_growth_over_token_growth", {})[name] = tok_ratios
    print(json.dumps(out))


def _synth_generated(spark, base_dir: str, rows: int) -> str:
    """Materialize a corpusgen documents table of ``rows`` docs (other
    tables symlinked from ``base_dir``) — an arbitrary-size sweep point
    with zero source data (BENCH_SWEEP_GEN=<rows>)."""
    import tempfile

    from hive_parse_lineage_spark.sources.corpusgen import register
    from hive_parse_lineage_spark.sources.loader import TABLES

    out_dir = tempfile.mkdtemp(prefix="sweepgen_")
    register(spark)
    parts = max(8, rows // 25_000)
    (spark.read.format("corpusgen").option("rows", rows)
     .option("partitions", parts).load()
     .write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet")))
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(base_dir, f"{t}.parquet"),
                       os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


def _synth_10x(spark, base_dir: str) -> str:
    """Materialize a 10x documents table in a temp dir that symlinks
    every other table to ``base_dir``.

    Each of the 9 extra copies rewrites every token with a copy-unique
    suffix (``tok`` -> ``tok_3``), NOT verbatim duplication: verbatim
    copies would give every document 10 exact clones, inflating every
    LSH bucket 10x and the candidate-pair count 100x — a quadratic
    near-dup-graph blowup no real 10x corpus has (the first sweep
    attempt died spilling exactly that x46 adjacency to disk). With
    suffixed tokens the shingle universes of the copies are disjoint,
    so the near-dup graph is 10 isomorphic disjoint copies of the
    original — every query's work scales exactly 10x, which is the
    thing the sweep is trying to measure."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="sweep10x_")
    from hive_parse_lineage_spark.sources.loader import TABLES
    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    from pyspark.sql import functions as F
    shift = (docs.selectExpr("max(doc_id)").first()[0] or 0) + 1
    big = docs
    for i in range(1, 10):
        text_i = F.concat_ws(" ", F.transform(
            F.split("text", " "), lambda t: F.concat(t, F.lit(f"_{i}"))))
        big = big.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * shift))
                .withColumn("text", text_i)
                .withColumn("n_chars", F.length(text_i)))
    big.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(base_dir, f"{t}.parquet"),
                       os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


LINEAGE_CORPUS = (
    "SELECT a.col1, b.col2 FROM lb_t1 a JOIN lb_t2 b ON a.col1 = b.col1 "
    "WHERE a.c1 > 5",
    "SELECT col1, count(*) AS n FROM lb_t1 GROUP BY col1",
    "INSERT INTO lb_t2 SELECT col1, col2, c1 FROM lb_t1",
    "SELECT col1 + col2 AS s FROM lb_t1 WHERE d LIKE 'x%'",
    "WITH w AS (SELECT col1 FROM lb_t1) SELECT col1 FROM w",
)


def lineage_bench() -> None:
    """``bench.py --lineage``: statements/s on the BASELINE.md mixed
    5-statement corpus (plan analysis only, nothing executes). The
    SURVEY §6 target is >= 50; the JSON-walk path measures ~100+."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    from hive_parse_lineage_spark.session import get_spark

    spark = get_spark("lineage-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("CREATE TABLE IF NOT EXISTS lb_t1 "
              "(col1 BIGINT, col2 BIGINT, c1 BIGINT, d STRING) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS lb_t2 "
              "(col1 BIGINT, col2 BIGINT, c1 BIGINT) USING parquet")
    script = ";".join(LINEAGE_CORPUS)
    for _ in range(3):
        extract_lineage(spark, script)                       # warm-up
    n = 30
    t0 = time.perf_counter()
    for _ in range(n):
        extract_lineage(spark, script)
    dt = time.perf_counter() - t0
    print(json.dumps({
        "metric": "lineage_stmts_per_sec",
        "value": round(n * len(LINEAGE_CORPUS) / dt, 1),
        "unit": "stmts/sec", "statements": len(LINEAGE_CORPUS),
        "iterations": n,
    }))


# The 20 heaviest corpus entries by r6 sf0.1 Spark wall
# (BENCH_DETAIL_r06.json) — the subset --sf1-corpus measures at sf1.0,
# where per-query scheduling floor finally amortizes against real work.
SF1_CORPUS_QUERIES = (
    "x105_ppjoin_exact", "x100_dup_pagerank", "x119_minhash_calibration",
    "x87_cluster_size_histogram", "x78_semdedup", "x46_dup_clusters",
    "x59_dedup_keep_one", "x07_minhash_near_dup",
    "x149_dup_graph_triangles", "x64_incremental_dedup",
    "x08_simhash_near_dup", "x72_capped_lsh", "x36_repetition",
    "x93_novelty_curve", "x133_winnowing_fingerprints",
    "x129_source_overlap", "x104_cms_heavy_hitters",
    "x05_token_jaccard_pairs", "x125_lsh_pair_recall",
    "x60_ngram_containment",
)

# The r7 judge's >2x watchlist (correct plans, 1-2 scheduling floors
# against sub-second sf0.1 DuckDB twins) — measured at sf1.0 to test
# the dilution claim with real work on both sides, plus the two
# entries reworked in r8 (x196, x203).
SF1_WATCHLIST_QUERIES = (
    "x192_wav_roundtrip_stats", "x122_quantized_recall",
    "x193_cooccurrence_itemsets", "x132_vocab_growth", "x82_oov_rate",
    "x42_decontaminate", "x196_dedup_method_census",
    "x80_mmr_diversify", "x56_training_pipeline", "x168_ngram_diversity",
    "x41_common_shingles", "x77_bloom_decontaminate",
    "x84_split_leakage", "x184_pq_adc", "x176_rendezvous_sharding",
    "x181_gopher_rules", "x183_poisson_bootstrap",
    "x203_cluster_margin",
)

# r9 coverage closure (r8 verdict ask #4): every registry entry whose
# sf0.1 DuckDB twin exceeds 0.2 s (BENCH_DETAIL_r08 work-dominated set)
# gets an sf1.0 row — the r8 additions (x206-x223), x45/x63, and the
# work-dominated tail the r6-era lists predate.
SF1_EXTENSION_QUERIES = (
    "x02_lang_id", "x10_lsh_knn", "x35_embedding_near_dup",
    "x45_bigram_counts", "x63_lm_score", "x71_bucket_sample",
    "x73_dup_span_fraction", "x79_ann_recall", "x96_lang_confusion",
    "x107_langid_kappa", "x115_phrase_match", "x124_code_switch_audit",
    "x145_principal_direction", "x151_split_contamination",
    "x158_benchmark_decontamination", "x161_kcore_peel",
    "x163_kmeans_milli", "x164_lsh_precision", "x171_mattr",
    "x172_pair_provenance", "x173_dedup_quota", "x175_effective_tokens",
    "x177_source_minhash", "x180_sorted_neighborhood",
    "x201_cluster_safe_split", "x210_reciprocal_best_match",
    "x212_edge_embeddedness", "x216_bucket_balance_audit",
    "x218_sparse_tfidf_pairs", "x225_cdc_chunking",
    # r10 additions that clear the >0.2 s-twin coverage rule (x228's
    # twin is 22 ms at sf0.1 and stays excluded by the same rule)
    "x229_bloom_semijoin",
)

# STICKY coverage closure (r10 verdict ask #2): membership in the
# sf1.0 coverage set is one-way. Once an entry's DuckDB twin has EVER
# measured >0.2 s in a committed BENCH_DETAIL_r*.json pass, it stays
# covered forever — boundary twins (0.20-0.23 s) may time under the
# threshold on a later pass, but they can no longer exit the at-scale
# record by timing jitter. This tuple is the frozen union of every
# committed sf0.1 pass's >0.2 s twins not already in the three lists
# above; tests/test_bench_rules.py recomputes the union from the
# committed detail files and fails if any qualifying entry is missing
# from the coverage set, so the stickiness is machine-checked, not
# hand-maintained. (x142/x194 crossed in r07/r10; x170/x182/x185/x186
# crossed in earlier committed passes and were silently uncovered —
# the exact drift this rule ends.)
SF1_STICKY_QUERIES = (
    "x142_bigram_surprise", "x170_source_cross_entropy",
    "x182_pareto_skyline", "x185_domain_reweight", "x186_zipf_alpha",
    "x194_markov_attribution", "x205_user_predictability",
    # r13: the driver's committed r12 runs (BENCH_DETAIL_r12/r13, a
    # slower host moment) timed these four twins over 0.2 s — one-way
    # coverage pulls them in permanently
    "x81_quality_threshold", "x89_importance_weights",
    "x140_token_burstiness", "x147_bag_dedup_lift",
    # r13 final bench (BENCH_DETAIL_r13, another slow host moment)
    # timed this twin over 0.2 s too
    "x224_label_propagation",
)

# Fixed-size calibration audits (r10 verdict ask #6): x125 audits the
# LSH S-curve on a FIXED 250-doc slice at every SF — its wall is a
# constant-size multi-stage job by construction, so a Spark/DuckDB
# ratio at sf1.0 measures scheduling floor, not scaling. --sf1-corpus
# still measures it (the number is real) but reports it under
# "fixed_cost_queries", OUTSIDE the corpus totals and the
# work-dominated rollup the grade reads.
SF1_FIXED_COST_QUERIES = ("x125_lsh_pair_recall",)

#: Committed declared-surface dissections (r11 verdict ask #5):
#: measured decompositions of outlier walls, re-published into every
#: BENCH_DETAIL so the record carries its own explanation instead of
#: a prose claim in a doc. Numbers are min-of-3 walls from the
#: dissection run named in "measured_on".
DECLARED_DISSECTIONS = {
    "q26_window_lag_lead": {
        "measured_on": "r12, local[16] bench confs, sf0.1 (150k orders)",
        "walls": {
            "plan_compute_count_only": 0.112,
            "window_only_count_no_final_sort": 0.114,
            "bare_150k_row_arrow_fetch_no_shuffle": 0.118,
            "window_plus_unordered_arrow_fetch": 0.364,
            "full_query_ordered_arrow_fetch": 0.844,
            "full_query_py4j_collect": 1.235,
        },
        "verdict": (
            "NOT a plan defect: the window (one Window node computes "
            "both LAG and LEAD in a single pass) plus BOTH sorts "
            "compute in 0.11 s; the 0.6-0.7 s residual is the ORDERED "
            "Arrow materialization of the full 150k-row result "
            "through the final rangepartitioning exchange — ordered "
            "collection serializes the per-partition fetches that an "
            "unordered fetch overlaps (0.844 s vs 0.364 s), and the "
            "in-process DuckDB twin (0.036 s) pays no transfer at "
            "all. Same fetch-floor class as q12_join_full. The SQL "
            "is normative (SURVEY 2b) and the full-materialization "
            "contract is the bench's fetch-fairness rule, so the row "
            "stands as measured with this dissection attached."),
    },
}


def sf1_corpus_bench() -> None:
    """``bench.py --sf1-corpus``: the corpus surface's first measurement
    above sf0.1 (r6 judge ask #8) — the 20 heaviest x-entries and their
    DuckDB twins at SPARK_GRAFT_SF_DIR (default /tmp/sf1.0, built by
    make_sfN.py), per-entry ratios in the detail file. Registry gate
    spellings throughout: every one of them completed the r6 sf1.0
    robustness replay inside the 300 s watchdog, so no capped
    substitutions are needed (the capped/approx production postures are
    the --scale-sweep's job)."""
    import duckdb

    from pyspark.sql import SparkSession

    from hive_parse_lineage_spark.analytics_queries import (
        analytics_oracle_sql, analytics_queries)
    from hive_parse_lineage_spark.audit_queries import (
        audit_oracle_sql, audit_queries)
    from hive_parse_lineage_spark.corpus_queries import (
        corpus_oracle_sql, corpus_queries)
    from hive_parse_lineage_spark.extra_queries import (
        extra_oracle_sql, extra_queries)
    from hive_parse_lineage_spark.pipeline_queries import (
        pipeline_oracle_sql, pipeline_queries)
    from hive_parse_lineage_spark.session import RUNTIME_CONFS
    from hive_parse_lineage_spark.sources.loader import TABLES, load_tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
        os.cpu_count() or 4, 16)
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .appName("sf1-corpus")
               .config("spark.sql.shuffle.partitions", str(cpus))
               .config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)

    allq = {**extra_queries(), **corpus_queries(), **pipeline_queries(),
            **analytics_queries(), **audit_queries()}
    allsql = {**extra_oracle_sql(), **corpus_oracle_sql(),
              **pipeline_oracle_sql(), **analytics_oracle_sql(),
              **audit_oracle_sql()}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    # SF1_ONLY=name1,name2 restricts the pass (long runs chunk across
    # driver invocations); SF1_MERGE_INTO=file.json merges into a
    # previous chunk's detail file instead of starting fresh.
    names = SF1_CORPUS_QUERIES + tuple(
        n for n in SF1_WATCHLIST_QUERIES if n not in SF1_CORPUS_QUERIES)
    names = names + tuple(
        n for n in SF1_EXTENSION_QUERIES if n not in names)
    names = names + tuple(
        n for n in SF1_STICKY_QUERIES if n not in names)
    if os.environ.get("SF1_ONLY"):
        keep = set(os.environ["SF1_ONLY"].split(","))
        names = tuple(n for n in names if n in keep)
    detail: dict[str, dict] = {}
    merge_from = os.environ.get("SF1_MERGE_INTO")
    if merge_from and os.path.exists(merge_from):
        with open(merge_from) as fh:
            prev = json.load(fh)
        # fixed-cost rows merge back into the working dict; the
        # rollup below re-splits them
        detail = {**prev.get("queries", {}),
                  **prev.get("fixed_cost_queries", {})}
    for name in names:
        fn = allq[name]
        # Same adaptive materialization as the declared surface
        # (bench.py module docstring): collect() for small results,
        # toPandas() (Arrow) past 5000 rows — DuckDB's comparator is
        # fetchdf(), and py4j row deserialization on a 150k-row result
        # (x71) costs ~0.4 s of pure transfer the Arrow path doesn't.
        n_warm = len(fn(spark, sf_dir).toPandas())           # warm-up
        fetch = ((lambda df: len(df.toPandas())) if n_warm > 5000
                 else (lambda df: len(df.collect())))
        t0 = time.perf_counter()
        rows = fetch(fn(spark, sf_dir))
        sw = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        con.execute(allsql[name]).fetchdf()
        dw = round(time.perf_counter() - t0, 3)
        # r9 verdict ask #1 + r10 ADVICE: a single-pass wall left
        # x71's committed row (2.83x) contradicting its warm re-probe
        # (~1x). Any entry whose FIRST pass lands outside [1/1.5,
        # 1.5x] — Spark-slow OR DuckDB-slow — is re-timed min-of-3 on
        # BOTH engines (the r10 rule re-timed only Spark-slow entries
        # and gave DuckDB one fewer pass, a one-directional bias), with
        # every pass wall published so the record is self-adjudicating.
        spark_passes, duck_passes = [sw], [dw]
        if dw > 0 and not (1 / 1.5 <= sw / dw <= 1.5):
            for _ in range(2):
                t0 = time.perf_counter()
                fetch(fn(spark, sf_dir))
                spark_passes.append(round(time.perf_counter() - t0, 3))
                t0 = time.perf_counter()
                con.execute(allsql[name]).fetchdf()
                duck_passes.append(round(time.perf_counter() - t0, 3))
            sw, dw = min(spark_passes), min(duck_passes)
        detail[name] = {"spark": sw, "duckdb": dw, "rows": rows,
                        "ratio": round(sw / dw, 2) if dw > 0 else None}
        if len(spark_passes) > 1:
            detail[name]["spark_passes"] = spark_passes
            detail[name]["duckdb_passes"] = duck_passes
        print("sf1-entry " + json.dumps({name: detail[name]}),
              file=sys.stderr, flush=True)
    # fixed-size calibration audits leave the corpus rollup (r10
    # verdict ask #6): their walls are constant in SF by construction,
    # so including them would put a permanent scheduling-floor ratio
    # inside the scaling record. Measured above like everything else;
    # reported under their own key below.
    fixed = {k: detail.pop(k) for k in list(detail)
             if k in SF1_FIXED_COST_QUERIES}
    stot = round(sum(v["spark"] for v in detail.values()), 2)
    dtot = round(sum(v["duckdb"] for v in detail.values()), 2)
    # work-dominated subset (DuckDB twin > 0.2 s): the floor-free
    # ratio the graded comparison uses — at sf1.0 nearly every twin
    # qualifies, which is the point of measuring here
    wd = {k: v for k, v in detail.items() if v["duckdb"] > 0.2}
    wsw = sum(v["spark"] for v in wd.values())
    wdw = sum(v["duckdb"] for v in wd.values())
    out = {"metric": "sf1_corpus_wall", "unit": "sec",
           "sf": infer_sf(sf_dir), "n_queries": len(detail),
           "value": stot, "duckdb_total_wall": dtot,
           "ratio": round(stot / dtot, 2) if dtot > 0 else None,
           "work_dominated_n": len(wd),
           "work_dominated_spark_wall": round(wsw, 2),
           "work_dominated_duckdb_wall": round(wdw, 2),
           "work_dominated_ratio": round(wsw / wdw, 2) if wdw > 0 else None,
           "fixed_cost_note": (
               "fixed_cost_queries are constant-size calibration audits "
               "(x125: 250 docs at every SF) measured but excluded from "
               "all totals/ratios — their sf1.0 ratio is scheduling "
               "floor on a fixed-size job, not a scaling signal")}
    path = os.environ.get(
        "BENCH_SF1_CORPUS_PATH",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            os.path.basename(_detail_path())
            .replace("BENCH_DETAIL", "BENCH_SF1_CORPUS")))
    with open(path, "w") as fh:
        json.dump({**out, "queries": detail, "fixed_cost_queries": fixed},
                  fh, indent=1, sort_keys=True)
    out["detail_file"] = os.path.basename(path)
    print(json.dumps(out))


# r11 verdict ask #1: the four >2x sf1.0 watchlist rows (x170 4.34x,
# x194 4.25x, x186 3.13x, x185 2.51x) are plan-minimal on inspection
# but their "residual is fixed stage floor on a tiny twin" story was
# prose, and the x71 precedent (r9 prose claim, r10 disproof) says
# prose claims about floors must die. --floor-proof runs each entry
# AND its DuckDB twin at sf1.0 and sf10: if the residual is a fixed
# per-job cost, the RATIO must FALL as the twin amortizes over 10x
# the work; a flat-or-rising ratio means a real plan defect.
FLOORPROOF_QUERIES = (
    "x170_source_cross_entropy", "x185_domain_reweight",
    "x186_zipf_alpha", "x194_markov_attribution",
)


def floor_proof() -> None:
    """``bench.py --floor-proof``: the falling-ratio test for the
    >2x-at-sf1.0 watchlist entries. Protocol: one SparkSession, per
    dir (default /tmp/sf1.0,/tmp/sf10) one JIT/codegen warm pass per
    engine, then N_PASSES (default 3) SYMMETRIC INTERLEAVED timed
    passes — spark, duckdb, spark, duckdb, ... — min-of-N on both
    sides, every pass wall published (the r10/r11 re-time standard).
    Emits BENCH_FLOORPROOF_r{N}.json with the per-entry ratio curve
    and a ratio_fell verdict per entry."""
    import duckdb

    from pyspark.sql import SparkSession

    from hive_parse_lineage_spark.analytics_queries import (
        analytics_oracle_sql, analytics_queries)
    from hive_parse_lineage_spark.audit_queries import (
        audit_oracle_sql, audit_queries)
    from hive_parse_lineage_spark.corpus_queries import (
        corpus_oracle_sql, corpus_queries)
    from hive_parse_lineage_spark.extra_queries import (
        extra_oracle_sql, extra_queries)
    from hive_parse_lineage_spark.pipeline_queries import (
        pipeline_oracle_sql, pipeline_queries)
    from hive_parse_lineage_spark.session import RUNTIME_CONFS
    from hive_parse_lineage_spark.sources.loader import TABLES, load_tables

    dirs = os.environ.get(
        "SPARK_GRAFT_FLOORPROOF_DIRS", "/tmp/sf1.0,/tmp/sf10").split(",")
    n_passes = int(os.environ.get("BENCH_PASSES", "3"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
        os.cpu_count() or 4, 16)
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .appName("floor-proof")
               .config("spark.sql.shuffle.partitions", str(cpus))
               .config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    allq = {**extra_queries(), **corpus_queries(), **pipeline_queries(),
            **analytics_queries(), **audit_queries()}
    allsql = {**extra_oracle_sql(), **corpus_oracle_sql(),
              **pipeline_oracle_sql(), **analytics_oracle_sql(),
              **audit_oracle_sql()}
    names = tuple(os.environ.get(
        "FLOORPROOF_ONLY", ",".join(FLOORPROOF_QUERIES)).split(","))
    out: dict = {"metric": "floor_proof", "unit": "sec",
                 "passes": n_passes, "sweep": []}
    for d in dirs:
        load_tables(spark, d)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
        entry: dict = {"sf_dir": os.path.basename(d.rstrip("/")),
                       "sf": infer_sf(d), "queries": {}}
        for name in names:
            fn, sql = allq[name], allsql[name]
            rows = _materialize(fn(spark, d))            # warm spark
            con.execute(sql).fetchdf()                   # warm duckdb
            sp, dp = [], []
            for _ in range(n_passes):
                t0 = time.perf_counter()
                _materialize(fn(spark, d))
                sp.append(round(time.perf_counter() - t0, 3))
                t0 = time.perf_counter()
                con.execute(sql).fetchdf()
                dp.append(round(time.perf_counter() - t0, 3))
            sw, dw = min(sp), min(dp)
            entry["queries"][name] = {
                "spark": sw, "duckdb": dw, "rows": rows,
                "ratio": round(sw / dw, 2) if dw > 0 else None,
                "spark_passes": sp, "duckdb_passes": dp}
            print("floorproof " + json.dumps(
                {entry["sf_dir"]: {name: entry["queries"][name]}}),
                file=sys.stderr, flush=True)
        con.close()
        out["sweep"].append(entry)
    for name in names:
        curve = [(e["sf"], e["queries"][name]["ratio"])
                 for e in out["sweep"]]
        falling = all(b[1] <= a[1] for a, b in zip(curve, curve[1:]))
        out.setdefault("ratio_curve", {})[name] = {
            "curve": curve, "ratio_fell": falling}
    path = os.environ.get(
        "BENCH_FLOORPROOF_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     os.path.basename(_detail_path())
                     .replace("BENCH_DETAIL", "BENCH_FLOORPROOF")))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    out["detail_file"] = os.path.basename(path)
    print(json.dumps(out))


def declared_scaling() -> None:
    """``bench.py --declared-scaling``: the declared 43-query surface
    at an sf>=1.0 dir under two core counts (r12 verdict ask #2: at
    sf0.1 the shuffle sizing gives single-digit partitions and the
    driver's 8-vs-32-core probe reads ~1 for every query by
    construction — parallelism evidence for the declared surface needs
    a point where the reduce stages have >1 partitions). One fresh
    cold-JVM subprocess per core count running the exact bench_spark
    methodology (warm-up + min-of-BENCH_PASSES, adaptive fetch).
    Writes BENCH_SF1_DECLARED_r{N}.json.

    Env: SPARK_GRAFT_SF_DIR (default /tmp/sf1.0, built by make_sfN.py),
    BENCH_SCALING_CPUS (default "32,8")."""
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    cpu_points = [c for c in os.environ.get(
        "BENCH_SCALING_CPUS", "32,8").split(",")]
    here = os.path.dirname(os.path.abspath(__file__))
    child = (
        "import json, os, sys\n"
        f"sys.path.insert(0, {here!r})\n"
        "from bench import bench_spark\n"
        "from hive_parse_lineage_spark.queries import DECLARED_QUERIES\n"
        "t, p = bench_spark(os.environ['SPARK_GRAFT_SF_DIR'],\n"
        "                   dict(DECLARED_QUERIES),\n"
        "                   int(os.environ.get('BENCH_PASSES', '3')))\n"
        "print('DS ' + json.dumps({'times': t, 'pass_totals': p}))\n")
    out: dict = {"metric": "declared_scaling", "unit": "sec",
                 "sf": infer_sf(sf_dir), "sf_dir": sf_dir, "runs": {}}
    for c in cpu_points:
        env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
               "SPARK_GRAFT_CPUS": str(c)}
        proc = subprocess.run([sys.executable, "-c", child], env=env,
                              capture_output=True, text=True)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("DS ")]
        if not lines:
            print(json.dumps({"metric": "declared_scaling",
                              "error": proc.stderr[-500:]}))
            sys.exit(1)
        d = json.loads(lines[-1][3:])
        out["runs"][str(c)] = {
            "total": round(sum(d["times"].values()), 4),
            "queries": d["times"], "pass_totals": d["pass_totals"]}
        print("scaling-point " + json.dumps(
            {c: out["runs"][str(c)]["total"]}), file=sys.stderr, flush=True)
    if len(cpu_points) >= 2:
        hi, lo = str(cpu_points[0]), str(cpu_points[-1])
        qs = out["runs"][hi]["queries"]
        out["cpus_high"], out["cpus_low"] = int(hi), int(lo)
        out["ratio_low_over_high"] = {
            q: round(out["runs"][lo]["queries"][q] / qs[q], 2)
            for q in qs if qs[q] > 0}
        out["total_ratio_low_over_high"] = round(
            out["runs"][lo]["total"] / out["runs"][hi]["total"], 2)
    path = os.environ.get(
        "BENCH_SF1_DECLARED_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     os.path.basename(_detail_path())
                     .replace("BENCH_DETAIL", "BENCH_SF1_DECLARED")))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    out["detail_file"] = os.path.basename(path)
    print(json.dumps({k: v for k, v in out.items() if k != "runs"}))


# Structured-Streaming gate entries: per-micro-batch checkpointing
# dominates their wall — correctness gates, not throughput queries;
# benching them would only measure stream startup.
_STREAM_GATES = ("x102_stream_neardup", "x111_stream_hourly_rollup",
                 "x112_stream_dedup_admission",
                 "x118_stream_session_windows",
                 "x135_stream_stream_join",
                 "x178_stream_custom_state",
                 "x190_stream_watermark_windows",
                 "x198_stream_static_join")


def _corpus_query_map() -> dict:
    """The benchable LLM-corpus x-surface (x01 onward, minus the
    streaming gate): name -> (spark, sf_dir) -> DataFrame."""
    from hive_parse_lineage_spark.analytics_queries import analytics_queries
    from hive_parse_lineage_spark.audit_queries import audit_queries
    from hive_parse_lineage_spark.corpus_queries import corpus_queries
    from hive_parse_lineage_spark.extra_queries import extra_queries
    from hive_parse_lineage_spark.pipeline_queries import pipeline_queries
    allq = {**extra_queries(), **corpus_queries(), **pipeline_queries(),
            **analytics_queries(), **audit_queries()}
    for stream_q in _STREAM_GATES:
        allq.pop(stream_q, None)
    return allq


#: The 5 heaviest dedup/cluster entries for the 100x ladder
#: (r8 verdict ask #6): registry gate spellings where they scale;
#: x46 runs its production capped variant (same census body — the
#: registry's uncapped portable-hash spelling exists only so DuckDB
#: can replay it, and is documented quadratic on Zipf corpora).
DEDUP_LADDER_QUERIES = ("x07_minhash_near_dup", "x59_dedup_keep_one",
                        "x87_cluster_size_histogram",
                        "x196_dedup_method_census")


#: Query-set-bounded similarity entries for the ANN 100x ladder:
#: x06 broadcast-query linear cosine scan, x10 hyperplane-LSH kNN,
#: x79 exact-vs-LSH recall audit, x184 PQ-ADC scan. x35 (pairwise
#: embedding near-dup) is deliberately EXCLUDED: make_sfN replicates
#: vectors verbatim (id-shifted), so every vector gains 10 exact
#: twins per rung and the PAIR OUTPUT grows quadratically — a
#: synthesis artifact, not a plan property (documents get per-copy
#: token suffixes for exactly this reason; embeddings can't without
#: changing the vectors the queries measure).
ANN_LADDER_QUERIES = ("x06_cosine_pairs", "x10_lsh_knn",
                      "x79_ann_recall", "x184_pq_adc")


def ann_ladder() -> None:
    """``bench.py --ann-ladder``: the 100x rung for the similarity /
    ANN family (the dedup core has SWEEP_r09; this is the embedding
    side of the same question). Rungs sf0.1 -> sf1.0 -> sf10 scale the
    vector corpus 20k -> 200k -> 2M rows (dims fixed); growth is
    normalized by EMBEDDING ROWS. Same protocol as --dedup-ladder:
    global JIT warm at the smallest rung, one timed pass per rung,
    growth ratios are the signal. Written to SWEEP_ANN_r{N}.json."""
    pool = _corpus_query_map()
    _run_ladder(
        {n: pool[n] for n in ANN_LADDER_QUERIES},
        metric="ann_ladder",
        scale_of=lambda spark, d: {
            "vec_rows": spark.read.parquet(
                os.path.join(d, "embeddings.parquet")).count()},
        growth_key="vec_rows",
        path_tag="SWEEP_ANN")


def dedup_ladder() -> None:
    """``bench.py --dedup-ladder``: a TRUE 100x scale point for the
    dedup core. The graded SF is 0.1; sf1.0 (make_sfN.py) is only 10x,
    so this ladder adds /tmp/sf10 (100x docs/tokens over sf0.1) and
    reports wall growth over token growth between consecutive rungs —
    the brief's "would this survive a 100x scale-up" answered with
    walls, not prose. Global JIT warm at the smallest rung, ONE timed
    pass per rung (entries run minutes at sf10; growth ratios, not
    per-run noise, are the signal here). Output mirrors
    --scale-sweep's schema; written to SWEEP_r{N}.json."""
    from pyspark.sql import functions as F

    def scale_of(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        toks = docs.select(F.sum(F.size(F.split("text", " ")))
                           .alias("t")).first()["t"]
        return {"doc_rows": docs.count(), "doc_tokens": int(toks)}

    qs = {n: _corpus_query_map()[n] for n in DEDUP_LADDER_QUERIES}
    qs["x46_dup_clusters_capped"] = _x46_capped
    _run_ladder(qs, metric="dedup_ladder", scale_of=scale_of,
                growth_key="doc_tokens", path_tag="SWEEP")


#: The r8 work-dominated composition (BENCH_DETAIL_r08.json entries
#: whose DuckDB twin ran >0.2 s at sf0.1), FROZEN so every later round
#: can publish a like-for-like subset ratio next to the live-rule one
#: (r9 verdict ask #6 — composition drift vs performance drift).
R8_WD_COMPOSITION = (
    "x02_lang_id", "x05_token_jaccard_pairs", "x07_minhash_near_dup",
    "x08_simhash_near_dup", "x100_dup_pagerank", "x104_cms_heavy_hitters",
    "x105_ppjoin_exact", "x107_langid_kappa", "x10_lsh_knn",
    "x115_phrase_match", "x119_minhash_calibration", "x122_quantized_recall",
    "x124_code_switch_audit", "x125_lsh_pair_recall", "x129_source_overlap",
    "x132_vocab_growth", "x133_winnowing_fingerprints",
    "x145_principal_direction", "x149_dup_graph_triangles",
    "x151_split_contamination", "x158_benchmark_decontamination",
    "x161_kcore_peel", "x163_kmeans_milli", "x164_lsh_precision",
    "x168_ngram_diversity", "x171_mattr", "x172_pair_provenance",
    "x173_dedup_quota", "x175_effective_tokens", "x176_rendezvous_sharding",
    "x177_source_minhash", "x180_sorted_neighborhood", "x181_gopher_rules",
    "x183_poisson_bootstrap", "x184_pq_adc", "x192_wav_roundtrip_stats",
    "x193_cooccurrence_itemsets", "x196_dedup_method_census",
    "x201_cluster_safe_split", "x203_cluster_margin",
    "x210_reciprocal_best_match", "x212_edge_embeddedness",
    "x216_bucket_balance_audit", "x218_sparse_tfidf_pairs",
    "x35_embedding_near_dup", "x36_repetition", "x41_common_shingles",
    "x42_decontaminate", "x45_bigram_counts", "x46_dup_clusters",
    "x56_training_pipeline", "x59_dedup_keep_one", "x60_ngram_containment",
    "x63_lm_score", "x64_incremental_dedup", "x71_bucket_sample",
    "x72_capped_lsh", "x73_dup_span_fraction", "x77_bloom_decontaminate",
    "x79_ann_recall", "x80_mmr_diversify", "x82_oov_rate",
    "x84_split_leakage", "x87_cluster_size_histogram", "x93_novelty_curve",
    "x96_lang_confusion",
)


#: The heaviest edge-proportional graph/pair entries (r9 verdict ask
#: #2): x172 pair provenance (18.4 s at sf1.0), x210 reciprocal best
#: match (13.2 s), x149 triangle census. All three consume the same
#: uncapped portable-hash LSH pair list (threshold 0.3, 64 hashes,
#: 16 bands, 2-shingles), so the ladder normalizes wall growth by
#: THAT pair count — the brief's "edge-proportional" claim measured
#: against the actual edge count, not a doc-count proxy.
GRAPH_LADDER_QUERIES = ("x172_pair_provenance",
                        "x210_reciprocal_best_match",
                        "x149_dup_graph_triangles")


def _lsh_edge_count(spark, d: str) -> int:
    """|edges| of the x172/x210/x149 shared pair list at ``d`` — the
    same minhash_near_dups call the entries make, counted once per
    rung for growth normalization."""
    from hive_parse_lineage_spark.functions.text import portable_hash64
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    return minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                             shingle_k=2, hasher=portable_hash64,
                             max_bucket_size=None).count()


def graph_ladder() -> None:
    """``bench.py --graph-ladder``: the 100x rung for the graph/pair
    family — the heaviest edge-proportional plans, whose at-scale
    posture was previously answered only by design. Same protocol as
    --dedup-ladder (JIT warm at the smallest rung, one timed pass per
    rung); growth is normalized by the SHARED LSH edge count, so a
    ratio ≲1 means the plans really are edge-proportional. Written to
    SWEEP_GRAPH_r{N}.json."""
    pool = _corpus_query_map()

    def scale_of(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        return {"doc_rows": docs.count(),
                "lsh_edges": _lsh_edge_count(spark, d)}

    _run_ladder({n: pool[n] for n in GRAPH_LADDER_QUERIES},
                metric="graph_ladder", scale_of=scale_of,
                growth_key="lsh_edges", path_tag="SWEEP_GRAPH")


def _capped_graph_edges(spark, d: str):
    """The graph family's PRODUCTION edge builder for the skew rung:
    same LSH banding as the registry entries but default xxhash64 and
    the hot-bucket cap active (max_bucket_size=1000) — on the --skew
    corpus the 2,500-doc boilerplate family makes the uncapped pair
    list quadratic BY CONSTRUCTION (that cost is recorded by
    SWEEP_SKEW's uncapped gate spellings); the cap bounds every
    bucket's pair count, which is the posture a 100 TB run uses."""
    from hive_parse_lineage_spark.operators.dedup import minhash_near_dups
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    return minhash_near_dups(docs, threshold=0.3, n_hashes=64, bands=16,
                             shingle_k=2, max_bucket_size=1000)


def _x172_capped(spark, d: str):
    from hive_parse_lineage_spark.analytics_queries import (
        pair_provenance_from_pairs)
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    pairs = (_capped_graph_edges(spark, d)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    return pair_provenance_from_pairs(docs, pairs)


def _x210_capped(spark, d: str):
    from hive_parse_lineage_spark.audit_queries import (
        reciprocal_best_match_from_edges)
    return reciprocal_best_match_from_edges(_capped_graph_edges(spark, d))


def _x149_capped(spark, d: str):
    from pyspark.sql import functions as F

    from hive_parse_lineage_spark.operators.graph import triangle_census
    edges = (_capped_graph_edges(spark, d)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    return (triangle_census(edges)
            .select(F.col("e").alias("n_edges"),
                    F.col("w").alias("n_wedges"),
                    F.col("t").alias("n_triangles"),
                    F.expr("CASE WHEN w > 0 THEN 3 * t * 1000 div w "
                           "ELSE 0 END").alias("global_cc_permille")))


def graph_skew() -> None:
    """``bench.py --graph-skew``: the SKEWED rung for the graph/pair
    family (r10 verdict ask #4) — the r10 uniform ladder never
    stressed the edge-proportionality claim, and a boilerplate family
    is precisely what inflates LSH edges quadratically inside the hot
    buckets. Runs the three family entries in their CAPPED production
    posture (the cap changes the pair set by design, so this is a
    bench-only variant sharing the registry entries' downstream
    bodies, not a value-identical flag) on uniform sf0.1 vs
    make_sfN.py --skew sf1.0; growth normalized by the CAPPED edge
    count — ≲1 means the downstream really is edge-proportional even
    when the cap is doing the bounding. Written to
    SWEEP_GRAPH_r{N}.json."""
    from pyspark.sql import functions as F

    def scale_of(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        fam = (docs.groupBy(F.md5("text")).count()
               .agg(F.max("count")).first()[0])
        return {"doc_rows": docs.count(),
                "max_identical_family": int(fam),
                "lsh_edges_capped": _capped_graph_edges(spark, d).count()}

    _run_ladder({"x172_pair_provenance_capped": _x172_capped,
                 "x210_reciprocal_best_match_capped": _x210_capped,
                 "x149_dup_graph_triangles_capped": _x149_capped},
                metric="graph_skew_ladder", scale_of=scale_of,
                growth_key="lsh_edges_capped", path_tag="SWEEP_GRAPH",
                default_dirs="/root/testdata/sf0.1,/tmp/sf1.0skew")


#: Retrieval / data-selection family sf10 points (r10): BM25 top-k
#: (vocab-keyed posting joins, never broadcast), DSIR importance
#: weights, per-source cross-entropy, DoReMi-lite domain reweighting.
#: Growth normalized by corpus tokens (all four are token-mass
#: proportional: posting lists / n-gram LM counts).
RETRIEVAL_LADDER_QUERIES = ("x88_bm25_topk", "x89_importance_weights",
                            "x170_source_cross_entropy",
                            "x185_domain_reweight")


def retrieval_ladder() -> None:
    """``bench.py --retrieval-ladder``: the 100x rung for the
    retrieval/data-selection family — the last work-dominated family
    without at-scale wall evidence. Same protocol as --dedup-ladder;
    growth normalized by corpus TOKENS. Written to
    SWEEP_RETRIEVAL_r{N}.json."""
    from pyspark.sql import functions as F
    pool = _corpus_query_map()

    def scale_of(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        toks = docs.select(F.sum(F.size(F.split("text", " ")))
                           .alias("t")).first()["t"]
        return {"doc_rows": docs.count(), "doc_tokens": int(toks)}

    _run_ladder({n: pool[n] for n in RETRIEVAL_LADDER_QUERIES},
                metric="retrieval_ladder", scale_of=scale_of,
                growth_key="doc_tokens", path_tag="SWEEP_RETRIEVAL")


#: Retrieval-family skew rung (r11 verdict ask #4): x88's per-term
#: rank window and df broadcast, and x189's full (tok, doc) score
#: stream + vocab-keyed df join, are where STOPWORD skew bites — a
#: single query token appearing in ~30% of docs (make_sfN.py
#: --stopword injects the x88/x189 query term 'spark') fattens one
#: posting list and one rank partition. x193 rides along as the
#: defended comparison: its df-banding already drops
#: above-threshold tokens by design.
RETRIEVAL_SKEW_QUERIES = ("x88_bm25_topk", "x189_prf_expansion",
                          "x193_cooccurrence_itemsets")


def retrieval_skew() -> None:
    """``bench.py --retrieval-skew``: the skewed rung for the
    retrieval family. THREE dirs — uniform sf0.1 base, uniform
    sf1.0, stopword-heavy sf1.0 from ``make_sfN.py BASE OUT 10
    --stopword`` — separating 10x SCALE growth (first consecutive
    ratio, normalized by corpus tokens) from PURE SKEW at equal
    scale (second ratio: tokens ~constant, so it reads directly as
    wall_stop/wall_uniform — the cost of the fat posting list). The
    df probe records the injected term's document-frequency share
    per rung so the skew shape is in-band: the uniform sf1.0 rung
    dilutes 'spark' to ~78 permille (suffix-rewritten copies),
    --stopword re-injects it into ~30% of ALL docs (~355 permille
    measured — some copy-0 docs already contained it)."""
    from pyspark.sql import functions as F
    pool = _corpus_query_map()

    def scale_of(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        toks = docs.select(F.sum(F.size(F.split("text", " ")))
                           .alias("t")).first()["t"]
        return {"doc_rows": docs.count(), "doc_tokens": int(toks)}

    def df_probe(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        n = docs.count()
        hot = docs.filter(
            F.array_contains(F.split("text", " "), "spark")).count()
        return {"hot_term": "spark", "hot_term_df": int(hot),
                "hot_term_df_permille": round(hot * 1000 / n)}

    _run_ladder({n: pool[n] for n in RETRIEVAL_SKEW_QUERIES},
                metric="retrieval_skew", scale_of=scale_of,
                growth_key="doc_tokens",
                path_tag="SWEEP_RETRIEVAL_SKEW",
                default_dirs=("/root/testdata/sf0.1,/tmp/sf1.0,"
                              "/tmp/sf1.0stop"),
                probes={"stopword_df_probe": df_probe})


#: Event/window family sf10 points (r9 verdict ask #4): x187's
#: at-scale spelling is range_partitioned_running_max behind
#: SPARK_GRAFT_APPROX_QUANTILES=1 — the ladder runs FLAG ON because
#: the flag-off global window is the documented non-scale gate
#: spelling (a single-partition sort, exactly what the ladder must
#: not measure). x197 TWAP is partition-local on both paths.
EVENT_LADDER_QUERIES = ("x187_watermark_lateness",
                        "x197_time_weighted_avg")


def event_ladder() -> None:
    """``bench.py --event-ladder``: the 100x rung for the event/window
    family, normalized by event rows. Flag-on (see
    EVENT_LADDER_QUERIES note); the flag-on path is value-identical
    and oracle-gated by tests/test_atscale_flags.py, so this measures
    the same answer's at-scale plan. Written to SWEEP_EVENT_r{N}.json."""
    os.environ["SPARK_GRAFT_APPROX_QUANTILES"] = "1"
    pool = _corpus_query_map()

    def scale_of(spark, d):
        ev = spark.read.parquet(os.path.join(d, "events.parquet"))
        return {"event_rows": ev.count()}

    _run_ladder({n: pool[n] for n in EVENT_LADDER_QUERIES},
                metric="event_ladder", scale_of=scale_of,
                growth_key="event_rows", path_tag="SWEEP_EVENT")


#: Event-family skew rung (r11 verdict ask #3): the per-user
#: window/aggregate entries — x187 (watermark lateness quantiles),
#: x194 (per-user journey assembly, now capped), x197 (per-user TWAP),
#: x205 (per-user next-event predictability) — are exactly where
#: hot-user skew lands on user data, and until r12 they ran only on
#: uniform synthesis. The --skew corpus gives user 777 ~10% of ALL
#: events (100k rows at sf1.0) — the realistic bot-user failure mode.
#: x187 runs flag-on for the same reason as EVENT_LADDER_QUERIES.
EVENT_SKEW_QUERIES = ("x187_watermark_lateness",
                      "x194_markov_attribution",
                      "x197_time_weighted_avg",
                      "x205_user_predictability")


def event_skew() -> None:
    """``bench.py --event-skew``: the skewed rung for the event/window
    family. THREE dirs — uniform sf0.1 base, uniform sf1.0, skewed
    sf1.0 from ``make_sfN.py BASE OUT 10 --skew`` (hot user 777 holds
    ~10% of events) — so the record separates the two effects: the
    first consecutive ratio is 10x SCALE growth (read against
    event_rows like the event ladder), the second is PURE SKEW at
    equal scale (event_rows ~constant, so the normalized ratio is
    just wall_skew/wall_uniform: how much the hot user costs). Both
    < 1 means the hot user does not super-linearize the plan. The
    x194 journey-cap probe records the hot user's RAW event count
    next to the max rows any journey task actually assembles after
    the ATTRIB_JOURNEY_CAP pre-cap — cap_fired is the r11 verdict's
    'observably bounding the hot user's task' evidence."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    os.environ["SPARK_GRAFT_APPROX_QUANTILES"] = "1"
    pool = _corpus_query_map()

    def scale_of(spark, d):
        ev = spark.read.parquet(os.path.join(d, "events.parquet"))
        n = ev.count()
        hot = (ev.groupBy("user_id").count()
               .agg(F.max("count")).first()[0])
        return {"event_rows": n, "hot_user_events": int(hot),
                "hot_user_share_permille": round(hot * 1000 / n)}

    def x194_cap_probe(spark, d):
        from hive_parse_lineage_spark.analytics_queries import (
            ATTRIB_JOURNEY_CAP)
        from hive_parse_lineage_spark.sources.loader import load_tables
        ev = load_tables(spark, d)["events"]
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        mx = (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= ATTRIB_JOURNEY_CAP)
              .groupBy("user_id").count()
              .agg(F.max("count")).first()[0])
        raw = (ev.groupBy("user_id").count()
               .agg(F.max("count")).first()[0])
        return {"cap": ATTRIB_JOURNEY_CAP,
                "max_raw_user_events": int(raw),
                "max_capped_journey_rows": int(mx),
                "cap_fired": raw > ATTRIB_JOURNEY_CAP}

    _run_ladder({n: pool[n] for n in EVENT_SKEW_QUERIES},
                metric="event_skew", scale_of=scale_of,
                growth_key="event_rows", path_tag="SWEEP_EVENT_SKEW",
                default_dirs=("/root/testdata/sf0.1,/tmp/sf1.0,"
                              "/tmp/sf1.0skew"),
                probes={"x194_journey_cap_probe": x194_cap_probe})


#: Skewed-synthesis sweep (r9 verdict ask #3): entries whose DESIGN
#: claims are about skew — LSH hot-bucket caps, salting, hot-key
#: split join, skew reporting — measured on make_sfN.py --skew data
#: (one boilerplate family at ~5% of docs, one hot user at ~10% of
#: events), where uniform replication never stressed them.
SKEW_SWEEP_QUERIES = ("x07_minhash_near_dup", "x59_dedup_keep_one",
                      "x52_salted_agg", "x70_hot_key_split_join",
                      "x109_key_skew_report")


def skew_sweep() -> None:
    """``bench.py --skew-sweep``: the skew rung. Two dirs (uniform
    sf0.1 base, skewed sf1.0 from ``make_sfN.py BASE OUT 10 --skew``),
    per-entry wall growth over token growth like the dedup ladder,
    PLUS per-rung skew shape (largest identical-text family, hot-user
    event share) and the capped-LSH production posture with a real
    ``Observation`` on the cap rule — ``capped_bucket_rows`` > 0 on
    the skewed rung is the cap OBSERVABLY firing, turning the
    hot-bucket design claim into recorded data. x07 stays uncapped
    (the gate spelling): on a skewed corpus its pair output is
    quadratic in the family size BY CONSTRUCTION — the sweep records
    that cost next to the capped variant that avoids it."""
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from hive_parse_lineage_spark.session import RUNTIME_CONFS

    dirs = os.environ.get(
        "SPARK_GRAFT_SKEW_DIRS",
        "/root/testdata/sf0.1,/tmp/sf1.0skew").split(",")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
        os.cpu_count() or 4, 16)
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .appName("skew-sweep")
               .config("spark.sql.shuffle.partitions", str(cpus))
               .config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    pool = _corpus_query_map()
    qs = {n: pool[n] for n in SKEW_SWEEP_QUERIES}
    qs["x46_dup_clusters_capped"] = _x46_capped

    def _capped_pairs_probe(spark, d):
        """The capped production posture — the exact x46_capped edge
        spelling (xxhash64, agg signatures, cap 1000) with the cap
        rule observed — returns (n_pairs, capped_bucket_rows,
        total_bucket_rows)."""
        from hive_parse_lineage_spark.operators.dedup import (
            minhash_near_dups)
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        obs = Observation(f"cap-{os.path.basename(d.rstrip('/'))}")
        pairs = minhash_near_dups(docs, threshold=0.3, n_hashes=64,
                                  bands=16, shingle_k=2,
                                  max_bucket_size=1000,
                                  cap_observation=obs)
        n = pairs.count()
        got = obs.get
        return n, int(got["capped_bucket_rows"] or 0), \
            int(got["total_bucket_rows"])

    def scale_of(d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        toks = docs.select(F.sum(F.size(F.split("text", " ")))
                           .alias("t")).first()["t"]
        fam = (docs.groupBy(F.md5("text")).count()
               .agg(F.max("count")).first()[0])
        ev = spark.read.parquet(os.path.join(d, "events.parquet"))
        n_ev = ev.count()
        hot = (ev.groupBy("user_id").count()
               .agg(F.max("count")).first()[0])
        return {"doc_rows": docs.count(), "doc_tokens": int(toks),
                "max_identical_family": int(fam), "event_rows": n_ev,
                "hot_user_share_permille": round(hot * 1000 / n_ev)}

    for name, fn in sorted(qs.items()):        # JIT/codegen warm
        fn(spark, dirs[0]).collect()

    out: dict = {"metric": "skew_sweep", "unit": "sec", "sweep": []}
    for d in dirs:
        entry: dict = {"sf_dir": os.path.basename(d.rstrip("/")),
                       **scale_of(d), "queries": {}}
        for name, fn in sorted(qs.items()):
            t0 = time.perf_counter()
            n_out = _materialize(fn(spark, d))
            wall = time.perf_counter() - t0
            entry["queries"][name] = {"wall": round(wall, 3),
                                      "rows_out": n_out}
            print("skew " + json.dumps({d: {name: round(wall, 3)}}),
                  file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        n_pairs, capped, total = _capped_pairs_probe(spark, d)
        entry["queries"]["x07_capped_probe"] = {
            "wall": round(time.perf_counter() - t0, 3),
            "rows_out": n_pairs, "capped_bucket_rows": capped,
            "total_bucket_rows": total,
            "cap_fired": capped > 0}
        print("skew " + json.dumps(
            {d: entry["queries"]["x07_capped_probe"]}),
            file=sys.stderr, flush=True)
        out["sweep"].append(entry)
    # r10 ADVICE: the --skew blob perturbs document token mass and
    # event mass INDEPENDENTLY, so each entry normalizes by the scale
    # axis its input actually grows on — event-keyed entries
    # (x52/x70/x109 read events.parquet) by event_rows, document-keyed
    # ones by doc_tokens. A doc_tokens denominator for an event entry
    # is wrong in exactly the dimension the sweep varies.
    event_keyed = {"x52_salted_agg", "x70_hot_key_split_join",
                   "x109_key_skew_report"}
    for name in sorted(out["sweep"][0]["queries"]):
        axis = "event_rows" if name in event_keyed else "doc_tokens"
        ratios = []
        for a, b in zip(out["sweep"], out["sweep"][1:]):
            wall_g = (b["queries"][name]["wall"]
                      / max(a["queries"][name]["wall"], 1e-9))
            ratios.append(round(wall_g / (b[axis] / max(a[axis], 1)), 3))
        out.setdefault("wall_growth_over_scale_growth", {})[name] = {
            "axis": axis, "ratios": ratios}
    path = os.environ.get(
        "SWEEP_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     os.path.basename(_detail_path())
                     .replace("BENCH_DETAIL", "SWEEP_SKEW")))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    out["detail_file"] = os.path.basename(path)
    print(json.dumps(out))


def _materialize(df) -> int:
    """Full client-side materialization for the ladder/skew rungs:
    always Arrow ``toPandas`` — ladder entries run seconds-to-minutes,
    so Arrow's ~0.1 s setup is noise, while py4j ``collect`` on a
    100k-row rung result costs real transfer seconds (the same
    fetch-fairness rule the declared surface applies adaptively,
    module docstring)."""
    return len(df.toPandas())


def _run_ladder(qs, metric: str, scale_of, growth_key: str,
                path_tag: str,
                default_dirs: str = (
                    "/root/testdata/sf0.1,/tmp/sf1.0,/tmp/sf10"),
                probes=None) -> None:
    """Shared rung walker for the 100x ladders: one SparkSession, JIT
    warm at the smallest rung, one timed pass per (rung, entry), and
    per-entry wall-growth-over-scale-growth ratios normalized by
    ``growth_key`` from ``scale_of(spark, dir)``. ``probes`` (name ->
    (spark, dir) -> dict) records extra per-rung evidence rows (e.g.
    a cap-fired observation) next to the timed entries without
    entering the growth ratios."""
    from pyspark.sql import SparkSession

    from hive_parse_lineage_spark.session import RUNTIME_CONFS

    dirs = os.environ.get(
        "SPARK_GRAFT_LADDER_DIRS", default_dirs).split(",")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(
        os.cpu_count() or 4, 16)
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .appName(metric.replace("_", "-"))
               .config("spark.sql.shuffle.partitions", str(cpus))
               .config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in sorted(qs.items()):        # JIT/codegen warm
        fn(spark, dirs[0]).collect()

    out: dict = {"metric": metric, "unit": "sec", "sweep": []}
    for d in dirs:
        entry: dict = {"sf_dir": os.path.basename(d.rstrip("/")),
                       **scale_of(spark, d), "queries": {}}
        for name, fn in sorted(qs.items()):
            t0 = time.perf_counter()
            n_out = _materialize(fn(spark, d))
            wall = time.perf_counter() - t0
            entry["queries"][name] = {"wall": round(wall, 3),
                                      "rows_out": n_out}
            print("ladder " + json.dumps({d: {name: round(wall, 3)}}),
                  file=sys.stderr, flush=True)
        for pname, pfn in (probes or {}).items():
            entry["queries"][pname] = pfn(spark, d)
            print("ladder " + json.dumps({d: {pname: entry["queries"][pname]}}),
                  file=sys.stderr, flush=True)
        out["sweep"].append(entry)
    growth_field = ("wall_growth_over_token_growth"
                    if growth_key == "doc_tokens"
                    else f"wall_growth_over_{growth_key}_growth")
    for name in sorted(qs):
        ratios = []
        for a, b in zip(out["sweep"], out["sweep"][1:]):
            wall_g = (b["queries"][name]["wall"]
                      / max(a["queries"][name]["wall"], 1e-9))
            ratios.append(round(
                wall_g / (b[growth_key] / max(a[growth_key], 1)), 3))
        out.setdefault(growth_field, {})[name] = ratios
    path = os.environ.get(
        "SWEEP_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     os.path.basename(_detail_path())
                     .replace("BENCH_DETAIL", path_tag)))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    out["detail_file"] = os.path.basename(path)
    print(json.dumps(out))


def _bench_corpus(spark, sf_dir: str):
    """Full LLM-corpus x-surface: Spark wall per query, one warm + one
    timed pass each (the work-dominated subset gets extra min-of-N
    passes in main once the DuckDB twins identify it).

    Fetch rule (r13, guide §6 "Arrow for driver transfers"): the same
    adaptive materialization the declared surface has used since r9 —
    ``collect()`` for small results, ``toPandas()`` (Arrow) past 5000
    rows, chosen at warm-up. Through r12 every corpus entry used
    ``collect()`` (row pickling); for the transition round the
    >5000-row entries are ALSO timed one extra pass with the old
    ``collect()`` fetch and both walls land in the detail file
    (``corpus_fetch_transition``), so cross-round comparability
    survives the methodology change. Returns (ctimes, fetchers,
    transition)."""
    # corpus entries explode text into shingle/token streams ~10x the
    # input, so the declared surface's input-derived partition count
    # is too low here — restore the measured corpus value (AQE stays
    # on: it has been on for every pass of every round, see
    # BENCH_CONFS)
    spark.conf.set("spark.sql.shuffle.partitions",
                   BENCH_CONFS["spark.sql.shuffle.partitions"])
    ctimes: dict[str, float] = {}
    fetchers: dict[str, object] = {}
    transition: dict[str, dict] = {}
    for name, fn in sorted(_corpus_query_map().items()):
        n_warm = len(fn(spark, sf_dir).toPandas())           # warm-up
        fetch = ((lambda df: len(df.toPandas())) if n_warm > 5000
                 else (lambda df: len(df.collect())))
        fetchers[name] = fetch
        t0 = time.perf_counter()
        fetch(fn(spark, sf_dir))
        ctimes[name] = round(time.perf_counter() - t0, 4)
        if n_warm > 5000:
            # transition evidence: the r12-methodology (py4j collect)
            # wall next to the new Arrow wall, same session moment
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            transition[name] = {
                "collect_r12_method": round(time.perf_counter() - t0, 4),
                "arrow": ctimes[name], "rows": n_warm}
    return ctimes, fetchers, transition


def _bench_corpus_duckdb(sf_dir: str):
    """DuckDB twin walls for the corpus surface, same run. Caveat
    carried in the numbers themselves: the DuckDB twins replay md5-fold
    hash signatures / recursive CTEs in SQL (correctness oracles, not
    hand-tuned baselines), so per-query ratios cut both ways — e.g. the
    connected-components oracle is a recursive CTE that scales worse
    than label propagation."""
    import duckdb

    from hive_parse_lineage_spark.analytics_queries import analytics_oracle_sql
    from hive_parse_lineage_spark.audit_queries import audit_oracle_sql
    from hive_parse_lineage_spark.corpus_queries import corpus_oracle_sql
    from hive_parse_lineage_spark.extra_queries import extra_oracle_sql
    from hive_parse_lineage_spark.pipeline_queries import pipeline_oracle_sql
    from hive_parse_lineage_spark.sources.loader import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    dtimes: dict[str, float] = {}
    allsql = {**extra_oracle_sql(), **corpus_oracle_sql(),
              **pipeline_oracle_sql(), **analytics_oracle_sql(),
              **audit_oracle_sql()}
    for stream_q in _STREAM_GATES:  # mirrors _bench_corpus
        allsql.pop(stream_q, None)
    for name, sql in sorted(allsql.items()):
        con.execute(sql).fetchdf()                           # warm-up
        t0 = time.perf_counter()
        con.execute(sql).fetchdf()
        dtimes[name] = round(time.perf_counter() - t0, 4)
    return dtimes, con, allsql


def _detail_path() -> str:
    """BENCH_DETAIL_r{N}.json next to bench.py, N = 1 + the highest
    committed BENCH_r{N}.json (the driver names its artifact per round;
    the detail file for the round in progress pairs with it).
    BENCH_DETAIL_PATH overrides."""
    override = os.environ.get("BENCH_DETAIL_PATH")
    if override:
        return override
    import glob
    import re
    here = os.path.dirname(os.path.abspath(__file__))
    ns = []
    for f in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f))
        if m:
            ns.append(int(m.group(1)))
    n = (max(ns) + 1) if ns else 0
    return os.path.join(here, f"BENCH_DETAIL_r{n:02d}.json")


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from hive_parse_lineage_spark.queries import DECLARED_QUERIES

    if "--scale-sweep" in sys.argv:
        scale_sweep()
        return
    if "--lineage" in sys.argv:
        lineage_bench()
        return
    if "--sf1-corpus" in sys.argv:
        sf1_corpus_bench()
        return
    if "--dedup-ladder" in sys.argv:
        dedup_ladder()
        return
    if "--ann-ladder" in sys.argv:
        ann_ladder()
        return
    if "--graph-skew" in sys.argv:
        graph_skew()
        return
    if "--graph-ladder" in sys.argv:
        graph_ladder()
        return
    if "--event-ladder" in sys.argv:
        event_ladder()
        return
    if "--retrieval-ladder" in sys.argv:
        retrieval_ladder()
        return
    if "--skew-sweep" in sys.argv:
        skew_sweep()
        return
    if "--floor-proof" in sys.argv:
        floor_proof()
        return
    if "--event-skew" in sys.argv:
        event_skew()
        return
    if "--retrieval-skew" in sys.argv:
        retrieval_skew()
        return
    if "--declared-scaling" in sys.argv:
        declared_scaling()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    engine = os.environ.get("BENCH_ENGINE", "spark")
    n_passes = int(os.environ.get("BENCH_PASSES", "3"))
    queries = dict(DECLARED_QUERIES)
    out: dict = {"unit": "sec", "sf": infer_sf(sf_dir), "passes": n_passes}
    detail: dict = {}

    if engine == "duckdb":
        times, pass_totals = bench_duckdb(sf_dir, queries, n_passes)
    elif engine == "stock":
        # same queries on an untuned (default-config) SparkSession — the
        # same-runtime-class comparator for the engine's tuned numbers
        times, pass_totals = bench_spark(sf_dir, queries, n_passes, tuned=False)
    else:
        from pyspark.sql import SparkSession

        times, pass_totals = bench_spark(sf_dir, queries, n_passes)
        if os.environ.get("BENCH_CORPUS", "1") != "0":
            ctimes, cfetch, ctrans = _bench_corpus(
                SparkSession.builder.getOrCreate(), sf_dir)
            out["corpus_total_wall"] = round(sum(ctimes.values()), 4)
            detail["corpus_queries"] = ctimes
            if ctrans:
                detail["corpus_fetch_transition"] = {
                    "note": ("r13 methodology change (guide §6): corpus "
                             "entries >5000 result rows now fetch via "
                             "Arrow toPandas like the declared surface; "
                             "collect_r12_method is the old py4j-collect "
                             "wall measured the same moment"),
                    "queries": ctrans}
        if os.environ.get("BENCH_STOCK", "1") != "0":
            # stock-Spark comparator from the SAME run: the host drifts
            # between rounds (r4's apparent regression was pure drift),
            # so tuned-vs-stock is only meaningful when both walls come
            # from one moment on one host. A subprocess gives stock the
            # same cold-JVM start the tuned pass had — reusing this
            # process's JVM would hand stock a warm codegen cache and
            # bias the comparison.
            import subprocess
            env = {**os.environ, "BENCH_ENGINE": "stock",
                   "SPARK_GRAFT_SF_DIR": sf_dir,
                   "BENCH_PASSES": str(n_passes)}
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, capture_output=True, text=True)
            try:
                stock = json.loads(proc.stdout.strip().splitlines()[-1])
                out["stock_total_wall"] = stock["value"]
                detail["stock_queries"] = stock["queries"]
            except (ValueError, IndexError, KeyError) as ex:
                out["stock_error"] = f"{type(ex).__name__}: {ex}"
        # publish the cross-engine ratio from the same run: DuckDB is a
        # different runtime class (embedded C++, no per-query scheduling
        # floor), so the honest report is both walls plus the ratio.
        duck_times, _ = bench_duckdb(sf_dir, queries, n_passes)
        duck_total = round(sum(duck_times.values()), 4)
        out["duckdb_total_wall"] = duck_total
        out["spark_total_wall"] = round(sum(times.values()), 4)
        if duck_total > 0:
            out["ratio"] = round(sum(times.values()) / duck_total, 2)
        detail["duckdb_queries"] = duck_times
        if "corpus_queries" in detail and os.environ.get(
                "BENCH_CORPUS", "1") != "0":
            dtimes, duck_con, duck_sql = _bench_corpus_duckdb(sf_dir)
            ctimes = detail["corpus_queries"]
            # The headline corpus_ratio is a mix artifact: most entries
            # are 1-3 s Spark walls against millisecond DuckDB scans
            # (pure per-query floor). The number the <=2x gate should be
            # read against is the WORK-DOMINATED subset — entries whose
            # DuckDB twin does real work (>0.2 s) — published here so
            # the summary is self-describing instead of derivable only
            # from the detail file.
            wd = [n for n in ctimes if dtimes.get(n, 0) > 0.2]
            # Pin run-to-run variance on the graded subset (r8 verdict:
            # single-pass walls made round-over-round deltas ±25%
            # noise): extra timed passes over the work-dominated
            # entries, each engine's per-entry wall = min across its
            # passes; per-pass subset totals published so drift is
            # visible, not inferred. DuckDB gets fewer passes by
            # default — embedded, no scheduler, far lower variance.
            cq_passes = int(os.environ.get("BENCH_CORPUS_PASSES", "3"))
            duck_passes = int(os.environ.get(
                "BENCH_CORPUS_DUCK_PASSES", "2"))
            if wd:
                allq = _corpus_query_map()
                wd_spark = [round(sum(ctimes[n] for n in wd), 4)]
                for _ in range(max(cq_passes - 1, 0)):
                    pw = 0.0
                    for n in wd:
                        t0 = time.perf_counter()
                        cfetch[n](allq[n](SparkSession.builder.getOrCreate(),
                                          sf_dir))
                        dt = time.perf_counter() - t0
                        pw += dt
                        ctimes[n] = round(min(ctimes[n], dt), 4)
                    wd_spark.append(round(pw, 4))
                wd_duck = [round(sum(dtimes[n] for n in wd), 4)]
                for _ in range(max(duck_passes - 1, 0)):
                    pw = 0.0
                    for n in wd:
                        t0 = time.perf_counter()
                        duck_con.execute(duck_sql[n]).fetchdf()
                        dt = time.perf_counter() - t0
                        pw += dt
                        dtimes[n] = round(min(dtimes[n], dt), 4)
                    wd_duck.append(round(pw, 4))
                out["work_dominated_pass_walls"] = {"spark": wd_spark,
                                                    "duckdb": wd_duck}
            out["corpus_total_wall"] = round(sum(ctimes.values()), 4)
            out["corpus_duckdb_wall"] = round(sum(dtimes.values()), 4)
            detail["corpus_duckdb_queries"] = dtimes
            detail["corpus_ratios"] = {
                n: (round(ctimes[n] / dtimes[n], 2)
                    if dtimes.get(n) else None)
                for n in ctimes}
            if out["corpus_duckdb_wall"] > 0:
                out["corpus_ratio"] = round(
                    out["corpus_total_wall"] / out["corpus_duckdb_wall"], 2)
            if wd:
                sw = sum(ctimes[n] for n in wd)
                dw = sum(dtimes[n] for n in wd)
                out["work_dominated_n"] = len(wd)
                out["work_dominated_spark_wall"] = round(sw, 4)
                out["work_dominated_duckdb_wall"] = round(dw, 4)
                out["work_dominated_ratio"] = round(sw / dw, 2)
                # Fixed-composition comparator (r9 verdict ask #6):
                # the >0.2 s membership rule reshuffles as entries are
                # added and twins drift across the threshold, which
                # conflated composition with performance in r8->r9
                # round-over-round reads. The frozen r8 subset (n=66)
                # is re-published every round so the like-for-like
                # delta is in the record, not re-derived.
                fixed = [n for n in R8_WD_COMPOSITION
                         if n in ctimes and dtimes.get(n)]
                fsw = sum(ctimes[n] for n in fixed)
                fdw = sum(dtimes[n] for n in fixed)
                out["work_dominated_r8_composition_n"] = len(fixed)
                out["work_dominated_r8_composition_ratio"] = (
                    round(fsw / fdw, 2) if fdw > 0 else None)

    total = round(sum(times.values()), 4)
    out.update({
        "metric": f"{engine}_total_wall",
        "value": total,
        "queries": times,
        "pass_totals": pass_totals,
    })
    if engine == "spark" and "ratio" in out:
        # self-describing caveat (judge r5 ask): the 43-query surface at
        # small SF measures Spark's ~0.1-0.2 s/query scheduling+py4j
        # floor against DuckDB's 1-40 ms scans, not plan quality —
        # corpus_ratio (seconds of real work per query) is the
        # meaningful cross-engine number at this scale
        out["ratio_note"] = (
            "43-query surface is scheduling-floor-dominated at small SF "
            "(41/43 queries sit on Spark's ~0.1-0.2s per-query floor); "
            "corpus_ratio is likewise a mix artifact (most corpus "
            "entries pay the floor against millisecond oracles) — read "
            "work_dominated_ratio (DuckDB twin >0.2s subset) against "
            "the <=2x gate, and stock_total_wall for the "
            "same-runtime-class comparison")
    if engine == "spark":
        detail["dissections"] = DECLARED_DISSECTIONS
    if detail:
        # per-query corpus/stock/duckdb maps (~200 keys) would push the
        # stdout line past the driver's capture (r4's record came back
        # parsed:null); the one printed line stays a compact summary
        # and the full breakdown goes to a committed detail file.
        path = _detail_path()
        with open(path, "w") as fh:
            json.dump({**out, **detail}, fh, indent=1, sort_keys=True)
        out["detail_file"] = os.path.basename(path)
    # One-line-JSON contract guard (r12 verdict ask #7): the driver
    # captures a bounded stdout TAIL (r11's 2290-char line came back
    # parsed:null at a 2000-char capture and cost the round its whole
    # PERF comparison). The printed line keeps the contract fields
    # (metric/value/unit/sf/queries) plus the headline rollups and
    # stays ~1.7k chars; the bulky extras (pass walls, per-subset
    # decompositions, the long ratio_note) live only in detail_file.
    slim_keys = ("metric", "value", "unit", "sf", "passes", "queries",
                 "pass_totals", "spark_total_wall", "stock_total_wall",
                 "duckdb_total_wall", "ratio", "corpus_total_wall",
                 "corpus_ratio", "work_dominated_n", "work_dominated_ratio",
                 "stock_error", "detail_file")
    slim = {k: out[k] for k in slim_keys if k in out}
    if "ratio_note" in out:
        slim["ratio_note"] = ("floor-dominated at small SF; read "
                              "work_dominated_ratio; full note in "
                              "detail_file")
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
