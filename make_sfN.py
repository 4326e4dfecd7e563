#!/usr/bin/env python
"""Synthesize a larger-SF testdata directory by key-shifted replication.

Usage: python make_sfN.py [BASE_DIR] [OUT_DIR] [COPIES] [--skew]
                          [--stopword]
       (defaults: /root/testdata/sf0.1  /tmp/sf1.0  10)

Why this exists: the graded testdata tops out at sf0.1, where 41/43
declared queries sit on Spark's ~0.1-0.2 s per-query scheduling floor
and the DuckDB ratio measures py4j overhead, not plans
(BASELINE.md's floor decomposition). One floor-amortized bench pass
needs lineitem in the millions of rows; this script manufactures that
point from the committed data with the work content scaled exactly
``COPIES``x:

- region/nation are fixed dimensions — copied verbatim;
- every other table is replicated COPIES times with each copy's keys
  shifted by a copy-unique offset (offset = max(key)+1), preserving
  referential integrity copy-locally, so every join's fan-out per key
  is IDENTICAL to the base SF — aggregate work scales linearly, join
  selectivity doesn't drift;
- documents copies i>0 rewrite each token with an ``_{i}`` suffix
  (verbatim clones would give every doc
  COPIES exact duplicates and blow the near-dup pair count
  quadratically — no real corpus grows that way);
- embeddings keep their vectors (brute-force similarity work is
  row-linear either way) with shifted ids.

``--skew`` (r9 verdict ask #3) layers two deterministic hot spots on
top — uniform replication never stresses the hot-bucket caps or the
salting operators, this does:

- one BOILERPLATE FAMILY: every doc whose final doc_id % 20 == 7
  (~5% of the corpus) gets ONE identical 64-token blob as its text —
  the giant identical-text family that floods every LSH band bucket
  (the x72 cap's target) and the exact-dedup hash groups;
- one HOT EVENT USER: every event whose final event_id % 10 == 3
  (~10% of all events) is reassigned to user_id 777 — the skewed
  aggregation/join key x52/x70/x109 exist for.

Both rules key on the EXPANDED ids, so the skew mass is constant in
COPIES and the same rule reproduces the dirs bit-identically.

``--stopword`` (r11 verdict ask #4) appends ONE occurrence of the
token ``spark`` — deliberately an existing x88 BM25 / x189 PRF query
term, so the retrieval surface actually sees it — to every doc whose
final doc_id % 10 < 3 (~30% of the corpus). That makes one QUERY
token's document frequency ~30% of the corpus: the df aggregate gets
a hot key, x88's per-term rank window gets one giant 'spark'
partition, and x189's (tok, doc) score stream carries the fat posting
list — the stopword-skew failure mode the uniform synthesis never
exercises. Keys on the EXPANDED doc_id like --skew; composable with
it (the stopword CASE wraps the skew CASE).

Runs entirely in DuckDB and writes ONE parquet file per table so both
engines in bench.py read the exact same files (Spark directory-style
output would need globs on the DuckDB side).
"""

from __future__ import annotations

import os
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


#: The --skew boilerplate blob: 64 distinct tokens, long enough that
#: every shingle window the dedup entries use (k=2..10) sees it.
SKEW_BLOB = " ".join(f"boiler{j}" for j in range(64))


def main() -> None:
    args = [a for a in sys.argv[1:]
            if a not in ("--skew", "--stopword")]
    skew = "--skew" in sys.argv[1:]
    stopword = "--stopword" in sys.argv[1:]
    base = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else "/tmp/sf1.0"
    copies = int(args[2]) if len(args) > 2 else 10
    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{base}/{t}.parquet')")
    con.execute(f"CREATE TEMP TABLE copies AS "
                f"SELECT unnest(range({copies})) AS i")

    def k(table: str, col: str) -> int:
        return con.execute(
            f"SELECT COALESCE(MAX({col}), 0) + 1 FROM {table}").fetchone()[0]

    kc, ks, kp = k("customer", "c_custkey"), k("supplier", "s_suppkey"), \
        k("part", "p_partkey")
    ko, ke, ku = k("orders", "o_orderkey"), k("events", "event_id"), \
        k("events", "user_id")
    kd, kv = k("documents", "doc_id"), k("embeddings", "vec_id")

    sqls = {
        "region": "SELECT * FROM region",
        "nation": "SELECT * FROM nation",
        "customer": f"""
            SELECT c_custkey + i * {kc} AS c_custkey, c_name, c_nationkey,
                   c_acctbal, c_mktsegment
            FROM customer CROSS JOIN copies""",
        "supplier": f"""
            SELECT s_suppkey + i * {ks} AS s_suppkey, s_name, s_nationkey,
                   s_acctbal
            FROM supplier CROSS JOIN copies""",
        "part": f"""
            SELECT p_partkey + i * {kp} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM part CROSS JOIN copies""",
        "orders": f"""
            SELECT o_orderkey + i * {ko} AS o_orderkey,
                   o_custkey + i * {kc} AS o_custkey, o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM orders CROSS JOIN copies""",
        "lineitem": f"""
            SELECT l_orderkey + i * {ko} AS l_orderkey,
                   l_partkey + i * {kp} AS l_partkey,
                   l_suppkey + i * {ks} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM lineitem CROSS JOIN copies""",
        "events": f"""
            SELECT event_id + i * {ke} AS event_id, ts,
                   {"CASE WHEN (event_id + i * %d) %% 10 = 3 THEN 777 "
                    "ELSE user_id + i * %d END" % (ke, ku) if skew
                    else f"user_id + i * {ku}"} AS user_id,
                   event_type, value, props
            FROM events CROSS JOIN copies""",
        "documents": f"""
            SELECT doc_id + i * {kd} AS doc_id,
                   {{txt}} AS text, lang, source,
                   CAST(length({{txt}}) AS BIGINT) AS n_chars
            FROM documents CROSS JOIN copies""",
        "embeddings": f"""
            SELECT vec_id + i * {kv} AS vec_id, embedding, label
            FROM embeddings CROSS JOIN copies""",
    }
    base_txt = ("CASE WHEN i = 0 THEN text "
                "ELSE array_to_string(list_transform("
                "string_split(text, ' '), "
                "t -> t || '_' || CAST(i AS VARCHAR)), ' ') END")
    if skew:
        base_txt = (f"CASE WHEN (doc_id + i * {kd}) % 20 = 7 "
                    f"THEN '{SKEW_BLOB}' ELSE ({base_txt}) END")
    if stopword:
        base_txt = (f"CASE WHEN (doc_id + i * {kd}) % 10 < 3 "
                    f"THEN ({base_txt}) || ' spark' "
                    f"ELSE ({base_txt}) END")
    sqls["documents"] = sqls["documents"].replace("{txt}", base_txt)

    for t in TABLES:
        con.execute(f"COPY ({sqls[t]}) TO '{out}/{t}.parquet' "
                    f"(FORMAT PARQUET)")
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
