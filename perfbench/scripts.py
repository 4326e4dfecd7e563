"""Seeded SQL scripts for the lineage serving workload.

A script holds 1-6 statements over the benchmark's sf0.1 views and two
catalog target tables. About 70% of statements are SELECT shapes
(join, group-by/having, CTE, window, IN-subquery, ``SELECT *``,
union); about 30% are ``INSERT INTO`` or ``INSERT OVERWRITE ...
PARTITION``, which bind output columns through the catalog.

The scripts form a fixed pool, so their golden lineage bodies can be
recorded once; a run's seed draws the request stream from the pool.
"""

from __future__ import annotations

import random

POOL_SEED = 20_240_101
POOL_SIZE = 400

#: catalog target tables the INSERT shapes write to (one partitioned)
TARGET_DDL = (
    "CREATE TABLE IF NOT EXISTS default.bench_customer_rev "
    "(c_custkey BIGINT, c_name STRING, revenue DOUBLE, n_orders BIGINT) "
    "USING parquet",
    "CREATE TABLE IF NOT EXISTS default.bench_order_facts "
    "(o_orderkey BIGINT, o_custkey BIGINT, amount DOUBLE, priority STRING, "
    "ds STRING) USING parquet PARTITIONED BY (ds)",
)


def _select(r: random.Random) -> str:
    shape = r.randrange(7)
    status = r.choice("FOP")
    qty = r.randint(1, 49)
    bal = r.randint(0, 9000)
    if shape == 0:
        return (
            "SELECT c.c_name, n.n_name, o.o_totalprice, o.o_orderdate "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderstatus = '{status}' AND c.c_acctbal > {bal}")
    if shape == 1:
        return (
            "SELECT l_returnflag, l_linestatus, "
            "SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "AVG(l_quantity) AS avg_qty, COUNT(*) AS n "
            f"FROM lineitem WHERE l_quantity > {qty} "
            "GROUP BY l_returnflag, l_linestatus "
            f"HAVING COUNT(*) > {r.randint(1, 1000)}")
    if shape == 2:
        return (
            "WITH spend AS (SELECT o_custkey, SUM(o_totalprice) AS total, "
            "COUNT(*) AS n FROM orders "
            f"WHERE o_orderpriority <> '{r.choice(('1-URGENT', '5-LOW'))}' "
            "GROUP BY o_custkey) "
            "SELECT c.c_custkey, c.c_name, s.total, s.n "
            "FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey "
            f"WHERE s.total > {r.randint(1, 900) * 1000}")
    if shape == 3:
        return (
            "SELECT o_orderkey, o_custkey, o_totalprice, "
            "ROW_NUMBER() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC) AS rn, "
            "SUM(o_totalprice) OVER (PARTITION BY o_orderstatus) AS status_total "
            f"FROM orders WHERE o_orderstatus = '{status}'")
    if shape == 4:
        return (
            "SELECT p.p_name, p.p_brand, p.p_retailprice FROM part p "
            "WHERE p.p_partkey IN (SELECT l_partkey FROM lineitem "
            f"WHERE l_quantity > {qty} AND l_discount > 0.0{r.randint(1, 9)})")
    if shape == 5:
        table, col = r.choice((("supplier", "s_acctbal"),
                               ("customer", "c_acctbal"),
                               ("events", "value")))
        return f"SELECT * FROM {table} WHERE {col} > {bal}"
    return (
        "SELECT c_name AS name, c_acctbal AS balance, 'customer' AS kind "
        f"FROM customer WHERE c_acctbal > {bal} "
        "UNION ALL SELECT s_name, s_acctbal, 'supplier' FROM supplier "
        f"WHERE s_acctbal < {r.randint(0, 9000)}")


def _insert(r: random.Random) -> str:
    if r.random() < 0.5:
        return (
            "INSERT INTO bench_customer_rev "
            "SELECT c.c_custkey, c.c_name, "
            "SUM(l.l_extendedprice * (1 - l.l_discount)), "
            "COUNT(DISTINCT o.o_orderkey) "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            f"WHERE c.c_mktsegment = '{r.choice(('BUILDING', 'MACHINERY'))}' "
            "GROUP BY c.c_custkey, c.c_name")
    day = f"2024-01-{r.randint(1, 28):02d}"
    if r.random() < 0.5:
        return (
            f"INSERT OVERWRITE TABLE bench_order_facts PARTITION (ds='{day}') "
            "SELECT o_orderkey, o_custkey, o_totalprice * 1.1, o_orderpriority "
            f"FROM orders WHERE o_orderstatus = '{r.choice('FOP')}'")
    return (
        "INSERT OVERWRITE TABLE bench_order_facts PARTITION (ds) "
        "SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderpriority, "
        "CAST(CAST(o.o_orderdate AS DATE) AS STRING) "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE c.c_nationkey = {r.randint(0, 24)}")


def pool() -> list[str]:
    """The fixed script pool (same content on every call)."""
    r = random.Random(POOL_SEED)
    out = []
    for _ in range(POOL_SIZE):
        stmts = [_select(r) if r.random() < 0.7 else _insert(r)
                 for _ in range(r.randint(1, 6))]
        out.append(";\n".join(stmts) + ";")
    return out


def request_stream(seed: int, n: int) -> list[tuple[str, int]]:
    """``n`` requests as (endpoint, pool index): 70% /fetch, 30% /tables.

    Stratified by script length: every block of six requests holds one
    script of each length 1-6 in seeded order, so a short run sees the
    same statement mix whatever the seed."""
    scripts = pool()
    by_len: dict[int, list[int]] = {}
    for i, script in enumerate(scripts):
        by_len.setdefault(script.count(";"), []).append(i)
    r = random.Random(seed)
    out: list[tuple[str, int]] = []
    while len(out) < n:
        lengths = sorted(by_len)
        r.shuffle(lengths)
        out.extend(("/fetch" if r.random() < 0.7 else "/tables",
                    r.choice(by_len[k])) for k in lengths)
    return out[:n]
