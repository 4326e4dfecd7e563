"""Golden lineage tests (SURVEY §5.2(2), FIXTURES.md §B).

Each case mirrors a reference AST-handler behavior (SURVEY §2a row
cited per test). Catalog tables are created in a temp warehouse.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException


@pytest.fixture(scope="module")
def lineage_tables(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS fact")
    spark.sql("""CREATE TABLE IF NOT EXISTS default.srcpart
        (ds STRING, hr STRING, userid BIGINT, clienttype STRING, datekey STRING)
        USING parquet""")
    spark.sql("""CREATE TABLE IF NOT EXISTS default.dest1
        (d_ds STRING, d_hr STRING, d_userid BIGINT, d_clienttype STRING, d_datekey STRING)
        USING parquet PARTITIONED BY (ds STRING)""")
    spark.sql("""CREATE TABLE IF NOT EXISTS default.detail_usersequence_client
        (orderid BIGINT, userid BIGINT, a STRING, b STRING, aaa STRING, bbb STRING)
        USING parquet""")
    spark.sql("""CREATE TABLE IF NOT EXISTS default.t1
        (col1 BIGINT, col2 BIGINT, c1 BIGINT, d STRING,
         m MAP<STRING, BIGINT>, arr ARRAY<BIGINT>) USING parquet""")
    spark.sql("""CREATE TABLE IF NOT EXISTS default.t2
        (col1 BIGINT, col2 BIGINT, c1 BIGINT) USING parquet""")
    spark.sql("CREATE TABLE IF NOT EXISTS fact.test (id BIGINT, v STRING) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS fact.test2 (id BIGINT, v STRING) USING parquet")
    yield
    spark.sql("USE default")


def lineage(spark, sql):
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    return extract_lineage(spark, sql)


def by_alias(lin):
    return {c["target_alias"]: c for c in lin.col_lines}


# --- #2 TOK_SWITCHDATABASE + #36 fillDB ---------------------------------
def test_use_db_qualification(spark, lineage_tables):
    lin = lineage(spark, "use fact; select id from test")
    assert lin.col_lines == [{
        "target_table": None, "target_column": None, "target_alias": "id",
        "sources": ["fact.test.id"], "conditions": [],
    }]
    assert lin.input_tables == {"fact.test"}


def test_use_is_scoped_to_its_script(spark, lineage_tables):
    """USE changes the session's database for the rest of its script
    only, also when a later statement fails."""
    lineage(spark, "use fact; select id from test")
    assert spark.catalog.currentDatabase() == "default"
    with pytest.raises(AnalysisException):
        lineage(spark, "use fact; select no_such_col from test")
    assert spark.catalog.currentDatabase() == "default"


def test_plan_json_reply_is_not_stalled(spark):
    """A new thread (so a new py4j connection) traces a statement whose
    analyzed plan JSON is over 8 KiB: the JVM end of its connection has
    TCP_NODELAY, the literal (emoji, CJK, backslashes, newlines) comes
    back intact in the COLFUN: condition, and a toJSON() reply on that
    thread takes well under the ~44 ms a Nagle stall costs."""
    from py4j.java_gateway import JavaObject

    from hive_parse_lineage_spark.plans.lineage import extract_lineage

    lit = "\U0001F600" * 2000 + "\\\n" * 1500 + "\u4e2d" * 2000
    sql = "SELECT '%s' AS s" % lit.replace("\\", "\\\\")

    def on_new_connection():
        lin = extract_lineage(spark, sql)
        client = spark.sparkContext._gateway._gateway_client
        nodelay = (JavaObject("GATEWAY_SERVER", client).getCallbackClient()
                   .getPerThreadConnection().getSocket().getTcpNoDelay())
        plan = spark.sql(sql)._jdf.queryExecution().analyzed()
        size = len(plan.toJSON().encode())
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            plan.toJSON()
            best = min(best, time.perf_counter() - t0)
        return lin, nodelay, size, best

    with ThreadPoolExecutor(1) as pool:
        lin, nodelay, size, best = pool.submit(on_new_connection).result(
            timeout=300)
    assert size > 8192
    assert nodelay
    assert lin.col_lines[0]["conditions"] == ["COLFUN:'%s'" % lit]
    assert best < 0.015, f"toJSON best of 5: {best * 1000:.1f} ms"


@pytest.fixture(scope="module")
def budget_targets(spark, tables):
    spark.sql("CREATE TABLE IF NOT EXISTS default.budget_rev "
              "(c_custkey BIGINT, c_name STRING, revenue DOUBLE) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS default.budget_facts "
              "(o_orderkey BIGINT, amount DOUBLE, priority STRING, ds STRING) "
              "USING parquet PARTITIONED BY (ds)")
    yield
    spark.sql("DROP TABLE IF EXISTS default.budget_rev")
    spark.sql("DROP TABLE IF EXISTS default.budget_facts")


#: (one-statement script, most py4j round trips its lineage may make)
_CALL_BUDGET = {
    "join": ("SELECT c.c_name, n.n_name, o.o_totalprice FROM customer c "
             "JOIN orders o ON c.c_custkey = o.o_custkey "
             "JOIN nation n ON c.c_nationkey = n.n_nationkey "
             "WHERE o.o_orderstatus = 'F' AND c.c_acctbal > 100", 6),
    "aggregate": ("SELECT l_returnflag, SUM(l_extendedprice) AS revenue "
                  "FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag "
                  "HAVING COUNT(*) > 1", 6),
    "window": ("SELECT o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey "
               "ORDER BY o_totalprice DESC) AS rn FROM orders", 6),
    "in_subquery": ("SELECT p_name FROM part WHERE p_partkey IN "
                    "(SELECT l_partkey FROM lineitem WHERE l_quantity > 5)", 6),
    "star": ("SELECT * FROM supplier WHERE s_acctbal > 100", 6),
    "cte": ("WITH spend AS (SELECT o_custkey, SUM(o_totalprice) AS total "
            "FROM orders GROUP BY o_custkey) SELECT c.c_name, s.total "
            "FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey", 9),
    "union_all": ("SELECT c_name AS name FROM customer WHERE c_acctbal > 0 "
                  "UNION ALL SELECT s_name FROM supplier", 9),
    "insert_into": ("INSERT INTO budget_rev SELECT c.c_custkey, c.c_name, "
                    "SUM(o.o_totalprice) FROM customer c JOIN orders o "
                    "ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey, "
                    "c.c_name", 20),
    "insert_static_partition": (
        "INSERT OVERWRITE TABLE budget_facts PARTITION (ds='2024-01-02') "
        "SELECT o_orderkey, o_totalprice * 1.1, o_orderpriority FROM orders",
        25),
    "insert_dynamic_partition": (
        "INSERT OVERWRITE TABLE budget_facts PARTITION (ds) "
        "SELECT o_orderkey, o_totalprice, o_orderpriority, "
        "CAST(o_orderdate AS STRING) FROM orders", 25),
}


@pytest.mark.parametrize("shape", sorted(_CALL_BUDGET))
def test_py4j_call_budget(spark, budget_targets, monkeypatch, shape):
    """py4j round trips made on the calling thread by one warm
    one-statement script, the script's database read included (object
    deletes run on py4j's finalizer thread and are not counted): each
    one costs the statement a JVM round trip."""
    from py4j.clientserver import ClientServerConnection

    from hive_parse_lineage_spark.plans.lineage import extract_lineage

    sql, budget = _CALL_BUDGET[shape]
    extract_lineage(spark, sql)  # handles, TCP_NODELAY flag
    me, calls = threading.get_ident(), []
    send = ClientServerConnection.send_command

    def counted(conn, command):
        if threading.get_ident() == me:
            calls.append(command.split("\n", 1)[0])
        return send(conn, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    lin = extract_lineage(spark, sql)
    monkeypatch.undo()
    assert lin.col_lines
    assert len(calls) <= budget, calls


# --- #5,#18,#19: the reference's own sample (LineParser.java:801-803) ---
def test_reference_sample_insert(spark, lineage_tables):
    sql = ("INSERT OVERWRITE TABLE dest1 PARTITION (ds='111') "
           "SELECT s.* FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1) s "
           "WHERE s.ds='2008-04-08' and s.hr='11'")
    lin = lineage(spark, sql)
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert st.output_tables == {"default.dest1"}
    assert st.input_tables == {"default.srcpart"}
    # s.* expands to the 5 srcpart columns, positionally bound to dest1's
    # 5 data columns (LineParser.java:143-152)
    assert [c.target_column for c in st.col_lines] == \
        ["d_ds", "d_hr", "d_userid", "d_clienttype", "d_datekey"]
    assert st.col_lines[2].sources == ["default.srcpart.userid"]
    conds = st.col_lines[0].conditions
    assert any(c.startswith("WHERE:") and "2008-04-08" in c for c in conds)


# --- #17 SELEXPR alias shapes + #29 FUNCTIONDI --------------------------
def test_selexpr_alias_and_count_distinct(spark, lineage_tables):
    sql = ("SELECT p.datekey AS datekey, count(distinct p.userid) AS buyer_count "
           "FROM srcpart p GROUP BY p.datekey")
    lin = lineage(spark, sql)
    cols = by_alias(lin)
    assert cols["datekey"]["sources"] == ["default.srcpart.datekey"]
    assert cols["buyer_count"]["sources"] == ["default.srcpart.userid"]
    assert any(c.startswith("COLFUN:") and "DISTINCT" in c.upper()
               for c in cols["buyer_count"]["conditions"])


# --- #31 CASE WHEN: sources from value branches -------------------------
def test_case_when_projection(spark, lineage_tables):
    sql = ("SELECT CASE WHEN s.userid > 5 THEN s.clienttype ELSE s.ds END AS bbbaaa "
           "FROM srcpart s")
    lin = lineage(spark, sql)
    c = by_alias(lin)["bbbaaa"]
    assert "default.srcpart.clienttype" in c["sources"]
    assert "default.srcpart.ds" in c["sources"]
    assert any(x.startswith("COLFUN:CASE WHEN") for x in c["conditions"])


# --- #15 join types → condition tags ------------------------------------
@pytest.mark.parametrize("kw,label", [
    ("JOIN", "JOIN"),
    ("LEFT JOIN", "LEFTOUTERJOIN"),
    ("RIGHT JOIN", "RIGHTOUTERJOIN"),
    ("FULL OUTER JOIN", "FULLOUTERJOIN"),
    ("LEFT SEMI JOIN", "LEFTSEMIJOIN"),
])
def test_join_condition_tags(spark, lineage_tables, kw, label):
    sql = (f"SELECT a.col1 FROM t1 a {kw} t2 b "
           "ON a.col2 = b.col2 AND a.c1 > 1")
    lin = lineage(spark, sql)
    c = by_alias(lin)["col1"]
    assert c["sources"] == ["default.t1.col1"]
    assert any(x.startswith(f"{label}:") for x in c["conditions"]), c["conditions"]
    assert lin.input_tables == {"default.t1", "default.t2"}


# --- #16 union positional merge, ALL sources (fixes ColLineParse bug) ---
def test_union_merge_all_sources(spark, lineage_tables):
    sql = "SELECT c1 FROM t1 UNION ALL SELECT col2 FROM t2"
    lin = lineage(spark, sql)
    c = by_alias(lin)["c1"]
    assert c["sources"] == ["default.t1.c1", "default.t2.col2"]


# --- #1,#14: multi-statement script, reused aliases ---------------------
def test_multi_statement_reused_aliases(spark, lineage_tables):
    sql = ("SELECT x.col1 FROM (SELECT col1 FROM t1) x; "
           "SELECT x.col1 FROM (SELECT col1 FROM t2) x")
    lin = lineage(spark, sql)
    assert len(lin.statements) == 2
    assert lin.statements[0].col_lines[0].sources == ["default.t1.col1"]
    assert lin.statements[1].col_lines[0].sources == ["default.t2.col1"]


# --- #30,#32-35: functions, IN, IS NOT NULL, subscripts -----------------
def test_function_projections(spark, lineage_tables):
    sql = ("SELECT nvl(col1, 0) AS a, concat(d, d) AS b, m['k'] AS c, "
           "arr[0] AS e, col1 in (1,2) AS f, c1 IS NOT NULL AS g FROM t1")
    lin = lineage(spark, sql)
    cols = by_alias(lin)
    assert cols["a"]["sources"] == ["default.t1.col1"]
    assert cols["b"]["sources"] == ["default.t1.d"]
    assert cols["c"]["sources"] == ["default.t1.m"]
    assert cols["e"]["sources"] == ["default.t1.arr"]
    assert cols["f"]["sources"] == ["default.t1.col1"]
    assert cols["g"]["sources"] == ["default.t1.c1"]
    for k in "abcefg":
        if k == "d":
            continue
        assert any(x.startswith("COLFUN:") for x in cols[k]["conditions"]), k


# --- #7-#12: DDL classification + output sets ---------------------------
def test_ctas(spark, lineage_tables):
    lin = lineage(spark, "CREATE TABLE xtab AS SELECT col1, c1 FROM t1")
    st = lin.statements[0]
    assert st.operation == "CREATETABLE"
    assert st.output_tables == {"default.xtab"}
    assert st.input_tables == {"default.t1"}
    assert st.col_lines[0].sources == ["default.t1.col1"]
    # never executed: the table must not exist
    assert not spark.catalog.tableExists("xtab")


def test_ddl_classification(spark, lineage_tables):
    cases = {
        "DROP TABLE t1": ("DROP", "default.t1"),
        "TRUNCATE TABLE t2": ("TRUNCATE", "default.t2"),
        "ALTER TABLE t1 ADD COLUMNS (zz STRING)": ("ALTER", "default.t1"),
        "ALTER TABLE t1 RENAME TO t1x": ("ALTER", "default.t1"),
    }
    for sql, (op, out) in cases.items():
        lin = lineage(spark, sql)
        st = lin.statements[0]
        assert st.operation == op, sql
        assert st.output_tables == {out}, sql
    assert spark.catalog.tableExists("t1")  # nothing executed


# --- #24 literal pruning (LineParser.java:513-525,758-761) --------------
def test_literal_pruning(spark, lineage_tables):
    lin = lineage(spark, "SELECT 1 AS one, 'lit' AS lit, col1 FROM t1")
    cols = by_alias(lin)
    assert cols["one"]["sources"] == []
    assert cols["lit"]["sources"] == []
    assert cols["col1"]["sources"] == ["default.t1.col1"]


# --- cross-db sources ---------------------------------------------------
def test_cross_db_join(spark, lineage_tables):
    sql = ("SELECT a.id, b.v FROM fact.test a JOIN fact.test2 b ON a.id = b.id")
    lin = lineage(spark, sql)
    cols = by_alias(lin)
    assert cols["id"]["sources"] == ["fact.test.id"]
    assert cols["v"]["sources"] == ["fact.test2.v"]
    assert lin.input_tables == {"fact.test", "fact.test2"}


# --- INSERT INTO with explicit query over temp views --------------------
def test_insert_from_tempview(spark, tables, lineage_tables):
    sql = "INSERT INTO dest1 PARTITION (ds='1') SELECT r_name, r_name, r_regionkey, r_name, r_name FROM region"
    lin = lineage(spark, sql)
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert st.col_lines[2].target_column == "d_userid"
    assert st.col_lines[2].sources == ["default.region.r_regionkey"]


# --- CTE, window, subquery-expression inputs ----------------------------
def test_cte_lineage(spark, tables, lineage_tables):
    lin = lineage(spark,
        "WITH top AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) "
        "SELECT c.c_name, t.n FROM customer c JOIN top t ON c.c_custkey = t.o_custkey")
    cols = by_alias(lin)
    assert cols["c_name"]["sources"] == ["default.customer.c_name"]
    assert {"default.customer", "default.orders"} <= lin.input_tables


def test_window_function_lineage(spark, tables, lineage_tables):
    lin = lineage(spark,
        "SELECT c_custkey, ROW_NUMBER() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal) AS rn FROM customer")
    cols = by_alias(lin)
    assert cols["rn"]["sources"] == \
        ["default.customer.c_acctbal", "default.customer.c_nationkey"]


def test_exists_subquery_registers_inputs(spark, tables, lineage_tables):
    lin = lineage(spark,
        "SELECT c_custkey FROM customer WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey)")
    assert lin.input_tables == {"default.customer", "default.orders"}
    assert any(c.startswith("WHERE:") for c in lin.col_lines[0]["conditions"])


def test_scalar_subquery_in_select_registers_inputs(spark, tables, lineage_tables):
    lin = lineage(spark,
        "SELECT (SELECT MAX(o_totalprice) FROM orders) AS mx, c_name FROM customer")
    assert lin.input_tables == {"default.customer", "default.orders"}
    # inner columns of a SELECT-list subquery are traced as sources
    # (reference subQueryMap, LineParser.java:534-549)
    cols = by_alias(lin)
    assert cols["mx"]["sources"] == ["default.orders.o_totalprice"]


def test_scalar_subquery_mixed_expression_sources(spark, tables, lineage_tables):
    lin = lineage(spark,
        "SELECT c_acctbal - (SELECT AVG(o_totalprice) FROM orders) AS diff "
        "FROM customer")
    cols = by_alias(lin)
    assert cols["diff"]["sources"] == \
        ["default.customer.c_acctbal", "default.orders.o_totalprice"]


def test_inner_where_scoped_to_subquery_columns(spark, tables, lineage_tables):
    """Per-query-context condition scoping (LineParser.java:243-261): a
    WHERE inside a derived table attaches only to columns derived from
    it, not to sibling columns of the outer query."""
    lin = lineage(spark,
        "SELECT c.c_name, d.total FROM customer c JOIN "
        "(SELECT o_custkey, SUM(o_totalprice) AS total FROM orders "
        " WHERE o_orderstatus = 'F' GROUP BY o_custkey) d "
        "ON c.c_custkey = d.o_custkey")
    cols = by_alias(lin)
    inner = [x for x in cols["total"]["conditions"]
             if x.startswith("WHERE:") and "o_orderstatus" in x]
    assert inner, cols["total"]["conditions"]
    assert not any("o_orderstatus" in x for x in cols["c_name"]["conditions"])
    # the join condition is outer-context: present on both columns
    for k in ("c_name", "total"):
        assert any(x.startswith("JOIN:") for x in cols[k]["conditions"]), k


def test_outer_where_applies_to_all_columns(spark, tables, lineage_tables):
    lin = lineage(spark,
        "SELECT c_name, c_acctbal FROM customer WHERE c_nationkey = 3")
    cols = by_alias(lin)
    for k in ("c_name", "c_acctbal"):
        assert any(x.startswith("WHERE:") for x in cols[k]["conditions"]), k


def test_cte_where_scoped_to_cte_columns(spark, tables, lineage_tables):
    lin = lineage(spark,
        "WITH f AS (SELECT o_custkey, o_totalprice FROM orders "
        "           WHERE o_orderstatus = 'F') "
        "SELECT c.c_name, f.o_totalprice FROM customer c "
        "JOIN f ON c.c_custkey = f.o_custkey")
    cols = by_alias(lin)
    assert any("o_orderstatus" in x for x in cols["o_totalprice"]["conditions"])
    assert not any("o_orderstatus" in x for x in cols["c_name"]["conditions"])


def test_view_expansion_two_level_chain(spark, tables, lineage_tables):
    """traverse_views=True walks view bodies recursively to base tables;
    the default keeps the reference's view-as-boundary behavior."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW v_lvl1 AS "
              "SELECT o_custkey, o_totalprice FROM orders "
              "WHERE o_orderstatus = 'F'")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW v_lvl2 AS "
              "SELECT o_custkey, SUM(o_totalprice) AS total FROM v_lvl1 "
              "GROUP BY o_custkey")
    try:
        sql = "SELECT o_custkey, total FROM v_lvl2"
        bound = {c["target_alias"]: c
                 for c in extract_lineage(spark, sql).col_lines}
        assert bound["total"]["sources"] == ["default.v_lvl2.total"]
        lin = extract_lineage(spark, sql, traverse_views=True)
        cols = {c["target_alias"]: c for c in lin.col_lines}
        assert cols["total"]["sources"] == ["default.orders.o_totalprice"]
        assert cols["o_custkey"]["sources"] == ["default.orders.o_custkey"]
        # the view body's WHERE is a view-context condition on its columns
        assert any("o_orderstatus" in x for x in cols["total"]["conditions"])
        assert {"default.orders", "default.v_lvl1", "default.v_lvl2"} \
            <= lin.input_tables
    finally:
        spark.sql("DROP VIEW IF EXISTS v_lvl2")
        spark.sql("DROP VIEW IF EXISTS v_lvl1")


def test_merge_into_classification(spark, lineage_tables):
    """MERGE INTO classifies as an upsert: target = output, every
    relation under USING = input; no execution, no analysis of the
    assignment lists (needs a transactional target)."""
    lin = lineage(spark,
        "MERGE INTO t1 USING (SELECT col1, col2 FROM t2) s "
        "ON t1.col1 = s.col1 "
        "WHEN MATCHED THEN UPDATE SET col2 = s.col2 "
        "WHEN NOT MATCHED THEN INSERT (col1, col2) VALUES (s.col1, s.col2)")
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert st.output_tables == {"default.t1"}
    assert st.input_tables == {"default.t2"}


def test_values_inline_table(spark, lineage_tables):
    lin = lineage(spark, "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, name)")
    assert [c["target_alias"] for c in lin.col_lines] == ["id", "name"]
    assert all(c["sources"] == [] for c in lin.col_lines)
    assert lin.input_tables == set()


def test_insert_with_column_list(spark, tables, lineage_tables):
    lin = lineage(spark,
        "INSERT INTO t2 (c1, col1) SELECT r_regionkey, r_regionkey + 1 FROM region")
    st = lin.statements[0]
    assert [c.target_column for c in st.col_lines] == ["c1", "col1"]
    assert st.col_lines[0].sources == ["default.region.r_regionkey"]
    assert st.col_lines[1].sources == ["default.region.r_regionkey"]


def test_multi_insert_lineage(spark, lineage_tables):
    """Hive-style multi-insert (reference: one TOK_QUERY with several
    TOK_INSERT children, LineParser.java:200-214): each branch binds
    its own target positionally; inputs/outputs merge."""
    lin = lineage(spark, """
        FROM fact.test
        INSERT INTO fact.test2 SELECT id, v
        INSERT INTO t2 (c1) SELECT id""")
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert lin.output_tables == {"fact.test2", "default.t2"}
    assert lin.input_tables == {"fact.test"}
    edges = {(c.target_table, c.target_column): c.sources
             for c in st.col_lines}
    assert edges[("fact.test2", "id")] == ["fact.test.id"]
    assert edges[("fact.test2", "v")] == ["fact.test.v"]
    assert edges[("default.t2", "c1")] == ["fact.test.id"]


def test_dynamic_partition_insert_binds_partition_column(spark, tables,
                                                         lineage_tables):
    """INSERT ... PARTITION (ds) SELECT ..., ds_expr: the trailing
    select expression binds to the dynamic partition column."""
    lin = lineage(spark, """
        INSERT INTO dest1 PARTITION (ds)
        SELECT r_name, r_name, r_regionkey, r_name, r_name, r_name
        FROM region""")
    st = lin.statements[0]
    assert [c.target_column for c in st.col_lines] == \
        ["d_ds", "d_hr", "d_userid", "d_clienttype", "d_datekey", "ds"]
    assert st.col_lines[5].sources == ["default.region.r_name"]


def test_lateral_view_explode_lineage(spark, lineage_tables):
    """LATERAL VIEW explode (reference #35 array access family):
    generated columns trace to the exploded source column."""
    lin = lineage(spark,
        "SELECT col1, c FROM t1 LATERAL VIEW explode(arr) x AS c")
    edges = {c.target_alias: c for c in lin.statements[0].col_lines}
    assert edges["c"].sources == ["default.t1.arr"]
    assert edges["col1"].sources == ["default.t1.col1"]


def test_insert_overwrite_directory_lineage(spark, lineage_tables):
    """INSERT OVERWRITE DIRECTORY: the path is the output, sources
    trace normally (no catalog to bind positionally against)."""
    lin = lineage(spark,
        "INSERT OVERWRITE DIRECTORY '/tmp/lineage_dir_test' USING parquet "
        "SELECT col1 FROM t1")
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert lin.output_tables == {"/tmp/lineage_dir_test"}
    assert st.col_lines[0].sources == ["default.t1.col1"]


def test_insert_by_name_binds_by_alias(spark, lineage_tables):
    """INSERT INTO t BY NAME: aliases bind to same-named target columns
    regardless of position (Spark-era extension)."""
    lin = lineage(spark,
        "INSERT INTO t2 BY NAME SELECT col2 AS c1, col1 FROM t1")
    edges = {c.target_column: c.sources for c in lin.statements[0].col_lines}
    assert edges["c1"] == ["default.t1.col2"]
    assert edges["col1"] == ["default.t1.col1"]


def test_alter_database_classification(spark, lineage_tables):
    """ALTER DATABASE (reference TOK_ALTERDATABASE_PROPERTIES): ALTER
    with the namespace itself as target, un-qualified."""
    lin = lineage(spark, "ALTER DATABASE default SET DBPROPERTIES ('k'='v')")
    st = lin.statements[0]
    assert st.operation == "ALTER"
    assert st.output_tables == {"default"}


def test_create_table_like_classification(spark, lineage_tables):
    """CREATE TABLE LIKE: CREATETABLE with the source as a schema-level
    input (reference DDL rows record tables + operation, no edges)."""
    lin = lineage(spark, "CREATE TABLE t2_like LIKE t2")
    st = lin.statements[0]
    assert st.operation == "CREATETABLE"
    assert st.input_tables == {"default.t2"}
    assert st.output_tables == {"default.t2_like"}
    assert st.col_lines == []


def test_cte_insert_lineage(spark, lineage_tables):
    """WITH ... INSERT: the CTE scope must wrap the insert's query so
    sources resolve through the CTE to base tables."""
    lin = lineage(spark, """
        WITH w AS (SELECT id FROM fact.test)
        INSERT INTO t2 (c1) SELECT id FROM w""")
    st = lin.statements[0]
    assert st.operation == "INSERT"
    assert lin.output_tables == {"default.t2"}
    assert st.col_lines[0].target_column == "c1"
    assert st.col_lines[0].sources == ["fact.test.id"]


def test_cte_multi_insert_lineage(spark, lineage_tables):
    lin = lineage(spark, """
        WITH w AS (SELECT id, v FROM fact.test)
        FROM w
        INSERT INTO fact.test2 SELECT id, v
        INSERT INTO t2 (c1) SELECT id""")
    st = lin.statements[0]
    assert lin.output_tables == {"fact.test2", "default.t2"}
    edges = {(c.target_table, c.target_column): c.sources
             for c in st.col_lines}
    assert edges[("fact.test2", "id")] == ["fact.test.id"]
    assert edges[("default.t2", "c1")] == ["fact.test.id"]


def test_create_view_lineage(spark, tables, lineage_tables):
    """CREATE VIEW body lineage — superset of the reference (which has
    no view handler; LineParser.java:319-321 covers only CREATETABLE)."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    lin = extract_lineage(
        spark, "CREATE VIEW v_lin_test AS SELECT n_name AS nm FROM nation")
    assert lin.output_tables == {"default.v_lin_test"}
    assert "default.nation" in lin.input_tables
    edges = lin.col_lines
    assert any(e["target_alias"] == "nm"
               and "default.nation.n_name" in e["sources"] for e in edges)
    assert lin.statements[0].operation == "CREATETABLE"


# --- Spark-era DML: UPDATE / DELETE (no reference analogue; companion
# to the MERGE classification, VERDICT r3 #4) ----------------------------
def test_delete_classification(spark, lineage_tables):
    lin = lineage(spark, "DELETE FROM t1 WHERE col1 = 5")
    st = lin.statements[0]
    assert st.operation == "DELETE"
    assert st.output_tables == {"default.t1"}
    assert st.input_tables == {"default.t1"}  # WHERE reads the target
    assert len(st.col_lines) == 1
    assert st.col_lines[0].target_table == "default.t1"
    assert any(c.startswith("WHERE:") and "5" in c
               for c in st.col_lines[0].conditions)


def test_delete_without_where(spark, lineage_tables):
    lin = lineage(spark, "DELETE FROM t1")
    st = lin.statements[0]
    assert st.operation == "DELETE"
    assert st.output_tables == {"default.t1"}
    assert st.col_lines == []  # TrueLiteral condition is not a WHERE tag


def test_update_classification(spark, lineage_tables):
    lin = lineage(spark,
                  "UPDATE t1 SET col1 = col2 + c1, d = 'x' WHERE c1 > 0")
    st = lin.statements[0]
    assert st.operation == "UPDATE"
    assert st.output_tables == {"default.t1"}
    assert st.input_tables == {"default.t1"}  # assignments read the target
    edges = {c.target_column: c for c in st.col_lines}
    assert sorted(edges) == ["col1", "d"]
    assert edges["col1"].sources == ["default.t1.c1", "default.t1.col2"]
    assert edges["d"].sources == []  # literal assignment: no source column
    assert any(c.startswith("WHERE:") for c in edges["col1"].conditions)


def test_mixed_static_dynamic_partition_insert(spark, tables, lineage_tables):
    """PARTITION (p1='a', p2): only the DYNAMIC column consumes the
    trailing select expression — a static/dynamic mix must not bind it
    to the first (static) partition column (ADVICE r3 finding)."""
    spark.sql("""CREATE TABLE IF NOT EXISTS default.dest_mix
        (val STRING) USING parquet PARTITIONED BY (p1 STRING, p2 STRING)""")
    try:
        lin = lineage(spark, """
            INSERT INTO dest_mix PARTITION (p1='a', p2)
            SELECT r_name, r_regionkey FROM region""")
        st = lin.statements[0]
        assert [c.target_column for c in st.col_lines] == ["val", "p2"]
        assert st.col_lines[1].sources == ["default.region.r_regionkey"]
    finally:
        spark.sql("DROP TABLE IF EXISTS default.dest_mix")


def test_hive_relation_json_output_derivation(spark):
    """HiveTableRelation serializes no 'output' in toJSON (it derives
    from dataCols ++ partitionCols); the JSON walk must read those
    fields — and must REFUSE (raise _JsonWalkError) rather than return
    silently-empty sources when no attributes are derivable."""
    import pytest as _pytest
    from hive_parse_lineage_spark.plans.lineage import _JsonWalkError, _Walker

    w = _Walker(spark)

    def attr(name, i):
        return [{"class": "x.AttributeReference", "num-children": 0,
                 "name": name, "exprId": {"id": i}}]

    rel = {"_cls": "HiveTableRelation", "_children": [],
           "tableMeta": {"identifier": {"table": "ht", "database": "db1"}},
           "dataCols": [attr("a", 1), attr("b", 2)],
           "partitionCols": [attr("p", 3)]}
    mapping, conds = w._walk_relation_json(rel)
    assert mapping == {1: {"db1.ht.a"}, 2: {"db1.ht.b"}, 3: {"db1.ht.p"}}
    assert "db1.ht" in w.input_tables

    bare = {"_cls": "HiveTableRelation", "_children": [],
            "tableMeta": {"identifier": {"table": "ht2", "database": "db1"}}}
    with _pytest.raises(_JsonWalkError):
        w._walk_relation_json(bare)


def test_split_statements_quote_and_comment_aware():
    """Semicolons inside string literals, backticked identifiers, and
    comments must not split (the reference's unescaped-; split does —
    a deliberate behavior fix, like the union-overwrite bug)."""
    from hive_parse_lineage_spark.plans.lineage import split_statements
    assert split_statements("SELECT ';' AS s FROM t; SELECT 1") == \
        ["SELECT ';' AS s FROM t", "SELECT 1"]
    assert split_statements("SELECT 'it''s; fine' FROM t") == \
        ["SELECT 'it''s; fine' FROM t"]
    assert split_statements('SELECT ";" FROM `a;b`; SELECT 2') == \
        ['SELECT ";" FROM `a;b`', "SELECT 2"]
    assert split_statements(
        "SELECT 1 -- trailing; comment\n; SELECT 2") == \
        ["SELECT 1 -- trailing; comment", "SELECT 2"]
    assert split_statements("SELECT /* a;b */ 1; SELECT 2") == \
        ["SELECT /* a;b */ 1", "SELECT 2"]
    assert split_statements("SELECT '\\'; x' FROM t") == \
        ["SELECT '\\'; x' FROM t"]


def test_lateral_join_lineage(spark, tables, lineage_tables):
    """LATERAL derived-table columns trace to their base tables (the
    lateral plan hangs off the join's `right` expression, not a child)."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql = ("SELECT c.c_custkey, o.o_orderkey FROM customer c, LATERAL ("
           "SELECT o_orderkey FROM orders WHERE o_custkey = c.c_custkey "
           "LIMIT 2) o")
    lin = extract_lineage(spark, sql)
    edges = [(e["target_alias"], e["sources"]) for e in lin.col_lines]
    assert ("o_orderkey", ["default.orders.o_orderkey"]) in edges, edges
    assert lin.input_tables >= {"default.customer", "default.orders"}


@pytest.mark.parametrize("traverse_views", [False, True])
def test_file_scan_lineage_matches_temp_views(spark, tables, sf_dir,
                                              traverse_views):
    """A direct file scan (parquet.`path`) carries no catalog identity
    in the plan JSON; it is named default.<file basename>, so it gives
    the same lineage as the same query over temp views built from those
    files — including the file read inside the IN-subquery."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    tables["region"].createOrReplaceTempView("region")
    tables["nation"].createOrReplaceTempView("nation")
    query = ("SELECT r_name, r_regionkey FROM {r} WHERE r_regionkey IN "
             "(SELECT n_regionkey FROM {n})")
    files = query.format(r=f"parquet.`{sf_dir}/region.parquet`",
                         n=f"parquet.`{sf_dir}/nation.parquet`")
    views = query.format(r="region", n="nation")
    got = extract_lineage(spark, files, traverse_views=traverse_views)
    want = extract_lineage(spark, views, traverse_views=traverse_views)
    assert got.col_lines == want.col_lines
    assert got.input_tables == want.input_tables \
        == {"default.region", "default.nation"}
    assert by_alias(got)["r_name"]["sources"] == ["default.region.r_name"]


def test_file_backed_temp_view_stays_boundary(spark, sf_dir):
    """With traverse_views=True, a DataFrame temp view whose name
    differs from its file is still a boundary under its own name: its
    body bottoms out at an identity-less file scan, and the view name
    is the better identity than the file basename."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    spark.read.parquet(f"{sf_dir}/region.parquet") \
        .createOrReplaceTempView("region_df")
    try:
        lin = extract_lineage(
            spark, "SELECT r_name FROM region_df WHERE r_regionkey > 0",
            traverse_views=True)
        assert lin.input_tables == {"default.region_df"}
        assert [(e["target_alias"], e["sources"]) for e in lin.col_lines] \
            == [("r_name", ["default.region_df.r_name"])]
    finally:
        spark.catalog.dropTempView("region_df")


def test_split_statements_backslash_escape_parity():
    """Reference parity kept: a backslash-escaped TOP-LEVEL semicolon
    does not split (LineParser.java:85); a trailing in-quote backslash
    passes through unduplicated."""
    from hive_parse_lineage_spark.plans.lineage import split_statements
    assert split_statements(r"SELECT a \; b; SELECT 2") == \
        [r"SELECT a \; b", "SELECT 2"]
    assert split_statements("SELECT 'x\\") == ["SELECT 'x\\"]


def test_mapjoin_hint_transparent_to_lineage(spark, lineage_tables):
    """Hive's /*+ MAPJOIN(t) */ hint (reference TOK_MAPJOIN,
    LineParser.java:286 — the reference skips over it too): Spark
    resolves it to a broadcast-join hint; lineage must see straight
    through to the same sources and conditions as the unhinted query."""
    hinted = ("SELECT /*+ MAPJOIN(b) */ a.col1, b.c1 "
              "FROM t1 a JOIN t2 b ON a.col2 = b.col2")
    plain = ("SELECT a.col1, b.c1 "
             "FROM t1 a JOIN t2 b ON a.col2 = b.col2")
    lh, lp = lineage(spark, hinted), lineage(spark, plain)
    assert lh.input_tables == lp.input_tables == {"default.t1", "default.t2"}
    assert by_alias(lh)["col1"]["sources"] == ["default.t1.col1"]
    assert by_alias(lh)["c1"]["sources"] == ["default.t2.c1"]
    assert [c["sources"] for c in lh.col_lines] == \
        [c["sources"] for c in lp.col_lines]


def test_uniquejoin_documented_unsupported(spark, lineage_tables):
    """SURVEY §2a row 15 / reference TOK_UNIQUEJOIN
    (LineParser.java:281-293): Spark has no UNIQUE JOIN analogue, so
    non-implementation is correct — but the engine must say so with
    the documented diagnostic, not a generic parse error, on BOTH the
    lineage and the execution path. Quoted/commented occurrences must
    NOT trigger it."""
    import pytest

    from hive_parse_lineage_spark.engine import Engine
    from hive_parse_lineage_spark.plans.lineage import (
        UniqueJoinUnsupportedError, extract_lineage)

    uj = ("SELECT a.col1 FROM UNIQUEJOIN PRESERVE t1 a (a.col2), "
          "PRESERVE t2 b (b.col2)")
    with pytest.raises(UniqueJoinUnsupportedError, match="FULL OUTER"):
        extract_lineage(spark, uj)
    eng = Engine(spark, register_tables=False)
    with pytest.raises(UniqueJoinUnsupportedError,
                       match="LineParser.java:281-293"):
        eng.run(uj)
    with pytest.raises(UniqueJoinUnsupportedError):
        eng.run_script("SELECT 1; " + uj + "; SELECT 2")

    # the keyword inside literals/comments/backticks is NOT the syntax
    ok = ("SELECT 'UNIQUEJOIN' AS s, col1 AS `uniquejoin` "
          "-- uniquejoin here too\n FROM t1")
    got = extract_lineage(spark, ok)
    assert got.input_tables == {"default.t1"}
