"""Property-based lineage invariants (SURVEY §5.2(3)):
- every emitted source column exists in an input table's schema;
- edge count equals the statement's output arity;
- lineage is stable under alias renaming (table and column aliases).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

SCHEMAS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
}

tables_st = st.sampled_from(sorted(SCHEMAS))


@st.composite
def simple_query(draw):
    table = draw(tables_st)
    cols = draw(st.lists(st.sampled_from(SCHEMAS[table]), min_size=1,
                         max_size=4, unique=True))
    aliased = [(c, draw(st.booleans())) for c in cols]
    sel = ", ".join(f"{c} AS a_{i}" if use_alias else c
                    for i, (c, use_alias) in enumerate(aliased))
    where_col = draw(st.sampled_from(SCHEMAS[table]))
    use_where = draw(st.booleans())
    sql = f"SELECT {sel} FROM {table}"
    if use_where:
        sql += f" WHERE {where_col} IS NOT NULL"
    return table, cols, sql


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=simple_query())
def test_projection_lineage_invariants(spark, tables, q):
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    table, cols, sql = q
    lin = extract_lineage(spark, sql)
    edges = lin.col_lines
    # arity: one edge per select expression
    assert len(edges) == len(cols)
    # every source exists in the (single) input table's schema
    assert lin.input_tables == {f"default.{table}"}
    for e, c in zip(edges, cols):
        assert e["sources"] == [f"default.{table}.{c}"]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(t1=tables_st, t2=tables_st, alias=st.sampled_from(["x", "yy", "zzz"]))
def test_alias_renaming_stability(spark, tables, t1, t2, alias):
    """Renaming a table alias must not change the emitted sources."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    c1, c2 = SCHEMAS[t1][0], SCHEMAS[t2][0]
    base = extract_lineage(
        spark, f"SELECT a.{c1} AS u, b.{c2} AS v FROM {t1} a JOIN {t2} b "
               f"ON a.{c1} = b.{c2}")
    renamed = extract_lineage(
        spark, f"SELECT {alias}.{c1} AS u, b.{c2} AS v FROM {t1} {alias} "
               f"JOIN {t2} b ON {alias}.{c1} = b.{c2}")
    strip = lambda lin: [(e["target_alias"], e["sources"]) for e in lin.col_lines]
    assert strip(base) == strip(renamed)
    assert base.input_tables == renamed.input_tables


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(t=tables_st)
def test_subquery_wrap_transparency(spark, tables, t):
    """SELECT * over a derived table emits the same sources as the
    direct projection."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    cols = SCHEMAS[t][:2]
    sel = ", ".join(cols)
    direct = extract_lineage(spark, f"SELECT {sel} FROM {t}")
    wrapped = extract_lineage(
        spark, f"SELECT * FROM (SELECT {sel} FROM {t}) sub")
    assert [e["sources"] for e in direct.col_lines] == \
        [e["sources"] for e in wrapped.col_lines]


@st.composite
def richer_query(draw):
    """(sql, expected edges, expected input tables) for seven query
    shapes. An edge is (alias, sources, condition tags); the tag is the
    WHERE:/JOIN:/COLFUN: label, the rendered condition text is pinned
    by the golden tests instead."""
    t1 = draw(tables_st)
    t2 = draw(tables_st.filter(lambda t: t != t1))
    c1, c2, g = SCHEMAS[t1][0], SCHEMAS[t2][0], SCHEMAS[t1][-1]
    a1, a2, ag = f"default.{t1}.{c1}", f"default.{t2}.{c2}", f"default.{t1}.{g}"
    both = {f"default.{t1}", f"default.{t2}"}
    shape = draw(st.sampled_from(["join", "agg", "subquery", "union",
                                  "window", "rollup", "derived"]))
    if shape == "join":
        return (f"SELECT a.{c1} AS u, b.{c2} AS v FROM {t1} a "
                f"JOIN {t2} b ON a.{c1} = b.{c2} WHERE a.{c1} > 0",
                [("u", [a1], ["JOIN", "WHERE"]),
                 ("v", [a2], ["JOIN", "WHERE"])], both)
    if shape == "agg":
        return (f"SELECT {g}, count(*) AS n, max({c1}) AS mx "
                f"FROM {t1} GROUP BY {g} HAVING count(*) > 1",
                [(g, [ag], ["WHERE"]), ("n", [], ["COLFUN", "WHERE"]),
                 ("mx", [a1], ["COLFUN", "WHERE"])], {f"default.{t1}"})
    if shape == "subquery":
        return (f"SELECT {c1}, (SELECT max({c2}) FROM {t2}) AS m "
                f"FROM {t1} WHERE {c1} IN (SELECT {c2} FROM {t2})",
                [(c1, [a1], ["WHERE"]), ("m", [a2], ["COLFUN", "WHERE"])],
                both)
    if shape == "window":
        return (f"SELECT {c1}, ROW_NUMBER() OVER (PARTITION BY {g} "
                f"ORDER BY {c1}) AS rn FROM {t1}",
                [(c1, [a1], []), ("rn", sorted([a1, ag]), [])],
                {f"default.{t1}"})
    if shape == "rollup":
        return (f"SELECT {g}, count(*) AS n FROM {t1} "
                f"GROUP BY ROLLUP({g})",
                [(g, [ag], []), ("n", [], ["COLFUN"])], {f"default.{t1}"})
    if shape == "derived":
        return (f"SELECT k + 1 AS k1 FROM "
                f"(SELECT {c1} AS k FROM {t1} WHERE {c1} > 0) d",
                [("k1", [a1], ["COLFUN", "WHERE"])], {f"default.{t1}"})
    return (f"SELECT {c1} AS k FROM {t1} UNION ALL "
            f"SELECT {c2} AS k FROM {t2}",
            [("k", sorted([a1, a2]), [])], both)


# Type-class split of SCHEMAS: UNION branches must pair columns from
# the SAME class — Spark (ANSI) rejects e.g. BIGINT vs TIMESTAMP with
# INCOMPATIBLE_COLUMN_TYPE, and lineage now surfaces that engine error
# (a fuzz catch: the walker used to KeyError on the half-resolved
# plan). o_orderdate is deliberately absent: timestamps union with
# nothing else here.
NUM_COLS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey", "c_acctbal"],
    "supplier": ["s_suppkey", "s_nationkey", "s_acctbal"],
    "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
}
STR_COLS = {
    "region": ["r_name"],
    "nation": ["n_name"],
    "customer": ["c_name", "c_mktsegment"],
    "supplier": ["s_name"],
    "orders": ["o_orderstatus", "o_orderpriority"],
}


@st.composite
def nested_union_query(draw):
    """UNION-in-subquery × CTE × star-expansion, up to 3 wrapper
    levels (r8 verdict ask #9): the reference's union merge
    (LineParser.java:205-222) is its subtlest behavior — per output
    column, sources must be the UNION of both branches' columns, and
    that merge must survive any stack of CTE / derived-table /
    SELECT-* wrappers. Returns (sql, expected sources per output
    column, expected input tables)."""
    t1 = draw(tables_st)
    t2 = draw(tables_st.filter(lambda t: t != t1))
    cls = NUM_COLS if draw(st.booleans()) else STR_COLS
    a1 = draw(st.sampled_from(cls[t1]))
    b1 = draw(st.sampled_from(cls[t2]))
    a2, b2 = SCHEMAS[t1][0], SCHEMAS[t2][0]  # both integer keys
    wa = f" WHERE {a1} IS NOT NULL" if draw(st.booleans()) else ""
    wb = f" WHERE {b1} IS NOT NULL" if draw(st.booleans()) else ""
    setop = draw(st.sampled_from(["UNION ALL", "UNION"]))
    union = (f"SELECT {a1} AS k, {a2} AS v FROM {t1}{wa} {setop} "
             f"SELECT {b1} AS k, {b2} AS v FROM {t2}{wb}")
    expected = {
        "k": {f"default.{t1}.{a1}", f"default.{t2}.{b1}"},
        "v": {f"default.{t1}.{a2}", f"default.{t2}.{b2}"},
    }
    # wrapper level 1: CTE or derived table, star or explicit or
    # re-aliased projection
    style = draw(st.sampled_from(["star", "explicit", "realias"]))
    sel = {"star": "*", "explicit": "k, v",
           "realias": "k AS k, v AS v"}[style]
    if draw(st.booleans()):
        sql = f"WITH w AS ({union}) SELECT {sel} FROM w"
    else:
        sql = f"SELECT {sel} FROM ({union}) d"
    # wrapper level 2: optional extra SELECT-* shell (3-level nesting)
    if draw(st.booleans()):
        if draw(st.booleans()):
            sql = f"WITH z AS ({sql}) SELECT * FROM z"
        else:
            sql = f"SELECT * FROM ({sql}) z"
    return sql, expected, {f"default.{t1}", f"default.{t2}"}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=nested_union_query())
def test_union_merge_survives_nesting(spark, tables, q):
    """Per output column, sources = both union branches' columns,
    invariant under CTE/derived/star wrappers."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, expected, in_tables = q
    lin = extract_lineage(spark, sql)
    edges = [(e["target_alias"], sorted(e["sources"]))
             for e in lin.col_lines]
    inputs = lin.input_tables
    assert inputs == in_tables
    assert [a for a, _ in edges] == ["k", "v"]
    for alias, sources in edges:
        assert set(sources) == expected[alias], (sql, alias, sources)


def test_incompatible_union_surfaces_engine_error(spark, tables):
    """A UNION the engine itself rejects (BIGINT vs TIMESTAMP) must
    raise the engine's AnalysisException from lineage too. Before the
    r9 fix, analyzer.execute() returned a half-resolved plan and the
    walk crashed downstream (KeyError 'exprId' on an UnresolvedStar)."""
    import pytest

    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql = ("SELECT * FROM (SELECT c_custkey AS k FROM customer "
           "UNION ALL SELECT o_orderdate AS k FROM orders) d")
    with pytest.raises(Exception, match="(?i)compatible"):
        extract_lineage(spark, sql)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=richer_query())
def test_richer_query_shapes(spark, tables, q):
    """Join, aggregate, subquery, union, window, rollup and derived
    shapes each emit their expected sources, aliases, input tables and
    condition tags."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, expected, inputs = q
    lin = extract_lineage(spark, sql)
    got = [(e["target_alias"], e["sources"],
            sorted({c.split(":", 1)[0] for c in e["conditions"]}))
           for e in lin.col_lines]
    assert got == expected, sql
    assert lin.input_tables == inputs, sql
    assert lin.output_tables == set(), sql


# --- INSERT / CTAS over the same shape grammar (r9 verdict ask #5) ------
#
# The reference's subtlest OUTPUT behavior is the positional bind of
# select expressions onto the target's physical columns
# (LineParser.java:120-155); the walker mirrors it (plus the Spark-era
# user-column-list override). Until now only golden-tested — this
# draws it property-style over the union/CTE shape grammar above.

import pytest


@pytest.fixture(scope="module")
def insert_target(spark):
    spark.sql("DROP TABLE IF EXISTS default.pt_ins2")
    spark.sql("CREATE TABLE default.pt_ins2 (tk DOUBLE, tv BIGINT) "
              "USING parquet")
    yield "pt_ins2"
    spark.sql("DROP TABLE IF EXISTS default.pt_ins2")


@st.composite
def write_query(draw):
    """(sql, kind, expected sources per POSITION, expected inputs).

    Body shapes: plain projection, 2-branch union, either optionally
    CTE/derived-wrapped — the nested_union_query grammar restricted to
    numeric columns so the INSERT's positional bind onto (tk DOUBLE,
    tv BIGINT) analyzes under ANSI store assignment."""
    t1 = draw(tables_st)
    a1 = draw(st.sampled_from(NUM_COLS[t1]))
    a2 = SCHEMAS[t1][0]
    use_union = draw(st.booleans())
    if use_union:
        t2 = draw(tables_st.filter(lambda t: t != t1))
        b1 = draw(st.sampled_from(NUM_COLS[t2]))
        b2 = SCHEMAS[t2][0]
        wa = f" WHERE {a1} IS NOT NULL" if draw(st.booleans()) else ""
        body = (f"SELECT {a1} AS k, {a2} AS v FROM {t1}{wa} UNION ALL "
                f"SELECT {b1} AS k, {b2} AS v FROM {t2}")
        expected = [{f"default.{t1}.{a1}", f"default.{t2}.{b1}"},
                    {f"default.{t1}.{a2}", f"default.{t2}.{b2}"}]
        inputs = {f"default.{t1}", f"default.{t2}"}
    else:
        body = f"SELECT {a1} AS k, {a2} AS v FROM {t1}"
        expected = [{f"default.{t1}.{a1}"}, {f"default.{t1}.{a2}"}]
        inputs = {f"default.{t1}"}
    if draw(st.booleans()):
        body = (f"WITH w AS ({body}) SELECT * FROM w"
                if draw(st.booleans())
                else f"SELECT * FROM ({body}) d")
    kind = draw(st.sampled_from(["insert", "insert_cols", "ctas"]))
    if kind == "insert":
        sql = f"INSERT INTO pt_ins2 {body}"
    elif kind == "insert_cols":
        # user column list REVERSES the positional order: 1st select
        # expression (k) binds to tv, 2nd (v) binds to tk
        sql = f"INSERT INTO pt_ins2 (tv, tk) {body}"
    else:
        sql = f"CREATE TABLE ctas_prop AS {body}"
    return sql, kind, expected, inputs


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=write_query())
def test_insert_ctas_positional_binding(spark, tables, insert_target,
                                        q):
    """Per-POSITION sources survive the INSERT/CTAS wrapper; the
    target column is the catalog's positional bind (or the user list's
    override, or the alias for CTAS); output/input table sets are
    right."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, kind, expected, inputs = q

    st_ = extract_lineage(spark, sql).statements[0]
    edges = [(c.target_table, c.target_column, c.target_alias,
              sorted(c.sources)) for c in st_.col_lines]
    op, in_tables, out_tables = (st_.operation, st_.input_tables,
                                 st_.output_tables)
    assert in_tables == inputs, sql
    assert len(edges) == 2, sql
    for (tbl, tcol, alias, sources), want in zip(edges, expected):
        assert set(sources) == want, (sql, alias, sources)
    aliases = [e[2] for e in edges]
    assert aliases == ["k", "v"], sql
    if kind == "insert":
        assert op == "INSERT"
        assert out_tables == {"default.pt_ins2"}
        assert [e[1] for e in edges] == ["tk", "tv"], sql
    elif kind == "insert_cols":
        assert op == "INSERT"
        assert out_tables == {"default.pt_ins2"}
        assert [e[1] for e in edges] == ["tv", "tk"], sql
    else:
        assert op == "CREATETABLE"
        assert out_tables == {"default.ctas_prop"}
        # CTAS: target columns ARE the select aliases (the table does
        # not exist yet; reference binds nothing, LineParser take)
        assert [e[1] for e in edges] == ["k", "v"], sql
    assert all(e[0] in out_tables for e in edges), sql


@st.composite
def multi_insert_query(draw):
    """Hive-style multi-insert: one FROM source, two INSERT branches
    (the reference's one-TOK_QUERY / many-TOK_INSERT shape,
    LineParser.java:200-214). Branch 1 targets pt_ins2 positionally
    with numeric (k, v); branch 2 targets it with a user column list
    over a single expression. Returns (sql, expected per-branch
    (target_column, sources))."""
    t1 = draw(tables_st)
    a1 = draw(st.sampled_from(NUM_COLS[t1]))
    a2 = SCHEMAS[t1][0]
    b1 = draw(st.sampled_from(NUM_COLS[t1]))
    wa = f" WHERE {a1} IS NOT NULL" if draw(st.booleans()) else ""
    sql = (f"FROM {t1} "
           f"INSERT INTO pt_ins2 SELECT {a1} AS k, {a2} AS v{wa} "
           f"INSERT INTO pt_ins2 (tv) SELECT {b1} AS m")
    expected = [
        ("tk", {f"default.{t1}.{a1}"}),
        ("tv", {f"default.{t1}.{a2}"}),
        ("tv", {f"default.{t1}.{b1}"}),
    ]
    return sql, expected, {f"default.{t1}"}


@pytest.fixture(scope="module")
def insert_targets_2(spark):
    """Second distinct-schema target + a partitioned target for the
    r10 verdict ask #8 fuzzes (differing multi-insert targets;
    dynamic-partition INSERT)."""
    spark.sql("DROP TABLE IF EXISTS default.pt_ins3")
    spark.sql("DROP TABLE IF EXISTS default.pt_dyn")
    spark.sql("CREATE TABLE default.pt_ins3 (sv BIGINT) USING parquet")
    spark.sql("CREATE TABLE default.pt_dyn (val DOUBLE) USING parquet "
              "PARTITIONED BY (pc STRING)")
    yield
    spark.sql("DROP TABLE IF EXISTS default.pt_ins3")
    spark.sql("DROP TABLE IF EXISTS default.pt_dyn")


@st.composite
def multi_insert_two_targets_query(draw):
    """Multi-insert whose branches write DIFFERENT tables — the
    reference binds a per-branch TOK_TAB target
    (LineParser.java:343-345); the r10 fuzz fixed both branches on
    pt_ins2, so a walker that reused branch 1's target for branch 2
    would still have passed. Branch order is drawn too, so neither
    target is always first."""
    t1 = draw(tables_st)
    a1 = draw(st.sampled_from(NUM_COLS[t1]))
    a2 = SCHEMAS[t1][0]
    b1 = draw(st.sampled_from(NUM_COLS[t1]))
    wa = f" WHERE {a1} IS NOT NULL" if draw(st.booleans()) else ""
    br_a = (f"INSERT INTO pt_ins2 SELECT {a1} AS k, {a2} AS v{wa}",
            [("default.pt_ins2", "tk", "k", {f"default.{t1}.{a1}"}),
             ("default.pt_ins2", "tv", "v", {f"default.{t1}.{a2}"})])
    br_b = (f"INSERT INTO pt_ins3 SELECT {b1} AS m",
            [("default.pt_ins3", "sv", "m", {f"default.{t1}.{b1}"})])
    branches = [br_a, br_b]
    if draw(st.booleans()):
        branches.reverse()
    sql = f"FROM {t1} " + " ".join(b[0] for b in branches)
    expected = [e for b in branches for e in b[1]]
    return sql, expected, {f"default.{t1}"}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=multi_insert_two_targets_query())
def test_multi_insert_distinct_targets(spark, tables, insert_target,
                                       insert_targets_2, q):
    """Each branch's edges carry THAT branch's target table; the
    statement's output set is the union of both targets."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, expected, inputs = q

    st_ = extract_lineage(spark, sql).statements[0]
    edges = [(c.target_table, c.target_column, c.target_alias,
              sorted(c.sources)) for c in st_.col_lines]
    op, in_tables, out_tables = (st_.operation, st_.input_tables,
                                 st_.output_tables)
    assert op == "INSERT"
    assert in_tables == inputs, sql
    assert out_tables == {"default.pt_ins2", "default.pt_ins3"}, sql
    assert len(edges) == len(expected), (sql, edges)
    for got, (tbl, tcol, alias, srcs) in zip(edges, expected):
        assert got[0] == tbl, (sql, edges)
        assert got[1] == tcol, (sql, edges)
        assert got[2] == alias, (sql, edges)
        assert set(got[3]) == srcs, (sql, edges)


@st.composite
def dynamic_partition_insert_query(draw):
    """Dynamic-partition INSERT: the partition column is a target
    column like any other — fed by the LAST select expression, with or
    without the explicit PARTITION (pc) clause."""
    t1 = draw(tables_st)
    a1 = draw(st.sampled_from(NUM_COLS[t1]))
    a2 = draw(st.sampled_from(SCHEMAS[t1]))
    wa = f" WHERE {a1} IS NOT NULL" if draw(st.booleans()) else ""
    part_clause = "PARTITION (pc) " if draw(st.booleans()) else ""
    sql = (f"INSERT INTO pt_dyn {part_clause}"
           f"SELECT {a1} AS v, CAST({a2} AS STRING) AS p FROM {t1}{wa}")
    expected = [("default.pt_dyn", "val", "v", {f"default.{t1}.{a1}"}),
                ("default.pt_dyn", "pc", "p", {f"default.{t1}.{a2}"})]
    return sql, expected, {f"default.{t1}"}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=dynamic_partition_insert_query())
def test_dynamic_partition_insert_binding(spark, tables, insert_targets_2,
                                          q):
    """The dynamic partition column appears as a bound target column
    (pc <- last select expr) next to the data column; output table is
    the partitioned target."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, expected, inputs = q

    st_ = extract_lineage(spark, sql).statements[0]
    edges = [(c.target_table, c.target_column, c.target_alias,
              sorted(c.sources)) for c in st_.col_lines]
    op, in_tables, out_tables = (st_.operation, st_.input_tables,
                                 st_.output_tables)
    assert op == "INSERT"
    assert in_tables == inputs, sql
    assert out_tables == {"default.pt_dyn"}, sql
    assert len(edges) == len(expected), (sql, edges)
    for got, (tbl, tcol, alias, srcs) in zip(edges, expected):
        assert (got[0], got[1], got[2]) == (tbl, tcol, alias), (sql, edges)
        assert set(got[3]) == srcs, (sql, edges)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=multi_insert_query())
def test_multi_insert_branch_binding(spark, tables, insert_target, q):
    """Each multi-insert branch binds its own select list against the
    target (positional for branch 1, user-list for branch 2); sources
    trace to the shared FROM table."""
    from hive_parse_lineage_spark.plans.lineage import extract_lineage
    sql, expected, inputs = q

    st_ = extract_lineage(spark, sql).statements[0]
    edges = [(c.target_column, sorted(c.sources)) for c in st_.col_lines]
    op, in_tables, out_tables = (st_.operation, st_.input_tables,
                                 st_.output_tables)
    assert op == "INSERT"
    assert in_tables == inputs, sql
    assert out_tables == {"default.pt_ins2"}, sql
    assert len(edges) == len(expected), (sql, edges)
    for (tcol, sources), (want_col, want_src) in zip(edges, expected):
        assert tcol == want_col, (sql, edges)
        assert set(sources) == want_src, (sql, edges)
