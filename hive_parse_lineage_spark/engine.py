"""Engine facade — the library entry point (reference EP2, SURVEY §3).

The reference exposes ``new LineParser(ds, conf).parse(sql)`` then
``getColLines()/getInputTables()/getOutputTables()``
(``LineParser.java:790-805``). Here the same surface is:

    eng = Engine(spark, sf_dir="/root/testdata/sf0.01")
    eng.run(sql)                 # execute (the reference only parses)
    eng.lineage(sql)             # list of ColLine dicts
    eng.input_tables(sql), eng.output_tables(sql)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_parse_lineage_spark.session import configure, get_spark
from hive_parse_lineage_spark.sources.loader import DEFAULT_SF_DIR, load_tables


class Engine:
    def __init__(self, spark: SparkSession | None = None,
                 sf_dir: str | None = None,
                 register_tables: bool = True):
        self.spark = configure(spark) if spark is not None else get_spark()
        self.sf_dir = sf_dir or DEFAULT_SF_DIR
        if register_tables:
            self.tables = load_tables(self.spark, self.sf_dir)

    # -- execution -------------------------------------------------------
    def run(self, sql: str) -> DataFrame:
        """Execute one SQL statement (Spark SQL; Catalyst plans/optimizes).

        Hive-only syntax the engine deliberately does not implement
        (UNIQUEJOIN — SURVEY §2a row 15) raises its documented
        diagnostic instead of a generic parse error."""
        from hive_parse_lineage_spark.plans.lineage import (
            check_supported_syntax)
        check_supported_syntax(sql)
        return self.spark.sql(sql)

    def run_script(self, sql_text: str) -> DataFrame | None:
        """Execute a multi-statement script in order (quote/comment-aware
        split — the same splitter lineage uses) and return the LAST
        statement's DataFrame (None for an empty script). DDL/DML
        statements execute eagerly; a trailing SELECT stays lazy."""
        from hive_parse_lineage_spark.plans.lineage import (
            check_supported_syntax, split_statements)
        df = None
        for stmt in split_statements(sql_text):
            check_supported_syntax(stmt)
            df = self.spark.sql(stmt)
        return df

    # -- lineage (the reference's core capability) -----------------------
    def lineage(self, sql_text: str, traverse_views: bool = False) -> list[dict]:
        """Column-level lineage edges for a SQL script (may be
        multi-statement). ``traverse_views`` expands view bodies so
        columns trace through view chains to base tables; the default
        treats views as table boundaries (reference parity)."""
        from hive_parse_lineage_spark.plans.lineage import extract_lineage
        return extract_lineage(self.spark, sql_text,
                               traverse_views=traverse_views).col_lines

    def input_tables(self, sql_text: str) -> set[str]:
        from hive_parse_lineage_spark.plans.lineage import extract_lineage
        return extract_lineage(self.spark, sql_text).input_tables

    def output_tables(self, sql_text: str) -> set[str]:
        from hive_parse_lineage_spark.plans.lineage import extract_lineage
        return extract_lineage(self.spark, sql_text).output_tables

    def operations(self, sql_text: str) -> list[str]:
        """Per-statement Operation tags (common/Operation.java:3-5), in
        script order."""
        from hive_parse_lineage_spark.plans.lineage import extract_lineage
        return [s.operation
                for s in extract_lineage(self.spark, sql_text).statements]

    def tables_report(self, sql_text: str) -> dict:
        """One-parse {input_tables, output_tables, operations} summary —
        the ``POST /tables`` response body."""
        from hive_parse_lineage_spark.plans.lineage import extract_lineage
        script = extract_lineage(self.spark, sql_text)
        return {
            "input_tables": sorted(script.input_tables),
            "output_tables": sorted(script.output_tables),
            "operations": [s.operation for s in script.statements],
        }

    # -- metadata (reference dao/MetaDataQuery.java:12-14) ---------------
    def table_columns(self, table: str) -> list[str]:
        """Ordered column names of a catalog/temp table — the reference's
        ``getColumnByDBAndTable`` (service/MetaDataQueryImpl.java:29-44)
        without the JDBC pool: Spark's own catalog answers."""
        return [c.name for c in self.spark.catalog.listColumns(table)]
