"""Server process of the lineage_serve workload.

Usage: python3 lineage_server.py DATA_DIR RUN_DIR TRACE

Builds the engine's session, ``Engine``, the catalog target tables and
``server.make_server`` over that engine. Prints one JSON line with the
port and set-up timings, serves until a line arrives on stdin, then
prints one JSON line with what the trace recorded.

With TRACE=1 the served engine's ``lineage`` and ``tables_report`` and
the lineage layer's ``split_statements`` and ``_statement_lineage`` are
wrapped with timers. A request whose body starts with ``/* rid=N */``
records spans carrying the client's request id; the engine's own code
path answers every request either way.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.scripts import TARGET_DDL  # noqa: E402

_RID = re.compile(r"\A/\* rid=(\d+) \*/")


class Tracer:
    """Timing wrappers around the engine and the lineage layer. The
    request id of the engine call in progress is kept per thread, so
    the inner spans carry it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.selects: list[str] = []
        self.local = threading.local()

    def instrument(self, engine) -> None:
        from hive_parse_lineage_spark.plans import lineage
        engine.lineage = self._engine(engine.lineage, "engine.fetch")
        engine.tables_report = self._engine(engine.tables_report,
                                            "engine.tables")
        split, stmt = lineage.split_statements, lineage._statement_lineage

        @functools.wraps(split)
        def split_statements(sql_text):
            t0 = common.now()
            out = split(sql_text)
            self._span("plans.lineage.split", t0)
            return out

        @functools.wraps(stmt)
        def statement_lineage(spark, sql, *args, **kwargs):
            t0 = common.now()
            out = stmt(spark, sql, *args, **kwargs)
            if out.operation == "SELECT":
                self._span("plans.lineage.select_stmt", t0)
                if getattr(self.local, "rid", None) is not None:
                    self.selects.append(sql)
            else:
                self._span("plans.lineage.insert_stmt", t0)
            return out

        # extract_lineage looks both names up at call time
        lineage.split_statements = split_statements
        lineage._statement_lineage = statement_lineage

    def _engine(self, method, name: str):
        @functools.wraps(method)
        def wrapper(sql_text, *args, **kwargs):
            m = _RID.match(sql_text)
            self.local.rid = int(m.group(1)) if m else None
            t0 = common.now()
            try:
                return method(sql_text, *args, **kwargs)
            finally:
                self._span(name, t0)
                self.local.rid = None
        return wrapper

    def _span(self, name: str, t0: float) -> None:
        rid = getattr(self.local, "rid", None)
        if rid is not None:
            self.spans.append({"name": name, "rid": rid, "start": t0,
                               "end": common.now()})


def _plan_json_ms(spark, stmts: list[str]) -> list[float]:
    """Spark's own parse + analyze + toJSON on each statement, called
    directly (the part of a SELECT's lineage cost that is Catalyst's)."""
    state = spark._jsparkSession.sessionState()
    parser, analyzer = state.sqlParser(), state.analyzer()
    out = []
    for stmt in stmts:
        t = common.now()
        analyzer.execute(parser.parsePlan(stmt)).toJSON()
        out.append((common.now() - t) * 1000.0)
    return out


def main() -> None:
    data_dir, path, trace = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
    from hive_parse_lineage_spark.engine import Engine
    from hive_parse_lineage_spark.server import make_server

    spark = common.get_session(path)
    session_ready = common.now()
    engine = Engine(spark, sf_dir=data_dir)
    for ddl in TARGET_DDL:
        spark.sql(ddl)
    tracer = Tracer() if trace else None
    if tracer is not None:
        tracer.instrument(engine)
    server = make_server(engine)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(json.dumps({"port": server.server_address[1],
                      "session_ready": session_ready,
                      "ready": common.now(),
                      "confs": common.effective_confs(spark)}), flush=True)
    sys.stdin.readline()
    server.shutdown()
    server.server_close()
    thread.join(timeout=30)
    out = {"spark_jobs": len(tracker.getJobIdsForGroup(None)) - jobs_before}
    if tracer is not None:
        out["spans"] = tracer.spans
        out["plan_json_ms"] = _plan_json_ms(spark, sorted(set(tracer.selects)))
    print(json.dumps(out), flush=True)
    common.stop_spark(spark)


if __name__ == "__main__":
    main()
