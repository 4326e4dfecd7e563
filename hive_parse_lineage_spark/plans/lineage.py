"""Column-level lineage via Catalyst analyzed-plan traversal.

This is the new engine's version of the reference's core capability
(``LineParser.java`` — a ~700-line hand-rolled Hive-AST walker).
Everything the reference does manually — alias resolution
(``LineParser.java:561-591``), ``select *`` expansion (403-420),
subquery binding (369-383), db qualification (770-788) — is done for us
by Spark's analyzer; we traverse the *analyzed* (not optimized) logical
plan so user-written structure (aliases, subqueries) is still visible,
mirroring the reference's walk of the raw AST.

Output model is the reference's ``ColLine``
(``entity/ColLine.java:12-31``): (target_table, target_column,
target_alias, sources, conditions), with the reference's string
conventions (SURVEY §1.3): ``db.table.col`` identities, default db
``default``, condition tags ``WHERE:`` / ``<JOINTYPE>:`` / ``COLFUN:``
(``LineParser.java:433,448-454,499-506``).

Deliberate divergences from the reference (documented bugs NOT
reproduced):
- union edges carry ALL branch sources (reference keeps only the last,
  ``entity/ColLineParse.java:48-50``);
- output binding does not crash on qualified table names (reference's
  ``split(".")`` regex bug, ``LineParser.java:114``);
- statements are analyzed, never executed — lineage extraction of an
  INSERT/CTAS has no side effects (parse + analyze only).

Condition scoping mirrors the reference's per-query-context stacks
(``LineParser.java:56-59,243-261``): root-context conditions attach to
every output column; a WHERE inside a derived table, CTE body, set-op
branch, or subquery expression attaches only to columns derived from
that context. SELECT-list subqueries trace their inner columns as
sources (reference ``subQueryMap``, ``LineParser.java:369-383,534-549``).
"""

from __future__ import annotations

import json
import logging
import re
import threading
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import NamedTuple

from py4j.java_gateway import JavaObject
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# data model (ColLine: entity/ColLine.java:12-31)
# ---------------------------------------------------------------------------

COLUMN_SEP = "."      # common/Constants.java:5
SOURCE_JOIN = "&"     # common/Constants.java:4 — multi-source separator
DEFAULT_DB = "default"  # LineParser.java:73,771

#: Operation enum (common/Operation.java:3-5). UPDATE/DELETE are
#: Spark-era DML the reference predates — natural extensions alongside
#: the MERGE (-> INSERT) classification.
OPERATIONS = ("SELECT", "INSERT", "DROP", "TRUNCATE", "LOAD",
              "CREATETABLE", "ALTER", "UPDATE", "DELETE", "DEFAULT")


@dataclass
class ColLine:
    target_table: str | None      # None ≈ reference TOK_TMP_FILE (unnamed sink)
    target_column: str | None     # physical target column (positional bind)
    target_alias: str             # parsed name/alias (ColLineParse.toNameParse)
    sources: list[str]            # sorted db.table.col names
    conditions: list[str]         # sorted WHERE:/JOIN:/COLFUN: strings

    def to_dict(self) -> dict:
        return {
            "target_table": self.target_table,
            "target_column": self.target_column,
            "target_alias": self.target_alias,
            "sources": self.sources,
            "conditions": self.conditions,
        }

    def from_name(self) -> str:
        """Reference rendering: sources joined with '&' (LineParser.java:476,541)."""
        return SOURCE_JOIN.join(self.sources)


@dataclass
class StatementLineage:
    sql: str
    operation: str                # one of OPERATIONS
    col_lines: list[ColLine] = field(default_factory=list)
    input_tables: set[str] = field(default_factory=set)
    output_tables: set[str] = field(default_factory=set)


@dataclass
class ScriptLineage:
    statements: list[StatementLineage] = field(default_factory=list)

    @property
    def col_lines(self) -> list[dict]:
        return [c.to_dict() for s in self.statements for c in s.col_lines]

    @property
    def input_tables(self) -> set[str]:
        return set().union(*(s.input_tables for s in self.statements)) if self.statements else set()

    @property
    def output_tables(self) -> set[str]:
        return set().union(*(s.output_tables for s in self.statements)) if self.statements else set()


# ---------------------------------------------------------------------------
# statement splitting (superset of LineParser.java:85's unescaped-';'
# split: \; still doesn't split, and neither do quoted/commented ';')
# ---------------------------------------------------------------------------

def split_statements(sql_text: str) -> list[str]:
    """Quote- and comment-aware statement split.

    The reference splits on every unescaped ``;`` (LineParser.java:85),
    which breaks statements containing ``';'`` string literals. This
    walk honors single/double quotes (with backslash escapes and the
    SQL ``''`` doubling), backticked identifiers, ``--`` line comments,
    and ``/* */`` block comments, so only top-level semicolons split.
    """
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql_text)
    mode: str | None = None  # "'", '"', '`', '--', '/*'
    while i < n:
        ch = sql_text[i]
        nxt = sql_text[i + 1] if i + 1 < n else ""
        if mode is None:
            if ch == "\\" and nxt == ";":
                # reference behavior kept: a backslash-escaped top-level
                # semicolon does not split (LineParser.java:85)
                buf.append(ch)
                buf.append(nxt)
                i += 2
                continue
            if ch == ";":
                out.append("".join(buf))
                buf = []
                i += 1
                continue
            if ch in ("'", '"', "`"):
                mode = ch
            elif ch == "-" and nxt == "-":
                mode = "--"
            elif ch == "/" and nxt == "*":
                mode = "/*"
        elif mode in ("'", '"'):
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(nxt)
                i += 2
                continue
            if ch == mode:
                if nxt == mode:  # SQL '' / "" doubling stays inside
                    buf.append(ch)
                    buf.append(nxt)
                    i += 2
                    continue
                mode = None
        elif mode == "`":
            if ch == "`":
                mode = None
        elif mode == "--":
            if ch == "\n":
                mode = None
        elif mode == "/*":
            if ch == "*" and nxt == "/":
                buf.append(ch)
                buf.append(nxt)
                i += 2
                mode = None
                continue
        buf.append(ch)
        i += 1
    out.append("".join(buf))
    return [s.strip() for s in out if s.strip()]


# ---------------------------------------------------------------------------
# documented-unsupported Hive syntax (SURVEY §2a row 15)
# ---------------------------------------------------------------------------

class UniqueJoinUnsupportedError(Exception):
    """Hive ``UNIQUEJOIN`` reached the engine.

    The reference's AST walker handles ``TOK_UNIQUEJOIN`` for lineage
    (LineParser.java:281-293 push, 243-251 pop), but Spark SQL has no
    UNIQUE JOIN analogue, so this engine cannot parse or execute it —
    non-implementation is correct, and this diagnostic exists so a
    Hive user migrating a UNIQUEJOIN script gets the documented
    unsupported-feature message instead of a generic parse error."""


_UNIQUEJOIN_MSG = (
    "UNIQUEJOIN is not supported: Spark SQL has no UNIQUE JOIN "
    "analogue (Hive-only syntax; the reference walks TOK_UNIQUEJOIN "
    "for lineage at LineParser.java:281-293). Rewrite as a FULL OUTER "
    "JOIN on the preserved keys with COALESCE over the key columns.")


def _code_only(stmt: str) -> str:
    """The statement with string literals, backticked identifiers and
    comments blanked (same state machine as split_statements), so
    keyword checks never fire on quoted text."""
    out: list[str] = []
    i, n = 0, len(stmt)
    mode: str | None = None
    while i < n:
        ch = stmt[i]
        nxt = stmt[i + 1] if i + 1 < n else ""
        if mode is None:
            if ch in ("'", '"', "`"):
                mode = ch
            elif ch == "-" and nxt == "-":
                mode = "--"
            elif ch == "/" and nxt == "*":
                mode = "/*"
            out.append(ch)
            i += 1
            continue
        if mode in ("'", '"'):
            if ch == "\\" and i + 1 < n:
                out.append("  ")
                i += 2
                continue
            if ch == mode and nxt == mode:
                out.append("  ")
                i += 2
                continue
            if ch == mode:
                mode = None
        elif mode == "`" and ch == "`":
            mode = None
        elif mode == "--" and ch == "\n":
            mode = None
        elif mode == "/*" and ch == "*" and nxt == "/":
            out.append("  ")
            i += 2
            mode = None
            continue
        out.append(" " if mode is not None else ch)
        i += 1
    return "".join(out)


_UNIQUEJOIN = re.compile(r"\bUNIQUEJOIN\b", re.IGNORECASE)


def check_supported_syntax(stmt: str) -> None:
    """Raise the documented diagnostic for Hive-only syntax this
    engine deliberately does not implement (currently: UNIQUEJOIN)."""
    _check_supported_code(_code_only(stmt))


def _check_supported_code(code: str) -> None:
    """check_supported_syntax on a statement already blanked by
    _code_only."""
    if _UNIQUEJOIN.search(code):
        raise UniqueJoinUnsupportedError(_UNIQUEJOIN_MSG)


# ---------------------------------------------------------------------------
# py4j helpers
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    """Scala Seq -> python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _cls(node) -> str:
    """TreeNode.nodeName: one py4j round trip."""
    return node.nodeName()


class _JvmHandles(NamedTuple):
    """py4j handles every statement uses, looked up once per session:
    each py4j call, and each dotted name such as ``jvm.java.io``, is a
    round trip of its own."""
    parser: object
    analyzer: object
    catalog: object        # the SessionCatalog
    scala_json: object     # a Jackson mapper that knows Scala collections
    tuple3: object         # scala.Tuple3 (the class)
    nil: object            # scala.collection.immutable.Nil


_JVM_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jvm_handles(spark: SparkSession) -> _JvmHandles:
    handles = _JVM_HANDLES.get(spark)
    if handles is None:
        state = spark._jsparkSession.sessionState()
        jvm = spark.sparkContext._jvm
        scala_json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_json.registerModule(getattr(getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$"))
        handles = _JVM_HANDLES[spark] = _JvmHandles(
            state.sqlParser(), state.analyzer(), state.catalog(),
            scala_json, jvm.scala.Tuple3,
            getattr(getattr(jvm.scala.collection.immutable, "Nil$"),
                    "MODULE$"))
    return handles


_NODELAY_MARK = "_lineage_tcp_nodelay"
_nodelay_warned = False


def _reply_without_nagle(spark: SparkSession) -> None:
    """Set TCP_NODELAY on the JVM end of this thread's py4j connection,
    once per connection (see the JSON-walk section comment).

    Under ``PYSPARK_PIN_THREAD=false`` there is no per-thread
    connection to mark: warn once, and replies over 8 KiB keep their
    ~44 ms stall."""
    global _nodelay_warned
    client = spark.sparkContext._gateway._gateway_client
    thread_connection = getattr(client, "get_thread_connection", None)
    if thread_connection is None:
        if not _nodelay_warned:
            _nodelay_warned = True
            _log.warning("py4j runs without per-thread connections "
                         "(PYSPARK_PIN_THREAD=false): plan JSON replies "
                         "over 8 KiB stall ~44 ms each")
        return
    conn = thread_connection()
    if conn is not None and getattr(conn, _NODELAY_MARK, False):
        return
    (JavaObject("GATEWAY_SERVER", client).getCallbackClient()
     .getPerThreadConnection().getSocket().setTcpNoDelay(True))
    setattr(thread_connection(), _NODELAY_MARK, True)


# join-type labels: token text minus "TOK_" (LineParser.java:448-454)
_JOIN_LABEL = {
    "Inner": "JOIN",
    "Cross": "JOIN",
    "LeftOuter": "LEFTOUTERJOIN",
    "RightOuter": "RIGHTOUTERJOIN",
    "FullOuter": "FULLOUTERJOIN",
    "LeftSemi": "LEFTSEMIJOIN",
    "LeftAnti": "LEFTANTIJOIN",
}

_ALTER_CLASSES = {
    "AddColumns", "DropColumns", "RenameColumn", "ReplaceColumns",
    "AlterColumn", "AlterColumns", "RenameTable", "SetTableProperties",
    "UnsetTableProperties", "SetTableLocation", "SetTableSerDeProperties",
    "AddPartitions", "DropPartitions", "RenamePartitions", "RecoverPartitions",
    # ALTER DATABASE ... (reference TOK_ALTERDATABASE_PROPERTIES,
    # LineParser.java:435-440)
    "SetNamespaceProperties", "SetNamespaceLocation",
    "UnsetNamespaceProperties",
}

# passthrough unary nodes: child mapping flows up unchanged, no conditions
_PASSTHROUGH = {
    "Sort", "GlobalLimit", "LocalLimit", "Limit", "Tail", "Offset",
    "Distinct", "Deduplicate", "DeduplicateWithinWatermark",
    "Repartition", "RepartitionByExpression", "Rebalance", "Sample",
    "WithWatermark", "EventTimeWatermark", "UnresolvedHint", "ResolvedHint",
    "CollectMetrics", "Pivot",
}


class _Walker:
    """One instance per statement; not thread-safe (plan-sized state only)."""

    def __init__(self, spark: SparkSession, traverse_views: bool = False,
                 current_db: str | None = None):
        #: False (reference parity): a view is a table boundary.
        #: True: expand view bodies and trace through to base tables.
        self.traverse_views = traverse_views
        jvm = _jvm_handles(spark)
        self.parser = jvm.parser
        self.analyzer = jvm.analyzer
        #: the session's database (read here unless the caller has)
        self.current_db = (spark.catalog.currentDatabase()
                           if current_db is None else current_db)
        self.input_tables: set[str] = set()
        self.cte_defs: dict[int, dict[int, tuple[set[str], set[str]]]] = {}
        #: per-attribute conditions sealed at query-context boundaries
        #: (reference per-context stacks, LineParser.java:56-59,243-258):
        #: a WHERE inside a derived table / CTE / set-op branch attaches
        #: only to columns derived from that context.
        self.attr_conds: dict[int, set[str]] = {}
        #: the analyzed JVM plan (set by analyze) and, built from it on
        #: first need, the exprId -> table map of its direct file scans
        self.analyzed = None
        self._file_scans: dict[int, str] | None = None
        #: > 0 while a view body is being walked (traverse_views)
        self._view_depth = 0

    # -- naming ---------------------------------------------------------
    def fill_db(self, name: str) -> str:
        """Qualify with current db when unqualified (LineParser.java:770-788).

        Spark 3-part names keep the trailing two parts (catalog stripped) —
        the reference's 2-part ``db.table`` identity.
        """
        parts = [p for p in name.split(".") if p]
        if len(parts) >= 2:
            return ".".join(parts[-2:])
        return f"{self.current_db}.{parts[0]}" if parts else name

    # -- analysis -------------------------------------------------------
    def parse(self, sql: str):
        return self.parser.parsePlan(sql)

    def analyze(self, parsed):
        plan = self.analyzer.execute(parsed)
        # execute() returns silently even when resolution FAILED (e.g.
        # a UNION over incompatible column types leaves UnresolvedStar
        # nodes behind) — found by the r9 union-nesting fuzz as a
        # KeyError deep in the JSON walk. Surface the engine's own
        # AnalysisException (INCOMPATIBLE_COLUMN_TYPE, ...) instead:
        # lineage must agree with the engine on what is a valid query.
        try:
            resolved = bool(plan.resolved())
        except Exception:
            resolved = True
        if not resolved:
            self.analyzer.checkAnalysis(plan)  # raises the real error
        self.analyzed = plan
        return plan

    # -- condition scoping ----------------------------------------------
    def _inherit_conds(self, eid: int, from_eid: int) -> None:
        if eid == from_eid:
            return
        inherited = self.attr_conds.get(from_eid)
        if inherited:
            self.attr_conds.setdefault(eid, set()).update(inherited)

    def _expr_sql(self, expr) -> str:
        try:
            return expr.sql()
        except Exception:
            return expr.toString()

    # -- JSON walk (see the section comment above _decode_flat) --------
    def walk_json(self, plan: dict) -> tuple[dict[int, set[str]], set[str]]:
        cls = plan["_cls"]
        ch = plan["_children"]

        if cls == "SubqueryAlias":
            child = ch[0]
            if (child["_cls"] == "SubqueryAlias" and child["_children"]
                    and child["_children"][0]["_cls"] == "View"):
                return self._walk_view_json(child["_children"][0])
            if child["_cls"] == "View":
                return self._walk_view_json(child)
            mapping, conds = self.walk_json(child)
            return mapping, self._seal_context_json(plan, conds)

        if cls == "View":
            return self._walk_view_json(plan)

        if cls in ("LogicalRelation", "HiveTableRelation",
                   "DataSourceV2Relation", "StreamingRelation",
                   "StreamingRelationV2"):
            return self._walk_relation_json(plan)

        if cls in ("LocalRelation", "OneRowRelation", "Range"):
            return {_eid(a): set() for a in _json_output(plan)}, set()

        if cls == "Project":
            return self._walk_named_list_json(
                plan, _field_exprs(plan, "projectList"))

        if cls == "Aggregate":
            return self._walk_named_list_json(
                plan, _field_exprs(plan, "aggregateExpressions"))

        if cls == "Window":
            mapping, conds = self.walk_json(ch[0])
            for ne in _field_exprs(plan, "windowExpressions"):
                srcs: set[str] = set()
                ne_id = _eid(ne)
                for a in _jrefs(ne):
                    srcs |= mapping.get(_eid(a), set())
                    self._inherit_conds(ne_id, _eid(a))
                mapping[ne_id] = srcs
            return mapping, conds

        if cls == "Filter":
            mapping, conds = self.walk_json(ch[0])
            conds = set(conds)
            cond = _decode_field(plan.get("condition"))
            if isinstance(cond, dict):
                conds.add("WHERE:" + _jsql(cond))
                self._walk_subquery_exprs_json(cond)
            return mapping, conds

        if cls == "LateralJoin":
            mapping, conds = self.walk_json(ch[0])
            sub = _decode_field(plan.get("right"))
            if not (isinstance(sub, dict) and sub.get("plan")):
                # fail loudly rather than emit lateral columns with no
                # sources
                raise _JsonWalkError("LateralJoin without subquery plan")
            m2, c2 = self.walk_json(_decode_flat(sub["plan"]))
            mapping.update(m2)
            conds = conds | c2
            cond = _decode_field(plan.get("condition"))
            if isinstance(cond, dict):
                label = _JOIN_LABEL.get(_json_join_type(plan), "JOIN")
                conds = set(conds)
                conds.add(f"{label}:{_jsql(cond)}")
            return mapping, conds

        if cls == "Join":
            lm, lc = self.walk_json(ch[0])
            rm, rc = self.walk_json(ch[1])
            mapping = {**lm, **rm}
            conds = lc | rc
            cond = _decode_field(plan.get("condition"))
            label = _JOIN_LABEL.get(_json_join_type(plan), "JOIN")
            if isinstance(cond, dict):
                conds.add(f"{label}:{_jsql(cond)}")
            return mapping, conds

        if cls in ("Union", "Intersect", "Except"):
            walked = [self.walk_json(c) for c in ch]
            child_outputs = [_json_output(c) for c in ch]
            out = _json_output(plan)
            mapping = {}
            for (_, c), couts in zip(walked, child_outputs):
                if c:
                    for a in couts:
                        self.attr_conds.setdefault(_eid(a), set()).update(c)
            for i, attr in enumerate(out):
                srcs = set()
                for (m, _), couts in zip(walked, child_outputs):
                    if i < len(couts):
                        srcs |= m.get(_eid(couts[i]), set())
                        self._inherit_conds(_eid(attr), _eid(couts[i]))
                mapping[_eid(attr)] = srcs
            return mapping, set()

        if cls == "Expand":
            mapping_child, conds = self.walk_json(ch[0])
            mapping = {}
            projections = plan.get("projections") or []
            decoded_rows = [_field_exprs({"projections": row}, "projections")
                            if isinstance(row, list) else []
                            for row in projections]
            for i, attr in enumerate(_json_output(plan)):
                srcs: set[str] = set()
                for proj in decoded_rows:
                    if i < len(proj):
                        for a in _jrefs(proj[i]):
                            srcs |= mapping_child.get(_eid(a), set())
                            self._inherit_conds(_eid(attr), _eid(a))
                mapping[_eid(attr)] = srcs
            return mapping, conds

        if cls == "Generate":
            mapping, conds = self.walk_json(ch[0])
            gen = _decode_field(plan.get("generator"))
            gen_refs = [_eid(a) for a in _jrefs(gen)] if isinstance(gen, dict) else []
            gen_srcs: set[str] = set()
            for eid in gen_refs:
                gen_srcs |= mapping.get(eid, set())
            for attr in _field_exprs(plan, "generatorOutput"):
                mapping[_eid(attr)] = set(gen_srcs)
                for eid in gen_refs:
                    self._inherit_conds(_eid(attr), eid)
            return mapping, conds

        if cls == "WithCTE":
            for d in ch[:-1]:
                if d["_cls"] != "CTERelationDef":
                    continue
                body = d["_children"][0]
                m, c = self.walk_json(body)
                outs = _json_output(body)
                self.cte_defs[d["id"]] = {
                    i: (m.get(_eid(a), set()),
                        self.attr_conds.get(_eid(a), set()) | c)
                    for i, a in enumerate(outs)
                }
            return self.walk_json(ch[-1])

        if cls == "CTERelationRef":
            by_pos = self.cte_defs.get(plan.get("cteId"), {})
            mapping = {}
            for i, a in enumerate(_json_output(plan)):
                srcs, cnds = by_pos.get(i, (set(), set()))
                mapping[_eid(a)] = srcs
                if cnds:
                    self.attr_conds.setdefault(_eid(a), set()).update(cnds)
            return mapping, set()

        if cls in _PASSTHROUGH:
            if not ch:
                return {_eid(a): set() for a in _json_output(plan)}, set()
            return self.walk_json(ch[0])

        # generic fallback: merge all children, attribute outputs by exprId
        mapping = {}
        conds = set()
        for c in ch:
            m, cc = self.walk_json(c)
            mapping.update(m)
            conds |= cc
        for attr in _json_output(plan):
            mapping.setdefault(_eid(attr), set())
        return mapping, conds

    def _seal_context_json(self, plan: dict, conds: set[str]) -> set[str]:
        """Attach the conditions collected inside a query context to its
        output attributes and stop their upward propagation (reference
        pushes/pops a condition stack per query context,
        LineParser.java:243-261)."""
        if conds:
            for a in _json_output(plan):
                self.attr_conds.setdefault(_eid(a), set()).update(conds)
        return set()

    def _walk_view_json(self, view: dict):
        """A View is a table boundary by default (the reference stops at
        table names). With ``traverse_views`` the analyzed view body is
        walked instead — columns trace through (recursively, so view
        chains reach base tables) and the body is its own condition
        context; the view name is still recorded as an input."""
        ident = (view.get("desc") or {}).get("identifier") or {}
        name = ".".join(p for p in (ident.get("database"),
                                    ident.get("table")) if p)
        if not name:
            raise _JsonWalkError("view without identifier")
        table = self.fill_db(name)
        self.input_tables.add(table)
        vout = _json_output(view)
        if self.traverse_views and view["_children"]:
            child = view["_children"][0]
            self._view_depth += 1
            try:
                m, conds = self.walk_json(child)
            except _JsonWalkError:
                # the body bottoms out at an identity-less relation (a
                # DataFrame temp view over a bare file scan): THIS view
                # name is the best base identity — boundary behavior.
                m = None
            finally:
                self._view_depth -= 1
            if m is not None:
                couts = _json_output(child)
                mapping = {}
                for a, ca in zip(vout, couts):
                    mapping[_eid(a)] = m.get(_eid(ca), set())
                    self._inherit_conds(_eid(a), _eid(ca))
                return mapping, self._seal_context_json(view, conds)
        return {_eid(a): {f"{table}{COLUMN_SEP}{a['name']}"}
                for a in vout}, set()

    def _walk_relation_json(self, rel: dict):
        table = None
        ct = rel.get("catalogTable") or rel.get("tableMeta")
        if isinstance(ct, dict):
            ident = ct.get("identifier") or {}
            tbl = ident.get("table")
            if tbl:
                db = ident.get("database") or self.current_db
                table = self.fill_db(f"{db}.{tbl}")
        if table is None and rel["_cls"] == "DataSourceV2Relation":
            ident = rel.get("identifier")
            if isinstance(ident, str) and ident:
                table = self.fill_db(ident)
        if table is None and not self._view_depth:
            table = self._file_scan_table(rel)
        if table is None:
            # inside a view body this makes the view the boundary (see
            # _walk_view_json); anywhere else it is a shape we can't name
            raise _JsonWalkError("relation without catalog identity")
        self.input_tables.add(table)
        out = _json_output(rel)
        if not out and rel["_cls"] == "HiveTableRelation":
            # HiveTableRelation serializes no 'output' (it derives from
            # dataCols ++ partitionCols) — read those fields instead.
            out = ([a for a in _field_exprs(rel, "dataCols")]
                   + [a for a in _field_exprs(rel, "partitionCols")])
        if not out:
            # an empty attribute list would silently produce empty
            # sources for every downstream column, so refuse instead.
            raise _JsonWalkError(f"{rel['_cls']} with no derivable output")
        rel["_out"] = out  # parents derive their output through this node
        return {_eid(a): {f"{table}{COLUMN_SEP}{a['name']}"}
                for a in out}, set()

    def _file_scan_table(self, rel: dict) -> str | None:
        """``default.<file basename>`` for a direct file scan
        (``SELECT ... FROM parquet.`path```). Its LogicalRelation
        serializes ``"relation": null``, so the location is read from
        the analyzed JVM plan instead: one pass over the leaves of the
        plan and of every subquery plan, on first need only."""
        if self._file_scans is None:
            self._file_scans = {}
            plan = self.analyzed
            for p in [plan] + _seq(plan.subqueriesAll()):
                for leaf in _seq(p.collectLeaves()):
                    if (_cls(leaf) != "LogicalRelation"
                            or leaf.catalogTable().isDefined()):
                        continue
                    fs = leaf.relation()
                    if fs.getClass().getSimpleName() != "HadoopFsRelation":
                        continue
                    loc = fs.location().rootPaths().apply(0).toString()
                    name = loc.rsplit("/", 1)[-1].split(".")[0]
                    for a in _seq(leaf.output()):
                        self._file_scans[a.exprId().id()] = \
                            f"{DEFAULT_DB}.{name}"
        out = _json_output(rel)
        return self._file_scans.get(_eid(out[0])) if out else None

    def _walk_named_list_json(self, plan: dict, named_exprs: list[dict]):
        mapping_child: dict[int, set[str]] = {}
        conds: set[str] = set()
        for c in plan["_children"]:
            m, cc = self.walk_json(c)
            mapping_child.update(m)
            conds |= cc
        mapping: dict[int, set[str]] = {}
        for ne in named_exprs:
            srcs: set[str] = set()
            ne_id = _eid(ne)
            for a in _jrefs(ne):
                srcs |= mapping_child.get(_eid(a), set())
                self._inherit_conds(ne_id, _eid(a))
            srcs |= self._walk_subquery_exprs_json(ne)
            mapping[ne_id] = srcs
        mapping_child.update(mapping)
        return mapping_child, conds

    def _walk_subquery_exprs_json(self, expr: dict) -> set[str]:
        """Walk subquery expressions nested in a condition/projection:
        registers their input tables (reference: TOK_TABREF fires inside
        subqueries too, LineParser.java:347-367) and returns the base
        columns feeding the subquery's output attributes, so a
        SELECT-list subquery contributes its inner columns as sources of
        the enclosing expression (reference ``subQueryMap``,
        LineParser.java:369-383,534-549). Inner conditions stay scoped
        to the subquery (not propagated to the enclosing query)."""
        srcs: set[str] = set()
        if expr["_cls"] in _JSUBQ:
            planf = expr.get("plan")
            if planf:
                sub = _decode_flat(planf)
                sub_mapping, _sub_conds = self.walk_json(sub)
                for a in _json_output(sub):
                    srcs |= sub_mapping.get(_eid(a), set())
        for c in expr["_children"]:
            srcs |= self._walk_subquery_exprs_json(c)
        return srcs

    def project_edges_json(self, plan: dict, mapping: dict[int, set[str]],
                           conds: set[str]) -> list[ColLine]:
        """Emit one edge per output attribute of the statement root.

        COLFUN tagging per LineParser.java:499-506: a projection whose
        rendered form is not the bare column contributes a per-column
        condition; literal-only outputs keep an empty source set
        (notNormalCol / filterData, LineParser.java:513-525,758-761).
        Root-context conditions apply to every output column; sealed
        subquery-context conditions (attr_conds) only to columns
        derived from that context.
        """
        edges: list[ColLine] = []
        for ne in self._root_named_exprs_json(plan):
            name = ne.get("name")
            eid = _eid(ne)
            srcs = sorted(mapping.get(eid, set()))
            col_conds = set(conds) | self.attr_conds.get(eid, set())
            if ne["_cls"] == "Alias":
                child = ne["_children"][0]
                if child["_cls"] != "AttributeReference":
                    col_conds.add("COLFUN:" + _jsql(child))
            edges.append(ColLine(None, None, name, srcs, sorted(col_conds)))
        return edges

    def _root_named_exprs_json(self, plan: dict) -> list[dict]:
        """Find the top-most projection list (descending through
        sort/limit/etc), else fall back to the plan's output."""
        cls = plan["_cls"]
        if cls == "Project":
            return _field_exprs(plan, "projectList")
        if cls == "Aggregate":
            return _field_exprs(plan, "aggregateExpressions")
        if cls in _PASSTHROUGH | {"Filter", "WithCTE"} and plan["_children"]:
            child = (plan["_children"][-1] if cls == "WithCTE"
                     else plan["_children"][0])
            return self._root_named_exprs_json(child)
        return _json_output(plan)


# ---------------------------------------------------------------------------
# JSON plan walk — the only lineage walk.
#
# The ENTIRE analyzed tree — node classes, exprIds, expression trees,
# nested subquery plans — is serialized to TreeNode's JSON on the JVM
# and read back as text (reading it accessor by accessor over py4j costs
# ~130 round trips per statement); these functions rebuild it and the
# _Walker walk_json methods traverse it in pure Python. Per-statement
# JVM work is parse + analyze + serialize (+ catalog metadata for
# INSERTs, and the location of a direct file scan). There is no second
# walk to fall back to: the condition text _jsql renders is the /fetch
# wire contract, so a shape this walk cannot express raises
# _JsonWalkError rather than switching to a renderer with different
# output.
#
# The text comes back in one ``plan.toJSON()`` reply. py4j's Java side
# writes a reply through 8 KiB buffers (8,192 chars, then 8,192 UTF-8
# bytes), so a reply that overflows them leaves as two writes; with
# Nagle on, the second waits for the Python side's delayed ACK, a flat
# ~44 ms (8,180 ASCII chars: 0.3 ms; 8,200: 44 ms), and the served
# workload's plans are mostly 9-15 kB. _reply_without_nagle turns Nagle
# off on the JVM end of each py4j connection, once per connection, so
# a 12 kB plan's reply takes ~1.2 ms instead of ~42 ms.
# ---------------------------------------------------------------------------

def _plan_json(spark: SparkSession, plan) -> dict:
    """The analyzed plan's tree, read in one JVM reply."""
    _reply_without_nagle(spark)
    return _decode_flat(json.loads(plan.toJSON()))


def _decode_flat(flat: list) -> dict:
    """Rebuild a tree from TreeNode.toJSON's flattened pre-order list.
    Adds ``_cls`` (simple class name) and ``_children`` to each node."""
    def build(i: int):
        node = dict(flat[i])
        node["_cls"] = node["class"].rsplit(".", 1)[-1].rstrip("$")
        kids = []
        j = i + 1
        for _ in range(node.get("num-children", 0)):
            c, j = build(j)
            kids.append(c)
        node["_children"] = kids
        return node, j
    node, _ = build(0)
    return node


def _decode_field(val):
    """A JSON field holding trees: a single flattened expression (list
    of dicts) or a list of flattened expressions (list of lists)."""
    if isinstance(val, list) and val:
        if isinstance(val[0], dict) and "class" in val[0]:
            return _decode_flat(val)
        if isinstance(val[0], list):
            return [_decode_field(v) for v in val]
    return val


def _field_exprs(plan: dict, key: str) -> list[dict]:
    """Decode a Seq[Expression] field into a list of expression trees."""
    val = plan.get(key)
    if not val:
        return []
    out = _decode_field(val)
    return out if isinstance(out, list) else [out]


def _eid(attr: dict) -> int:
    return attr["exprId"]["id"]


def _to_attr(ne: dict) -> dict:
    """NamedExpression -> its output attribute (Alias.toAttribute)."""
    if ne["_cls"] == "AttributeReference":
        return ne
    return {"_cls": "AttributeReference", "_children": [],
            "name": ne.get("name"), "exprId": ne.get("exprId")}


_JSUBQ = {"ScalarSubquery", "Exists", "InSubquery", "ListQuery",
          "LateralSubquery", "DynamicPruningSubquery"}


def _jrefs(expr: dict, out: list | None = None) -> list[dict]:
    """AttributeReference nodes referenced by an expression tree —
    including a subquery's OUTER attributes (Expression.references
    parity: SubqueryExpression.references == outerAttrs), excluding the
    subquery's inner plan (a different scope, walked separately)."""
    if out is None:
        out = []
    if expr["_cls"] == "AttributeReference":
        out.append(expr)
    if expr["_cls"] in _JSUBQ:
        oa = _decode_field(expr.get("outerAttrs") or [])
        for a in (oa if isinstance(oa, list) else [oa]):
            if isinstance(a, dict):
                for sub in _jrefs(a):
                    out.append(sub)
    for c in expr["_children"]:
        _jrefs(c, out)
    return out


def _json_output(plan: dict) -> list[dict]:
    """Output attributes of a JSON plan node (Catalyst ``output``
    derivation re-expressed: explicit where serialized, structural
    otherwise)."""
    cached = plan.get("_out")
    if cached is not None:
        return cached
    cls = plan["_cls"]
    ch = plan["_children"]
    out: list[dict]
    if plan.get("output"):
        decoded = _decode_field(plan["output"])
        out = [d for d in (decoded if isinstance(decoded, list) else [decoded])
               if isinstance(d, dict)]
    elif cls == "Project":
        out = [_to_attr(e) for e in _field_exprs(plan, "projectList")]
    elif cls == "Aggregate":
        out = [_to_attr(e) for e in _field_exprs(plan, "aggregateExpressions")]
    elif cls == "Window":
        out = _json_output(ch[0]) + [
            _to_attr(e) for e in _field_exprs(plan, "windowExpressions")]
    elif cls == "Generate":
        gout = _field_exprs(plan, "generatorOutput")
        out = _json_output(ch[0]) + gout
    elif cls == "Join":
        jt = _json_join_type(plan)
        out = (_json_output(ch[0]) if jt in ("LeftSemi", "LeftAnti")
               else _json_output(ch[0]) + _json_output(ch[1]))
    elif cls in ("Union", "Intersect", "Except"):
        out = _json_output(ch[0])
    elif cls == "LateralJoin":
        out = list(_json_output(ch[0]))
        sub = _decode_field(plan.get("right"))
        if isinstance(sub, dict) and sub.get("plan"):
            out = out + _json_output(_decode_flat(sub["plan"]))
    elif cls == "WithCTE":
        out = _json_output(ch[-1])
    elif ch:
        out = _json_output(ch[0])
    else:
        out = []
    plan["_out"] = out
    return out


def _json_join_type(plan: dict) -> str:
    jt = plan.get("joinType")
    if isinstance(jt, dict):
        ref = jt.get("object") or jt.get("product-class") or ""
        return ref.rsplit(".", 1)[-1].rstrip("$")
    return str(jt)


_JSQL_BINOPS = {
    "EqualTo": "=", "EqualNullSafe": "<=>", "GreaterThan": ">",
    "LessThan": "<", "GreaterThanOrEqual": ">=", "LessThanOrEqual": "<=",
    "Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/",
    "Remainder": "%", "And": "AND", "Or": "OR", "Like": "LIKE",
    "RLike": "RLIKE", "BitwiseAnd": "&", "BitwiseOr": "|",
    "BitwiseXor": "^", "Pmod": "pmod",
}

_JSQL_QUOTED_TYPES = {"string", "date", "timestamp", "timestamp_ntz"}

#: Catalyst simpleString -> SQL type name where they differ
_JSQL_TYPE_NAMES = {"long": "BIGINT", "integer": "INT", "short": "SMALLINT",
                    "byte": "TINYINT"}


def _jsql(e: dict, defs: dict | None = None) -> str:
    """Render an expression tree as Spark-flavored SQL for condition
    tags (WHERE:/JOIN:/COLFUN:). Mirrors Expression.sql closely enough
    for the reference's condition-string contract; unknown classes fall
    back to ``classname(args...)``. ``defs`` maps CommonExpressionDef
    ids to their subtrees so With/CommonExpressionRef (Spark 4's
    common-expression elimination, e.g. BETWEEN) renders inline."""
    cls = e["_cls"]
    ch = e["_children"]
    if cls == "AttributeReference":
        return e.get("name", "?")
    if cls == "OuterReference":
        if ch:
            return _jsql(ch[0], defs)
        inner = _decode_field(e.get("e"))  # leaf node: attr lives in field 'e'
        return _jsql(inner, defs) if isinstance(inner, dict) else "outer()"
    if cls == "Between":
        # Between wraps a With whose child is the expanded >= AND <=
        return _jsql(ch[0], defs) if ch else "between()"
    if cls == "With":
        # With(child, def1, def2, ...): register defs, render the child
        new_defs = dict(defs or {})
        for d in ch[1:]:
            if d["_cls"] == "CommonExpressionDef":
                did = d.get("id")
                if isinstance(did, dict):
                    did = did.get("id")
                new_defs[did] = d["_children"][0]
        return _jsql(ch[0], new_defs)
    if cls == "CommonExpressionRef":
        rid = e.get("id")
        if isinstance(rid, dict):
            rid = rid.get("id")
        target = (defs or {}).get(rid)
        return _jsql(target, defs) if target is not None else "ref()"
    if cls == "Literal":
        v = e.get("value")
        if v is None:
            return "NULL"
        if e.get("dataType") in _JSQL_QUOTED_TYPES:
            return f"'{v}'"
        return str(v)
    if cls in ("Cast", "AnsiCast", "TryCast"):
        dt = e.get("dataType")
        dt = _JSQL_TYPE_NAMES.get(dt, dt).upper() if isinstance(dt, str) else "?"
        return f"CAST({_jsql(ch[0], defs)} AS {dt})"
    if cls == "Alias":
        return f"{_jsql(ch[0], defs)} AS {e.get('name')}"
    if cls in _JSQL_BINOPS and len(ch) == 2:
        return (f"({_jsql(ch[0], defs)} {_JSQL_BINOPS[cls]} "
                f"{_jsql(ch[1], defs)})")
    if cls == "Not":
        if ch and ch[0]["_cls"] == "IsNull":
            return f"({_jsql(ch[0]['_children'][0], defs)} IS NOT NULL)"
        if ch and ch[0]["_cls"] == "In":
            inner = ch[0]["_children"]
            args = ", ".join(_jsql(c, defs) for c in inner[1:])
            return f"({_jsql(inner[0], defs)} NOT IN ({args}))"
        return f"(NOT {_jsql(ch[0], defs)})" if ch else "(NOT ?)"
    if cls == "IsNull":
        return f"({_jsql(ch[0], defs)} IS NULL)"
    if cls == "IsNotNull":
        return f"({_jsql(ch[0], defs)} IS NOT NULL)"
    if cls == "In":
        args = ", ".join(_jsql(c, defs) for c in ch[1:])
        return f"({_jsql(ch[0], defs)} IN ({args}))"
    if cls == "CaseWhen":
        kids = list(ch)
        parts = []
        while len(kids) >= 2:
            c, v = kids.pop(0), kids.pop(0)
            parts.append(f"WHEN {_jsql(c, defs)} THEN {_jsql(v, defs)}")
        s = "CASE " + " ".join(parts)
        if kids:
            s += f" ELSE {_jsql(kids[0], defs)}"
        return s + " END"
    if cls == "AggregateExpression":
        inner = ch[0] if ch else None
        if inner is None:
            return "agg()"
        args = ", ".join(_jsql(c, defs) for c in inner["_children"])
        distinct = "DISTINCT " if e.get("isDistinct") else ""
        return f"{inner['_cls'].lower()}({distinct}{args})"
    if cls == "WindowExpression":
        return f"{_jsql(ch[0], defs)} OVER (...)" if ch else "window()"
    if cls in _JSUBQ:
        return "scalarsubquery()" if cls == "ScalarSubquery" else f"{cls.lower()}()"
    args = ", ".join(_jsql(c, defs) for c in ch)
    return f"{cls.lower()}({args})"


class _JsonWalkError(Exception):
    """A plan shape the JSON walk can't express."""


# ---------------------------------------------------------------------------
# statement classification + public API
# ---------------------------------------------------------------------------

def _ident_from_unresolved(node) -> str | None:
    """Best-effort multipart identifier from parsed (unresolved) nodes."""
    for acc in ("multipartIdentifier", "nameParts", "identifier", "name"):
        try:
            v = getattr(node, acc)()
            # a Seq of name parts (a JVM String arrives as a str)
            return v.mkString(".") if isinstance(v, JavaObject) else str(v)
        except Exception:
            continue
    return None


def _collect_unresolved_tables(node) -> list[str]:
    """Multipart names of every UnresolvedRelation in a parsed subtree."""
    out: list[str] = []
    try:
        if _cls(node) == "UnresolvedRelation":
            name = _ident_from_unresolved(node)
            if name:
                out.append(name)
        for c in _seq(node.children()):
            out.extend(_collect_unresolved_tables(c))
    except Exception:
        pass
    return out


def _collect_unresolved_attrs(expr) -> list[str]:
    """Names of every UnresolvedAttribute in an expression subtree."""
    out: list[str] = []
    try:
        if _cls(expr) == "UnresolvedAttribute":
            out.append(str(expr.name()))
        for c in _seq(expr.children()):
            out.extend(_collect_unresolved_attrs(c))
    except Exception:
        pass
    return out


def _dml_where(w: _Walker, parsed) -> list[str]:
    """WHERE condition of an UPDATE/DELETE node as a condition-tag list.

    ``condition()`` is Option[Expression] on UpdateTable and a plain
    Expression (TrueLiteral when absent) on Spark 3.4+ DeleteFromTable.
    """
    try:
        c = parsed.condition()
    except Exception:
        return []
    try:
        c = _opt(c)
    except Exception:
        pass
    if c is None:
        return []
    text = w._expr_sql(c)
    if text.lower() == "true":
        return []
    return ["WHERE:" + text]


def _statement_lineage(spark: SparkSession, sql: str,
                       traverse_views: bool = False,
                       current_db: str | None = None) -> StatementLineage:
    """Lineage of one statement. ``current_db`` is the session's
    database, read here when the caller has not read it already."""
    w = _Walker(spark, traverse_views, current_db)
    current_db = w.current_db
    parsed = w.parse(sql)
    cls = _cls(parsed)

    # --- DDL classification (LineParser.java:310-327,435-440): record
    # tables + operation; never execute.
    def ddl(op: str, node=None, is_db: bool = False) -> StatementLineage:
        target = None
        probe = node if node is not None else parsed
        for getter in ("child", "table", "name", "namespace"):
            try:
                target = _ident_from_unresolved(getattr(probe, getter)())
                if target:
                    break
            except Exception:
                continue
        if target is None:
            target = _ident_from_unresolved(probe)
        out = ({target} if is_db else {w.fill_db(target)}) if target else set()
        return StatementLineage(sql, op, [], set(), out)

    if cls in ("DropTable", "DropTableCommand", "DropView"):
        return ddl("DROP")
    if cls in ("TruncateTable", "TruncateTableCommand", "TruncatePartition"):
        return ddl("TRUNCATE")
    if cls in ("LoadData", "LoadDataCommand"):
        return ddl("LOAD")
    if cls in _ALTER_CLASSES or cls.startswith("Alter"):
        # namespace-level ALTERs target a database, not a table — no
        # default-db qualification
        return ddl("ALTER", is_db="Namespace" in cls)
    if cls in ("SetCatalogAndNamespace", "SetNamespaceCommand", "UseStatement"):
        # USE db (LineParser.java:270-273): execute — updates session state only
        spark.sql(sql)
        return StatementLineage(sql, "DEFAULT", [], set(), set())

    if cls == "DeleteFromTable":
        # DELETE FROM t WHERE c: Spark-era DML (the reference predates
        # it; companion to the MERGE classification below). The target
        # is an output; the WHERE condition is recorded on a whole-row
        # ColLine (alias '*') the same way Filter conditions are tagged.
        target = _ident_from_unresolved(parsed.table())
        tgt = w.fill_db(target) if target else None
        conds = _dml_where(w, parsed)
        edges = [ColLine(tgt, None, "*", [], conds)] if conds and tgt else []
        # the target is read (WHERE evaluates against it) AND written
        return StatementLineage(sql, "DELETE", edges,
                                {tgt} if tgt else set(),
                                {tgt} if tgt else set())

    if cls == "UpdateTable":
        # UPDATE t SET c = expr [WHERE ...]: one ColLine per assignment.
        # An unresolved v2 DML plan cannot be analyzed against parquet
        # views, so sources are the attribute names in the assignment
        # value qualified with the target table — classification +
        # best-effort edges, like MERGE.
        target = _ident_from_unresolved(parsed.table())
        tgt = w.fill_db(target) if target else None
        conds = _dml_where(w, parsed)
        edges = []
        try:
            for a in _seq(parsed.assignments()):
                col = w._expr_sql(a.key()).split(".")[-1].strip("`")
                srcs = {(f"{tgt}.{n.split('.')[-1]}" if tgt else n)
                        for n in _collect_unresolved_attrs(a.value())}
                edges.append(ColLine(tgt, col, col, sorted(srcs), conds))
        except Exception:
            pass
        # the target is read (assignment values and WHERE reference its
        # columns — the edges' sources) AND written, so it appears in
        # both table sets, matching what the col_lines themselves say.
        return StatementLineage(sql, "UPDATE", edges,
                                {tgt} if tgt else set(),
                                {tgt} if tgt else set())

    if cls == "InsertIntoStatement":
        return _insert_node_lineage(spark, sql, parsed, w)

    if cls == "InsertIntoDir":
        # INSERT OVERWRITE DIRECTORY '/path' ... SELECT: the target is a
        # filesystem path, not a catalog table — record it verbatim as
        # the output and trace the query's column sources (positional
        # binding has no catalog to consult, so aliases stand).
        target = None
        try:
            loc = parsed.storage().locationUri()
            if loc.isDefined():
                target = str(loc.get())
        except Exception:
            pass
        return _query_lineage(spark, w, sql, parsed.child(), "INSERT",
                              target)

    if cls == "UnresolvedWith":
        # WITH ... INSERT INTO t SELECT ... (also the multi-insert
        # variant): the CTE scope must stay wrapped around the insert's
        # query for the analyzer to resolve it, so rebuild the
        # UnresolvedWith with the insert's query as its child.
        child = parsed.child()
        kind = _cls(child)
        branches = ([child] if kind == "InsertIntoStatement"
                    else _insert_branches(child) if kind == "Union" else None)
        if branches:
            results = [
                _insert_node_lineage(
                    spark, sql, b, _Walker(spark, traverse_views, current_db),
                    query_plan=_with_child(spark, parsed, b.query()))
                for b in branches]
            if len(results) == 1:
                return results[0]
            return StatementLineage(
                sql, "INSERT",
                [e for r in results for e in r.col_lines],
                set().union(*(r.input_tables for r in results)),
                set().union(*(r.output_tables for r in results)))

    if cls == "Union":
        # Hive-style multi-insert: FROM src INSERT INTO a ... INSERT
        # INTO b ... parses as a Union of InsertIntoStatements
        # (reference: one TOK_QUERY with several TOK_INSERT children,
        # LineParser.java:200-214). Trace each branch with a fresh
        # walker and merge the edges into one statement result.
        branches = _insert_branches(parsed)
        if branches:
            results = [
                _insert_node_lineage(spark, sql, n,
                                     _Walker(spark, traverse_views, current_db))
                for n in branches
            ]
            return StatementLineage(
                sql, "INSERT",
                [e for b in results for e in b.col_lines],
                set().union(*(b.input_tables for b in results)),
                set().union(*(b.output_tables for b in results)))

    if cls == "MergeIntoTable":
        # MERGE INTO t USING s ON ...: upsert classification — target is
        # an output, every relation under USING is an input. Column
        # lineage of the assignment lists would need a v2 (transactional)
        # target to analyze, which parquet views are not; classification
        # mirrors how the reference handles its DDL rows (tables +
        # operation, no edges). The executable upsert path is
        # operators/merge.py.
        target = _ident_from_unresolved(parsed.targetTable())
        for t in _collect_unresolved_tables(parsed.sourceTable()):
            w.input_tables.add(w.fill_db(t))
        return StatementLineage(sql, "INSERT", [], set(w.input_tables),
                                {w.fill_db(target)} if target else set())

    if cls in ("CreateTableAsSelect", "CreateTableAsSelectStatement",
               "ReplaceTableAsSelect"):
        target = _ident_from_unresolved(parsed.name())
        try:
            query = parsed.query()
        except Exception:
            query = None
        return _query_lineage(spark, w, sql, query, "CREATETABLE",
                              w.fill_db(target) if target else None)

    if cls == "CreateView":
        # CREATE VIEW v AS SELECT ...: the reference has no view handler
        # (only TOK_CREATETABLE, LineParser.java:319-321); treating the
        # view body like a CTAS body is the natural superset — edges
        # flow into the view's columns.
        target = _ident_from_unresolved(parsed.child())
        try:
            query = parsed.query()
        except Exception:
            query = None
        return _query_lineage(spark, w, sql, query, "CREATETABLE",
                              w.fill_db(target) if target else None)

    if cls == "CreateTableLikeCommand":
        # CREATE TABLE t LIKE s: schema-level dependency — the source
        # table is an input (its schema flows), no column edges.
        tgt = _ident_from_unresolved(parsed.targetTable())
        src_t = _ident_from_unresolved(parsed.sourceTable())
        return StatementLineage(
            sql, "CREATETABLE", [],
            {w.fill_db(src_t)} if src_t else set(),
            {w.fill_db(tgt)} if tgt else set())

    if cls in ("CreateTable", "CreateTableCommand"):
        return ddl("CREATETABLE", parsed)

    # plain query
    return _query_lineage(spark, w, sql, parsed, "SELECT", None)


def _insert_branches(union) -> list | None:
    """The branches of a parsed Union that is a Hive multi-insert (every
    branch an InsertIntoStatement), else None. Node 1 in pre-order is
    the first branch: a query's Union is told apart by that one probe."""
    if _cls(union.apply(1)) != "InsertIntoStatement":
        return None
    nodes = _seq(union.children())
    return (nodes if all(_cls(n) == "InsertIntoStatement" for n in nodes[1:])
            else None)


def _with_child(spark: SparkSession, parent, child):
    """The unary node ``parent`` rebuilt over ``child``."""
    nil = _jvm_handles(spark).nil
    return parent.withNewChildren(getattr(nil, "$colon$colon")(child))


def _insert_node_lineage(spark: SparkSession, sql: str, node,
                         w: _Walker, query_plan=None) -> StatementLineage:
    """Lineage of one InsertIntoStatement node (a standalone INSERT, one
    branch of a multi-insert, or — with ``query_plan`` — an insert whose
    query must stay wrapped in its enclosing CTE scope)."""
    jvm = _jvm_handles(spark)
    spec = node.partitionSpec()
    # target name parts, the user column list and the PARTITION spec
    # ({column: static value or null}) in one reply
    parts, user_cols, values = json.loads(jvm.scala_json.writeValueAsString(
        jvm.tuple3(node.table().multipartIdentifier(),
                   node.userSpecifiedCols(), spec)))
    query = query_plan if query_plan is not None else node.query()
    # INSERT INTO t (b, a) ...: the user column list overrides the
    # catalog's positional order (reference only knows positional,
    # LineParser.java:143-152; by-name is the Spark-era extension).
    # PARTITION (p1='a', p2): only the DYNAMIC p2 takes a trailing
    # select expression; without a PARTITION clause Hive treats every
    # partition column as dynamic (None). A static NULL value
    # (p1=NULL, Some(null)) also reads null in JSON, so a null is
    # confirmed as None on the JVM.
    return _query_lineage(
        spark, w, sql, query, "INSERT", w.fill_db(".".join(parts)),
        user_cols=user_cols or None, by_name=node.byName(),
        dynamic_parts=({k.lower() for k, v in values.items()
                        if v is None and spec.apply(k).isEmpty()}
                       if values else None))


def _query_lineage(spark: SparkSession, w: _Walker, sql: str, parsed_query,
                   operation: str, target_table: str | None,
                   user_cols: list[str] | None = None,
                   by_name: bool = False,
                   dynamic_parts: set[str] | None = None) -> StatementLineage:
    if parsed_query is None:
        return StatementLineage(sql, operation, [], set(),
                                {target_table} if target_table else set())
    tree = _plan_json(spark, w.analyze(parsed_query))
    mapping, conds = w.walk_json(tree)
    edges = w.project_edges_json(tree, mapping, conds)

    out_tables = {target_table} if target_table else set()
    if target_table:
        # positional output binding (LineParser.java:120-155): i-th select
        # expression -> i-th physical (non-partition) column of the target,
        # via spark.catalog — the reference's JDBC metadata fetch, minus its
        # split(".") crash (LineParser.java:110-118). An explicit INSERT
        # column list overrides the catalog order.
        # INSERT ... BY NAME matches select aliases to target columns by
        # name, not position (Spark-era extension; no reference analogue).
        phys_cols = None if by_name \
            else (user_cols
                  or _catalog_columns(spark, target_table, dynamic_parts))
        for i, e in enumerate(edges):
            e.target_table = target_table
            e.target_column = phys_cols[i] if phys_cols and i < len(phys_cols) else e.target_alias
    return StatementLineage(sql, operation, edges, set(w.input_tables), out_tables)


def _catalog_columns(spark: SparkSession, table: str,
                     dynamic_parts: set[str] | None = None) -> list[str] | None:
    """The target columns select expressions bind to, in order; None
    when the target is not in the catalog (its aliases stand)."""
    try:
        data, parts = _table_schema(spark, table)
    except AnalysisException:
        return None
    # Dynamic-partition inserts put their DYNAMIC partition columns
    # LAST in the select list (Hive semantics); appending only those
    # binds the trailing expressions. Static partition columns
    # (PARTITION (p1='a', ...)) consume no select expression and
    # must not appear, or a mixed static/dynamic spec would bind the
    # trailing expression to the wrong column. dynamic_parts=None
    # means no PARTITION clause -> all partition columns dynamic.
    if dynamic_parts is not None:
        parts = [p for p in parts if p.lower() in dynamic_parts]
    return (data + parts) or None


def _table_schema(spark: SparkSession, table: str) -> tuple[list[str], list[str]]:
    """(data_columns, partition_columns) of a catalog/temp table, in
    catalog order.

    Reads CatalogTable metadata straight from the session catalog —
    one metadata fetch + a JSON schema decode (~13 ms) instead of
    ``spark.catalog.listColumns``'s full Dataset construction (~370 ms
    measured): this runs once per INSERT statement and dominated
    lineage throughput.
    """
    jvm = _jvm_handles(spark)
    ident = ".".join("`%s`" % p.replace("`", "``")
                     for p in table.split(".")[-2:])
    meta = jvm.catalog.getTempViewOrPermanentTableMetadata(
        jvm.parser.parseTableIdentifier(ident))
    fields = [f["name"] for f in json.loads(meta.schema().json())["fields"]]
    parts = json.loads(jvm.scala_json.writeValueAsString(
        meta.partitionColumnNames()))
    part_set = set(parts)
    return [f for f in fields if f not in part_set], parts


#: a USE keyword outside quotes and comments (conservative: a column
#: named ``use`` only costs that script its concurrency)
_USE = re.compile(r"\bUSE\b", re.IGNORECASE)


class _SharedExclusiveGate:
    """Reader/writer gate: any number of shared holders, or one
    exclusive holder. A waiting exclusive holder blocks new shared
    ones, so a USE script is not starved by a steady stream of others."""

    def __init__(self):
        self._cond = threading.Condition()
        self._shared = 0
        self._exclusive = False
        self._waiting = 0

    @contextmanager
    def shared(self):
        with self._cond:
            self._cond.wait_for(
                lambda: not (self._exclusive or self._waiting))
            self._shared += 1
        try:
            yield
        finally:
            with self._cond:
                self._shared -= 1
                if not self._shared:
                    self._cond.notify_all()

    @contextmanager
    def exclusive(self):
        with self._cond:
            self._waiting += 1
            self._cond.wait_for(
                lambda: not (self._exclusive or self._shared))
            self._waiting -= 1
            self._exclusive = True
        try:
            yield
        finally:
            with self._cond:
                self._exclusive = False
                self._cond.notify_all()


#: one gate per process, not per session: over-serializing USE scripts
#: of unrelated sessions is safe, missing a shared session is not
_SESSION_GATE = _SharedExclusiveGate()


def extract_lineage(spark: SparkSession, sql_text: str,
                    traverse_views: bool = False) -> ScriptLineage:
    """Lineage for a (possibly multi-statement) SQL script.

    Equivalent of ``LineParser.parse`` (LineParser.java:83-99) +
    ``getColLines/getInputTables/getOutputTables`` (157-162, 790-792).
    ``traverse_views`` expands view bodies so columns trace through
    view chains to base tables (the reference stops at the view name).

    Safe to call from many threads on one session. The only session
    state lineage changes is the current database (``USE``); it is
    scoped to the script (restored on exit), and a script that may
    contain ``USE`` runs alone while every other script runs
    concurrently.
    """
    stmts = split_statements(sql_text)
    codes = [_code_only(s) for s in stmts]
    uses_db = any(_USE.search(c) for c in codes)
    script = ScriptLineage()
    with _SESSION_GATE.exclusive() if uses_db else _SESSION_GATE.shared():
        # read once per script, and again after a statement that may
        # have switched it (such scripts run alone behind the gate)
        start_db = db = spark.catalog.currentDatabase()
        try:
            for stmt, code in zip(stmts, codes):
                _check_supported_code(code)
                script.statements.append(
                    _statement_lineage(spark, stmt, traverse_views, db))
                if _USE.search(code):
                    db = spark.catalog.currentDatabase()
        finally:
            if uses_db:
                spark.catalog.setCurrentDatabase(start_db)
    return script
