"""REST serving surface (reference controller/ParseController.java:18-28):
POST /fetch with a SQL body returns the ColLine list as JSON."""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlsplit

import pytest

from hive_parse_lineage_spark.engine import Engine
from hive_parse_lineage_spark.server import (
    MAX_BODY_BYTES, WORKERS, make_server)


def _serve(engine):
    srv = make_server(engine)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


@pytest.fixture(scope="module")
def server_url(spark, tables):
    spark.sql("CREATE DATABASE IF NOT EXISTS fact")
    spark.sql("CREATE TABLE IF NOT EXISTS fact.test (id BIGINT, v STRING) "
              "USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS default.srv_target "
              "(k BIGINT, name STRING) USING parquet")
    srv = _serve(Engine(spark, register_tables=False))
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()
    srv.server_close()
    spark.sql("DROP TABLE IF EXISTS default.srv_target")


def _raw(url: str, body: bytes | None = None, headers: dict | None = None):
    """POST with exactly the given headers (no automatic Content-Length);
    an error status is returned, not raised."""
    u = urlsplit(url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=120)
    try:
        conn.putrequest("POST", f"{u.path}?{u.query}" if u.query else u.path)
        for k, v in (headers or {}).items():
            conn.putheader(k, v)
        conn.endheaders(body)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def _post(url: str, body: str):
    data = body.encode()
    return _raw(url, data, {"Content-Length": str(len(data))})


def test_health(server_url):
    with urllib.request.urlopen(server_url + "/health") as resp:
        assert json.loads(resp.read()) == {"status": "ok"}


def test_fetch_lineage(server_url):
    status, edges = _post(server_url + "/fetch",
                          "SELECT n_name AS nm FROM nation WHERE n_regionkey = 0")
    assert status == 200
    assert any(e["target_alias"] == "nm"
               and "default.nation.n_name" in e["sources"] for e in edges)
    assert any(any(c.startswith("WHERE:") for c in e["conditions"]) for e in edges)


def test_tables_endpoint(server_url):
    status, body = _post(server_url + "/tables",
                         "INSERT INTO nation SELECT * FROM nation")
    assert status == 200
    assert body["input_tables"] == ["default.nation"]
    assert body["output_tables"] == ["default.nation"]


def test_fetch_traverse_views(server_url, spark):
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW srv_v AS "
              "SELECT n_name FROM nation WHERE n_regionkey = 0")
    try:
        _, bound = _post(server_url + "/fetch", "SELECT n_name FROM srv_v")
        assert bound[0]["sources"] == ["default.srv_v.n_name"]
        _, expanded = _post(server_url + "/fetch?traverse_views=1",
                            "SELECT n_name FROM srv_v")
        assert expanded[0]["sources"] == ["default.nation.n_name"]
    finally:
        spark.sql("DROP VIEW IF EXISTS srv_v")


def test_fetch_parse_error(server_url):
    req = urllib.request.Request(server_url + "/fetch",
                                 data=b"SELEC nonsense FROM", method="POST")
    try:
        urllib.request.urlopen(req)
        raised = False
    except urllib.error.HTTPError as e:
        raised = True
        assert e.code == 400
        assert "error" in json.loads(e.read())
    assert raised


def test_tables_operations(server_url):
    """POST /tables returns per-statement Operation tags
    (common/Operation.java:3-5) alongside the table sets."""
    status, body = _post(server_url + "/tables",
                         "SELECT * FROM nation; "
                         "INSERT INTO nation SELECT * FROM nation; "
                         "DROP TABLE IF EXISTS no_such_tbl")
    assert status == 200
    assert body["operations"] == ["SELECT", "INSERT", "DROP"]
    assert body["input_tables"] == ["default.nation"]


def test_analysis_error_is_400(server_url):
    status, body = _post(server_url + "/fetch", "SELECT no_such_col FROM nation")
    assert status == 400
    assert body["error"] == "AnalysisException"


def test_engine_fault_is_500_with_error_id():
    """An exception that is not the client's bad SQL is reported as an
    engine fault, not as a 400."""
    class Faulty:
        def lineage(self, sql, traverse_views=False):
            raise RuntimeError("engine fault")

        tables_report = lineage

    srv = _serve(Faulty())
    host, port = srv.server_address
    try:
        for path in ("/fetch", "/tables"):
            status, body = _post(f"http://{host}:{port}{path}", "SELECT 1")
            assert status == 500
            assert body["error"] == "InternalError"
            assert len(body["error_id"]) == 12
            assert "engine fault" not in json.dumps(body)
    finally:
        srv.shutdown()
        srv.server_close()


def test_catalog_fault_is_500_not_alias_binding(server_url, monkeypatch):
    """A failure reading the INSERT target's columns that is not a
    missing table is an engine fault: the select aliases must not be
    served as the target's columns."""
    from py4j.protocol import Py4JError

    from hive_parse_lineage_spark.plans import lineage

    def broken(spark, table):
        raise Py4JError("catalog read failed")

    monkeypatch.setattr(lineage, "_table_schema", broken)
    status, body = _post(server_url + "/fetch",
                         "INSERT INTO srv_target SELECT c_custkey AS k2, "
                         "c_name AS n2 FROM customer")
    assert status == 500
    assert body["error"] == "InternalError"
    assert len(body["error_id"]) == 12


def test_body_needs_content_length(server_url):
    assert _raw(server_url + "/fetch")[0] == 411


@pytest.mark.parametrize("length", ["abc", "-1", "1.5"])
def test_body_bad_content_length(server_url, length):
    status, body = _raw(server_url + "/fetch", b"SELECT 1",
                        {"Content-Length": length})
    assert status == 400
    assert body["error"] == "BadContentLength"


def test_body_too_large(server_url):
    status, body = _raw(server_url + "/fetch", b"SELECT 1",
                        {"Content-Length": str(MAX_BODY_BYTES + 1)})
    assert status == 413
    assert body["error"] == "PayloadTooLarge"


def test_body_not_utf8(server_url):
    status, body = _raw(server_url + "/fetch", b"\xff",
                        {"Content-Length": "1"})
    assert status == 400
    assert body["error"] == "UnicodeDecodeError"


#: (path, body, status) of the soak mix: bad SQL in several forms, a
#: script-scoped USE, and an unqualified name that only resolves if a
#: USE leaked out of another request
_SOAK = [
    ("/fetch", "SELECT n_name AS nm FROM nation WHERE n_regionkey = 0", 200),
    ("/fetch?traverse_views=1", "SELECT n_name AS nm, r_name FROM nation "
     "JOIN region ON n_regionkey = r_regionkey", 200),
    ("/tables", "SELECT * FROM nation; "
     "INSERT INTO nation SELECT * FROM nation; "
     "DROP TABLE IF EXISTS no_such_tbl", 200),
    ("/fetch", "USE fact; SELECT id FROM test", 200),
    ("/tables", "USE fact; SELECT id, v FROM test", 200),
    ("/fetch?traverse_views=1", "USE fact; SELECT id FROM test", 200),
    ("/fetch", "SELECT id FROM test", 400),
    ("/fetch", "SELEC nonsense FROM", 400),
    ("/fetch", "SELECT no_such_col FROM nation", 400),
    ("/tables", "SELECT * FROM a UNIQUEJOIN PRESERVE b (b.k)", 400),
    ("/fetch", "WITH spend AS (SELECT o_custkey, SUM(o_totalprice) AS total "
     "FROM orders GROUP BY o_custkey) "
     "SELECT c_name, total FROM spend JOIN customer "
     "ON c_custkey = o_custkey WHERE total > 1000; "
     "SELECT o_orderkey FROM orders "
     "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)", 200),
    ("/fetch", "INSERT INTO srv_target "
     "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0", 200),
    ("/tables", "SELECT id FROM fact.test; "
     "INSERT INTO srv_target SELECT n_nationkey, n_name FROM nation", 200),
]


def test_concurrent_soak_matches_serial(server_url, spark):
    """8 threads send the mixed bodies in shuffled orders; every status
    and body equals the serial answer, and the session's database is
    still ``default`` afterwards."""
    serial = {}
    for path, body, status in _SOAK:
        serial[path, body] = _post(server_url + path, body)
        assert serial[path, body][0] == status, body

    def client(seed: int):
        order = list(serial) * 3
        random.Random(seed).shuffle(order)
        return [(req, _post(server_url + req[0], req[1])) for req in order]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # more thread switches inside the gate
    try:
        with ThreadPoolExecutor(8) as pool:
            answers = [a for out in pool.map(client, range(8), timeout=600)
                       for a in out]
    finally:
        sys.setswitchinterval(interval)
    assert len(answers) == 8 * 3 * len(_SOAK)
    for req, got in answers:
        assert got == serial[req], req
    assert spark.catalog.currentDatabase() == "default"


def _pool_threads(exclude: set) -> list[threading.Thread]:
    return [t for t in threading.enumerate()
            if t.name.startswith("hpl-http") and t not in exclude]


def test_worker_pool_bounds_threads(spark, tables):
    """3x the pool size of concurrent /fetch requests all complete with
    the serial answer, the server never runs more than WORKERS request
    threads, and server_close() joins them."""
    before = set(_pool_threads(set()))
    srv = _serve(Engine(spark, register_tables=False))
    host, port = srv.server_address
    url = f"http://{host}:{port}/fetch"
    bodies = [body for path, body, status in _SOAK
              if path == "/fetch" and status == 200 and "USE" not in body]
    serial = {body: _post(url, body) for body in bodies}
    assert all(got[0] == 200 for got in serial.values())

    peak, done = [0], threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], len(_pool_threads(before)))
            time.sleep(0.001)

    sampler = threading.Thread(target=sample)
    sampler.start()
    n = 3 * WORKERS
    try:
        with ThreadPoolExecutor(n) as clients:
            answers = list(clients.map(
                lambda i: (bodies[i % len(bodies)],
                           _post(url, bodies[i % len(bodies)])),
                range(n), timeout=600))
    finally:
        done.set()
        sampler.join(timeout=10)
        srv.shutdown()
        srv.server_close()
    assert not sampler.is_alive()
    assert len(answers) == n
    for body, got in answers:
        assert got == serial[body], body
    assert 1 <= peak[0] <= WORKERS
    assert _pool_threads(before) == []
