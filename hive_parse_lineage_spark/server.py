"""HTTP serving surface — the reference's REST API, stdlib-only.

The reference serves ``POST /fetch`` (body = SQL text, response =
``List<ColLine>`` JSON) from a Spring Boot controller
(``controller/ParseController.java:18-28``, bootstrap
``ParseApplication.java:6-13``). Same contract here on
``http.server`` — no framework dependency:

- ``POST /fetch``  body = SQL script → JSON list of ColLine dicts
  (target_table, target_column, target_alias, sources, conditions);
  ``/fetch?traverse_views=1`` expands view bodies to base tables
- ``POST /tables`` body = SQL script → {input_tables, output_tables,
  operations}
- ``GET /health``  → {"status": "ok"}

Unlike the reference (which hard-codes its datasource config at
ParseController.java:20-24), the engine is injected. Lineage is
plan-sized work on the driver (parse + analyze, no Spark jobs), so a
single SparkSession serves all requests, and requests run concurrently
on it on a fixed pool of ``WORKERS`` threads. A worker keeps its py4j
connection (and the JVM thread serving it) from one request to the
next, and with it the connection's TCP_NODELAY flag, so a request pays
for neither. ``extract_lineage`` is what makes concurrency safe:
``USE``, the only session state lineage changes, is scoped to its
script, which runs alone.

Errors: a client's bad SQL (``ParseException``, ``AnalysisException``,
``UniqueJoinUnsupportedError``) is 400; anything else is an engine
fault, 500 with an ``error_id`` that is also logged with its traceback.
A body needs a Content-Length (411 without, 400 if not a non-negative
integer) of at most ``MAX_BODY_BYTES`` (413 above).
"""

from __future__ import annotations

import json
import logging
import os
import socket
import uuid
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import AnalysisException

from hive_parse_lineage_spark.plans.lineage import UniqueJoinUnsupportedError

#: largest accepted request body (a SQL script), in bytes
MAX_BODY_BYTES = 1 << 20

#: request worker threads (ThreadPoolExecutor's own default size)
WORKERS = min(32, (os.cpu_count() or 1) + 4)

_log = logging.getLogger(__name__)


class _PooledHTTPServer(HTTPServer):
    """An HTTPServer that handles each request on one of ``WORKERS``
    threads named ``hpl-http_N``; ``server_close`` joins them."""

    #: listen backlog: accepted connections wait in the pool's queue,
    #: but a burst of connects can outrun the accept loop, and past the
    #: stdlib's backlog of 5 the kernel resets them
    request_queue_size = socket.SOMAXCONN

    def __init__(self, address, handler):
        super().__init__(address, handler)
        self._pool = ThreadPoolExecutor(WORKERS, thread_name_prefix="hpl-http")

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


def make_server(engine, host: str = "127.0.0.1", port: int = 0) -> HTTPServer:
    """Build (not start) an HTTP server bound to ``engine``. Port 0
    picks a free port; ``server.server_address`` has the real one."""

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> str | None:
            """The request body, or None once an error is sent."""
            raw = self.headers.get("Content-Length")
            if raw is None:
                self._send(411, {"error": "LengthRequired"})
                return None
            try:
                n = int(raw)
            except ValueError:
                n = -1
            if n < 0:
                self._send(400, {"error": "BadContentLength",
                                 "message": f"Content-Length {raw!r}"})
                return None
            if n > MAX_BODY_BYTES:
                self._send(413, {"error": "PayloadTooLarge",
                                 "message": f"body over {MAX_BODY_BYTES} bytes"})
                return None
            try:
                return self.rfile.read(n).decode("utf-8")
            except UnicodeDecodeError as exc:
                self._send(400, {"error": type(exc).__name__,
                                 "message": str(exc)})
                return None

        def do_GET(self):  # noqa: N802 (stdlib naming)
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            else:
                self._send(404, {"error": f"unknown path {self.path}"})

        def do_POST(self):  # noqa: N802
            sql = self._body()
            if sql is None:
                return
            url = urlparse(self.path)
            path, qs = url.path, parse_qs(url.query)
            try:
                if path == "/fetch":
                    tv = qs.get("traverse_views", ["0"])[0] in ("1", "true")
                    self._send(200, engine.lineage(sql, traverse_views=tv))
                elif path == "/tables":
                    # one parse for tables + per-statement operations
                    # (reference Operation enum, common/Operation.java:3-5)
                    self._send(200, engine.tables_report(sql))
                else:
                    self._send(404, {"error": f"unknown path {self.path}"})
            # the client's bad SQL (ParseException is an AnalysisException);
            # reference SQLParseException → 4xx
            except (AnalysisException, UniqueJoinUnsupportedError) as exc:
                self._send(400, {"error": type(exc).__name__, "message": str(exc)})
            except Exception:
                error_id = uuid.uuid4().hex[:12]
                _log.exception("error_id=%s %s failed", error_id, path)
                self._send(500, {"error": "InternalError", "error_id": error_id})

        def log_message(self, *a):  # keep test output quiet
            pass

    return _PooledHTTPServer((host, port), Handler)


def serve(engine, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking serve loop (the ``ParseApplication.main`` analogue)."""
    server = make_server(engine, host, port)
    try:
        server.serve_forever()
    finally:
        server.server_close()
