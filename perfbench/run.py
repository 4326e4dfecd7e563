"""Benchmark of the engine's serving and query surfaces.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads:

- ``lineage_serve``: 4 closed-loop client threads in this process send
  seeded ``POST /fetch`` (70%) and ``POST /tables`` (30%) requests to
  ``server.make_server(Engine(...))`` running in a separate process.
  An op is one SQL statement; latency is per request.
- ``dedup_graph_sf01``: the near-dup graph entries of
  ``query_load.GRAPH_ENTRIES``, built through
  ``__spark_entry__.queries()`` and fetched with ``toPandas()`` by one
  serial client. An op is one entry.

Inputs are sf0.1-shaped tables generated once under ``.bench_build/``
(see ``datagen.py``); the seed orders the entries and draws the
lineage request stream. Every output is checked against
``golden.json`` (``record.py`` writes it) outside the timed interval.

``setup_s`` runs from launching the engine's process (after the tables
exist) to the first timed operation: JVM and session, table
registration, the server bind and the untimed warm-up.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones and writes the spans to
``.bench_build/perfbench/traces/``. Every per-layer metric is printed on
every workload; a layer the workload does not use reads 0.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("lineage_serve", "dedup_graph_sf01")
CLIENTS = 4
WARM_REQUESTS = 24

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
              "op_p75_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    from perfbench.query_load import GRAPH_ENTRIES, LEDGER
    units = {"setup.launch_s": "s", "setup.engine_s": "s",
             "setup.warm_s": "s", "mem.peak_rss_mb": "MB",
             "trace.overhead_pct": "%",
             "trace.self_sum_err_pct": "%",
             "server.wait_ms": "ms", "engine.busy_frac": "frac",
             "engine.fetch_ms": "ms", "engine.tables_ms": "ms",
             "plans.lineage.split_ms": "ms",
             "plans.lineage.select_stmt_ms": "ms",
             "plans.lineage.insert_stmt_ms": "ms",
             "catalyst.plan_json_ms": "ms", "plans.lineage.walk_ms": "ms",
             "lineage.spark_jobs": "count", "lineage.requests": "count",
             "lineage.statements": "count", "lineage.failed": "count",
             "loader.load_tables_ms": "ms"}
    for k in LEDGER:
        units[f"graph.{k}"] = {"s": "s", "mb": "MB"}.get(
            k.rsplit("_", 1)[-1], "count")
    for name in GRAPH_ENTRIES:
        units[f"graph.{name}.wall_s"] = "s"
        units[f"graph.{name}.jobs"] = "count"
    return units


# -- lineage_serve ----------------------------------------------------------

class Server:
    """The engine's HTTP server in its own process."""

    def __init__(self, data_dir: str, path: str, trace: bool):
        env = {**os.environ, **common.spark_env(path)}
        self.log = open(os.path.join(path, "server.log"), "w")
        self.spawned = common.now()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.HERE, "lineage_server.py"),
             data_dir, path, "1" if trace else "0"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            env=env, text=True)
        self.info = self._line()

    def _line(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError("lineage server exited; see server.log")

    def stop(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        out = self._line()
        self.proc.stdin.close()
        self.proc.wait(timeout=60)
        return out

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


class Load:
    """Closed-loop clients over one seeded request stream."""

    def __init__(self, port: int, golden: dict, seed: int):
        import hashlib
        from perfbench import scripts
        self.port = port
        self.golden = golden
        self.pool = scripts.pool()
        sha = hashlib.sha256("\n".join(self.pool).encode()).hexdigest()
        if sha != golden["pool_sha"]:
            raise RuntimeError("script pool differs from the recorded one; "
                               "re-run perfbench/record.py")
        self.stream = scripts.request_stream(seed, 20_000)
        self.next = 0
        self.lock = threading.Lock()

    def send(self, conn, path: str, idx: int, rid: int | None) -> dict:
        """One request; the reply is checked later, off the clock."""
        body = self.pool[idx]
        if rid is not None:
            body = f"/* rid={rid} */\n" + body
        t0 = common.now()
        try:
            conn.request("POST", path, body=body.encode(),
                         headers={"Content-Type": "text/plain"})
            resp = conn.getresponse()
            status, data = resp.status, resp.read()
        except (OSError, http.client.HTTPException) as exc:
            conn.close()
            status, data = None, repr(exc).encode()
        return {"rid": rid, "path": path, "script": idx, "start": t0,
                "end": common.now(), "status": status, "body": data}

    def check(self, rec: dict) -> bool:
        return (rec["status"] == 200 and common.body_fingerprint(
            json.loads(rec["body"])) == self.golden[rec["path"]][rec["script"]])

    def warm(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        for i in range(WARM_REQUESTS):
            self.send(conn, ("/fetch", "/tables")[i % 2], i, None)
        conn.close()

    def window(self, seconds: float, traced: bool) -> dict:
        """Run the clients for ``seconds``; per-request records."""
        records: list[dict] = []
        start = common.now()

        def client() -> None:
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=120)
            while common.now() - start < seconds:
                with self.lock:
                    rid = self.next
                    self.next += 1
                path, idx = self.stream[rid]
                rec = self.send(conn, path, idx, rid if traced else None)
                rec["rid"] = rid
                records.append(rec)
            conn.close()

        threads = [threading.Thread(target=client)
                   for _ in range(min(CLIENTS, common.cpus()))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        n_stmts = [self.pool[r["script"]].count(";") for r in records]
        end = max(r["end"] for r in records)
        lat = [(r["end"] - r["start"]) * 1000.0 for r in records]
        return {"records": records, "statements": sum(n_stmts),
                "ops_per_s": sum(n_stmts) / (end - start),
                "p50": common.quantile(lat, 0.5),
                "p75": common.quantile(lat, 0.75),
                "failed": sum(not self.check(r) for r in records),
                "start": start, "end": end}


def lineage_serve(args, data_dir: str, path: str, golden: dict) -> dict:
    server = Server(data_dir, path, bool(args.trace))
    try:
        info = server.info
        launch = info["session_ready"] - server.spawned
        engine_s = info["ready"] - info["session_ready"]
        load = Load(info["port"], golden["lineage"], args.seed)
        t = common.now()
        load.warm()
        warm_s = common.now() - t
        if args.trace:
            # the untraced window follows the traced one, so an engine
            # still warming up counts against the traced window
            traced = load.window(args.seconds, traced=True)
        plain = load.window(args.seconds, traced=False)
        rss = common.tree_peak_rss_mb(server.proc.pid)
        done = server.stop()
    finally:
        server.kill()
    out = {"confs": info["confs"], "attempted": len(plain["records"]),
           "failed": plain["failed"]}
    if not args.trace:
        out["metrics"] = {
            "setup_s": launch + engine_s + warm_s,
            "ops_per_s": plain["ops_per_s"], "op_p50_ms": plain["p50"],
            "op_p75_ms": plain["p75"]}
        return out
    out["attempted"] += len(traced["records"])
    out["failed"] += traced["failed"]
    metrics, spans = lineage_layers(traced, done)
    metrics.update({
        "setup.launch_s": launch, "mem.peak_rss_mb": rss,
        "setup.engine_s": engine_s,
        "setup.warm_s": warm_s,
        "trace.overhead_pct": (plain["ops_per_s"] / traced["ops_per_s"]
                               - 1.0) * 100.0,
        "lineage.spark_jobs": done["spark_jobs"]})
    out["metrics"], out["spans"] = metrics, spans
    return out


def lineage_layers(traced: dict, done: dict):
    """Per-layer numbers of the traced window from client and server
    spans joined on the request id. The client span's self time is the
    wait outside the engine: HTTP plus the server's handler lock.

    Here every server span nests in its engine span and that in its
    client span, so the self times sum to the client wall by
    construction: ``trace.self_sum_err_pct`` only checks that the two
    processes' spans line up. It is a real check on
    dedup_graph_sf01, whose phase and job spans come from the JVM."""
    spans = [{"id": f"r{r['rid']}", "parent": None, "name": "client",
              "rid": r["rid"], "start": r["start"], "end": r["end"]}
             for r in traced["records"]]
    for i, s in enumerate(done["spans"]):
        if s["name"].startswith("engine."):
            spans.append({**s, "id": f"r{s['rid']}/engine",
                          "parent": f"r{s['rid']}"})
        else:
            spans.append({**s, "id": f"r{s['rid']}/{i}",
                          "parent": f"r{s['rid']}/engine"})
    selfs = common.self_times(spans)
    by_name: dict[str, list[float]] = {}
    by_rid: dict[int, float] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
        by_rid[s["rid"]] = by_rid.get(s["rid"], 0.0) + selfs[s["id"]]
    errs, waits = [], []
    for c in spans[:len(traced["records"])]:
        wall = c["end"] - c["start"]
        errs.append(abs(by_rid[c["rid"]] - wall) / wall)
        waits.append(selfs[c["id"]])

    def mean_ms(name: str) -> float:
        vals = by_name.get(name, [])
        return 1000.0 * sum(vals) / len(vals) if vals else 0.0

    engine_busy = sum(by_name.get("engine.fetch", []) +
                      by_name.get("engine.tables", []))
    plan_json = done["plan_json_ms"]
    plan_json_ms = sum(plan_json) / len(plan_json) if plan_json else 0.0
    select_ms = mean_ms("plans.lineage.select_stmt")
    metrics = {
        "server.wait_ms": 1000.0 * sum(waits) / len(waits),
        "engine.busy_frac": engine_busy / (traced["end"] - traced["start"]),
        "engine.fetch_ms": mean_ms("engine.fetch"),
        "engine.tables_ms": mean_ms("engine.tables"),
        "plans.lineage.split_ms": mean_ms("plans.lineage.split"),
        "plans.lineage.select_stmt_ms": select_ms,
        "plans.lineage.insert_stmt_ms": mean_ms("plans.lineage.insert_stmt"),
        "catalyst.plan_json_ms": plan_json_ms,
        "plans.lineage.walk_ms": select_ms - plan_json_ms,
        "lineage.requests": len(traced["records"]),
        "lineage.statements": traced["statements"],
        "lineage.failed": traced["failed"],
        "trace.self_sum_err_pct": 100.0 * max(errs),
    }
    return metrics, spans


# -- dedup_graph_sf01 -------------------------------------------------------

def dedup_graph(args, data_dir: str, path: str, golden: dict) -> dict:
    t0 = common.now()
    os.environ.update(common.spark_env(path))
    from hive_parse_lineage_spark.sources.loader import load_tables
    from perfbench.query_load import Runner
    spark = common.get_session(path)
    try:
        t1 = common.now()
        load_tables(spark, data_dir)
        t2 = common.now()
        runner = Runner(spark, data_dir, golden["queries"])
        runner.warm()
        t3 = common.now()
        if args.trace:
            # the untraced pass follows the traced one, so a JVM still
            # warming up counts against the traced pass
            tr = runner.traced_pass(args.seed)
        # at least two timed passes: with one, a run would make one or
        # two calls depending on the host's speed, and the first call
        # after the warm-up one is still the slowest (JIT)
        run = (runner.timed(args.seed, 0, 1) if args.trace
               else runner.timed(args.seed, args.seconds, 2))
        medians = {n: common.median(w) for n, w in run["walls"].items()}
        samples = [x for w in run["walls"].values() for x in w]
        out = {"confs": common.effective_confs(spark),
               "attempted": run["attempted"], "failed": run["failed"]}
        if args.trace:
            out["attempted"] += len(runner.names)
            out["failed"] += tr["failed"]
        rss = common.tree_peak_rss_mb()
    finally:
        common.stop_spark(spark)
    if not args.trace:
        out["metrics"] = {
            "setup_s": t3 - t0,
            "ops_per_s": len(medians) / sum(medians.values()),
            "op_p50_ms": 1000.0 * common.quantile(samples, 0.5),
            "op_p75_ms": 1000.0 * common.quantile(samples, 0.75)}
        return out
    metrics = {f"graph.{k}": v for k, v in tr["ledger"].items()}
    for name, led in tr["per_entry"].items():
        metrics[f"graph.{name}.wall_s"] = led["wall_s"]
        metrics[f"graph.{name}.jobs"] = led["jobs"]
    metrics.update({
        "setup.launch_s": t1 - t0, "setup.engine_s": t2 - t1,
        "setup.warm_s": t3 - t2, "mem.peak_rss_mb": rss,
        "loader.load_tables_ms": sum(tr["load_ms"]) / len(tr["load_ms"]),
        "trace.overhead_pct": (tr["ledger"]["wall_s"] / sum(samples)
                               - 1.0) * 100.0,
        "trace.self_sum_err_pct": 100.0 * tr["self_sum_err"]})
    out["metrics"], out["spans"] = metrics, tr["spans"]
    return out


# -- main -------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(common.ROOT, "hive_parse_lineage_spark")):
        print("perfbench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2
    from perfbench import datagen
    golden = common.load_golden()
    data_dir = datagen.ensure(os.path.join(common.WORK, "data"),
                              common.DATA_SEED)
    path = common.run_dir(args.workload)
    try:
        if args.workload == "lineage_serve":
            out = lineage_serve(args, data_dir, path, golden)
        else:
            out = dedup_graph(args, data_dir, path, golden)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    units = END_TO_END if not args.trace else per_layer_units()
    metrics = {k: {"value": float(out["metrics"].get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    if args.trace:
        trace_dir = os.path.join(common.WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl")
        selfs = common.self_times(out["spans"])
        with open(trace, "w") as f:
            for s in out["spans"]:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")
    print("confs " + json.dumps(out["confs"], sort_keys=True))
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
