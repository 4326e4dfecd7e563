"""The dedup_graph_sf01 workload.

One serial client calls ``__spark_entry__.queries()[name](spark, dir)``
for each entry of ``GRAPH_ENTRIES`` and fetches the result with
``toPandas()``, in an order drawn from the seed, until the run's
seconds are spent and at least two full passes are done. An untimed pass
over all entries runs first, so the timed passes see a warm JVM with
every entry's generated code compiled. Every timed fetch is
fingerprinted outside the timed interval and checked against the
recorded golden.

The traced run makes a traced and then an untraced pass after the
warm-up one. Each entry's build and fetch get their own Spark job
group; straight after the entry the job groups, the stage data in the
status store and the query's phase tracker are read into spans.
"""

from __future__ import annotations

import random
import time

from perfbench import common

#: the dedup-graph entries: MinHash-LSH edges (operators.dedup) into
#: eager min-label propagation rounds (operators.components). Only one
#: entry of the near-dup graph family: its first call costs ~20 s and
#: each warm one ~8 s at sf0.1 on 4 cores, and the whole benchmark has
#: to fit its time budget.
GRAPH_ENTRIES = ("x59_dedup_keep_one",)

#: per-layer fields summed over a pass, reported as ``graph.<field>``
LEDGER = ("wall_s", "build_s", "build_jobs", "build_tasks", "analysis_s",
          "optimization_s", "planning_s", "fetch_s", "fetch_jobs",
          "fetch_tasks", "stages", "executor_run_s", "task_wait_s",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "outside_jobs_s")

_MB = 1024.0 * 1024.0


class Runner:
    def __init__(self, spark, data_dir: str, golden: dict):
        import __spark_entry__
        self.spark = spark
        self.data_dir = data_dir
        self.golden = golden
        self.fns = __spark_entry__.queries()
        self.names = GRAPH_ENTRIES

    def once(self, name: str) -> tuple[float, bool]:
        """Build and fetch one entry; return its wall seconds and whether
        the rows match the golden (checked after the clock stops)."""
        t0 = common.now()
        pdf = self.fns[name](self.spark, self.data_dir).toPandas()
        wall = common.now() - t0
        return wall, common.fingerprint(pdf) == self.golden[name]

    def warm(self) -> None:
        for name in self.names:
            self.fns[name](self.spark, self.data_dir).toPandas()

    def timed(self, seed: int, seconds: float,
              passes: int) -> dict[str, list[float]]:
        """Full passes in seeded order until ``seconds`` are spent and at
        least ``passes`` are done; wall samples per entry, and failures."""
        rng = random.Random(seed)
        walls: dict[str, list[float]] = {n: [] for n in self.names}
        failed = attempted = done = 0
        start = common.now()
        while done < passes or common.now() - start < seconds:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                wall, ok = self.once(name)
                attempted += 1
                failed += not ok
                walls[name].append(wall)
            done += 1
        return {"walls": walls, "attempted": attempted, "failed": failed}

    def traced_pass(self, seed: int) -> dict:
        """One traced pass in seeded order: per-entry ledger and spans."""
        from hive_parse_lineage_spark.sources.loader import load_tables
        sc = self.spark.sparkContext
        order = list(self.names)
        random.Random(seed).shuffle(order)
        ledger = {k: 0.0 for k in LEDGER}
        per_entry: dict[str, dict] = {}
        spans, load_ms, failed, errs = [], [], 0, []
        for i, name in enumerate(order):
            t = time.time()
            load_tables(self.spark, self.data_dir)
            load_ms.append((time.time() - t) * 1000.0)
            sc.setJobGroup(f"perfbench-build-{i}", name)
            # wall-clock epoch seconds, to line up with the JVM's job and
            # phase timestamps
            t0 = time.time()
            df = self.fns[name](self.spark, self.data_dir)
            t1 = time.time()
            sc.setJobGroup(f"perfbench-fetch-{i}", name)
            pdf = df.toPandas()
            t2 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            # the status store is fed by the listener bus: let it catch up
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            entry_spans, led = _ledger(sc, df, i, name, t0, t1, t2)
            failed += common.fingerprint(pdf) != self.golden[name]
            for k in LEDGER:
                ledger[k] += led[k]
            per_entry[name] = {"wall_s": led["wall_s"],
                               "jobs": led["build_jobs"] + led["fetch_jobs"]}
            spans.extend(entry_spans)
            selfs = common.self_times(entry_spans)
            errs.append(abs(sum(selfs.values()) - (t2 - t0)) / (t2 - t0))
        return {"ledger": ledger, "per_entry": per_entry, "spans": spans,
                "load_ms": load_ms, "failed": failed,
                "self_sum_err": max(errs)}


def _jobs(sc, group: str) -> list[dict]:
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        jd = store.job(jid)
        stages = []
        for sid in tracker.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            stages.append({
                "id": int(sid), "tasks": sd.numTasks(),
                "run_ms": sd.executorRunTime(),
                "wait_ms": (first.get().getTime() - sub.get().getTime()
                            if sub.isDefined() and first.isDefined() else 0),
                "shuffle_write": sd.shuffleWriteBytes(),
                "shuffle_read": sd.shuffleReadBytes(),
                "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled()})
        end = jd.completionTime()
        out.append({"id": int(jid),
                    "start": jd.submissionTime().get().getTime() / 1000.0,
                    "end": (end.get().getTime() / 1000.0
                            if end.isDefined() else time.time()),
                    "stages": stages})
    return out


def _phases(df) -> dict[str, tuple[float, float]]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        if p.isDefined():
            p = p.get()
            out[k] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
    return out


def _ledger(sc, df, i: int, name: str, t0: float, t1: float, t2: float):
    """Spans and summed counters of one traced entry."""
    build_jobs = _jobs(sc, f"perfbench-build-{i}")
    fetch_jobs = _jobs(sc, f"perfbench-fetch-{i}")
    phases = _phases(df)
    root = f"{name}#{i}"
    spans = [{"id": root, "parent": None, "name": "entry", "entry": name,
              "start": t0, "end": t2},
             {"id": f"{root}/build", "parent": root, "name": "build",
              "entry": name, "start": t0, "end": t1},
             {"id": f"{root}/fetch", "parent": root, "name": "fetch",
              "entry": name, "start": t1, "end": t2}]
    for k, (a, b) in phases.items():
        parent = f"{root}/build" if a < t1 else f"{root}/fetch"
        spans.append({"id": f"{root}/{k}", "parent": parent, "name": k,
                      "entry": name, "start": a, "end": b})
    for kind, jobs in (("build", build_jobs), ("fetch", fetch_jobs)):
        for j in jobs:
            spans.append({"id": f"{root}/job{j['id']}",
                          "parent": f"{root}/{kind}", "name": f"{kind}.job",
                          "entry": name, "start": j["start"], "end": j["end"]})
    stages = {s["id"]: s for j in build_jobs + fetch_jobs for s in j["stages"]}
    all_jobs = [(max(j["start"], t0), min(j["end"], t2))
                for j in build_jobs + fetch_jobs]
    phase_s = {k: b - a for k, (a, b) in phases.items()}
    led = {
        "wall_s": t2 - t0, "build_s": t1 - t0, "fetch_s": t2 - t1,
        "build_jobs": len(build_jobs), "fetch_jobs": len(fetch_jobs),
        "build_tasks": sum(s["tasks"] for j in build_jobs
                           for s in j["stages"]),
        "fetch_tasks": sum(s["tasks"] for j in fetch_jobs
                           for s in j["stages"]),
        "analysis_s": phase_s.get("analysis", 0.0),
        "optimization_s": phase_s.get("optimization", 0.0),
        "planning_s": phase_s.get("planning", 0.0),
        "stages": len(stages),
        "executor_run_s": sum(s["run_ms"] for s in stages.values()) / 1000.0,
        "task_wait_s": sum(s["wait_ms"] for s in stages.values()) / 1000.0,
        "shuffle_write_mb": sum(s["shuffle_write"]
                                for s in stages.values()) / _MB,
        "shuffle_read_mb": sum(s["shuffle_read"]
                               for s in stages.values()) / _MB,
        "spill_mb": sum(s["spill"] for s in stages.values()) / _MB,
        "outside_jobs_s": (t2 - t0) - common.union_length(all_jobs),
    }
    return spans, led
