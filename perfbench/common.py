"""Helpers shared by the benchmark's workloads: paths, the Spark
environment, process memory, statistics, span self times and result
fingerprints."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

#: the checkout root (parent of this directory)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything a run writes lives under here
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")

#: fixed content seed of the tables (the run seed only orders the work)
DATA_SEED = 42

#: confs printed with every result
SHOWN_CONFS = (
    "spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.pyspark.selfDestruct.enabled",
)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def run_dir(tag: str) -> str:
    """A fresh per-run scratch directory (warehouse, Spark local dirs,
    temp files) under the checkout."""
    path = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    return path


def spark_env(path: str) -> dict[str, str]:
    """Environment for a process that launches the engine's JVM: the
    shipped core count, and every scratch write kept inside ``path``."""
    tmp = os.path.join(path, "tmp")
    # PerfDisableSharedMem: no hsperfdata file under the system /tmp
    java_opts = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:+PerfDisableSharedMem")))
    return {"SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_LOCAL_DIRS": os.path.join(path, "local"),
            "TMPDIR": tmp, "JAVA_TOOL_OPTIONS": java_opts}


def get_session(path: str):
    """The engine's own session factory, with the warehouse placed in
    the run directory and the console progress bar off."""
    from hive_parse_lineage_spark.session import get_spark
    spark = get_spark("perfbench", extra_confs={
        "spark.sql.warehouse.dir": os.path.join(path, "warehouse"),
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def effective_confs(spark) -> dict[str, str]:
    return {k: spark.conf.get(k, None) for k in SHOWN_CONFS}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM over a process and all its descendants (the Python
    process, its JVM and any Python workers the JVM started)."""
    kids = _children()
    todo, total = [pid or os.getpid()], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    return float(np.quantile(np.asarray(values, dtype="float64"), q))


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def now() -> float:
    """System-wide monotonic clock, comparable across processes."""
    return time.monotonic()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals clipped to it. Spans carry ``id``, ``parent``
    (or None), ``start`` and ``end``."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        [(max(c["start"], s["start"]), min(c["end"], s["end"]))
         for c in kids.get(s["id"], ())])
        for s in spans}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of (start, end) intervals; empty or
    inverted intervals count for nothing."""
    intervals = [iv for iv in intervals if iv[1] > iv[0]]
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _norm_column(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_float_dtype(s):
        # 9 significant digits: absorbs last-bit noise from the order
        # in which Spark merges partial float aggregates
        vals = np.char.mod("%.9g", s.to_numpy(dtype="float64") + 0.0)
        return np.where(s.isna().to_numpy(), "NULL", vals)
    if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
        return s.astype(str).to_numpy()

    def one(v) -> str:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return "%.9g" % (v + 0.0)
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(one(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{one(x)}"
                                  for k, x in sorted(v.items())) + "}"
        return str(v)
    return np.asarray([one(v) for v in s], dtype=object)


def fingerprint(pdf: pd.DataFrame) -> str:
    """Order-free hash of a result frame: row count plus a sha256 of
    the sorted, normalized rows (columns in name order)."""
    cols = sorted(pdf.columns)
    if not cols or not len(pdf):
        return f"{len(pdf)}:{','.join(cols)}"
    joined = _norm_column(pdf[cols[0]]).astype(object)
    for c in cols[1:]:
        joined = joined + "\x1f" + _norm_column(pdf[c]).astype(object)
    h = hashlib.sha256("\x1e".join(sorted(joined)).encode())
    h.update(",".join(cols).encode())
    return f"{len(pdf)}:{h.hexdigest()[:32]}"


def body_fingerprint(payload) -> str:
    """Hash of a lineage response body, independent of list order."""
    if isinstance(payload, list):
        payload = sorted(json.dumps(x, sort_keys=True) for x in payload)
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode()).hexdigest()[:32]


def load_golden() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)
