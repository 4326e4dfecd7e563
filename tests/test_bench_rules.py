"""Machine-checks for bench.py's published-record rules.

The sf1.0 coverage rule is STICKY (r10 verdict ask #2): once an
entry's DuckDB twin has EVER measured >0.2 s in a committed
BENCH_DETAIL_r*.json sf0.1 pass, the entry belongs to the
--sf1-corpus coverage set permanently. r10 showed why a live-derived
rule is not enough: x142 (6.6x at sf0.1) and x194 (17.2x) — the two
worst work-dominated ratios in the whole record — had boundary twins
(0.20-0.23 s) that timed under the threshold in the pass that fixed
the corpus composition, so exactly the entries most in need of
at-scale adjudication silently left the record. This test recomputes
the ever-crossed union from the committed detail files, so adding a
new detail file that crosses a new entry FAILS the suite until the
entry is added to a coverage tuple.

The last three tests check the rung table (bench.RUNGS), the CLI's
exit on an unknown mode flag, and one rung run's record schema.
"""

import glob
import json
import os
import re
import subprocess
import sys
import time

import pyarrow.parquet as pq

import bench

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _coverage_set():
    return (set(bench.SF1_CORPUS_QUERIES)
            | set(bench.SF1_WATCHLIST_QUERIES)
            | set(bench.SF1_EXTENSION_QUERIES)
            | set(bench.SF1_STICKY_QUERIES)
            | set(bench.SF1_FIXED_COST_QUERIES))


def test_sf1_coverage_is_sticky():
    ever = set()
    for path in sorted(glob.glob(os.path.join(_REPO,
                                              "BENCH_DETAIL_r*.json"))):
        with open(path) as fh:
            detail = json.load(fh)
        for name, wall in detail.get("corpus_duckdb_queries", {}).items():
            if wall > 0.2:
                ever.add(name)
    # streaming gates never enter the corpus bench
    ever -= set(bench._STREAM_GATES)
    missing = sorted(ever - _coverage_set())
    assert not missing, (
        "entries whose DuckDB twin measured >0.2 s in a committed "
        f"sf0.1 pass are missing from the sf1.0 coverage set: {missing} "
        "— add them to SF1_STICKY_QUERIES (coverage is one-way)")


def test_sf1_coverage_names_resolve():
    """Every name in the coverage tuples is a real registry entry —
    a typo'd sticky name would silently cover nothing."""
    pool = bench._corpus_query_map()
    unknown = sorted(n for n in _coverage_set() if n not in pool)
    assert not unknown, f"coverage names not in the registry: {unknown}"


def test_fixed_cost_section_is_one_way():
    """r11 verdict ask #7: fixed-cost membership gets the same one-way
    machine-check as sticky coverage — once an entry has been
    adjudicated into a committed BENCH_SF1_CORPUS_r*.json
    fixed_cost_queries section, it must stay in
    bench.SF1_FIXED_COST_QUERIES, so a later edit can never silently
    move a floor-ratio row back into the scaling rollups."""
    ever = set()
    for path in sorted(glob.glob(os.path.join(
            _REPO, "BENCH_SF1_CORPUS_r*.json"))):
        with open(path) as fh:
            ever |= set(json.load(fh).get("fixed_cost_queries", {}))
    missing = sorted(ever - set(bench.SF1_FIXED_COST_QUERIES))
    assert not missing, (
        "entries adjudicated fixed-cost in a committed sf1.0 pass are "
        f"missing from SF1_FIXED_COST_QUERIES: {missing} "
        "(membership is one-way)")


def test_over_2x_rows_are_adjudicated():
    """r11 verdict ask #1's done-criterion, machine-checked: in the
    NEWEST committed BENCH_SF1_CORPUS file, every row whose ratio
    exceeds 2x must be adjudicated — either a committed falling-ratio
    curve in a BENCH_FLOORPROOF_r*.json (ratio_fell at a larger SF)
    or membership in the fixed-cost section. Prose claims about
    floors don't count; only these two committed evidence shapes do."""
    corpus = sorted(glob.glob(os.path.join(
        _REPO, "BENCH_SF1_CORPUS_r*.json")))
    assert corpus, "no committed sf1.0 corpus record"
    with open(corpus[-1]) as fh:
        latest = json.load(fh)
    floorproofed = set()
    for path in glob.glob(os.path.join(_REPO, "BENCH_FLOORPROOF_r*.json")):
        with open(path) as fh:
            for name, row in json.load(fh).get("ratio_curve", {}).items():
                if row.get("ratio_fell"):
                    floorproofed.add(name)
    bad = sorted(
        name for name, row in latest.get("queries", {}).items()
        if (row.get("ratio") or 0) > 2
        and name not in floorproofed
        and name not in bench.SF1_FIXED_COST_QUERIES)
    assert not bad, (
        f">2x sf1.0 rows with no committed adjudication: {bad} — "
        "run bench.py --floor-proof (falling ratio at sf10) or "
        "dissect into the fixed-cost section")


def test_rung_table_resolves():
    """Every RUNGS row's entries resolve to a registry entry or a bench
    helper, its axis overrides name its own entries or probes, and
    every rung CLI flag maps to exactly one row: one usage line, no
    clash with the modes that keep their own runners, and each
    committed SWEEP_*_r*.json (metric, tag) pair still has its row."""
    pool = bench._corpus_query_map()
    for mode, row in bench.RUNGS.items():
        unknown = [n for n in row.entries
                   if n not in pool and n not in bench._HELPERS]
        assert not unknown, f"{mode}: unresolved entries {unknown}"
        assert len(set(row.entries)) == len(row.entries), mode
        assert set(row.axes) <= set(row.entries) | set(row.probes), mode
    flags = [line.split()[0] for line in bench._usage().splitlines()
             if line.strip().startswith("--")]
    for mode in bench.RUNGS:
        assert flags.count(f"--{mode}") == 1, mode
    assert not set(bench._MODES) & {f"--{m}" for m in bench.RUNGS}
    rows = {(r.metric, r.tag) for r in bench.RUNGS.values()}
    for path in glob.glob(os.path.join(_REPO, "SWEEP*_r*.json")):
        tag = re.match(r"(SWEEP\w*?)_r\d+\.json$",
                       os.path.basename(path)).group(1)
        with open(path) as fh:
            metric = json.load(fh)["metric"]
        assert (metric, tag) in rows, os.path.basename(path)


def test_unknown_mode_exits_2():
    """A typo'd mode flag prints the usage and exits 2 without
    importing pyspark (so no JVM can start), instead of falling
    through to the minutes-long default run."""
    code = ("import runpy, sys\n"
            "sys.argv = ['bench.py', '--graph-skw']\n"
            "try:\n"
            f"    runpy.run_path({os.path.join(_REPO, 'bench.py')!r},\n"
            "                   run_name='__main__')\n"
            "except SystemExit as ex:\n"
            "    print('EXIT', ex.code, 'pyspark' in sys.modules)\n")
    t0 = time.monotonic()
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=20, cwd=_REPO)
    assert time.monotonic() - t0 < 20
    assert proc.stdout.split() == ["EXIT", "2", "False"], proc.stderr
    assert "--graph-skew" in proc.stderr and "--dump-plans" in proc.stderr


def test_rung_runner_schema(spark, tmp_path, monkeypatch):
    """The event-ladder row on sf0.001 -> sf0.01: per-rung scale values
    (the events files' own row counts), per-entry rows_out, the shared
    growth schema, the record on disk equal to the printed one, and
    the row's env flag restored afterwards."""
    dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    path = tmp_path / "sweep.json"
    monkeypatch.setenv("SPARK_GRAFT_LADDER_DIRS", ",".join(dirs))
    monkeypatch.setenv("SWEEP_PATH", str(path))
    monkeypatch.delenv("SF1_ONLY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_APPROX_QUANTILES", raising=False)
    bench._corpus_query_map()      # registry imports are not the runner's
    t0 = time.monotonic()
    out = bench.run_rungs(spark, "event-ladder")
    assert time.monotonic() - t0 <= 30
    assert "SPARK_GRAFT_APPROX_QUANTILES" not in os.environ
    assert out["metric"] == "event_ladder"
    assert out["detail_file"] == "sweep.json"
    with open(path) as fh:
        assert json.load(fh) == {k: v for k, v in out.items()
                                 if k != "detail_file"}
    assert [p["sf_dir"] for p in out["sweep"]] == ["sf0.001", "sf0.01"]
    for point, d in zip(out["sweep"], dirs):
        assert point["event_rows"] == pq.ParquetFile(
            os.path.join(d, "events.parquet")).metadata.num_rows
        assert {n: q["rows_out"] for n, q in point["queries"].items()} == {
            "x187_watermark_lateness": 3, "x197_time_weighted_avg": 5}
        assert all(q["wall"] > 0 for q in point["queries"].values())
    growth = out["wall_growth_over_scale_growth"]
    assert set(growth) == {"x187_watermark_lateness",
                           "x197_time_weighted_avg"}
    for g in growth.values():
        assert g["axis"] == "event_rows"
        assert len(g["ratios"]) == 1 and g["ratios"][0] > 0
