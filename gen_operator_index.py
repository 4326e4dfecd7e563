#!/usr/bin/env python
"""Generate the registry→SF-correctness index in README.md.

One row per `__spark_entry__.queries()` entry: owning module, gate
kind (DuckDB-oracle vs rows-only), and its verdict at each scale
factor, read from the LATEST committed self-check / robustness
reports — so coverage-per-operator is one table instead of four
JSONs (r8 verdict ask #10).

Usage: python gen_operator_index.py            rewrite README section
       python gen_operator_index.py --check    exit 1 on drift
       python gen_operator_index.py --print    table to stdout

The table lives between the OPERATOR-INDEX markers in README.md;
tests/test_operator_index.py regenerates it and fails on drift, so
adding a registry entry (or a new report round) forces a refresh.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
BEGIN = ("<!-- OPERATOR-INDEX:BEGIN "
         "(generated by gen_operator_index.py — do not edit) -->")
END = "<!-- OPERATOR-INDEX:END -->"

#: SF -> report-file glob (latest round wins). sf0.01 is the full
#: self-check; the others are the robustness replays of the same
#: registry.
SF_SOURCES = (
    ("sf0.001", "ROBUSTNESS_SF0001_r*.json"),
    ("sf0.01", "CORRECTNESS_SELF_r*.json"),
    ("sf0.1", "ROBUSTNESS_SF01_r*.json"),
    ("sf1.0", "ROBUSTNESS_SF1_r*.json"),
)

LEGEND = ("Legend: ✓ hash-green vs the DuckDB oracle · ○ rows-only "
          "green (entry declared non-SQL-expressible, SURVEY §2b) · "
          "✗ failed · — not in that report (added after it was "
          "generated).")


def _latest(pattern: str) -> str | None:
    files = glob.glob(os.path.join(_REPO, pattern))
    if not files:
        return None

    def rnum(f: str) -> int:
        m = re.search(r"_r(\d+)\.json$", f)
        return int(m.group(1)) if m else -1

    return max(files, key=rnum)


def _module_map() -> dict[str, str]:
    import __spark_entry__ as entry
    from hive_parse_lineage_spark.queries import DECLARED_QUERIES
    out: dict[str, str] = dict.fromkeys(DECLARED_QUERIES, "queries")
    for (mod, _, _), (queries_fn, _) in zip(entry._REGISTRY_MODULES,
                                           entry._registry_modules()):
        for n in queries_fn():
            out.setdefault(n, mod)
    for n in entry._META_KEYS:
        out.setdefault(n, "__spark_entry__")
    return out


def build_table() -> str:
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entry
    qnames = sorted(entry.queries())
    oracles = set(entry.oracle_sql())
    modules = _module_map()
    reports: dict[str, dict] = {}
    srcs: list[str] = []
    for sf, pat in SF_SOURCES:
        f = _latest(pat)
        data = json.load(open(f)) if f else {}
        # r11+ reports nest entries under "queries" (r10 ADVICE);
        # pre-r11 files are flat with a "__meta__" sentinel
        if "queries" in data and "meta" in data:
            data = data["queries"]
        data.pop("__meta__", None)
        reports[sf] = data
        srcs.append(f"{sf}: `{os.path.basename(f) if f else '(none)'}`")

    def cell(sf: str, name: str) -> str:
        r = reports[sf].get(name)
        if r is None:
            return "—"
        if r.get("hash_match"):
            return "✓"
        if "oracle" in r and r.get("err") is None:
            return "○"
        return "✗"

    lines = [
        f"{len(qnames)} registry entries "
        f"({sum(1 for n in qnames if n in oracles)} DuckDB-oracle-gated, "
        f"{sum(1 for n in qnames if n not in oracles)} rows-only). "
        "Reports: " + " · ".join(srcs),
        "",
        LEGEND,
        "",
        "| entry | module | gate | sf0.001 | sf0.01 | sf0.1 | sf1.0 |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in qnames:
        gate = "sql" if name in oracles else "rows"
        cells = " | ".join(cell(sf, name) for sf, _ in SF_SOURCES)
        lines.append(f"| {name} | {modules.get(name, '?')} | {gate} "
                     f"| {cells} |")
    counts = {sf: sum(1 for n in qnames if cell(sf, n) in "✓○")
              for sf, _ in SF_SOURCES}
    lines += ["",
              "Green per SF: " + " · ".join(
                  f"{sf} {counts[sf]}/{len(qnames)}"
                  for sf, _ in SF_SOURCES)]
    return "\n".join(lines)


def render_readme(readme: str, table: str) -> str:
    block = f"{BEGIN}\n\n## Registry correctness index\n\n{table}\n\n{END}"
    if BEGIN in readme:
        pre = readme.split(BEGIN, 1)[0]
        post = readme.split(END, 1)[1]
        return pre + block + post
    sep = "" if readme.endswith("\n") else "\n"
    return readme + sep + "\n" + block + "\n"


def main() -> None:
    path = os.path.join(_REPO, "README.md")
    with open(path) as fh:
        readme = fh.read()
    updated = render_readme(readme, build_table())
    if "--print" in sys.argv:
        print(build_table())
        return
    if "--check" in sys.argv:
        if updated != readme:
            print("operator index is stale — run "
                  "python gen_operator_index.py", file=sys.stderr)
            sys.exit(1)
        print("operator index up to date")
        return
    with open(path, "w") as fh:
        fh.write(updated)
    print(f"README.md operator index regenerated "
          f"({len(build_table().splitlines())} lines)")


if __name__ == "__main__":
    main()
