"""Record the golden outputs the benchmark checks every run against.

Usage (from the repository root): python3 perfbench/record.py

For each dedup-graph entry, the fetched result's fingerprint is
recorded after its rows are checked against the entry's DuckDB twin
(``oracle_sql()``) with ``tests/oracle.py``'s row count and value
hash. For every script of the lineage pool, the ``/fetch`` and
``/tables`` bodies come from calling ``Engine`` serially. Writes
``perfbench/golden.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, datagen, scripts  # noqa: E402
from perfbench.query_load import GRAPH_ENTRIES  # noqa: E402


def main() -> int:
    data_dir = datagen.ensure(os.path.join(common.WORK, "data"),
                              common.DATA_SEED)
    path = common.run_dir("record")
    os.environ.update(common.spark_env(path))
    import __spark_entry__
    from hive_parse_lineage_spark.engine import Engine
    from tests.oracle import duckdb_conn, value_hash

    spark = common.get_session(path)
    fns, oracle = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = duckdb_conn(data_dir)
    queries, bad = {}, []
    for name in GRAPH_ENTRIES:
        pdf = fns[name](spark, data_dir).toPandas()
        duck = con.execute(oracle[name]).fetchdf()
        if len(pdf) != len(duck) or value_hash(pdf) != value_hash(duck):
            bad.append(name)
        queries[name] = common.fingerprint(pdf)
        print(name, len(pdf), queries[name], flush=True)
    engine = Engine(spark, sf_dir=data_dir)
    for ddl in scripts.TARGET_DDL:
        spark.sql(ddl)
    pool = scripts.pool()
    lineage = {
        "pool_sha": hashlib.sha256("\n".join(pool).encode()).hexdigest(),
        "/fetch": [common.body_fingerprint(json.loads(json.dumps(
            engine.lineage(sql)))) for sql in pool],
        "/tables": [common.body_fingerprint(json.loads(json.dumps(
            engine.tables_report(sql)))) for sql in pool],
    }
    spark.stop()
    shutil.rmtree(path, ignore_errors=True)
    if bad:
        print("entries disagreeing with their DuckDB twin:", bad,
              file=sys.stderr)
        return 1
    golden = {"data": {"seed": common.DATA_SEED, "version": datagen.VERSION},
              "queries": queries, "lineage": lineage}
    with open(common.GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
