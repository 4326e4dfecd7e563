from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

def _wire_protobuf_fallback() -> None:
    """transformWithState's state protocol needs google.protobuf, which
    isn't pip-installed in this container. The Google Cloud SDK (when
    present) ships a self-contained pure-Python protobuf runtime; put
    it on the path — and on PYTHONPATH *before* the JVM starts, so the
    forked Python workers inherit it too. The runtime there (6.32) is
    one minor version older than pyspark's gencode (6.33), a pairing
    the official TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK escape
    hatch exists for (minor-version skew only; the wire format is
    stable). No-op when protobuf is already importable or the SDK is
    absent — the test falls back to its documented importorskip."""
    try:
        import google.protobuf  # noqa: F401
        return
    except ImportError:
        pass
    sdk = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(sdk, "google", "protobuf")):
        return
    sys.path.insert(0, sdk)
    os.environ["PYTHONPATH"] = (
        sdk + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else sdk)
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK",
                          "true")


_wire_protobuf_fallback()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from hive_parse_lineage_spark.session import get_spark
    wh = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        "hive_parse_lineage_spark-tests", cpus=8, shuffle_partitions=8,
        extra_confs={"spark.sql.warehouse.dir": str(wh),
                     "spark.ui.showConsoleProgress": "false"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from hive_parse_lineage_spark.sources.loader import load_tables
    return load_tables(spark, sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle import duckdb_conn
    con = duckdb_conn(sf_dir)
    yield con
    con.close()
