"""A registry module that fails to import must fail the registry, not
shrink it silently."""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entry


@pytest.mark.parametrize("getter", [entry.queries, entry.oracle_sql])
def test_failing_registry_module_import_raises(monkeypatch, getter):
    # a None entry in sys.modules makes the next import raise ImportError
    monkeypatch.setitem(sys.modules,
                        "hive_parse_lineage_spark.audit_queries", None)
    with pytest.raises(ImportError):
        getter()
