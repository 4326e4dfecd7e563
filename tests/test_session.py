"""session.configure on a host-owned session."""

from __future__ import annotations

import logging

from hive_parse_lineage_spark.session import RUNTIME_CONFS, configure


def test_configure_logs_a_failed_conf_set(caplog):
    """A conf the session refuses is logged with its key, and the other
    confs are still set."""
    refused = "spark.sql.session.timeZone"

    class Conf:
        def __init__(self):
            self.values = {}

        def set(self, key, value):
            if key == refused:
                raise RuntimeError("cannot modify the value of a static config")
            self.values[key] = value

    class Session:
        conf = Conf()

    session = Session()
    with caplog.at_level(logging.WARNING,
                         logger="hive_parse_lineage_spark.session"):
        assert configure(session) is session
    assert [r.getMessage() for r in caplog.records] == [
        f"configure: could not set {refused}={RUNTIME_CONFS[refused]}"]
    assert session.conf.values == {
        k: v for k, v in RUNTIME_CONFS.items() if k != refused}
