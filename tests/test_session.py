"""Session factory behavior that needs no running Spark."""

import logging

from bright_spark.session import _prewarm


class _BrokenSession:
    @property
    def sparkContext(self):
        raise RuntimeError("no context")


def test_prewarm_failure_is_logged_not_raised(caplog):
    with caplog.at_level(logging.WARNING, logger="bright_spark.session"):
        _prewarm(_BrokenSession())
    failed = [r for r in caplog.records
              if r.getMessage() == "session prewarm failed"]
    assert failed and failed[0].exc_info[0] is RuntimeError
