from __future__ import annotations

import pytest

from p3_osm_transformer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def pytest_terminal_summary(terminalreporter):
    """List every skipped test with its reason, so a quiet (-q) run still
    says which tests did not execute and why."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section(f"{len(skipped)} skipped, with reasons")
    for rep in skipped:
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        terminalreporter.line(f"{rep.nodeid}: {reason.removeprefix('Skipped: ')}")
