from __future__ import annotations

import logging

import pytest

from enriched_crime_incident_data_pipeline_spark import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "oracle_slice: rotating 25-query oracle-verification slice "
        "(deterministic per round; run alone with -m oracle_slice)",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def isolated_logging():
    """Snapshot/restore the root logger around a test that configures
    process-wide logging (``setup_logging``, the CLI's ``main``): only
    handlers ADDED by the test are closed, so pytest's own capture
    handlers survive. Without it the CLI's console handler keeps the
    test's captured stderr, which pytest closes, and py4j's INFO
    "Closing down clientserver connection" at interpreter exit prints
    a logging error."""
    from enriched_crime_incident_data_pipeline_spark.logging_setup import (
        clear_configured_flag,
    )

    root = logging.getLogger()
    saved_handlers = list(root.handlers)
    saved_level = root.level
    clear_configured_flag()
    yield
    for h in list(root.handlers):
        if h not in saved_handlers:
            root.removeHandler(h)
            h.close()
    for h in saved_handlers:
        if h not in root.handlers:
            root.addHandler(h)
    root.setLevel(saved_level)
    clear_configured_flag()
