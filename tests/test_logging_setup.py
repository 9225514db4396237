"""Rotating-log setup analog of the reference's logging_config.py:
file + console handlers, env-driven level/path, idempotence, and the
rotation parameters."""

from __future__ import annotations

import logging
from logging.handlers import RotatingFileHandler

import pytest

from enriched_crime_incident_data_pipeline_spark.logging_setup import (
    BACKUP_COUNT,
    MAX_BYTES,
    setup_logging,
)


pytestmark = pytest.mark.usefixtures("isolated_logging")


def test_setup_writes_rotating_file_and_console(tmp_path):
    log_file = tmp_path / "run.log"
    setup_logging(log_file=str(log_file), level="INFO")

    root = logging.getLogger()
    kinds = {type(h) for h in root.handlers}
    assert RotatingFileHandler in kinds
    assert any(
        type(h) is logging.StreamHandler for h in root.handlers
    )
    fh = next(h for h in root.handlers if isinstance(h, RotatingFileHandler))
    assert fh.maxBytes == MAX_BYTES and fh.backupCount == BACKUP_COUNT

    logging.getLogger("enriched_crime_incident_data_pipeline_spark").info(
        "pipeline run complete"
    )
    fh.flush()
    text = log_file.read_text()
    assert "pipeline run complete" in text
    assert " - INFO - " in text  # reference format


def test_setup_is_idempotent(tmp_path):
    log_file = tmp_path / "run.log"
    setup_logging(log_file=str(log_file))
    n = len(logging.getLogger().handlers)
    setup_logging(log_file=str(log_file))
    assert len(logging.getLogger().handlers) == n


def test_env_driven_level(tmp_path, monkeypatch):
    monkeypatch.setenv("LOG_LEVEL", "warning")
    monkeypatch.setenv("LOG_FILE", str(tmp_path / "w.log"))
    setup_logging()
    assert logging.getLogger().level == logging.WARNING
