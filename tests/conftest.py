"""Shared Spark session for the suite (one JVM, module-scope reuse)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.append(str(ROOT / "tools"))  # the tools import as plain modules

from processo_etl_spark import session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spk = session.get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield spk
