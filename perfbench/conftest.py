"""Test setup for the benchmark's own tests (``python -m pytest perfbench``)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]
os.environ["PYTHONPATH"] = os.pathsep.join([str(HERE.parent), str(HERE), os.environ.get("PYTHONPATH", "")])


@pytest.fixture(scope="session")
def spark():
    from medallion_delta_lake_spark.session import get_spark

    session = get_spark(
        app_name="perfbench-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield session
    session.stop()
