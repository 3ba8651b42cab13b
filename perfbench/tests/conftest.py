"""Make the benchmark's modules and the program importable by the tests."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for path in (ROOT, BENCH):
    if path not in sys.path:
        sys.path.insert(0, path)


@pytest.fixture(scope="session")
def spark():
    from riptide_spark.session import build_session

    session = build_session("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield session
    session.stop()
