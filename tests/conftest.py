from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from data_curator_spark.session import build_session

    s = build_session("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
