from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_streams_the_clojure_way_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    session = get_spark("kstcw-tests", shuffle_partitions=4)
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
