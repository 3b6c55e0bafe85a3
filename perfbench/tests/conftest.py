"""Fixtures for the benchmark's own tests: ``python -m pytest perfbench/tests``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # the project's smallest test scale, as the main suite configures it
    from tests.conftest import SF_DIR

    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    from bpaotu_spark.session import get_session

    return get_session("perfbench-tests", master="local[2]", shuffle_partitions=2)
