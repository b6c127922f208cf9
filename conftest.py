"""Shared pytest fixtures: one local SparkSession for the whole run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from gridfia_spark.session import get_spark

    s = get_spark(cores=4, shuffle_partitions=8, app_name="gridfia-tests")
    yield s
    s.stop()
