"""Every test of tests/test_row_level.py again, with the reads of the
row-level write on the Spark executor (``autoBroadcastJoinThreshold``
-1). The tables there are small, so test_row_level.py itself reads them
in Arrow; importing its tests here collects them a second time under
this module's autouse fixture, which keeps their ids in that module."""

from __future__ import annotations

import pytest

from tests.executors import read_threshold
from tests.test_row_level import *  # noqa: F403  (the tests and their catalog fixture)


@pytest.fixture(autouse=True)
def _spark_reads(spark):
    with read_threshold(spark, -1):
        yield


def test_this_module_reads_on_spark(spark):
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
