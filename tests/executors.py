"""Pick the executor of IceLite reads in a test.

``IceLiteTable._read_plan`` runs a plan whose data files add up to at
most ``_ARROW_SCAN_BYTES`` and at most
``spark.sql.autoBroadcastJoinThreshold`` bytes in-process in Arrow, and
larger plans as a Spark parquet scan; a threshold of -1 sends every read
to Spark.
"""

from __future__ import annotations

import contextlib

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def read_threshold(spark, value: int | str = -1):
    """Set the threshold for the block, then restore it."""
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)
