"""The ``query_mix`` workload: pinned headline queries over a fixed copy of
the sf0.001 test tables (``perfbench/data/sf0.001``).

The list is pinned here so that edits to ``bench.py`` cannot change the
workload. It is a subset of the 54 headline queries: the cheapest of the
relational, streaming, text and dedup families, plus the two that commit
IceLite tables (``DML``). All 54 take 43 s warm and 71 s cold per pass at
sf0.001 on 4 cores, which does not fit one run.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")

QUERY_MIX = (
    "q_window_topk_per_group",
    "q_branch_read_sql",
    "q_session_window_batch",
    "q_zorder_effect",
    "q_text_quality",
    "q_dedup_incremental",
)
# Headline queries that commit IceLite tables, the workload's writes: a
# branch write through the SQL facade and a sort rewrite (the maintenance
# layer).
DML = ("q_branch_read_sql", "q_zorder_effect")


def family(fn) -> str:
    """The defining module of a query function, e.g. ``dedup``."""
    return fn.__module__.rsplit(".", 1)[-1]


def load_sources(spark) -> None:
    """Load every test table once (schema inference included)."""
    from iceberg_matrix_spark.sources.testdata import TABLES, load_table

    for name in TABLES:
        load_table(spark, DATA, name)


def oracle_mismatch(spark_pdf, name: str) -> str | None:
    """Compare one query's collected result with its DuckDB oracle, the way
    ``tests/oracle_harness.py`` does (sorted columns, sorted rows, exact
    values, matching type classes). None when they agree."""
    root = os.path.dirname(HERE)
    if os.path.join(root, "tests") not in sys.path:
        sys.path.insert(0, os.path.join(root, "tests"))
    import oracle_harness as oh
    from pandas.testing import assert_frame_equal

    from iceberg_matrix_spark.queries import ORACLES

    oracle_pdf = oh.run_oracle(ORACLES[name], DATA)
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    try:
        oh.assert_type_classes_match(spark_pdf, oracle_pdf)
        assert_frame_equal(
            oh.normalize(spark_pdf), oh.normalize(oracle_pdf),
            check_dtype=False, check_exact=True,
        )
    except AssertionError as exc:
        return f"{name}: {exc}"
    return None
