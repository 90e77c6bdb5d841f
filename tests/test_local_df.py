"""session.local_df: the same rows as spark.createDataFrame, in one slice
over a JVM LocalRelation (no Python RDD behind the frame)."""

from __future__ import annotations

import datetime as dt

import pytest

from iceberg_matrix_spark.session import local_df

_SCHEMA = (
    "a bigint, b int, c double, d string, e binary, f timestamp, "
    "g timestamp_ntz, h array<double>, i array<float>, j array<string>, "
    "k map<string,string>"
)
_ROWS = [
    (
        2**40,
        -7,
        1.25,
        "héllo",
        b"\x00\xff",
        dt.datetime(2024, 2, 29, 23, 59, 59, 123456),
        dt.datetime(1969, 12, 31, 0, 0, 0, 1),
        [0.5, None, -2.0],
        [1.5, None],
        ["x", None, ""],
        {"k": "v", "n": None},
    ),
    (None,) * 11,
    (0, 0, 0.0, "", b"", None, None, [], [], [], {}),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_df_matches_create_dataframe(spark, rows):
    df = local_df(spark, rows, _SCHEMA)
    assert df.schema == spark.createDataFrame(rows, _SCHEMA).schema
    assert df.collect() == spark.createDataFrame(rows, _SCHEMA).collect()
    assert df.rdd.getNumPartitions() == 1
    assert "LogicalRDD" not in _plan(df)
    assert "LocalRelation" in _plan(df)


def test_local_df_infers_types_from_column_names(spark):
    """A list of names instead of a DDL string infers the types, as
    spark.createDataFrame(rows, names) does."""
    rows = [(1, "a", 2.5), (2, None, None)]
    df = local_df(spark, rows, ["id", "s", "x"])
    assert df.dtypes == [("id", "bigint"), ("s", "string"), ("x", "double")]
    assert df.collect() == spark.createDataFrame(rows, ["id", "s", "x"]).collect()
    assert "LogicalRDD" not in _plan(df)


def test_local_df_bucket_append_writes_one_file_per_bucket(spark, tmp_path):
    """One slice: a 200-row bucket(8) append writes 8 files, not one per
    bucket per slice."""
    from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("n")
    t = cat.create_table("n.b", "id bigint, v string", partition_by=["bucket(8, id)"])
    t.append(local_df(spark, [(i, f"v{i}") for i in range(200)], "id bigint, v string"))
    files = t.current_snapshot().data_files
    assert len(files) == len({f.partition["id_bucket"] for f in files}) == 8
