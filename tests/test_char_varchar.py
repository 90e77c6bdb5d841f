"""``char(n)`` and ``varchar(n)`` columns store as ``string``.

Iceberg has no char type, and neither the Arrow reader nor Spark's
parquet scan reads a char type back, so a table that kept one in its
metadata could not be read. Each way a column type enters metadata
(create, add column, alter type) is checked on both read executors.
"""

from __future__ import annotations

import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sql import IceLiteSQL
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

from tests.executors import read_threshold

EXECUTORS = {"arrow": None, "spark": -1}


@pytest.fixture(params=sorted(EXECUTORS))
def read_on(request, spark):
    value = EXECUTORS[request.param]
    if value is None:
        yield
    else:
        with read_threshold(spark, value):
            yield


def _types(t):
    return {f.name: f.type for f in t.refresh().meta.current_schema.fields}


def test_api_char_columns_store_as_string(spark, tmp_path, read_on):
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("ns")
    t = cat.create_table("ns.c", "id bigint, c char(3), v VARCHAR(10)")
    assert _types(t) == {"id": "bigint", "c": "string", "v": "string"}
    t.append(local_df(spark, [(1, "ab", "x")], "id bigint, c string, v string"))
    t.add_columns({"n": "varchar(5)"})
    t.alter_column_type("c", "varchar(8)")
    assert _types(t) == {"id": "bigint", "c": "string", "v": "string", "n": "string"}
    t = t.refresh()
    t.append(local_df(spark, [(2, "cd", "y", "z")], "id bigint, c string, v string, n string"))
    assert sorted(tuple(r) for r in t.refresh().df().collect()) == [
        (1, "ab", "x", None),
        (2, "cd", "y", "z"),
    ]


def test_sql_varchar_columns_store_as_string(spark, tmp_path, read_on):
    sql = IceLiteSQL(spark, IceLiteCatalog(spark, str(tmp_path)))
    sql.sql("CREATE NAMESPACE ns")
    sql.sql("CREATE TABLE ns.t (id BIGINT, name VARCHAR(20), code CHAR(2)) USING iceberg")
    sql.sql("INSERT INTO ns.t VALUES (1, 'ann', 'a1')")
    sql.sql("ALTER TABLE ns.t ADD COLUMNS (note VARCHAR(30))")
    sql.sql("INSERT INTO ns.t VALUES (2, 'bob', 'b2', 'hi')")
    assert _types(sql.table("ns.t")) == {
        "id": "bigint", "name": "string", "code": "string", "note": "string",
    }
    assert sorted(tuple(r) for r in sql.sql("SELECT * FROM ns.t").collect()) == [
        (1, "ann", "a1", None),
        (2, "bob", "b2", "hi"),
    ]
