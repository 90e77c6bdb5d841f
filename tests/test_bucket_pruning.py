"""bucket(N, c) pruning: the driver-side XXH64 equals Spark's xxhash64, an
equality predicate prunes to one bucket, and the IceLiteTable and
spark.read.format("icelite") read paths plan the same files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sources.batch_source import (
    IceLiteBatchReader,
    register_batch_source,
)
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.table import prune_files, pruning_spec
from iceberg_matrix_spark.tables.transforms import (
    Transform,
    bucket_hash_input,
    xxhash64,
)

_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _int_values(dtype: str) -> list[int]:
    """Both bounds of the type, negatives, and ±2^31 around the int
    bounds for bigint."""
    lo, hi = -(2 ** (_INT_BITS[dtype] - 1)), 2 ** (_INT_BITS[dtype] - 1) - 1
    values = [lo, lo + 1, lo // 3, -1, 0, 1, 42, hi // 3, hi - 1, hi]
    if dtype == "bigint":
        values += [-(2**31) - 1, -(2**31), 2**31 - 1, 2**31]
    return values


def _spark_hashes(spark, dtype: str, values: list) -> list[tuple[int, int]]:
    df = local_df(spark, [(v,) for v in values], f"c {dtype}")
    return [
        (r.h, r.b)
        for r in df.select(
            F.xxhash64("c").alias("h"), F.pmod(F.xxhash64("c"), F.lit(8)).alias("b")
        ).collect()
    ]


@pytest.mark.parametrize("dtype", sorted(_INT_BITS))
def test_xxhash64_matches_spark_for_integers(spark, dtype):
    values = _int_values(dtype)
    want = _spark_hashes(spark, dtype, values)
    got = [(h, h % 8) for h in (xxhash64(bucket_hash_input(v, dtype)) for v in values)]
    assert got == want


def test_xxhash64_matches_spark_for_strings(spark):
    values = ["", "a" * 31, "b" * 32, "c" * 33, "x" * 64, "y" * 71, "héllo", "漢字🙂" * 5]
    assert [len(v.encode()) for v in values[:4]] == [0, 31, 32, 33]
    want = _spark_hashes(spark, "string", values)
    got = [(h, h % 8) for h in (xxhash64(bucket_hash_input(v, "string")) for v in values)]
    assert got == want


@pytest.mark.parametrize(
    "value,dtype",
    [("5", "bigint"), (5.0, "bigint"), (True, "bigint"), (5, "string"),
     (5, "double"), (2**31, "int"), (None, "bigint")],
)
def test_bucket_does_not_project_mismatched_literals(value, dtype):
    assert Transform("bucket", "c", 8).project_value(value, dtype) is None


@pytest.fixture
def cat(spark, tmp_path):
    register_batch_source(spark)
    c = IceLiteCatalog(spark, str(tmp_path))
    c.create_namespace("n")
    return c


def _bucket_table(spark, cat):
    t = cat.create_table(
        "n.bk", "id bigint, v string", partition_by=["bucket(8, id)"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(local_df(spark, [(i, f"v{i}") for i in range(64)], "id bigint, v string"))
    return t


@pytest.mark.parametrize("literal", ["7", 7.0, True])
def test_mismatched_literal_on_bucket_column_prunes_nothing(spark, cat, literal):
    """The bucket field keeps every file; only column bounds may prune."""
    t = _bucket_table(spark, cat)
    files = t.current_snapshot().data_files
    bounds_only = prune_files(files, [("id", "=", literal)], [])
    assert t._prune_files(files, [("id", "=", literal)]) == bounds_only
    assert len(t._prune_files(files, [("id", "=", 7)])) == 1


def test_point_filter_prunes_to_one_bucket_in_both_read_paths(spark, cat):
    """``tb.df(filters=…)`` and ``spark.read.format("icelite")`` with
    ``id = k`` plan the same single file and return the same rows as a
    full read plus a filter."""
    t = _bucket_table(spark, cat)
    t.delete("id IN (3, 40)")
    files = t.current_snapshot().data_files
    for k in (3, 11, 40, 63):
        kept = t._prune_files(files, [("id", "=", k)])
        assert len(kept) == 1
        reader = IceLiteBatchReader({"path": t.location})
        list(reader.pushFilters([EqualTo(("id",), k)]))
        assert [p.path for p in reader.partitions()] == [f.path for f in kept]
        want = sorted(t.df().filter(F.col("id") == k).collect())
        assert sorted(t.df(filters=[("id", "=", k)]).collect()) == want
        got = spark.read.format("icelite").load(t.location).filter(F.col("id") == k)
        assert sorted(got.collect()) == want
    assert t.df(filters=[("id", "=", 3)]).count() == 0


def test_pruning_spec_keeps_bucket_only_while_unambiguous(spark, cat):
    """Files record partition values, not the spec: after bucket(4, id)
    becomes bucket(8, id), both write ``id_bucket``, so the field no
    longer prunes; a widened column loses its hash type. Reads stay
    exact either way."""
    t = cat.create_table("n.ev", "id int, v string", partition_by=["bucket(4, id)"])
    t.append(local_df(spark, [(i, "a") for i in range(16)], "id int, v string"))
    transforms, types = pruning_spec(t.meta)
    assert [x.spec_string() for x in transforms] == ["bucket(4, id)"]
    assert types["id"] == "int"

    t.replace_partition_field("bucket(4, id)", "bucket(8, id)")
    t.append(local_df(spark, [(i, "b") for i in range(16)], "id int, v string"))
    transforms, _ = pruning_spec(t.meta)
    assert transforms == []
    for k in range(16):
        assert t.df(filters=[("id", "=", k)]).count() == 2

    w = cat.create_table("n.wide", "id int, v string", partition_by=["bucket(4, id)"])
    w.append(local_df(spark, [(i, "a") for i in range(16)], "id int, v string"))
    w.alter_column_type("id", "bigint")
    w.append(local_df(spark, [(i, "b") for i in range(16)], "id bigint, v string"))
    assert "id" not in pruning_spec(w.meta)[1]
    for k in range(16):
        assert w.df(filters=[("id", "=", k)]).count() == 2


def test_truncate_width_change_keeps_rows(spark, cat):
    """truncate(2, id) then truncate(10, id) both write ``id_truncate``;
    projecting with the new width would drop the old files."""
    t = cat.create_table("n.tr", "id bigint, v string", partition_by=["truncate(2, id)"])
    t.append(local_df(spark, [(15, "a")], "id bigint, v string"))
    t.replace_partition_field("truncate(2, id)", "truncate(10, id)")
    t.append(local_df(spark, [(25, "b")], "id bigint, v string"))
    assert [r.v for r in t.df(filters=[("id", "=", 15)]).collect()] == ["a"]


def test_prune_files_without_types_never_prunes_bucket(spark, cat):
    t = _bucket_table(spark, cat)
    files = t.current_snapshot().data_files
    transforms, types = pruning_spec(t.meta)
    assert len(prune_files(files, [("id", "=", 5)], transforms, types)) == 1
    assert prune_files(files, [("id", "=", 5)], transforms) == prune_files(
        files, [("id", "=", 5)], []
    )
    # a hash is not order-preserving: ranges never prune on the bucket
    assert prune_files(files, [("id", ">", 1000)], transforms, types) == []  # bounds
    assert prune_files(files, [("id", ">=", 0)], transforms, types) == files
