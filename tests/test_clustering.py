"""Sort-order metadata + sort/z-order clustering rewrites.

The conformance probes (sort-order-rewrite, zorder-clustering) assert
the pruning payoff; these tests pin the metadata surface, the validation
errors, and the stronger file-layout invariant — after a sort rewrite
the per-file min/max bounds are totally ordered (disjoint ranges), which
is WHY pruning works at any scale.
"""

from __future__ import annotations

import pytest

from iceberg_matrix_spark.tables import IceLiteCatalog
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.maintenance import rewrite_data_files


@pytest.fixture()
def catalog(spark, tmp_path):
    return IceLiteCatalog(spark, str(tmp_path / "warehouse"))


def _shuffled_table(spark, catalog, n=200, files=4):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, v string")
    for i in range(files):
        t.append(
            spark.range(n)
            .filter(f"id % {files} = {i}")
            .selectExpr("id", "concat('v', id) AS v")
            .coalesce(1)
        )
    return t


def test_replace_sort_order_metadata_round_trip(spark, catalog):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, v string")
    assert t.sort_order_fields() == []
    t.replace_sort_order(["v desc", "id"])
    t2 = t.refresh()
    assert t2.sort_order_fields() == [
        {"column": "v", "direction": "desc"},
        {"column": "id", "direction": "asc"},
    ]
    # replacing bumps the order id and keeps history
    t.replace_sort_order(["id"])
    assert t.meta.default_sort_order_id == 2
    assert [o["order_id"] for o in t.meta.sort_orders] == [1, 2]


def test_replace_sort_order_validation(spark, catalog):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint")
    with pytest.raises(KeyError):
        t.replace_sort_order(["nope"])
    with pytest.raises(ValueError):
        t.replace_sort_order(["id sideways"])


def test_sort_strategy_requires_an_order(spark, catalog):
    t = _shuffled_table(spark, catalog)
    with pytest.raises(ValueError, match="sort order"):
        rewrite_data_files(t, strategy="sort")
    with pytest.raises(ValueError, match="columns"):
        rewrite_data_files(t, strategy="zorder")
    with pytest.raises(ValueError, match="strategy"):
        rewrite_data_files(t, strategy="cluster")


def test_sort_rewrite_produces_disjoint_file_ranges(spark, catalog):
    t = _shuffled_table(spark, catalog)
    t.replace_sort_order(["id"])
    rewrite_data_files(t, target_partitions=4, strategy="sort")
    files = sorted(
        t._current_snapshot().data_files, key=lambda f: f.lower_bounds["id"]
    )
    assert len(files) >= 2
    for a, b in zip(files, files[1:]):
        assert a.upper_bounds["id"] < b.lower_bounds["id"], (
            "sorted rewrite must emit disjoint id ranges"
        )
    # values survive the rewrite
    assert sorted(r["id"] for r in t.df().collect()) == list(range(200))


def test_sort_rewrite_on_a_partitioned_table_keeps_disjoint_ranges_per_bucket(
    spark, catalog
):
    """The sort range-distributes on the order alone, so every task
    writes a narrow slice of ``v`` into each bucket: within a bucket the
    files' ``v`` ranges are disjoint, and a ``v`` range predicate prunes
    most files."""
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, v bigint", partition_by=["bucket(4, id)"])
    t.append(spark.range(200).selectExpr("id", "id * 37 % 101 AS v").repartition(3))
    rewrite_data_files(t, target_partitions=4, strategy="sort", columns=["v"])
    files = t._current_snapshot().data_files
    by_bucket: dict = {}
    for f in files:
        by_bucket.setdefault(f.partition["id_bucket"], []).append(f)
    for bucket, fs in by_bucket.items():
        fs.sort(key=lambda f: f.lower_bounds["v"])
        assert len(fs) >= 2, f"bucket {bucket} was not split by v"
        for a, b in zip(fs, fs[1:]):
            assert a.upper_bounds["v"] < b.lower_bounds["v"], (
                f"bucket {bucket}: sorted rewrite must emit disjoint v ranges"
            )
    hit = [f for f in files if f.lower_bounds["v"] <= 20]
    assert len(hit) <= len(files) // 2, "v <= 20 should prune most files"
    assert sorted(r["id"] for r in t.df().collect()) == list(range(200))


def test_zorder_handles_string_dimension(spark, catalog):
    """Non-numeric z-dimensions take the hash path — the rewrite must
    still preserve every row."""
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, cat string")
    t.append(
        spark.range(100).selectExpr("id", "concat('c', id % 7) AS cat").repartition(3)
    )
    rewrite_data_files(t, target_partitions=4, strategy="zorder", columns=["id", "cat"])
    got = sorted((r["id"], r["cat"]) for r in t.df().collect())
    assert got == sorted((i, f"c{i % 7}") for i in range(100))


def test_bad_distribution_mode_rejected(spark, catalog):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint")
    t.set_properties({"write.distribution-mode": "shuffle"})
    with pytest.raises(ValueError, match="distribution-mode"):
        t.append(spark.range(3))


def test_zorder_date_dimension_under_ansi(spark, catalog):
    """DATE z-dimensions must scale numerically (unix_date), not blow up
    on the ANSI DATE→DOUBLE cast."""
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, d date")
    t.append(
        spark.sql(
            "SELECT id, date_add(DATE '2024-01-01', CAST(id % 30 AS INT)) AS d "
            "FROM range(90)"
        ).repartition(3)
    )
    rewrite_data_files(t, target_partitions=4, strategy="zorder", columns=["id", "d"])
    assert t.df().count() == 90
    files = t._current_snapshot().data_files
    assert len(files) >= 2


def test_binpack_targets_file_size(spark, catalog):
    """Default binpack coalesces toward write.target-file-size-bytes:
    many small files in, a few target-sized files out — and a huge
    target collapses to one file."""
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, pad string")
    for i in range(8):
        t.append(
            spark.range(i * 100, (i + 1) * 100)
            .selectExpr("id", "repeat('x', 200) AS pad")
            .coalesce(1)
        )
    before = t._current_snapshot().data_files
    total = sum(f.file_size_bytes for f in before)
    t.set_properties({"write.target-file-size-bytes": str(total // 3)})
    rewrite_data_files(t)
    mid = t._current_snapshot().data_files
    assert 1 < len(mid) < len(before)
    assert t.df().count() == 800

    t.set_properties({"write.target-file-size-bytes": str(1 << 30)})
    rewrite_data_files(t)
    assert len(t._current_snapshot().data_files) == 1
    assert t.df().count() == 800


def test_zorder_expr_matches_python_interleave(spark, catalog):
    """The Catalyst bit-interleave must equal the reference Morton code
    for already-16-bit integer inputs (identity scaling: min=0,
    max=65535 present in the data)."""
    from iceberg_matrix_spark.tables.maintenance import _zorder_expr
    import pyspark.sql.functions as F

    vals = [0, 1, 2, 3, 255, 256, 32767, 65535]
    rows = [(a, b) for a in vals for b in vals]
    df = local_df(spark, rows, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", _zorder_expr(df, ["x", "y"])).collect()
    }

    def morton(a, bvals):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((bvals >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z)


def test_sort_rewrite_applies_and_drops_mor_deletes(spark, catalog):
    """A clustering rewrite over a table with outstanding MoR deletes
    must fold the deletes in (live rows only) and drop the delete
    files, like binpack compaction does."""
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint")
    t.set_properties({"write.delete.mode": "merge-on-read"})
    for i in range(4):
        t.append(spark.range(i * 25, (i + 1) * 25).coalesce(1))
    t.delete("id % 10 = 0")
    assert t._current_snapshot().delete_files
    t.replace_sort_order(["id"])
    rewrite_data_files(t, target_partitions=4, strategy="sort")
    snap = t._current_snapshot()
    assert not snap.delete_files
    got = sorted(r["id"] for r in t.df().collect())
    assert got == [i for i in range(100) if i % 10 != 0]


def test_zorder_rejects_over_62_columns(spark):
    """63+ dimensions can't fit even 1 bit each below the sign bit —
    loud rejection, not silent bit collision."""
    import pytest as _pytest

    from iceberg_matrix_spark.tables.maintenance import _zorder_expr

    import pyspark.sql.functions as F

    cols = [f"c{i}" for i in range(63)]
    df = spark.range(1).select(*[F.col("id").alias(c) for c in cols])
    with _pytest.raises(ValueError, match="at most 62"):
        _zorder_expr(df, cols)
