"""DuckDB-reads-IceLite interop (tables/interop.py).

The write-here/read-there pattern from the reference's cross-engine
suites (/root/reference/tests/daft_feature_tests.py:210-226): IceLite
writes; DuckDB must reconstruct the same rows from the live-file
manifest alone. The happy path (MoR delete + schema evolution, v2 and
v3) runs in the conformance probe ``interop-duckdb-read``; this module
covers the library edges.
"""

from __future__ import annotations

import pytest

from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.interop import (
    duckdb_scan_sql,
    live_file_manifest,
    read_with_duckdb,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("ns")
    return cat


def test_empty_table_manifest_and_scan(spark, catalog):
    t = catalog.create_table("ns.empty", "id bigint")
    m = live_file_manifest(t)
    assert m["data"] == [] and m["position_deletes"] == []
    assert m["data_entries"] == [] and m["equality_deletes"] == []
    assert read_with_duckdb(t).num_rows == 0


def test_round_trip_no_deletes(spark, catalog):
    t = catalog.create_table("ns.plain", "id bigint, v string")
    t.append(local_df(spark, [(1, "a"), (2, "b")], "id bigint, v string"))
    got = sorted((r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist())
    assert got == [(1, "a"), (2, "b")]
    assert "ANTI JOIN" not in duckdb_scan_sql(t)  # no delete branch emitted


def test_cow_delete_needs_no_delete_files(spark, catalog):
    t = catalog.create_table("ns.cow", "id bigint")
    t.set_properties({"write.delete.mode": "copy-on-write"})
    t.append(spark.range(5))
    t.delete("id >= 3")
    m = live_file_manifest(t)
    assert m["position_deletes"] == []
    assert sorted(r["id"] for r in read_with_duckdb(t).to_pylist()) == [0, 1, 2]


def test_equality_deletes_exported_with_sequence_scope(spark, catalog):
    """Equality deletes are exported with per-file sequence scoping
    (duckdb_feature_tests.py:358-368): a foreign engine applies the
    delete only to rows written BEFORE it — the re-upserted key's new
    row (higher sequence) must survive its own delete file."""
    t = catalog.create_table("ns.eq", "id bigint, v bigint")
    t.upsert(local_df(spark, [(1, 1), (2, 9)], "id bigint, v bigint"), ["id"])
    t.upsert(local_df(spark, [(1, 2)], "id bigint, v bigint"), ["id"])
    m = live_file_manifest(t)
    assert len(m["equality_deletes"]) >= 1
    for e in m["equality_deletes"]:
        assert e["key_cols"] == ["id"] and e["seq"] >= 1
    expected = {tuple(r) for r in t.df().select("id", "v").collect()}
    got = {(r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist()}
    assert got == expected == {(1, 2), (2, 9)}


def test_manifest_lists_only_equality_deletes_that_apply(spark, catalog):
    """The manifest is the scan plan: an equality delete no older file
    precedes (the first upsert into an empty table) is left out."""
    t = catalog.create_table("ns.eqfirst", "id bigint, v bigint")
    t.upsert(local_df(spark, [(1, 1)], "id bigint, v bigint"), ["id"])
    assert [d.content for d in t.current_snapshot().delete_files] == [2]
    assert live_file_manifest(t)["equality_deletes"] == []
    assert [(r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist()] == [(1, 1)]


def test_time_travel_ref_manifest(spark, catalog):
    """Manifest of an older branch state excludes later files."""
    t = catalog.create_table("ns.tt", "id bigint")
    t.append(spark.range(2))
    n_first = len(live_file_manifest(t)["data"])
    t.append(spark.range(2, 4))
    assert len(live_file_manifest(t)["data"]) > n_first
    first_snap = t.meta.snapshots[0].snapshot_id
    t.create_tag("v1", first_snap)
    assert sorted(r["id"] for r in read_with_duckdb(t, ref="v1").to_pylist()) == [0, 1]


# -------------------------------------------------------------- add_files


def test_add_files_guards(spark, catalog, tmp_path):
    import duckdb

    ext = str(tmp_path / "f.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 1 AS id, 'x' AS v) TO '{ext}' (FORMAT parquet)"
    )
    # partitioned table → loud rejection
    tp = catalog.create_table("ns.parted", "id bigint, v string", ["bucket(4, id)"])
    with pytest.raises(ValueError, match="unpartitioned"):
        tp.add_files([ext])
    # no shared columns → loud rejection
    alien = str(tmp_path / "alien.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 5 AS other) TO '{alien}' (FORMAT parquet)"
    )
    t = catalog.create_table("ns.t", "id bigint, v string")
    with pytest.raises(ValueError, match="shares no columns"):
        t.add_files([alien])
    with pytest.raises(ValueError, match="no parquet files"):
        t.add_files([])


def test_add_files_missing_column_reads_null_and_time_travels(spark, catalog, tmp_path):
    import duckdb

    partial = str(tmp_path / "partial.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 7 AS id) TO '{partial}' (FORMAT parquet)"  # no v column
    )
    t = catalog.create_table("ns.tt", "id bigint, v string")
    t.append(local_df(spark, [(1, "a")], "id bigint, v string"))
    snap_before = t.meta.snapshots[-1].snapshot_id
    assert t.add_files([partial]) == 1
    got = {r["id"]: r["v"] for r in t.df().collect()}
    assert got == {1: "a", 7: None}  # missing column back-fills NULL
    # the adoption is its own snapshot: time travel excludes it
    assert [r["id"] for r in t.df(snapshot_id=snap_before).collect()] == [1]
    assert t.meta.snapshots[-1].summary["added-files-via-add-files"] == 1


def test_add_files_same_path_twice_in_one_call(spark, catalog, tmp_path):
    """Intra-call duplicates (explicit file + enclosing dir) adopt once."""
    import duckdb

    d = tmp_path / "ext"
    d.mkdir()
    f = str(d / "x.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 1 AS id) TO '{f}' (FORMAT parquet)"
    )
    t = catalog.create_table("ns.dup", "id bigint")
    assert t.add_files([str(d), f]) == 1
    assert t.df().count() == 1
