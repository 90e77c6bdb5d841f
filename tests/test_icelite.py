"""IceLite conformance tests — one test per reference feature (SURVEY §5
pattern), exercised like /root/reference/tests/iceberg_feature_tests.py:
assert on observable artifacts (delete-file content codes, snapshot
summaries, file counts), not just query results.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_matrix_spark.tables import IceLiteCatalog
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables import maintenance as maint
from iceberg_matrix_spark.tables import metadata_tables as mt
from iceberg_matrix_spark.tables.catalog import NoSuchTableError, TableAlreadyExistsError


@pytest.fixture()
def catalog(spark, tmp_path):
    return IceLiteCatalog(spark, str(tmp_path / "warehouse"))


def _basic_df(spark, rows=((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))):
    return local_df(spark, list(rows), "id bigint, name string, amount double")


def _kv_df(spark, rows=((1, "a"), (2, "b"), (3, "c"))):
    return local_df(spark, list(rows), "id bigint, val string")


# ---------------------------------------------------------------- lifecycle


def test_table_lifecycle(spark, catalog):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.t", "id bigint, name string", properties={"format-version": "2"})
    assert catalog.list_tables("ns") == ["t"]
    assert catalog.describe("ns.t") == [("id", "bigint"), ("name", "string")]
    with pytest.raises(TableAlreadyExistsError):
        catalog.create_table("ns.t", "id bigint")
    catalog.drop_table("ns.t", purge=True)
    with pytest.raises(NoSuchTableError):
        catalog.load_table("ns.t")


def test_ctas_and_read(spark, catalog, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    t = catalog.create_table_as_select("ns.region", region)
    assert sorted(r.r_name for r in t.df().collect()) == sorted(
        r.r_name for r in region.collect()
    )


# ------------------------------------------------------------------ writes


def test_append_creates_one_snapshot_per_write(spark, catalog):
    t = catalog.create_table("ns.a", "id bigint, val string")
    t.append(_kv_df(spark))
    t.append(_kv_df(spark, [(4, "d")]))
    snaps = mt.snapshots(t).orderBy("snapshot_id").collect()
    assert [s.operation for s in snaps] == ["append", "append"]
    assert t.df().count() == 4
    assert int(snaps[-1].summary["total-records"]) == 4


def test_overwrite(spark, catalog):
    t = catalog.create_table("ns.o", "id bigint, val string")
    t.append(_kv_df(spark))
    t.overwrite(_kv_df(spark, [(9, "z")]))
    assert [r.val for r in t.df().collect()] == ["z"]
    assert t._current_snapshot().operation == "overwrite"


# --------------------------------------------------------------------- DML


def test_delete_cow_rewrites_only_affected_files(spark, catalog):
    t = catalog.create_table("ns.cow", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.append(_kv_df(spark, [(3, "c"), (4, "d")]).coalesce(1))
    before = {f.path for f in t._current_snapshot().data_files}
    t.delete("id = 1")
    after_snap = t._current_snapshot()
    after = {f.path for f in after_snap.data_files}
    # the untouched file survives identically; the affected one is rewritten
    assert len(before & after) == 1
    assert after_snap.delete_files == []
    assert sorted(r.id for r in t.df().collect()) == [2, 3, 4]
    # CoW leaves no delete files (iceberg_feature_tests.py:667-680)
    assert mt.all_delete_files(t).count() == 0


def test_delete_mor_position_deletes(spark, catalog):
    t = catalog.create_table(
        "ns.mor",
        "id bigint, val string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_kv_df(spark).coalesce(1))
    t.delete("id = 2")
    dels = mt.all_delete_files(t).collect()
    assert len(dels) == 1 and dels[0].content == 1 and dels[0].file_format == "PARQUET"
    assert sorted(r.id for r in t.df().collect()) == [1, 3]
    # original data file untouched (merge-on-read, :634-648)
    assert len(t._current_snapshot().data_files) == 1
    summary = t._current_snapshot().summary
    assert int(summary["total-position-deletes"]) == 1


def test_delete_mor_v3_emits_puffin_dv(spark, catalog):
    t = catalog.create_table(
        "ns.dv",
        "id bigint, val string",
        properties={"format-version": "3", "write.delete.mode": "merge-on-read"},
    )
    t.append(_kv_df(spark).coalesce(1))
    t.delete("id = 1")
    dels = mt.all_delete_files(t).collect()
    # V3 MoR delete → deletion vector observable as PUFFIN (:1533-1537)
    assert dels[0].file_format == "PUFFIN" and dels[0].content == 1


def test_update_cow_and_mor(spark, catalog):
    for mode in ("copy-on-write", "merge-on-read"):
        name = f"ns.up_{mode[:3]}"
        t = catalog.create_table(
            name, "id bigint, val string", properties={"write.update.mode": mode}
        )
        t.append(_kv_df(spark))
        t.update({"val": "'updated'"}, where="id = 2")
        rows = {r.id: r.val for r in t.df().collect()}
        assert rows == {1: "a", 2: "updated", 3: "c"}, mode


def test_merge_update_and_insert(spark, catalog):
    t = catalog.create_table("ns.m", "id bigint, val string")
    t.append(_kv_df(spark))
    source = _kv_df(spark, [(1, "merged"), (4, "new")])
    t.merge(
        source,
        on="t.id = s.id",
        matched_update={"val": "s.val"},
    )
    rows = {r.id: r.val for r in t.df().collect()}
    assert rows == {1: "merged", 2: "b", 3: "c", 4: "new"}
    assert t._current_snapshot().operation == "merge"


def test_merge_delete_clause(spark, catalog):
    t = catalog.create_table("ns.md", "id bigint, val string")
    t.append(_kv_df(spark))
    t.merge(
        _kv_df(spark, [(2, "x")]),
        on="t.id = s.id",
        matched_delete=True,
        not_matched_clauses=[],
    )
    assert sorted(r.id for r in t.df().collect()) == [1, 3]


def test_upsert_same_batch_and_cross_commit(spark, catalog):
    """F6 fixture semantics: same-batch dup keys collapse (last-writer-
    wins); cross-commit dup keys produce equality deletes (flink
    :744-808)."""
    t = catalog.create_table("ns.ups", "id bigint, name string")
    t.upsert(
        local_df(spark, 
            [(1, "first"), (1, "updated"), (2, "second")], "id bigint, name string"
        ),
        key_columns=["id"],
    )
    rows = {r.id: r.name for r in t.df().collect()}
    assert rows[2] == "second" and rows[1] in ("first", "updated") and len(rows) == 2

    t.upsert(
        local_df(spark, [(1, "final")], "id bigint, name string"),
        key_columns=["id"],
    )
    rows = {r.id: r.name for r in t.df().collect()}
    assert rows == {1: "final", 2: "second"}
    eq_dels = [d for d in mt.all_delete_files(t).collect() if d.content == 2]
    assert eq_dels, "cross-commit upsert must leave equality delete files"


# ----------------------------------------------------------- time travel


def test_time_travel_and_tags_and_branches(spark, catalog):
    t = catalog.create_table("ns.tt", "id bigint, name string")
    t.append(local_df(spark, [(1, "one")], "id bigint, name string"))
    v1 = t._current_snapshot().snapshot_id
    ts1 = t._current_snapshot().timestamp_ms
    t.append(local_df(spark, [(2, "two")], "id bigint, name string"))

    # VERSION AS OF (:820)
    assert t.df(snapshot_id=v1).count() == 1
    # TIMESTAMP AS OF
    assert t.df(as_of_timestamp_ms=ts1).count() == 1
    assert t.df().count() == 2

    # F7: branch diverges by one branch-only row (redshift_fixtures:85-97)
    t.create_tag("audit_tag", snapshot_id=v1)
    t.create_branch("audit_branch")
    t.append(
        local_df(spark, [(3, "branch-only")], "id bigint, name string"),
        branch="audit_branch",
    )
    assert t.df().count() == 2
    assert t.df(ref="audit_branch").count() == 3
    assert t.df(ref="audit_tag").count() == 1
    with pytest.raises(ValueError):
        t.append(_kv_df(spark), branch="audit_tag")

    refs = {r.name: r for r in mt.refs(t).collect()}
    assert refs["audit_tag"].type == "tag" and refs["audit_branch"].type == "branch"


def test_incremental_read(spark, catalog):
    t = catalog.create_table("ns.inc", "id bigint, name string")
    t.append(local_df(spark, [(1, "a")], "id bigint, name string"))
    s1 = t._current_snapshot().snapshot_id
    t.append(local_df(spark, [(2, "b")], "id bigint, name string"))
    t.append(local_df(spark, [(3, "c")], "id bigint, name string"))
    s3 = t._current_snapshot().snapshot_id
    inc = t.read_incremental(s1, s3)
    assert sorted(r.id for r in inc.collect()) == [2, 3]


# ------------------------------------------------------- schema evolution


def test_schema_evolution_add_rename_drop(spark, catalog):
    """F5 fixture: add → old rows NULL; rename; drop
    (iceberg_feature_tests.py:702-719)."""
    t = catalog.create_table("ns.se", "id bigint, name string")
    t.append(local_df(spark, [(1, "x")], "id bigint, name string"))
    t.add_columns({"age": "int"})
    t.append(local_df(spark, [(2, "y", 30)], "id bigint, name string, age int"))
    rows = {r.id: r for r in t.df().collect()}
    assert rows[1].age is None and rows[2].age == 30

    t.rename_column("name", "full_name")
    rows = {r.id: r for r in t.df().collect()}
    assert rows[1].full_name == "x"  # old files resolve by field id

    t.drop_column("age")
    assert "age" not in t.df().columns


def test_type_widening(spark, catalog):
    """F5: INT→BIGINT widening proven by an out-of-range value
    (:744-750)."""
    t = catalog.create_table("ns.tw", "id int, amount float")
    t.append(local_df(spark, [(1, 1.5)], "id int, amount float"))
    t.alter_column_type("id", "bigint")
    t.alter_column_type("amount", "double")
    t.append(
        local_df(spark, [(9999999999, 3.14159)], "id bigint, amount double")
    )
    ids = sorted(r.id for r in t.df().collect())
    assert ids == [1, 9999999999]
    with pytest.raises(ValueError):
        t.alter_column_type("id", "int")  # narrowing rejected


# ---------------------------------------------------- hidden partitioning


def test_hidden_partitioning_and_pruning(spark, catalog):
    """F3 fixture: year/bucket/truncate transforms; a ts-range predicate
    must prune to the matching year's files (iceberg_feature_tests.py:
    918-936)."""
    t = catalog.create_table(
        "ns.hp",
        "id bigint, ts timestamp_ntz, category string, val double",
        partition_by=["year(ts)", "bucket(4, category)", "truncate(2, id)"],
    )
    df = local_df(spark, 
        [
            (1, "2023-06-01 10:00:00", "a", 1.0),
            (11, "2024-01-15 00:00:00", "b", 2.0),
            (21, "2024-07-04 12:00:00", "c", 3.0),
        ],
        "id bigint, ts string, category string, val double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    t.append(df)
    snap = t._current_snapshot()
    assert all("ts_year" in f.partition and "category_bucket" in f.partition
               for f in snap.data_files)
    pruned = t._prune_files(snap.data_files, [("ts", ">=", "2024-01-01 00:00:00")])
    assert {f.partition["ts_year"] for f in pruned} == {2024}
    # scan returns the same rows a full read + filter would
    got = t.df(filters=[("ts", ">=", "2024-01-01 00:00:00")])
    assert sorted(r.id for r in got.collect()) == [11, 21]
    # an equality predicate on a bucket source prunes to its one bucket
    # ('a', 'b' and 'c' hash to three different buckets of 4)
    by_cat = t._prune_files(snap.data_files, [("category", "=", "b")])
    assert len(by_cat) == 1 < len(snap.data_files)
    assert by_cat[0].partition["category_bucket"] == (
        spark.range(1).select(F.pmod(F.xxhash64(F.lit("b")), F.lit(4))).first()[0]
    )
    got = t.df(filters=[("category", "=", "b")]).collect()
    assert sorted(got) == sorted(t.df().filter(F.col("category") == "b").collect())
    assert [r.id for r in got] == [11]


def test_partition_evolution(spark, catalog):
    """F4 fixture: add a partition field on a different source column;
    rows written before and after must read back together (:953-972)."""
    t = catalog.create_table(
        "ns.pe", "id bigint, ts timestamp_ntz, val string", partition_by=["year(ts)"]
    )
    row = lambda i, ts, v: (i, ts, v)  # noqa: E731
    df1 = local_df(spark, 
        [(1, "2024-01-01 00:00:00", "a")], "id bigint, ts string, val string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    t.append(df1)
    t.add_partition_field("bucket(4, id)")
    df2 = local_df(spark, 
        [(2, "2024-02-01 00:00:00", "b")], "id bigint, ts string, val string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    t.append(df2)
    assert t.df().count() == 2
    specs = {tuple(sorted(f.partition)) for f in t._current_snapshot().data_files}
    assert ("id_bucket", "ts_year") in specs and ("ts_year",) in specs


# ------------------------------------------------------------ maintenance


def test_rewrite_data_files_compacts(spark, catalog):
    t = catalog.create_table(
        "ns.cmp", "id bigint, val string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    for i in range(4):
        t.append(_kv_df(spark, [(i, f"v{i}")]).coalesce(1))
    t.delete("id = 0")
    before_rows = sorted(r.id for r in t.df().collect())
    result = maint.rewrite_data_files(t, target_partitions=1)
    assert result["rewritten_data_files_count"] == 4
    snap = t._current_snapshot()
    assert snap.operation == "replace" and snap.delete_files == []
    assert len(snap.data_files) == 1
    assert sorted(r.id for r in t.df().collect()) == before_rows


def test_expire_snapshots_deletes_unreferenced_files(spark, catalog):
    t = catalog.create_table("ns.exp", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a")]))
    t.overwrite(_kv_df(spark, [(2, "b")]))  # first snapshot's file now dead
    n_snaps = len(t.meta.snapshots)
    result = maint.expire_snapshots(t, retain_last=1)
    assert len(t.meta.snapshots) == 1 < n_snaps
    assert result["deleted_data_files_count"] >= 1
    assert [r.val for r in t.df().collect()] == ["b"]


def test_remove_orphan_files(spark, catalog, tmp_path):
    t = catalog.create_table("ns.orp", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a")]))
    # fabricate an orphan commit dir (a failed write)
    orphan = f"{t.location}/data/c-deadbeef"
    _kv_df(spark, [(9, "z")]).write.parquet(orphan)
    # the default 3-day grace treats the fresh dir as a possible
    # in-flight write (DML writes parquet before its commit loop)
    assert maint.remove_orphan_files(t, dry_run=True) == []
    import time as _time

    future = int(_time.time() * 1000) + 60_000
    removed = maint.remove_orphan_files(t, older_than_ms=future)
    assert removed == [orphan]
    assert t.df().count() == 1


def test_metadata_tables_shapes(spark, catalog):
    t = catalog.create_table("ns.meta", "id bigint, val string")
    t.append(_kv_df(spark))
    assert mt.snapshots(t).columns[:2] == ["snapshot_id", "parent_id"]
    files = mt.files(t).collect()
    assert files and sum(f.record_count for f in files) == 3
    assert all(f.record_count > 0 for f in files)  # no empty data files committed
    assert "id" in files[0].lower_bounds  # column stats present (:1056-1068)
    assert mt.partitions(t).count() == 1
    assert mt.history(t).count() == 1
    assert mt.metadata_log_entries(t).count() >= 1


def test_properties_roundtrip(spark, catalog):
    t = catalog.create_table("ns.props", "id bigint", properties={"k": "v"})
    t.set_properties({"write.parquet.bloom-filter-enabled.column.id": "true"})
    t.refresh()
    assert t.properties["k"] == "v"
    assert t.properties["write.parquet.bloom-filter-enabled.column.id"] == "true"


# ------------------------------------------------------- regression fixes


def test_delete_cow_keeps_rows_where_predicate_is_null(spark, catalog):
    """CoW DELETE must remove only rows where the predicate is TRUE; a row
    where it evaluates NULL (e.g. NULL > 5) shares a file with a true match
    and must survive the rewrite."""
    t = catalog.create_table("ns.nulldel", "id bigint, v bigint")
    t.append(
        local_df(spark, [(1, 10), (2, None), (3, 1)], "id bigint, v bigint")
    )
    t.delete("v > 5")  # row 1 deleted; row 2 (NULL) and row 3 kept
    assert sorted(r.id for r in t.df().collect()) == [2, 3]


def test_merge_raises_on_cardinality_violation(spark, catalog):
    t = catalog.create_table("ns.card", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a"), (2, "b")]))
    dup_source = local_df(spark, 
        [(1, "x"), (1, "y")], "id bigint, val string"
    )
    with pytest.raises(ValueError, match="cardinality"):
        t.merge(dup_source, on="t.id = s.id", matched_update={"val": "s.val"})


def test_commit_leaves_no_partial_metadata_on_conflict(spark, catalog, tmp_path):
    import os

    t = catalog.create_table("ns.atomic", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a")]))
    mdir = os.path.join(t.location, "metadata")
    # no temp files left behind after normal commits
    assert not [n for n in os.listdir(mdir) if n.startswith(".tmp-")]
    # every version file on disk parses (no truncated head possible)
    import json

    for name in os.listdir(mdir):
        if name.endswith(".metadata.json"):
            with open(os.path.join(mdir, name)) as fh:
                json.loads(fh.read())


def test_float_partition_values_prune_numerically(spark, catalog):
    """Identity-partitioned double column: '10.5' vs '9.0' must compare as
    floats — lexicographic pruning would wrongly drop the 10.5 file on
    `score > 9.5`."""
    t = catalog.create_table(
        "ns.floatpart",
        "id bigint, score double",
        partition_by=["score"],
    )
    t.append(
        local_df(spark, [(1, 10.5), (2, 9.0)], "id bigint, score double")
    )
    got = [r.id for r in t.df().filter("score > 9.5").collect()]
    assert got == [1]


def test_expire_snapshots_retry_does_not_delete_live_files(spark, catalog, monkeypatch):
    """removed_files must be recomputed per commit attempt, not accumulated
    across optimistic-commit retries."""
    from iceberg_matrix_spark.tables import table as table_mod

    t = catalog.create_table("ns.expret", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a")]))
    t.append(_kv_df(spark, [(2, "b")]))
    t.append(_kv_df(spark, [(3, "c")]))

    # Force one CommitConflict on the first attempt: concurrently advance the
    # table version between mutate() and the version write. The hook goes
    # where IceLiteTable._commit looks the function up.
    original_commit = table_mod.commit_metadata
    fired = {"done": False}

    def racing_commit(location, meta, expected_version):
        if not fired["done"]:
            fired["done"] = True
            # a concurrent writer lands first → this attempt conflicts
            t2 = catalog.load_table("ns.expret")
            t2.append(_kv_df(spark, [(4, "d")]))
        return original_commit(location, meta, expected_version)

    monkeypatch.setattr(table_mod, "commit_metadata", racing_commit)
    maint.expire_snapshots(t, retain_last=1)
    assert fired["done"]
    assert len(t.meta.snapshots) == 1
    # every row referenced by the surviving head is still readable
    assert t.df().count() >= 1
    for f in t._current_snapshot().data_files:
        import os

        assert os.path.exists(f.path.replace("file:", "")) or os.path.exists(f.path)


def test_concurrent_appenders_all_land_exactly_once(spark, catalog):
    """8 threads race appends through the optimistic-commit loop: every
    batch must land exactly once and the snapshot history must be a
    single linear chain (no lost updates, no forks)."""
    import threading

    from iceberg_matrix_spark.tables.table import IceLiteTable

    t = catalog.create_table("ns.race_appends", "id bigint")
    errs = []

    def worker(i: int) -> None:
        try:
            IceLiteTable(spark, t.location).append(
                spark.range(i * 100, i * 100 + 10)
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    final = IceLiteTable(spark, t.location)
    got = sorted(r["id"] for r in final.df().collect())
    assert got == sorted(x for i in range(8) for x in range(i * 100, i * 100 + 10))
    # linear history: each snapshot's parent is the previous snapshot
    snaps = final.meta.snapshots
    assert len(snaps) == 8
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id


def test_snapshot_rollback_and_set_current(spark, catalog):
    t = catalog.create_table("ns.t_rollback", "id bigint")
    t.append(spark.range(3))
    first = t._current_snapshot().snapshot_id
    t.append(spark.range(3, 8))
    second = t._current_snapshot().snapshot_id

    t.rollback_to_snapshot(first)
    assert t.df().count() == 3
    # rolled-past snapshot still addressable by id (survives until expiry)
    assert t.df(snapshot_id=second).count() == 8

    t.set_current_snapshot(second)  # roll forward again
    assert t.df().count() == 8

    t.rollback_to_snapshot(first)
    with pytest.raises(ValueError, match="not an ancestor"):
        t.rollback_to_snapshot(second)
    with pytest.raises(KeyError):
        t.set_current_snapshot(999999)


def test_rewrite_position_deletes_consolidates_and_preserves_rows(spark, catalog):
    t = catalog.create_table(
        "ns.t_posdel", "id bigint",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(10))
    t.append(spark.range(10, 20))
    t.delete("id IN (1, 11)")
    t.delete("id IN (3, 13)")
    t.delete("id = 7")
    assert len([d for d in t._current_snapshot().delete_files if d.content == 1]) == 3

    res = maint.rewrite_position_deletes(t)
    assert res["rewritten_delete_files_count"] == 3
    assert res["added_delete_files_count"] == 1
    snap = t._current_snapshot()
    assert len([d for d in snap.delete_files if d.content == 1]) == 1
    got = sorted(r["id"] for r in t.df().collect())
    assert got == sorted(set(range(20)) - {1, 11, 3, 13, 7})

    # idempotent: single consolidated file → no-op
    res2 = maint.rewrite_position_deletes(t)
    assert res2["rewritten_delete_files_count"] == 0


def test_compute_table_statistics_ndv(spark, catalog):
    t = catalog.create_table("ns.t_stats", "id bigint, val string")
    t.append(
        local_df(spark, 
            [(i, f"v{i % 7}") for i in range(200)], "id bigint, val string"
        )
    )
    res = maint.compute_table_statistics(t)
    assert res["analyzed_columns"] == 2
    # below sketch capacity the count is exact; above it, estimated
    assert res["ndv"]["val"] == 7.0
    assert abs(res["ndv"]["id"] - 200.0) / 200.0 < 0.2

    stats = {(r["column"]): r["ndv"] for r in mt.statistics(t).collect()}
    assert stats == res["ndv"]

    # metadata round-trips through JSON (new reader sees the stats entry)
    t.refresh()
    assert len(t.meta.statistics) == 1

    # re-analyzing the same snapshot replaces, not duplicates
    maint.compute_table_statistics(t, columns=["val"])
    t.refresh()
    assert len(t.meta.statistics) == 1
    assert t.meta.statistics[0]["columns"] == ["val"]


def test_manifests_metadata_table(spark, catalog):
    t = catalog.create_table(
        "ns.t_manifests", "id bigint",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(5).coalesce(1))
    t.append(spark.range(5, 9).coalesce(1))
    t.delete("id = 2")
    rows = mt.manifests(t).orderBy("snapshot_id", "content").collect()
    # snap1: 1 added data file; snap2: 1 added + 1 existing;
    # snap3 (MoR delete): data all existing + a delete manifest row
    assert [(r["content"], r["added_files_count"], r["existing_files_count"]) for r in rows] == [
        (0, 1, 0), (0, 1, 1), (0, 0, 2), (1, 1, 0),
    ]
    assert rows[0]["added_rows_count"] == 5
    assert rows[-1]["added_rows_count"] == 1  # one position delete row


def test_snapshot_changes_cdc(spark, tmp_path):
    """CDC diff across an operation mix: UPDATE surfaces as its
    delete+insert pair, duplicates diff by multiplicity (exceptAll)."""
    from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("ns")
    t = cat.create_table("ns.t", "id bigint, v bigint")
    t.append(
        local_df(spark, [(1, 10), (2, 20), (3, 30), (3, 30)], "id bigint, v bigint")
    )
    first = t.meta.snapshots[-1].snapshot_id
    t.delete("id = 2")
    t.update({"v": "v + 1"}, where="id = 1")
    t.append(local_df(spark, [(3, 30)], "id bigint, v bigint"))
    last = t.refresh().meta.snapshots[-1].snapshot_id
    rows = sorted(
        (r["_change_type"], r["id"], r["v"])
        for r in t.snapshot_changes(first, last).collect()
    )
    assert rows == [
        ("delete", 1, 10),   # old image of the UPDATE
        ("delete", 2, 20),   # the DELETE
        ("insert", 1, 11),   # new image of the UPDATE
        ("insert", 3, 30),   # multiplicity: (3,30) went from 2 copies to 3
    ]
    # identical snapshots → empty changelog
    assert t.snapshot_changes(last, last).count() == 0


# --------------------------------------------------------- identifier fields


def test_identifier_fields_drive_default_upsert(spark, catalog):
    catalog.create_namespace("ns")
    t = catalog.create_table("ns.pk", "id bigint, v string")
    with pytest.raises(ValueError, match="identifier fields"):
        t.upsert(_kv_df(spark, [(1, "a")]).toDF("id", "v"))
    with pytest.raises(KeyError):
        t.set_identifier_fields(["nope"])
    t.set_identifier_fields(["id"])
    assert t.identifier_fields() == ["id"]
    t.upsert(local_df(spark, [(1, "a"), (2, "b")], "id bigint, v string"))
    t.upsert(local_df(spark, [(2, "B"), (3, "c")], "id bigint, v string"))
    got = {r["id"]: r["v"] for r in t.df().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # identity is ID-based: a rename keeps the key intact
    t.rename_column("id", "pk")
    assert t.identifier_fields() == ["pk"]
    t.upsert(local_df(spark, [(3, "C")], "pk bigint, v string"))
    assert {r["pk"]: r["v"] for r in t.df().collect()}[3] == "C"


def test_set_identifier_fields_sql(spark, catalog):
    from iceberg_matrix_spark.sql import IceLiteSQL

    sql = IceLiteSQL(spark, catalog)
    sql.sql("CREATE NAMESPACE IF NOT EXISTS local.pk")
    sql.sql("CREATE TABLE local.pk.t (id BIGINT, v STRING) USING iceberg")
    sql.sql("ALTER TABLE local.pk.t SET IDENTIFIER FIELDS id")
    assert catalog.load_table("pk.t").identifier_fields() == ["id"]


def test_pyiceberg_shapes_scan_inspect_delete_filter(spark, catalog):
    """PyIceberg's literal API shapes (pyiceberg_feature_tests.py:157,214,
    652): scan().to_arrow(), delete(delete_filter="id == 2"), and
    tbl.inspect.manifests()/snapshots()."""
    t = catalog.create_table("ns.pyi", "id bigint, v string")
    t.append(local_df(spark, [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"))
    assert t.scan().to_arrow().num_rows == 3
    t.delete(delete_filter="id == 2")
    assert sorted(t.scan().to_arrow().column("id").to_pylist()) == [1, 3]
    assert t.inspect.snapshots().count() == 2
    m = t.inspect.manifests()
    assert m.count() >= 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="predicate"):
        t.delete()


def test_pyiceberg_update_schema_idiom(spark, catalog):
    """PyIceberg's `with tbl.update_schema() as u:` shape, with the exact
    op sequence of pyiceberg_feature_tests.py:343-350 (add → rename →
    drop) and the type-promotion probe (:371-375)."""
    from iceberg_matrix_spark.tables.table import _type_str

    t = catalog.create_table("ns.evo", "id bigint, val float")
    versions_before = t.version

    with t.update_schema() as update:
        update.add_column("new_col", "string")
    with t.update_schema() as update:
        update.rename_column("new_col", "renamed_col")
    with t.update_schema() as update:
        update.delete_column("renamed_col")
    col_names = [f.name for f in t.schema().fields]
    assert "renamed_col" not in col_names and "new_col" not in col_names

    with t.update_schema() as update:
        update.update_column("val", "double")
    assert t.schema().find_field("val").field_type == "double"

    # batched ops land as ONE commit; chained form works without `with`
    v = t.version
    t.update_schema().add_column("a", "string").add_column("b", "int").commit()
    assert t.version == v + 1
    assert t.schema().find_field("b").field_type == "int"

    # an exception inside the block commits nothing
    v = t.version
    with pytest.raises(RuntimeError, match="boom"):
        with t.update_schema() as update:
            update.add_column("never", "string")
            raise RuntimeError("boom")
    assert t.version == v and "never" not in t.schema().names()

    # a bad op fails the whole batch atomically
    with pytest.raises(KeyError):
        t.update_schema().add_column("c", "string").rename_column("nope", "x").commit()
    assert "c" not in t.schema().names()

    # *Type()-object spellings coerce (PyIceberg passes StringType() etc.)
    assert _type_str("BIGINT") == "bigint"

    class StringType:  # the PyIceberg spelling, structurally
        pass

    class LongType:
        pass

    assert _type_str(StringType()) == "string"
    assert _type_str(LongType()) == "bigint"
    assert versions_before < t.version


def test_update_spec_rejects_ghost_source_column(spark, catalog):
    """update_spec() validates a new field's source column the way
    add_partition_field does: nothing is committed and the table stays
    writable."""
    t = catalog.create_table("ns.ghost", "id bigint")
    v = t.version
    with pytest.raises(ValueError, match="not in schema: 'ghost'"):
        with t.update_spec() as update:
            update.add_field("ghost", "bucket(4)")
    assert t.version == v
    assert t.refresh().meta.partition_spec == []
    t.append(spark.range(3))
    assert t.df().count() == 3


def test_pyiceberg_update_spec_and_manage_snapshots(spark, catalog):
    """update_spec().add_field with transform objects
    (pyiceberg_feature_tests.py:450-455) and the manage_snapshots()
    builder (:522,552-556) — snapshot_id-first argument order."""
    from iceberg_matrix_spark.tables import DayTransform, HourTransform

    t = catalog.create_table(
        "ns.pevo", "id bigint, ts timestamp", partition_by=["day(ts)"]
    )
    with t.update_spec() as update:
        update.add_field("ts", HourTransform(), "ts_hour")
    assert "ts_hour" in [f.name for f in t.spec().fields]
    assert "ts_day" in [f.name for f in t.spec().fields]

    # wrong custom name → loud rejection (we derive Iceberg's default)
    with pytest.raises(ValueError, match="derived name"):
        t.update_spec().add_field("id", "bucket(4)", "my_bucket").commit()

    # remove by partition-field name, add in the same single commit
    v = t.version
    with t.update_spec() as update:
        update.remove_field("ts_day")
        update.add_field("id", "bucket(4)")
    assert t.version == v + 1
    names = [f.name for f in t.spec().fields]
    assert "ts_day" not in names and "id_bucket" in names

    # DayTransform round-trips through transform_spec
    from iceberg_matrix_spark.tables.transforms import transform_spec

    assert transform_spec("ts", DayTransform()) == "day(ts)"

    t.append(
        local_df(spark, [(1, "2024-01-01 00:00:00")], "id bigint, ts string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    snap_id = t.current_snapshot().snapshot_id
    t.manage_snapshots().create_branch(snap_id, "dev_branch").commit()
    t.manage_snapshots().create_tag(snap_id, "v1_tag").commit()
    refs = t.metadata.refs
    assert "dev_branch" in refs and "v1_tag" in refs
    assert len(t.metadata.snapshots) == 1

    t.manage_snapshots().remove_branch("dev_branch").remove_tag("v1_tag").commit()
    assert "dev_branch" not in t.metadata.refs and "v1_tag" not in t.metadata.refs


def _two_snapshots(catalog, spark, name):
    catalog.create_namespace("ns")
    t = catalog.create_table(f"ns.{name}", "id bigint, val string")
    t.append(_kv_df(spark, [(1, "a")]))
    first = t.current_snapshot().snapshot_id
    t.append(_kv_df(spark, [(2, "b")]))
    return t, first


def test_creating_an_existing_ref_raises(spark, catalog):
    """A ref name is created once: a tag named main would make main
    unwritable, and a second create_branch would move the branch."""
    t, first = _two_snapshots(catalog, spark, "dupref")
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("main")
    t.create_branch("dev", first)
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("dev")
    with pytest.raises(ValueError, match="already exists"):
        t.manage_snapshots().create_tag(first, "dev").commit()
    refs = t.refresh().metadata.refs
    assert (refs["main"].type, refs["dev"].type) == ("branch", "branch")
    assert refs["dev"].snapshot_id == first
    t.append(_kv_df(spark, [(3, "c")]))
    assert sorted(r.id for r in t.df().collect()) == [1, 2, 3]


def test_dropping_an_unknown_ref_raises_value_error(spark, catalog):
    t, _first = _two_snapshots(catalog, spark, "noref")
    with pytest.raises(ValueError, match="unknown ref"):
        t.drop_ref("nosuch")
    with pytest.raises(ValueError, match="unknown ref"):
        t.manage_snapshots().remove_tag("nosuch").commit()


def test_manage_snapshots_commits_all_ops_or_none(spark, catalog):
    t, first = _two_snapshots(catalog, spark, "atomic")
    version = t.version
    with pytest.raises(KeyError, match="no snapshot"):
        t.manage_snapshots().create_branch(first, "dev").create_tag(999, "bad").commit()
    assert t.refresh().version == version
    assert set(t.metadata.refs) == {"main"}
    t.manage_snapshots().create_branch(first, "dev").create_tag(first, "v1").commit()
    assert t.refresh().version == version + 1
    assert {n: r.type for n, r in t.metadata.refs.items()} == {
        "main": "branch", "dev": "branch", "v1": "tag",
    }


def test_pyiceberg_schema_as_arrow_append_cast(spark, catalog):
    """The reference's append idiom: tbl.append(df.cast(tbl.schema()
    .as_arrow())) (pyiceberg_feature_tests.py:519)."""
    import pyarrow as pa

    t = catalog.create_table("ns.arrcast", "id bigint, name string, value double")
    df = pa.table(
        {
            "id": pa.array([1], type=pa.int32()),  # narrower than the table
            "name": pa.array(["row_1"]),
            "value": pa.array([1.5], type=pa.float32()),
        }
    )
    t.append_arrow(df.cast(t.schema().as_arrow()))
    got = t.scan().to_arrow()
    assert got.column("id").to_pylist() == [1]
    assert t.schema().as_arrow().field("id").type == pa.int64()
