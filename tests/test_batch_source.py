"""Batch Python DataSource: spark.read.format("icelite") parity with
IceLiteTable.df() across deletes, evolution, time travel, and pruning."""

from __future__ import annotations

import tempfile
from dataclasses import replace

import pytest

from iceberg_matrix_spark.sources.batch_source import (
    IceLiteBatchReader,
    execute_scan,
    register_batch_source,
)
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.scan import plan_scan


@pytest.fixture
def cat(spark):
    register_batch_source(spark)
    c = IceLiteCatalog(spark, tempfile.mkdtemp(prefix="bsrc-wh-"))
    c.create_namespace("b")
    return c


def _read(spark, location, **options):
    r = spark.read.format("icelite")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(location)


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_plain_read_matches_table_df(spark, cat):
    t = cat.create_table("b.t", "id bigint, v string")
    t.append(local_df(spark, [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"))
    got = _read(spark, t.location)
    assert got.columns == ["id", "v"]
    assert _ids(got) == [1, 2, 3]


def test_mor_position_deletes_applied(spark, cat):
    t = cat.create_table("b.mor", "id bigint, v bigint")
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.refresh().append(local_df(spark, [(i, i * 10) for i in range(6)], "id bigint, v bigint"))
    t.refresh().delete("v >= 30")
    assert len(t.refresh()._current_snapshot().delete_files) > 0  # really MoR
    assert _ids(_read(spark, t.location)) == [0, 1, 2]


def test_equality_deletes_applied(spark, cat):
    t = cat.create_table("b.eq", "id bigint, v bigint")
    t.append(local_df(spark, [(1, 10), (2, 20), (3, 30)], "id bigint, v bigint"))
    # upsert replaces id=2 via equality delete + new data file
    t.refresh().upsert(
        local_df(spark, [(2, 99), (4, 40)], "id bigint, v bigint"), key_columns=["id"]
    )
    got = {r["id"]: r["v"] for r in _read(spark, t.location).collect()}
    assert got == {1: 10, 2: 99, 3: 30, 4: 40}


def test_schema_evolution_and_default_backfill(spark, cat):
    t = cat.create_table("b.evo", "id bigint, v string",
                         properties={"format-version": "3"})
    t.append(local_df(spark, [(1, "a")], "id bigint, v string"))
    t.refresh().rename_column("v", "w")
    t.refresh().add_columns({"tag": "string"}, defaults={"tag": "dflt"})
    t.refresh().append(
        local_df(spark, [(2, "b", "x")], "id bigint, w string, tag string")
    )
    got = {r["id"]: (r["w"], r["tag"]) for r in _read(spark, t.location).collect()}
    assert got == {1: ("a", "dflt"), 2: ("b", "x")}


def test_time_travel_options(spark, cat):
    t = cat.create_table("b.tt", "id bigint")
    t.append(spark.range(3))
    s1 = t.refresh()._current_snapshot().snapshot_id
    t.refresh().append(spark.range(10, 12))
    t.refresh().create_branch("dev")
    assert _ids(_read(spark, t.location)) == [0, 1, 2, 10, 11]
    assert _ids(_read(spark, t.location, snapshot_id=str(s1))) == [0, 1, 2]
    assert _ids(_read(spark, t.location, ref="dev")) == [0, 1, 2, 10, 11]


def test_pushed_filters_prune_partitions(spark, cat):
    from pyspark.sql.datasource import GreaterThan

    t = cat.create_table("b.pr", "id bigint, k int", partition_by=["k"])
    t.append(local_df(spark, [(i, i % 3) for i in range(9)], "id bigint, k int"))
    reader = IceLiteBatchReader({"path": t.location})
    before = reader.partitions()
    assert {p.path.split("__p_k=")[1][0] for p in before} == {"0", "1", "2"}
    residuals = list(reader.pushFilters([GreaterThan(("k",), 1)]))
    assert len(residuals) == 1  # filters stay residual (pruning only)
    after = reader.partitions()
    assert len(after) < len(before)
    assert {p.path.split("__p_k=")[1][0] for p in after} == {"2"}  # pruned
    # and the end-to-end read still returns exactly the right rows
    got = _read(spark, t.location).filter("k > 1")
    assert _ids(got) == [2, 5, 8]


def test_equality_deletes_apply_after_key_rename(spark, cat):
    """Equality keys resolve by FIELD ID: renaming the key column after
    the delete was written must not detach (or mis-target) the delete."""
    t = cat.create_table("b.eqren", "k bigint, v bigint")
    t.append(local_df(spark, [(1, 10), (2, 20)], "k bigint, v bigint"))
    t.upsert(local_df(spark, [(2, 21)], "k bigint, v bigint"), ["k"])
    t.rename_column("k", "key")

    from iceberg_matrix_spark.sources.batch_source import register_batch_source

    register_batch_source(spark)
    got = {
        (r["key"], r["v"])
        for r in spark.read.format("icelite").load(t.location).collect()
    }
    assert got == {(1, 10), (2, 21)}


def test_snapshot_id_read_uses_snapshot_schema(spark, cat):
    """option('snapshot_id') returns the SNAPSHOT's columns — the same
    time-travel semantics as IceLiteTable.df."""
    t = cat.create_table("b.ttschema", "id bigint, payload string")
    t.append(local_df(spark, [(1, "p")], "id bigint, payload string"))
    snap1 = t.meta.current_snapshot_id
    t.drop_column("payload")

    from iceberg_matrix_spark.sources.batch_source import register_batch_source

    register_batch_source(spark)
    pinned = (
        spark.read.format("icelite").option("snapshot_id", snap1).load(t.location)
    )
    assert pinned.columns == ["id", "payload"]
    assert pinned.collect()[0]["payload"] == "p"
    assert spark.read.format("icelite").load(t.location).columns == ["id"]


def test_smallint_column_reads(spark, cat):
    """Types outside the fast-path arrow map fall through to PySpark's
    own DDL→arrow mapping instead of crashing the scan."""
    t = cat.create_table("b.short", "id bigint, s smallint")
    t.append(spark.sql("SELECT 1L AS id, CAST(7 AS SMALLINT) AS s"))

    from iceberg_matrix_spark.sources.batch_source import register_batch_source

    register_batch_source(spark)
    row = spark.read.format("icelite").load(t.location).collect()[0]
    assert (row["id"], row["s"]) == (1, 7)


def test_composite_key_equality_deletes_tuple_semantics(spark, cat):
    """Composite-key equality deletes are ROW-WISE tuples, not per-column
    sets: deletes {(1,'a'),(2,'b')} must leave (1,'b') and (2,'a') alive.
    The batch source must agree with the table read (which it once did
    not — per-column is_in cross-matched the key columns)."""
    t = cat.create_table("bs.comp", "id bigint, tag string, v bigint")
    t.append(
        local_df(
            spark,
            [(1, "a", 1), (1, "b", 2), (2, "a", 3), (2, "b", 4)],
            "id bigint, tag string, v bigint",
        )
    )
    t.upsert(
        local_df(spark, [(1, "a", 10), (2, "b", 40)], "id bigint, tag string, v bigint"),
        ["id", "tag"],
    )
    want = {(r["id"], r["tag"]): r["v"] for r in t.refresh().df().collect()}
    assert want == {(1, "a"): 10, (1, "b"): 2, (2, "a"): 3, (2, "b"): 40}
    got = {
        (r["id"], r["tag"]): r["v"]
        for r in spark.read.format("icelite").load(t.location).collect()
    }
    assert got == want


def test_successive_upserts_emptying_a_file(spark, cat):
    """Two successive upserts whose keys cover a whole data file: the
    first equality-delete file empties it, and the second must apply to
    the now-zero-row table without crashing (an empty Python mask is
    null-typed and Table.filter rejects it — regression)."""
    t = cat.create_table("bs.twice", "id bigint, v bigint")
    t.append(local_df(spark, [(1, 1), (2, 2)], "id bigint, v bigint"))
    t.upsert(local_df(spark, [(1, 10), (2, 20)], "id bigint, v bigint"), ["id"])
    t.upsert(local_df(spark, [(1, 100), (2, 200)], "id bigint, v bigint"), ["id"])
    got = {
        r["id"]: r["v"]
        for r in spark.read.format("icelite").load(t.location).collect()
    }
    assert got == {1: 100, 2: 200}
    # composite-key (tuple-matching) path, same emptied-file shape
    t2 = cat.create_table("bs.twice2", "id bigint, tag string, v bigint")
    t2.append(local_df(spark, [(1, "a", 1)], "id bigint, tag string, v bigint"))
    t2.upsert(
        local_df(spark, [(1, "a", 10)], "id bigint, tag string, v bigint"),
        ["id", "tag"],
    )
    t2.upsert(
        local_df(spark, [(1, "a", 100)], "id bigint, tag string, v bigint"),
        ["id", "tag"],
    )
    got2 = {
        (r["id"], r["tag"]): r["v"]
        for r in spark.read.format("icelite").load(t2.location).collect()
    }
    assert got2 == {(1, "a"): 100}


def test_nan_keyed_composite_equality_delete(spark, cat):
    """NaN composite keys match NaN data rows — the Spark MoR read's
    eqNullSafe treats NaN=NaN as equal, and the batch source must agree
    (distinct Python float('nan') objects never match in a plain set)."""
    t = cat.create_table("bs.nankey", "id bigint, f double, v bigint")
    t.append(
        spark.sql(
            "SELECT * FROM VALUES (1, CAST('NaN' AS DOUBLE), 1), "
            "(2, 2.5D, 2) AS t(id, f, v)"
        )
    )
    t.upsert(
        spark.sql("SELECT 1 AS id, CAST('NaN' AS DOUBLE) AS f, 9 AS v"),
        ["id", "f"],
    )
    want = {r["id"]: r["v"] for r in t.refresh().df().collect()}
    assert want == {1: 9, 2: 2}
    got = {
        r["id"]: r["v"]
        for r in spark.read.format("icelite").load(t.location).collect()
    }
    assert got == want


def test_null_keyed_equality_delete_through_batch_source(spark, cat):
    """NULL-keyed equality deletes match null-safely in the batch source,
    same as the table read and the DuckDB interop."""
    t = cat.create_table("bs.nulldel", "id bigint, v bigint")
    t.append(local_df(spark, [(None, 1), (7, 2)], "id bigint, v bigint"))
    t.upsert(local_df(spark, [(None, 9)], "id bigint, v bigint"), ["id"])
    got = {
        r["id"]: r["v"]
        for r in spark.read.format("icelite").load(t.location).collect()
    }
    assert got == {None: 9, 7: 2}


def test_empty_table_reads_no_rows(spark, cat):
    """An empty plan: PySpark hands ``read`` one partition of None."""
    t = cat.create_table("bs.empty", "id bigint, v string")
    got = _read(spark, t.location)
    assert got.columns == ["id", "v"]
    assert got.collect() == []


def test_filter_pruning_every_file_reads_no_rows(spark, cat):
    from pyspark.sql.datasource import GreaterThan

    t = cat.create_table("bs.allpruned", "id bigint, v string")
    t.append(local_df(spark, [(1, "a"), (2, "b")], "id bigint, v string"))
    reader = IceLiteBatchReader({"path": t.location})
    list(reader.pushFilters([GreaterThan(("id",), 100)]))
    assert reader.partitions() == []
    assert _read(spark, t.location).filter("id > 100").collect() == []


def test_unknown_ref_raises_key_error(spark, cat):
    """The batch source resolves refs like ``tb.df(ref=...)``: an unknown
    ref fails planning instead of reading as an empty table."""
    t = cat.create_table("bs.badref", "id bigint")
    t.append(spark.range(2))
    with pytest.raises(KeyError, match="unknown ref nope"):
        t.df(ref="nope")
    with pytest.raises(KeyError, match="unknown ref nope"):
        IceLiteBatchReader({"path": t.location, "ref": "nope"}).partitions()
    with pytest.raises(Exception, match="KeyError: 'unknown ref nope'"):
        _read(spark, t.location, ref="nope").collect()


def test_task_reads_only_equality_deletes_that_can_apply(spark, cat, tmp_path):
    """Each batch-source task executes the plan scoped to one data file.
    An equality delete that is not newer than that file cannot drop its
    rows, so the task does not read it: here it no longer exists."""
    t = cat.create_table("b.eqskip", "id bigint, v bigint")
    t.append(local_df(spark, [(1, 10), (2, 20)], "id bigint, v bigint"))
    t.refresh().upsert(local_df(spark, [(2, 99)], "id bigint, v bigint"), key_columns=["id"])
    plan = plan_scan(t.refresh().meta)
    (d,) = plan.equality_deletes
    newest = max(plan.files, key=lambda f: f.sequence_number)
    assert newest.sequence_number == d.sequence_number  # written with the delete
    gone = replace(d, path=str(tmp_path / "gone.parquet"))
    scoped = replace(plan, files=[newest], equality_deletes=[gone])
    assert execute_scan(scoped).to_pylist() == [{"id": 2, "v": 99}]
