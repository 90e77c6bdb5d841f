"""Spark jobs per IceLite read and write: a point read pays only for
what its snapshot needs, and each write path keeps its pinned job count
(counted through statusTracker, as in test_store.py).

Reads run on one of two executors (``IceLiteTable._read_plan``). The
fixture table is far below ``_ARROW_SCAN_BYTES`` and
``spark.sql.autoBroadcastJoinThreshold``, so its reads run in-process in
Arrow and a point read runs no Spark job.
The same reads at a threshold of -1 run as a Spark parquet scan and keep
the counts pinned before the Arrow executor existed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables import maintenance as maint
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.scan import plan_scan

from tests.executors import read_threshold

_SCHEMA = "id bigint, v string"
_ROWS = {i: f"v{i}" for i in range(200)}


def _jobs(spark, group: str, fn):
    """(result of fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land in the tracker
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def table(spark, tmp_path):
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("n")
    t = cat.create_table(
        "n.mor", _SCHEMA, partition_by=["bucket(8, id)"],
        properties={
            "format-version": "3",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    t.append(local_df(spark, sorted(_ROWS.items()), _SCHEMA))
    return t


def _point(t, k):
    return lambda: [tuple(r) for r in t.df(filters=[("id", "=", k)]).collect()]


def test_point_read_without_deletes_runs_one_job(spark, table):
    with read_threshold(spark, -1):
        rows, jobs = _jobs(spark, "read-jobs-plain", _point(table, 17))
    assert rows == [(17, "v17")]
    assert len(jobs) == 1


def test_point_read_with_position_deletes_runs_two_jobs(spark, table):
    table.delete("id IN (17, 99)")
    assert [d.content for d in table.current_snapshot().delete_files] == [1]
    with read_threshold(spark, -1):
        rows, _ = _jobs(spark, "read-jobs-pos", _point(table, 17))
        assert rows == []
        rows, jobs = _jobs(spark, "read-jobs-pos-live", _point(table, 18))
    assert rows == [(18, "v18")]
    assert len(jobs) <= 2


def test_update_matching_nothing_commits_no_delete_file(spark, table):
    """A merge-on-read update with no match adds no (empty) delete file,
    so later point reads stay at one job."""
    before = table.current_snapshot().delete_files
    with read_threshold(spark, -1):
        table.update({"v": "'x'"}, where="id < 0")
        assert table.current_snapshot().delete_files == before
        rows, jobs = _jobs(spark, "read-jobs-noop-update", _point(table, 17))
    assert rows == [(17, "v17")]
    assert len(jobs) == 1


def test_arrow_point_reads_run_no_job(spark, table):
    """The three reads above, on the Arrow executor: the rows reach Spark
    as a LocalRelation, the filter folds into it, and collect runs no
    job, with or without position deletes."""
    rows, jobs = _jobs(spark, "arrow-plain", _point(table, 17))
    assert (rows, len(jobs)) == ([(17, "v17")], 0)
    before = table.current_snapshot().delete_files
    table.update({"v": "'x'"}, where="id < 0")
    assert table.current_snapshot().delete_files == before
    rows, jobs = _jobs(spark, "arrow-noop-update", _point(table, 17))
    assert (rows, len(jobs)) == ([(17, "v17")], 0)
    table.delete("id IN (17, 99)")
    rows, jobs = _jobs(spark, "arrow-pos", _point(table, 17))
    assert (rows, len(jobs)) == ([], 0)
    rows, jobs = _jobs(spark, "arrow-pos-live", _point(table, 18))
    assert (rows, len(jobs)) == ([(18, "v18")], 0)


def _plan_bytes(t, k) -> int:
    return sum(f.file_size_bytes for f in plan_scan(t.meta, filters=[("id", "=", k)]).files)


def test_threshold_equal_to_the_plan_bytes_reads_on_arrow(spark, table):
    with read_threshold(spark, _plan_bytes(table, 17)):
        rows, jobs = _jobs(spark, "arrow-boundary", _point(table, 17))
    assert (rows, len(jobs)) == ([(17, "v17")], 0)


def test_threshold_one_byte_below_the_plan_reads_on_spark(spark, table):
    with read_threshold(spark, _plan_bytes(table, 17) - 1):
        rows, jobs = _jobs(spark, "spark-boundary", _point(table, 17))
    assert rows == [(17, "v17")]
    assert len(jobs) >= 1


def test_the_arrow_cap_bounds_the_threshold(spark, table, monkeypatch):
    """Above ``_ARROW_SCAN_BYTES`` a plan reads on Spark however high the
    threshold is: raising it for larger broadcast joins moves no larger
    read into the driver."""
    cap = "iceberg_matrix_spark.tables.table._ARROW_SCAN_BYTES"
    with read_threshold(spark, 1 << 40):
        monkeypatch.setattr(cap, _plan_bytes(table, 17))
        rows, jobs = _jobs(spark, "arrow-cap", _point(table, 17))
        assert (rows, len(jobs)) == ([(17, "v17")], 0)
        monkeypatch.setattr(cap, _plan_bytes(table, 17) - 1)
        rows, jobs = _jobs(spark, "spark-cap", _point(table, 17))
    assert rows == [(17, "v17")]
    assert len(jobs) >= 1


def test_a_file_of_unknown_size_reads_on_spark(spark, table):
    """Metadata may carry a file without its size (0, the field's
    default). The executor is chosen from sizes, so such a plan stays
    on Spark."""
    table.current_snapshot().data_files[0].file_size_bytes = 0
    rows, jobs = _jobs(
        spark, "spark-unknown-size", lambda: sorted(r.id for r in table.df().collect())
    )
    assert rows == sorted(_ROWS)
    assert len(jobs) >= 1


def test_equality_delete_and_lineage_reads_match_the_model(spark, table):
    """The reads that still need __seq: an equality delete older than some
    files, and row lineage."""
    table.upsert(local_df(spark, [(5, "new5"), (300, "v300")], _SCHEMA), ["id"])
    assert 2 in {d.content for d in table.current_snapshot().delete_files}
    model = {**_ROWS, 5: "new5", 300: "v300"}
    got = {r.id: r.v for r in table.df().collect()}
    assert got == model
    assert [tuple(r) for r in table.df(filters=[("id", "=", 5)]).collect()] == [(5, "new5")]

    lineage = table.df(with_lineage=True)
    assert {r.id: r.v for r in lineage.collect()} == model
    seqs = {
        r.id: r._last_updated_sequence_number
        for r in lineage.filter(F.col("id").isin(4, 5)).collect()
    }
    assert seqs[5] > seqs[4]
    assert lineage.select("_row_id").distinct().count() == len(model)


# Spark jobs per write, pinned where they were measured before the path
# they run through was shared: DELETE, UPDATE and MERGE before one
# executor (IceLiteTable._row_level), and the rest before one layout step
# (IceLiteTable._write_data_files). The fixture table has no sort order and
# distribution mode none, so the layout step may add no Spark work. Each
# op runs on a fresh fixture table.
_DML = {
    "append": (
        lambda spark, t: t.append(local_df(spark, [(300, "a")], _SCHEMA)),
        1,
        {300: "a", 7: "v7"},
    ),
    "overwrite": (
        lambda spark, t: t.overwrite(local_df(spark, [(1, "o1"), (2, "o2")], _SCHEMA)),
        1,
        {1: "o1", 2: "o2", 3: None},
    ),
    "upsert": (
        lambda spark, t: t.upsert(local_df(spark, [(5, "u5"), (300, "u300")], _SCHEMA), ["id"]),
        2,
        {5: "u5", 300: "u300", 6: "v6"},
    ),
    "rewrite-binpack": (lambda spark, t: maint.rewrite_data_files(t), 1, {0: "v0", 199: "v199"}),
    "rewrite-sort": (
        lambda spark, t: maint.rewrite_data_files(t, strategy="sort", columns=["v"]),
        3,
        {0: "v0", 199: "v199"},
    ),
    "mor-delete": (lambda spark, t: t.delete("id IN (17, 99)"), 1, {17: None, 18: "v18"}),
    "mor-update": (
        lambda spark, t: t.update({"v": "'x'"}, where="id IN (3, 150)"),
        2,
        {3: "x", 150: "x", 4: "v4"},
    ),
    "cow-merge": (
        lambda spark, t: t.merge(
            local_df(spark, [(5, "m5"), (300, "m300")], _SCHEMA),
            on="t.id = s.id",
            matched_update={"v": "s.v"},
        ),
        3,
        {5: "m5", 300: "m300", 6: "v6"},
    ),
}


@pytest.mark.parametrize("op", sorted(_DML))
def test_dml_write_runs_its_pinned_job_count(spark, table, op):
    run, n_jobs, expect = _DML[op]
    _, jobs = _jobs(spark, f"dml-jobs-{op}", lambda: run(spark, table))
    assert len(jobs) == n_jobs
    got = {r.id: r.v for r in table.refresh().df().filter(F.col("id").isin(*expect)).collect()}
    assert got == {k: v for k, v in expect.items() if v is not None}
