"""DELETE, UPDATE and MERGE are one row-level write
(``IceLiteTable._row_level``), so they resolve columns and branches the
same way: SET keys and insert columns match the schema case-insensitively
as in Spark, and an unknown column or branch raises before anything is
committed."""

from __future__ import annotations

import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sql import IceLiteSQL
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

_SCHEMA = "id bigint, v bigint"
_MODES = ["copy-on-write", "merge-on-read"]


@pytest.fixture()
def catalog(spark, tmp_path):
    c = IceLiteCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("ns")
    return c


def _table(spark, catalog, mode="copy-on-write"):
    t = catalog.create_table(
        "ns.t",
        _SCHEMA,
        properties={"write.delete.mode": mode, "write.update.mode": mode},
    )
    t.append(local_df(spark, [(1, 10), (2, 20)], _SCHEMA))
    return t


def _rows(t):
    return sorted(tuple(r) for r in t.refresh().df().fillna(-1).collect())


def _source(spark, rows=((2, 99), (3, 30)), schema=_SCHEMA):
    return local_df(spark, list(rows), schema)


@pytest.mark.parametrize("mode", _MODES)
def test_update_set_key_in_other_case_writes_the_value(spark, catalog, mode):
    t = _table(spark, catalog, mode)
    t.update({"V": "99"}, "id = 1")
    assert _rows(t) == [(1, 99), (2, 20)]


@pytest.mark.parametrize("mode", _MODES)
@pytest.mark.parametrize("sets", [{"nosuch": "1"}, {"v": "1", "V": "2"}])
def test_update_bad_set_columns_raise_and_commit_nothing(spark, catalog, mode, sets):
    t = _table(spark, catalog, mode)
    before = len(t.meta.snapshots)
    with pytest.raises(ValueError, match="SET names unknown column|names column 'v' twice"):
        t.update(sets, "id = 1")
    assert len(t.refresh().meta.snapshots) == before
    assert _rows(t) == [(1, 10), (2, 20)]


def test_sql_update_set_column_in_other_case_on_mor(spark, catalog):
    _table(spark, catalog, "merge-on-read")
    IceLiteSQL(spark, catalog).sql("UPDATE local.ns.t SET V = 5")
    assert _rows(catalog.load_table("ns.t")) == [(1, 5), (2, 5)]


def test_merge_set_key_in_other_case_writes_the_value(spark, catalog):
    t = _table(spark, catalog)
    t.merge(_source(spark), on="t.id = s.id", matched_update={"V": "s.v"})
    assert _rows(t) == [(1, 10), (2, 99), (3, 30)]


@pytest.mark.parametrize(
    "kwargs",
    [
        {"matched_update": {"nosuch": "s.v"}},
        {"matched_clauses": [("s.v > 0", ("delete",)), (None, ("update", {"nosuch": "1"}))]},
        {"not_matched_by_source_clauses": [(None, ("update", {"nosuch": "1"}))]},
    ],
)
def test_merge_unknown_set_column_raises_and_commits_nothing(spark, catalog, kwargs):
    t = _table(spark, catalog)
    before = len(t.meta.snapshots)
    with pytest.raises(ValueError, match="SET names unknown column 'nosuch'"):
        t.merge(_source(spark), on="t.id = s.id", **kwargs)
    assert len(t.refresh().meta.snapshots) == before
    assert _rows(t) == [(1, 10), (2, 20)]


def test_merge_into_unknown_branch_raises_and_creates_no_ref(spark, catalog):
    t = _table(spark, catalog)
    with pytest.raises(ValueError, match="unknown branch 'devv'"):
        t.merge(_source(spark), on="t.id = s.id", matched_update={"v": "s.v"}, branch="devv")
    assert "devv" not in t.refresh().meta.refs
    assert _rows(t) == [(1, 10), (2, 20)]


def test_merge_inserts_source_columns_in_other_case(spark, catalog):
    t = _table(spark, catalog)
    src = _source(spark, schema="ID bigint, V bigint")
    t.merge(src, on="t.id = s.id", matched_update={"v": "s.V"})
    assert _rows(t) == [(1, 10), (2, 99), (3, 30)]


@pytest.mark.parametrize("mode", _MODES)
def test_dml_on_a_table_without_snapshots_commits_nothing(spark, catalog, mode):
    """Without a snapshot, DELETE, UPDATE and a MERGE that cannot insert
    match nothing and commit nothing; a MERGE that can insert writes its
    source rows."""
    t = catalog.create_table(
        "ns.empty", _SCHEMA, properties={"write.delete.mode": mode, "write.update.mode": mode}
    )
    t.delete("id = 1")
    t.update({"v": "1"}, "id = 1")
    t.merge(_source(spark), on="t.id = s.id", matched_delete=True, not_matched_clauses=[])
    assert t.refresh().meta.snapshots == []
    t.merge(_source(spark), on="t.id = s.id", matched_delete=True)
    assert _rows(t) == [(2, 99), (3, 30)]
