"""MERGE, UPDATE, DELETE and CALL statement shapes through the SQL facade.

The first group pins the dialect spellings the reference-replay drivers
feed the facade (DuckDB's column-list-free ``INSERT VALUES``, Redshift's
full-spelling qualifier), plus the table-qualified UPDATE SET key and the
mixed positional/named CALL rejection. The second group covers shapes
Spark's SQL grammar accepts: comments, expressions in ``INSERT VALUES``
and more than one ``WHEN NOT MATCHED`` clause.

Each write is checked against Spark SQL over temp views of the same rows,
as in ``tests/test_sql_facade_properties.py``: the expected table state is
a plain query that spells out what the statement means.
"""

from __future__ import annotations

import uuid

import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sql import IceLiteSQL, UnsupportedSQLError
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

TARGET = [(1, "a"), (2, "b"), (3, "c")]
SOURCE = [(2, "x"), (4, "y"), (7, "z")]


@pytest.fixture()
def sql(spark, tmp_path):
    sql = IceLiteSQL(spark, IceLiteCatalog(spark, str(tmp_path)))
    sql.sql("CREATE NAMESPACE ns")
    return sql


def _table(sql, name, rows):
    sql.sql(f"CREATE TABLE ns.{name} (id BIGINT, val STRING) USING iceberg")
    values = ", ".join(f"({i}, '{v}')" for i, v in rows)
    sql.sql(f"INSERT INTO ns.{name} VALUES {values}")


def _view(spark, rows):
    name = f"v_{uuid.uuid4().hex[:8]}"
    local_df(spark, rows, "id bigint, val string").createOrReplaceTempView(name)
    return name


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _merge_model(spark, matched_val: str, inserts: str) -> list[tuple]:
    """Target rows after a MERGE that sets ``val`` of matched rows to
    ``matched_val`` and inserts the unmatched source rows through
    ``inserts``, a SELECT list over the source alias ``s``."""
    tv, sv = _view(spark, TARGET), _view(spark, SOURCE)
    return _rows(
        spark.sql(
            f"SELECT t.id, CASE WHEN s.id IS NULL THEN t.val ELSE {matched_val} END "
            f"FROM {tv} t LEFT JOIN {sv} s ON t.id = s.id "
            f"UNION ALL SELECT {inserts} FROM {sv} s LEFT ANTI JOIN {tv} t ON t.id = s.id"
        )
    )


# ------------------------------------------------ dialect spellings (pins)


def test_duckdb_insert_values_without_column_list(sql, spark):
    """DuckDB's ``WHEN NOT MATCHED THEN INSERT VALUES (...)`` binds the
    values to the target's columns by position."""
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.t t USING (SELECT id, val FROM ns.src) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.val)"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == _merge_model(
        spark, "s.val", "s.id, s.val"
    )
    with pytest.raises(UnsupportedSQLError):
        sql.sql(
            "MERGE INTO ns.t t USING ns.src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id)"
        )


def test_redshift_full_spelling_qualifier(sql, spark):
    """An unaliased target may be named by its full spelling in ON and
    SET, as the Redshift suite writes it (``ON schema.tbl.id = src.id``)."""
    _table(sql, "tbl", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.tbl USING ns.src ON ns.tbl.id = src.id "
        "WHEN MATCHED THEN UPDATE SET val = src.val "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (src.id, src.val)"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.tbl")) == _merge_model(
        spark, "s.val", "s.id, s.val"
    )


def test_update_table_qualified_set_key(sql, spark):
    _table(sql, "t", TARGET)
    sql.sql("UPDATE ns.t SET t.val = upper(val) WHERE id >= 2")
    want = _rows(
        spark.sql(
            f"SELECT id, CASE WHEN id >= 2 THEN upper(val) ELSE val END "
            f"FROM {_view(spark, TARGET)}"
        )
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == want


def test_call_mixed_positional_and_named_rejected(sql):
    _table(sql, "t", TARGET)
    sql.sql("INSERT INTO ns.t VALUES (9, 'second')")
    before = [s.snapshot_id for s in sql.table("ns.t").meta.snapshots]
    for args in ("'ns.t', retain_last => 1", "table => 'ns.t', 1"):
        with pytest.raises(UnsupportedSQLError, match="all named"):
            sql.sql(f"CALL local.system.expire_snapshots({args})")
    assert [s.snapshot_id for s in sql.table("ns.t").meta.snapshots] == before


# ------------------------------------------- shapes Spark's grammar accepts


def test_merge_with_comments(sql, spark):
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.t t USING ns.src s ON t.id = s.id\n"
        "-- WHEN keys match, take the source's value; don't insert\n"
        "WHEN MATCHED THEN UPDATE SET val = /* source */ s.val\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == _merge_model(
        spark, "s.val", "s.id, s.val"
    )


def test_update_with_comments(sql, spark):
    _table(sql, "t", TARGET)
    sql.sql("UPDATE ns.t SET val = /* a note */ 'x' WHERE id = 1")
    sql.sql("UPDATE ns.t SET val = 'y' -- don't touch id 1\nWHERE id = 2")
    sql.sql("DELETE FROM ns.t /* the last row */ WHERE id = 3")
    want = _rows(
        spark.sql(
            f"SELECT id, CASE id WHEN 1 THEN 'x' WHEN 2 THEN 'y' END "
            f"FROM {_view(spark, TARGET)} WHERE id <> 3"
        )
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == want


def test_merge_insert_values_expression(sql, spark):
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.t t USING ns.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = concat(t.val, s.val) "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id * 10, upper(s.val))"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == _merge_model(
        spark, "concat(t.val, s.val)", "s.id * 10, upper(s.val)"
    )


def test_merge_two_not_matched_clauses(sql, spark):
    """Clauses of one family apply first-match-wins, in order."""
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.t t USING ns.src s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.id > 5 THEN INSERT (id, val) VALUES (s.id, 'big') "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == _merge_model(
        spark, "t.val", "s.id, CASE WHEN s.id > 5 THEN 'big' ELSE s.val END"
    )


def test_parse_error_names_statement_and_error_class(sql):
    _table(sql, "t", TARGET)
    with pytest.raises(UnsupportedSQLError) as err:
        sql.sql("UPDATE ns.t SETT val = 'x'")
    assert "UPDATE ns.t SETT" in str(err.value)
    assert "PARSE_SYNTAX_ERROR" in str(err.value)
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == TARGET


def test_predicate_and_boolean_literal_texts(sql, spark):
    """A predicate's own span starts at its keyword (``IS NULL``), the
    parser's shared TRUE/FALSE literals carry the span of whatever
    statement built them first, and EXISTS carries its enclosing
    expression's: the text each clause runs must still be the whole
    expression the user wrote."""
    rows = [(1, None), (2, False), (3, True), (4, None)]
    sql.sql("CREATE TABLE ns.b (id BIGINT, flag BOOLEAN) USING iceberg")
    sql.sql("INSERT INTO ns.b VALUES (1, NULL), (2, false), (3, true), (4, NULL)")
    sql.sql("UPDATE ns.b SET flag = true WHERE flag IS NULL AND id BETWEEN 1 AND 3")
    sql.sql("DELETE FROM ns.b WHERE id IN (2) AND NOT flag")
    sql.sql("UPDATE ns.b SET flag = false WHERE true AND id = 3")
    sql.sql("DELETE FROM ns.b WHERE id = 4 AND EXISTS (SELECT 1)")
    view = f"b_{uuid.uuid4().hex[:8]}"
    local_df(spark, rows, "id bigint, flag boolean").createOrReplaceTempView(view)
    want = _rows(
        spark.sql(
            "SELECT id, CASE WHEN true AND id = 3 THEN false ELSE flag END FROM ("
            "  SELECT id, CASE WHEN flag IS NULL AND id BETWEEN 1 AND 3 THEN true"
            f"  ELSE flag END AS flag FROM {view}"
            ") WHERE NOT coalesce(id IN (2) AND NOT flag, false)"
            "  AND NOT (id = 4 AND EXISTS (SELECT 1))"
        )
    )
    assert _rows(sql.sql("SELECT id, flag FROM ns.b")) == want


def test_merge_clause_families_out_of_spark_order_rejected(sql):
    """Spark's grammar takes MATCHED, then NOT MATCHED, then NOT MATCHED
    BY SOURCE clauses; another order is a typed rejection with no effect."""
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    with pytest.raises(UnsupportedSQLError, match="PARSE_SYNTAX_ERROR"):
        sql.sql(
            "MERGE INTO ns.t t USING ns.src s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == TARGET
    assert len(sql.table("ns.t").meta.snapshots) == 1


# ------------------------------------- qualified names the parser shares


def test_merge_qualified_simple_case(sql, spark):
    """A simple CASE compares its operand once per WHEN, and Spark's
    parser shares that one operand node between the comparisons: a
    qualified operand is still renamed once."""
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    sql.sql(
        "MERGE INTO ns.t tgt USING ns.src s ON tgt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET "
        "val = CASE s.id WHEN 2 THEN s.val WHEN 4 THEN 'q' ELSE tgt.val END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == _merge_model(
        spark, "CASE s.id WHEN 2 THEN s.val WHEN 4 THEN 'q' ELSE t.val END", "s.id, s.val"
    )


def test_update_delete_qualified_shared_and_predicate_operands(sql, spark):
    """Qualified names under a simple CASE, a LIKE ANY with a column
    pattern (both share their operand) and predicates whose own span
    leaves out their operand (NOT IN, IS NOT NULL)."""
    _table(sql, "t", TARGET)
    sql.sql(
        "UPDATE ns.t AS u "
        "SET val = CASE u.id WHEN 1 THEN 'p' WHEN 3 THEN upper(u.val) ELSE u.val END "
        "WHERE CASE u.val WHEN 'a' THEN true WHEN 'c' THEN true END"
    )
    sql.sql(
        "DELETE FROM ns.t WHERE t.val LIKE ANY ('p', t.val || 'z') "
        "AND ns.t.id NOT IN (2, 3) AND t.val IS NOT NULL"
    )
    want = _rows(
        spark.sql(
            "SELECT * FROM (SELECT id, CASE WHEN CASE val WHEN 'a' THEN true "
            "WHEN 'c' THEN true END THEN CASE id WHEN 1 THEN 'p' WHEN 3 THEN "
            f"upper(val) ELSE val END ELSE val END AS val FROM {_view(spark, TARGET)}) "
            "WHERE NOT coalesce(val LIKE ANY ('p', val || 'z') AND id NOT IN (2, 3) "
            "AND val IS NOT NULL, false)"
        )
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == want


def test_exists_and_correlated_subquery_conditions(sql, spark):
    """A bare EXISTS carries the whole statement's span, so its text is
    rebuilt around its query; a qualifier inside a subquery is renamed
    like one outside it."""
    _table(sql, "t", TARGET)
    _table(sql, "src", SOURCE)
    keys = _view(spark, [(2, "k"), (3, "k")])
    sql.sql(
        f"UPDATE ns.t AS u SET val = 'hit' "
        f"WHERE EXISTS (SELECT 1 FROM {keys} k WHERE k.id = u.id)"
    )
    sql.sql(f"DELETE FROM ns.t WHERE EXISTS (SELECT 1 FROM {keys} WHERE id > 5)")
    sql.sql(
        f"DELETE FROM ns.t WHERE t.id IN (SELECT id FROM {keys} k WHERE k.id > t.id - 1) "
        f"AND NOT EXISTS (SELECT 1 FROM {keys} k WHERE k.id = ns.t.id + 1)"
    )
    sql.sql(
        "MERGE INTO ns.t tgt USING ns.src s ON tgt.id = s.id "
        f"WHEN MATCHED AND EXISTS (SELECT 1 FROM {keys} k WHERE k.id = tgt.id) THEN DELETE "
        "WHEN NOT MATCHED AND EXISTS (SELECT 1) THEN INSERT *"
    )
    tv, sv = _view(spark, TARGET), _view(spark, SOURCE)
    want = _rows(
        spark.sql(
            f"SELECT id, CASE WHEN id IN (2, 3) THEN 'hit' ELSE val END FROM {tv} "
            "WHERE id <> 3 AND id <> 2 "
            f"UNION ALL SELECT id, val FROM {sv} WHERE id NOT IN (SELECT id FROM {tv})"
        )
    )
    assert _rows(sql.sql("SELECT id, val FROM ns.t")) == want
