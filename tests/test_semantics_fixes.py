"""Regressions for silent-mis-execution findings: each test pins the
behavior a review found could corrupt data or return wrong rows without
erroring (facade alias handling, DDL normalization, Hive-escaped
partition pruning, time-travel schemas, MoR no-op deletes, upsert
ordering, incremental-read validation)."""

from __future__ import annotations

import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sql import IceLiteSQL, UnsupportedSQLError
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    c = IceLiteCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("ns")
    return c


@pytest.fixture()
def sql(spark, catalog):
    s = IceLiteSQL(spark, catalog)
    return s


def test_merge_same_default_alias_rejected(sql):
    """MERGE INTO ns.items USING ns2.items — both default aliases are
    'items'; rewriting every qualifier to one side would match-all and
    corrupt the table. Must raise, not mis-execute."""
    sql.sql("CREATE NAMESPACE ns2")
    sql.sql("CREATE TABLE ns.items (id BIGINT, qty BIGINT) USING iceberg")
    sql.sql("CREATE TABLE ns2.items (id BIGINT, qty BIGINT) USING iceberg")
    sql.sql("INSERT INTO ns.items VALUES (1, 10), (2, 20)")
    sql.sql("INSERT INTO ns2.items VALUES (1, 99)")
    with pytest.raises(UnsupportedSQLError, match="ambiguous"):
        sql.sql(
            "MERGE INTO ns.items USING ns2.items ON items.id = items.id "
            "WHEN MATCHED THEN UPDATE SET qty = items.qty"
        )
    # explicit aliases work
    sql.sql(
        "MERGE INTO ns.items t USING ns2.items s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty"
    )
    got = {r["id"]: r["qty"] for r in sql.sql("SELECT * FROM ns.items").collect()}
    assert got == {1: 99, 2: 20}


def test_merge_update_plus_delete_rejected(sql):
    """Round 8: conditional matched clauses are supported, so the old
    blanket update+delete rejection narrows to Spark's real rule — a
    NON-FINAL clause without an AND condition is rejected (it would
    shadow the rest); the conditional form executes."""
    sql.sql("CREATE TABLE ns.t (id BIGINT, v BIGINT) USING iceberg")
    sql.sql("CREATE TABLE ns.s (id BIGINT, v BIGINT) USING iceberg")
    sql.sql("INSERT INTO ns.t VALUES (1, 1)")
    sql.sql("INSERT INTO ns.s VALUES (1, 2)")
    with pytest.raises(UnsupportedSQLError, match="NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"):
        sql.sql(
            "MERGE INTO ns.t t USING ns.s s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN MATCHED THEN DELETE"
        )
    assert sql.sql("SELECT v FROM ns.t").collect()[0][0] == 1  # untouched
    sql.sql(
        "MERGE INTO ns.t t USING ns.s s ON t.id = s.id "
        "WHEN MATCHED AND s.v > 99 THEN UPDATE SET v = s.v "
        "WHEN MATCHED THEN DELETE"
    )
    assert sql.sql("SELECT v FROM ns.t").count() == 0  # cond false → delete


def test_ctas_body_literals_survive_clause_stripping(sql):
    """'USING parquet' / 'PARTITIONED BY' as DATA in a CTAS body must not
    be eaten by the head-clause passes."""
    sql.sql(
        "CREATE TABLE ns.notes USING iceberg AS "
        "SELECT 'USING parquet' AS note, 'PARTITIONED BY (x)' AS note2"
    )
    row = sql.sql("SELECT note, note2 FROM ns.notes").collect()[0]
    assert row["note"] == "USING parquet"
    assert row["note2"] == "PARTITIONED BY (x)"


def test_merge_set_literal_with_alias_prefix_survives(sql):
    """A string literal like 'tgt.archived' in a SET expression is data;
    the alias rewriter must not rewrite inside it."""
    sql.sql("CREATE TABLE ns.m (id BIGINT, note STRING) USING iceberg")
    sql.sql("CREATE TABLE ns.msrc (id BIGINT) USING iceberg")
    sql.sql("INSERT INTO ns.m VALUES (1, 'old')")
    sql.sql("INSERT INTO ns.msrc VALUES (1)")
    sql.sql(
        "MERGE INTO ns.m AS tgt USING ns.msrc AS src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET note = 'tgt.archived'"
    )
    assert sql.sql("SELECT note FROM ns.m").collect()[0][0] == "tgt.archived"


def test_alter_add_column_normalizes_and_validates_types(sql):
    sql.sql("CREATE TABLE ns.ty (id BIGINT) USING iceberg")
    sql.sql("ALTER TABLE ns.ty ADD (ts TIMESTAMP(6))")
    # the committed type must be readable — a raw 'timestamp(6)' would
    # make every subsequent scan fail at StructType.fromDDL
    assert sql.sql("SELECT id, ts FROM ns.ty").count() == 0
    with pytest.raises(UnsupportedSQLError, match="unsupported column type"):
        sql.sql("ALTER TABLE ns.ty ADD (bad WIBBLE)")


def test_time_travel_returns_snapshot_schema(spark, catalog):
    """VERSION AS OF semantics: a later drop_column must not erase the
    column from history; a later add must not appear in it."""
    t = catalog.create_table("ns.tt", "id bigint, payload string")
    t.append(local_df(spark, [(1, "p1")], "id bigint, payload string"))
    snap1 = t.meta.current_snapshot_id
    t.drop_column("payload")
    t.add_columns({"extra": "bigint"})
    t.append(local_df(spark, [(2, 9)], "id bigint, extra bigint"))

    pinned = t.df(snapshot_id=snap1)
    assert pinned.columns == ["id", "payload"]
    assert pinned.collect()[0]["payload"] == "p1"
    assert t.df().columns == ["id", "extra"]  # current read: current schema


def test_mor_delete_with_no_matches_commits_no_delete_file(spark, catalog):
    t = catalog.create_table("ns.nomatch", "id bigint")
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.append(spark.range(5).coalesce(1))
    for _ in range(3):
        t.delete("id = -1")  # idempotent cleanup matching nothing
    assert t._current_snapshot().delete_files == []
    assert t.df().count() == 5


def test_upsert_order_by_makes_last_writer_deterministic(spark, catalog):
    t = catalog.create_table("ns.ups", "id bigint, v string, ts bigint")
    batch = local_df(
        spark,
        [(1, "v1", 10), (1, "v2", 20), (2, "x", 5)],
        "id bigint, v string, ts bigint",
    )
    t.upsert(batch, ["id"], order_by="ts")
    got = {r["id"]: r["v"] for r in t.df().collect()}
    assert got == {1: "v2", 2: "x"}


def test_partition_prune_unescapes_hive_values(spark, catalog):
    """Identity-partition values containing ':' are Hive-escaped in the
    directory name; pruning must compare the UNESCAPED value or matching
    files silently vanish from scans."""
    t = catalog.create_table(
        "ns.esc", "ts string, v bigint", partition_by=["ts"]
    )
    t.append(
        local_df(
            spark,
            [("2024-01-01 00:00:00", 1), ("2024-01-02 00:00:00", 2)],
            "ts string, v bigint",
        )
    )
    rows = t.df(filters=[("ts", "=", "2024-01-01 00:00:00")]).collect()
    assert [r["v"] for r in rows] == [1]


def test_read_incremental_rejects_cow_rewrites_in_range(spark, catalog):
    t = catalog.create_table("ns.incr", "id bigint")
    t.append(spark.range(10).coalesce(1))
    start = t.meta.current_snapshot_id
    t.delete("id = 3")  # CoW rewrite re-sequences survivors
    end = t.meta.current_snapshot_id
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(start, end)
    # append-only ranges still work
    t.append(spark.range(100, 103))
    assert t.read_incremental(end, t.meta.current_snapshot_id).count() == 3


def test_v3_types_through_alter_add_and_gate(sql, catalog):
    """Round-4 review findings: ALTER ADD COLUMNS must accept the V3
    logical types on v3 tables (validation parses the PHYSICAL type,
    like CREATE) and must reject them on v2 — including VARIANT, which
    Spark can parse logically and previously slipped past the gate."""
    sql.sql("CREATE TABLE ns.v3t (id BIGINT) WITH ('format-version'='3')")
    sql.sql("ALTER TABLE ns.v3t ADD COLUMNS (ts TIMESTAMP(9))")
    sql.sql("ALTER TABLE ns.v3t ADD COLUMNS (g GEOMETRY)")
    sql.sql("ALTER TABLE ns.v3t ADD COLUMNS (v VARIANT)")
    t = catalog.load_table("ns.v3t")
    types = {f.name: f.type for f in t.meta.current_schema.fields}
    assert types == {
        "id": "bigint", "ts": "timestamp_ns", "g": "geometry", "v": "variant"
    }
    sql.sql("CREATE TABLE ns.v2t (id BIGINT) WITH ('format-version'='2')")
    for coldef in ("v VARIANT", "ts TIMESTAMP(9)", "g GEOMETRY"):
        with pytest.raises(ValueError, match="format-version 3"):
            sql.sql(f"ALTER TABLE ns.v2t ADD COLUMNS ({coldef})")
    # the PyIceberg updater path has the same gate
    t2 = catalog.load_table("ns.v2t")
    with pytest.raises(ValueError, match="format-version 3"):
        with t2.update_schema() as u:
            u.add_column("v", "variant")


def test_dml_on_unknown_branch_fails_loudly(catalog):
    """delete/update with a typo'd branch on a snapshotless table must
    raise, not silently no-op (the empty-table early return must not
    swallow the unknown-branch case)."""
    t = catalog.create_table("ns.branchless", "id bigint")
    with pytest.raises(ValueError, match="unknown branch"):
        t.delete(where="id > 0", branch="feature_typo")
    with pytest.raises(ValueError, match="unknown branch"):
        t.update({"id": "1"}, where="id > 0", branch="never_created")


def test_lineage_literal_does_not_change_shape(sql, spark, catalog):
    """A string literal mentioning _row_id must not attach hidden
    lineage columns to the view (quote-aware detection)."""
    sql.sql("CREATE TABLE ns.lin (id BIGINT, note STRING) WITH ('format-version'='3')")
    sql.sql("INSERT INTO ns.lin VALUES (1, 'see _row_id docs')")
    cols = sql.sql("SELECT * FROM ns.lin WHERE note LIKE '%_row_id%'").columns
    assert cols == ["id", "note"]
    # a real reference still resolves
    got = sql.sql("SELECT _row_id FROM ns.lin").collect()
    assert [r[0] for r in got] == [0]


def test_version_as_of_ref_precedence(sql, catalog):
    """A quoted VERSION AS OF value is a ref name FIRST (Iceberg Spark
    semantics): a tag literally named '123' wins over snapshot id 123;
    with no such ref, an all-digit string still reads as a snapshot id."""
    sql.sql("CREATE TABLE ns.prec (id BIGINT) USING iceberg")
    sql.sql("INSERT INTO ns.prec VALUES (1)")
    t = catalog.load_table("ns.prec")
    first = t.meta.snapshots[0].snapshot_id
    t.create_tag("123", snapshot_id=first)
    sql.sql("INSERT INTO ns.prec VALUES (2)")
    n_ref = sql.sql("SELECT count(*) FROM ns.prec VERSION AS OF '123'").collect()[0][0]
    assert n_ref == 1  # the tag, not a snapshot-id miss
    n_id = sql.sql(
        f"SELECT count(*) FROM ns.prec VERSION AS OF '{first}'"
    ).collect()[0][0]
    assert n_id == 1  # digit string with no matching ref -> snapshot id


def test_custom_location_claim_is_exclusive(spark, tmp_path):
    """Two CREATE TABLE ... LOCATION on the same directory: the claim
    row (atomic INSERT..WHERE NOT EXISTS), not a racy filesystem check,
    is the arbiter — the second create must fail rather than share the
    directory; register_table may still adopt an existing location."""
    from iceberg_matrix_spark.tables.catalog import TableAlreadyExistsError
    from iceberg_matrix_spark.tables.sql_catalog import SqlCatalog

    cat = SqlCatalog(spark, str(tmp_path / "wh2"))
    cat.create_namespace("n")
    loc = str(tmp_path / "shared_dir")
    cat.create_table("n.t1", "id bigint", location=loc)
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("n.t2", "id bigint", location=loc)


def test_drop_namespace_refuses_inflight_create(catalog, tmp_path):
    """A table directory whose metadata/ dir CONTAINS files but has no
    committed version is a CREATE mid-write — drop_namespace must refuse
    instead of rmtree-ing a concurrent writer's files. An EMPTY metadata
    dir (crashed create) and plain leftovers stay droppable, so one
    crash can't make the namespace permanently undroppable."""
    import os

    catalog.create_namespace("inflight")
    meta = os.path.join(catalog.warehouse, "inflight", "t_mid", "metadata")
    os.makedirs(meta)
    with open(os.path.join(meta, "v1.metadata.json.tmp"), "w") as f:
        f.write("{}")
    with pytest.raises(ValueError, match="in flight"):
        catalog.drop_namespace("inflight")
    # a crashed create (empty metadata dir) is recoverable garbage
    catalog.create_namespace("crashed")
    os.makedirs(os.path.join(catalog.warehouse, "crashed", "t_dead", "metadata"))
    catalog.drop_namespace("crashed")
    assert "crashed" not in catalog.list_namespaces()
    # plain leftovers (no metadata dir) still drop fine
    catalog.create_namespace("leftover")
    os.makedirs(os.path.join(catalog.warehouse, "leftover", "t_old", "data"))
    catalog.drop_namespace("leftover")
    assert "leftover" not in catalog.list_namespaces()


@pytest.mark.parametrize("version", [2, 3])
def test_null_keyed_equality_delete_matches_null_rows(spark, catalog, version):
    """Spec equality-delete semantics are null-safe: a delete row carrying
    NULL in a key column deletes data rows with NULL there (the reference's
    writers key on PK fields, flink_feature_tests.py:769-776, so never hit
    this — but upsert on a nullable key can). Both IceLite's MoR read and
    the DuckDB reconstruction scan must agree."""
    from iceberg_matrix_spark.tables.interop import read_with_duckdb

    t = catalog.create_table(
        f"ns.nulldel_v{version}",
        "id bigint, v bigint",
        properties={"format-version": str(version)},
    )
    t.append(
        local_df(spark, [(None, 1), (5, 2), (None, 3)], "id bigint, v bigint")
    )
    # direct NULL-keyed equality delete file, committed via the same
    # one-snapshot path upsert uses
    t.upsert(local_df(spark, [(None, 99)], "id bigint, v bigint"), ["id"])

    got = sorted(
        ((r["id"], r["v"]) for r in t.refresh().df().collect()),
        key=lambda p: (p[0] is None, p[0]),
    )
    assert got == [(5, 2), (None, 99)], got
    duck = sorted(
        ((r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist()),
        key=lambda p: (p[0] is None, p[0]),
    )
    assert duck == [(5, 2), (None, 99)], duck


@pytest.mark.parametrize("version", [2, 3])
def test_null_keyed_composite_equality_delete(spark, catalog, version):
    """Composite key with one NULL component: (NULL, 'a') must delete
    exactly rows that are null-safely equal on BOTH columns — not every
    NULL-id row, and not nothing."""
    t = catalog.create_table(
        f"ns.nulldel_comp_v{version}",
        "id bigint, tag string, v bigint",
        properties={"format-version": str(version)},
    )
    t.append(
        local_df(
            spark,
            [(None, "a", 1), (None, "b", 2), (1, "a", 3)],
            "id bigint, tag string, v bigint",
        )
    )
    t.upsert(
        local_df(spark, [(None, "a", 9)], "id bigint, tag string, v bigint"),
        ["id", "tag"],
    )
    got = {(r["id"], r["tag"]): r["v"] for r in t.refresh().df().collect()}
    assert got == {(None, "a"): 9, (None, "b"): 2, (1, "a"): 3}, got


def test_variant_shred_inference_is_one_pass_and_cached(spark, catalog, monkeypatch):
    """Shred-schema inference must run ONE bounded-sample job covering all
    variant columns of an append, and never re-run once the schema is
    cached in table properties (VERDICT r4 #5: the old path cost two
    driver jobs per variant column per append)."""
    from iceberg_matrix_spark.tables.table import IceLiteTable

    calls = []
    orig = IceLiteTable._infer_variant_shred_schemas

    def counting(self, out, vcols):
        calls.append(list(vcols))
        return orig(self, out, vcols)

    monkeypatch.setattr(IceLiteTable, "_infer_variant_shred_schemas", counting)

    t = catalog.create_table(
        "ns.vshred",
        "id bigint, d1 variant, d2 variant",
        properties={"format-version": "3"},
    )
    t.set_properties({"write.parquet.variant-shredding.enabled": "true"})
    t.refresh().append(
        local_df(
            spark,
            [(1, '{"a": 1}', '{"x": true}'), (2, '{"a": 2, "b": [1, 2]}', None)],
            "id bigint, d1 string, d2 string",
        )
    )
    # one inference call for BOTH columns
    assert calls == [["d1", "d2"]]
    props = t.refresh().meta.properties
    ids = {f.name: f.id for f in t.meta.current_schema.fields}
    assert (
        props[f"write.parquet.variant-shredding.schema.{ids['d1']}"]
        == "struct<a:bigint,b:array<bigint>>"
    )
    assert (
        props[f"write.parquet.variant-shredding.schema.{ids['d2']}"]
        == "struct<x:boolean>"
    )
    # second append: cache hit, no inference at all
    t.append(
        local_df(spark, [(3, '{"z": 0}', '{"x": false}')], "id bigint, d1 string, d2 string")
    )
    assert calls == [["d1", "d2"]]


def test_variant_shred_merge_rules():
    """Driver-side JSON shape merge: struct union, numeric widening,
    conflict → string, arrays element-merged."""
    from pyspark.sql import types as T

    from iceberg_matrix_spark.tables.table import _merge_json_type, _py_json_type

    assert _py_json_type(True) == T.BooleanType()  # bool before int
    a = _py_json_type({"a": 1, "b": "x"})
    b = _py_json_type({"a": 2.5, "c": [1]})
    m = _merge_json_type(a, b)
    assert m.simpleString() == "struct<a:double,b:string,c:array<bigint>>"
    # irreconcilable shapes fall back to string
    s = _merge_json_type(_py_json_type([1]), _py_json_type({"k": 1}))
    assert s == T.StringType()


def test_variant_shred_all_null_field_falls_back_to_string(spark, catalog):
    """A JSON field that is null in EVERY sampled row merges to NullType;
    parquet cannot write a void column and the DDL is cached by field id,
    so one all-null sample would poison every later append. The leaf must
    fall back to string — and later appends with real values must work."""
    from pyspark.sql import types as T

    from iceberg_matrix_spark.tables.table import (
        _merge_json_type,
        _py_json_type,
        _strip_null_leaves,
    )

    m = _merge_json_type(
        _py_json_type({"a": None, "b": 1}), _py_json_type({"a": None})
    )
    assert _strip_null_leaves(m).simpleString() == "struct<a:string,b:bigint>"
    assert _strip_null_leaves(T.NullType()) == T.StringType()

    t = catalog.create_table(
        "ns.vshred_nullfield",
        "id bigint, data variant",
        properties={"format-version": "3"},
    )
    t.set_properties({"write.parquet.variant-shredding.enabled": "true"})
    t.refresh().append(
        local_df(
            spark,
            [(1, '{"a": null, "b": 1}'), (2, '{"a": null}')],
            "id bigint, data string",
        )
    )
    ids = {f.name: f.id for f in t.refresh().meta.current_schema.fields}
    ddl = t.meta.properties[
        f"write.parquet.variant-shredding.schema.{ids['data']}"
    ]
    assert "void" not in ddl
    assert ddl == "struct<a:string,b:bigint>"
    # the cached DDL must accept later appends where the field has values
    t.append(local_df(spark, [(3, '{"a": "x", "b": 2}')], "id bigint, data string"))
    assert t.refresh().df().count() == 3


def test_call_integer_args_reject_booleans_and_strings(spark, catalog):
    """int(True) == 1, so `older_than => true` would silently become a
    1-ms cutoff and expire every snapshot; snapshot_id => 'abc' would be
    a raw ValueError. Both must be typed rejections BEFORE any effect."""
    from iceberg_matrix_spark.sql import IceLiteSQL, UnsupportedSQLError

    sql = IceLiteSQL(spark, catalog)
    sql.sql("CREATE TABLE ns.ints (id BIGINT) USING iceberg")
    sql.sql("INSERT INTO ns.ints VALUES (1)")
    sql.sql("INSERT INTO ns.ints VALUES (2)")
    t = catalog.load_table("ns.ints")
    before = [s.snapshot_id for s in t.meta.snapshots]
    for stmt in [
        "CALL local.system.expire_snapshots(table => 'ns.ints', older_than => true)",
        "CALL local.system.expire_snapshots(table => 'ns.ints', retain_last => 'one')",
        "CALL local.system.rollback_to_snapshot(table => 'ns.ints', snapshot_id => true)",
        "CALL local.system.remove_orphan_files(table => 'ns.ints', older_than => false)",
    ]:
        with pytest.raises(UnsupportedSQLError, match="expects an integer"):
            sql.sql(stmt)
    assert [s.snapshot_id for s in t.refresh().meta.snapshots] == before
    # TIMESTAMP literals still coerce (epoch ms) and integers still work
    sql.sql(
        "CALL local.system.expire_snapshots(table => 'ns.ints', "
        "older_than => TIMESTAMP '2099-01-01 00:00:00', retain_last => 1)"
    )
    assert len(t.refresh().meta.snapshots) >= 1


def test_variant_shred_cache_not_inherited_across_drop_recreate(spark, catalog):
    """A dropped-then-recreated variant column has a NEW field id, so it
    must re-infer its own shred schema — inheriting the old column's
    cached shape would write an all-null typed sibling (the cache is
    keyed by field id for exactly this reason)."""
    t = catalog.create_table(
        "ns.vshred_recreate",
        "id bigint, data variant",
        properties={"format-version": "3"},
    )
    t.set_properties({"write.parquet.variant-shredding.enabled": "true"})
    t.refresh().append(
        local_df(spark, [(1, '{"a": 1.5}')], "id bigint, data string")
    )
    old_ids = {f.name: f.id for f in t.refresh().meta.current_schema.fields}
    t.drop_column("data")
    t.add_columns({"data": "variant"})
    t.refresh().append(
        local_df(spark, [(2, '{"x": true}')], "id bigint, data string")
    )
    new_ids = {f.name: f.id for f in t.refresh().meta.current_schema.fields}
    assert new_ids["data"] != old_ids["data"]
    props = t.meta.properties
    assert (
        props[f"write.parquet.variant-shredding.schema.{new_ids['data']}"]
        == "struct<x:boolean>"
    )
    # the old column's cache is untouched (and unreachable by id)
    assert (
        props[f"write.parquet.variant-shredding.schema.{old_ids['data']}"]
        == "struct<a:double>"
    )


def test_partition_spec_rejects_ghost_source_column(spark, catalog):
    """A partition transform whose source column doesn't exist must be a
    typed rejection at DDL time — it used to COMMIT, and then every
    subsequent write failed with a raw KeyError at partition-value
    compute time (the table was bricked; found by the ALTER fuzz)."""
    t = catalog.create_table("ns.ghostpart", "id bigint, v string")
    before = list(t.meta.partition_spec)
    for call in (
        lambda: t.refresh().set_partition_fields(["ghost"]),
        lambda: t.refresh().set_partition_fields(["v", "bucket(4, ghost)"]),
        lambda: t.refresh().add_partition_field("ghost"),
        lambda: t.refresh().add_partition_field("bucket(4, ghost)"),
    ):
        with pytest.raises(ValueError, match="not in schema"):
            call()
    assert t.refresh().meta.partition_spec == before
    t.append(local_df(spark, [(1, "a")], "id bigint, v string"))  # still writable
    assert t.refresh().df().count() == 1


def test_replace_partition_field_validates_new_before_dropping_old(spark, catalog):
    """REPLACE PARTITION FIELD with a bad NEW field must not commit the
    drop half — it used to leave the old field dropped and nothing
    added (partial effect; found by the ALTER fuzz)."""
    t = catalog.create_table(
        "ns.replpart", "id bigint, v string", partition_by=["v"]
    )
    with pytest.raises(ValueError, match="not in schema"):
        t.replace_partition_field("v", "bucket(4, ghost)")
    assert t.refresh().meta.partition_spec == ["v"]


def test_schema_never_commits_duplicate_column_names(spark, catalog):
    """Duplicate field names commit fine and then every read is ambiguous
    (Row(val=..., val=...)); all four entry points must reject BEFORE the
    commit: CREATE, ADD COLUMNS vs existing, within-statement ADD dup,
    RENAME onto an existing name (found by the DDL fuzz probes)."""
    with pytest.raises(ValueError, match="duplicate column"):
        catalog.create_table("ns.dup1", "id bigint, ID string")
    with pytest.raises(ValueError, match="no columns"):
        catalog.create_table("ns.dup2", "   ")
    t = catalog.create_table("ns.dup3", "id bigint, val string")
    before = [f.name for f in t.meta.current_schema.fields]
    with pytest.raises(ValueError, match="duplicate column"):
        t.add_columns({"VAL": "bigint"})
    with pytest.raises(ValueError, match="duplicate column"):
        t.refresh().rename_column("id", "val")
    assert [f.name for f in t.refresh().meta.current_schema.fields] == before
    # whitespace between name and type is legal SQL (newline/tab)
    t2 = catalog.create_table("ns.ws", "id\nbigint, v\tstring")
    assert [(f.name, f.type) for f in t2.meta.current_schema.fields] == [
        ("id", "bigint"),
        ("v", "string"),
    ]


def test_alter_add_duplicate_column_rejected_via_sql(sql):
    sql.sql("CREATE TABLE ns.sqldup (id BIGINT) USING iceberg")
    with pytest.raises(UnsupportedSQLError, match="duplicate column"):
        sql.sql("ALTER TABLE ns.sqldup ADD COLUMNS (c INT, c STRING)")
    with pytest.raises(ValueError, match="duplicate column"):
        sql.sql("ALTER TABLE ns.sqldup ADD COLUMNS (id STRING)")


def test_insert_duplicate_column_list_rejected(sql):
    """INSERT INTO t (id, id) VALUES (1, 2) silently bound both values to
    one column — must be a typed rejection with no row written (found by
    the DDL-fuzz probe sweep)."""
    sql.sql("CREATE TABLE ns.insdup (id BIGINT, v STRING) USING iceberg")
    with pytest.raises(UnsupportedSQLError, match="repeats a column"):
        sql.sql("INSERT INTO ns.insdup (id, id) VALUES (1, 2)")
    assert sql.sql("SELECT COUNT(*) c FROM ns.insdup").collect()[0][0] == 0
    # permuted full column lists remain fine
    sql.sql("INSERT INTO ns.insdup (v, id) VALUES ('a', 7)")
    assert sql.sql("SELECT id, v FROM ns.insdup").collect()[0][:] == (7, "a")
