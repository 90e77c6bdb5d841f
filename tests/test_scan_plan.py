"""One scan plan for every IceLite reader (tables/scan.py).

A differential: random DML histories are read through ``tb.df()`` on
both of its executors (in-process Arrow, and a Spark scan at
``spark.sql.autoBroadcastJoinThreshold=-1``), ``spark.read.format
("icelite")`` and ``read_with_duckdb``, and each read must equal an
in-memory model. A cross-executor test stages DML on one executor and
reads on the other. A tooling guard keeps equality-delete key
resolution inside the planner.
"""

from __future__ import annotations

import ast
import datetime
import pathlib
import tempfile

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sources.batch_source import register_batch_source
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.interop import read_with_duckdb

from tests.executors import read_threshold
from tests.hypcfg import DERANDOMIZE, n_examples

# Every example runs each kind once, in a drawn order with drawn
# arguments, so a handful of examples covers every kind.
_KINDS = (
    "append", "delete-mor", "update-mor", "upsert", "rename",
    "delete-cow", "add-column", "upsert", "append", "add-typed",
)
_TYPES = {"id": "bigint", "v": "bigint", "w": "string"}
# add-typed: columns whose defaults metadata stores as strings; every
# reader must return them typed. They are compared as Spark's and
# Python's string forms, which agree for these three types.
_TYPED = {
    "d": ("date", "2024-01-02"),
    "ts": ("timestamp", "2024-01-02 03:04:05"),
    "amt": ("decimal(10,2)", "12.34"),
}


def _ddl(names):
    return ", ".join(f"{names[c]} {_TYPES[c]}" for c in names)


def _rows(model, names, typed=()):
    return sorted(
        tuple(r[c] for c in names) + tuple(_TYPED[c][1] for c in typed)
        for r in model.values()
    )


def _spark_rows(df, cols, typed=()):
    typed_cols = [F.col(c).cast("string") for c in typed]
    return sorted(tuple(r) for r in df.select(*cols, *typed_cols).collect())


@settings(max_examples=n_examples(2, 20), deadline=None, derandomize=DERANDOMIZE)
@given(
    order=st.permutations(_KINDS),
    picks=st.lists(st.integers(0, 11), min_size=len(_KINDS), max_size=len(_KINDS)),
    pin=st.integers(0, len(_KINDS)),
)
def test_three_readers_agree_with_model(spark, order, picks, pin):
    register_batch_source(spark)
    cat = IceLiteCatalog(spark, tempfile.mkdtemp(prefix="scan-diff-"))
    cat.create_namespace("d")
    t = cat.create_table("d.t", "id bigint, v bigint", properties={"format-version": "3"})
    t.set_properties({"write.update.mode": "merge-on-read"})
    names = {"id": "id", "v": "v"}  # model column → current table name
    typed: list[str] = []  # the _TYPED columns added so far
    model: dict[int, dict] = {}
    pinned = []  # (snapshot id, names, rows) after each data commit
    next_id = 0

    def row(i, v):
        return {"id": i, "v": v, **({"w": f"w{i}"} if "w" in names else {})}

    def append(n):
        nonlocal next_id
        batch = [row(i, i * 10) for i in range(next_id, next_id + n)]
        next_id += n
        model.update({r["id"]: r for r in batch})
        t.append(local_df(spark, [tuple(r.values()) for r in batch], _ddl(names)))

    append(4)
    for kind, pick in zip(order, picks):
        key, val = names["id"], names["v"]
        if kind == "append":
            append(1 + pick % 3)
        elif kind.startswith("delete"):
            mode = "merge-on-read" if kind == "delete-mor" else "copy-on-write"
            t.set_properties({"write.delete.mode": mode})
            t.delete(f"{key} % 3 = {pick % 3}")
            model = {i: r for i, r in model.items() if i % 3 != pick % 3}
        elif kind == "update-mor":
            t.update({val: f"{val} + 1"}, where=f"{key} % 4 = {pick % 4}")
            for i, r in model.items():
                if i % 4 == pick % 4:
                    r["v"] += 1
        elif kind == "upsert":
            ids = {next_id} | ({sorted(model)[pick % len(model)]} if model else set())
            next_id += 1
            batch = [row(i, 1000 + i) for i in sorted(ids)]
            model.update({r["id"]: r for r in batch})
            t.upsert(
                local_df(spark, [tuple(r.values()) for r in batch], _ddl(names)),
                [key],
            )
        elif kind == "rename":  # the equality key, so deletes resolve by id
            t.rename_column(key, "key")
            names["id"] = "key"
            continue
        elif kind == "add-typed":
            t.add_columns(
                {c: typ for c, (typ, _v) in _TYPED.items()},
                defaults={c: v for c, (_typ, v) in _TYPED.items()},
            )
            typed = list(_TYPED)
            continue
        else:
            t.add_columns({"w": "string"}, defaults={"w": "dflt"})
            names["w"] = "w"
            for r in model.values():
                r["w"] = "dflt"
            continue
        pinned.append(
            (
                t.current_snapshot().snapshot_id,
                list(names.values()) + typed,
                _rows(model, names, typed),
            )
        )

    want = _rows(model, names, typed)
    cols = list(names.values())
    assert _spark_rows(t.df(), cols, typed) == want
    with read_threshold(spark, -1):
        assert _spark_rows(t.df(), cols, typed) == want
    batch_read = spark.read.format("icelite").load(t.location)
    assert _spark_rows(batch_read, cols, typed) == want
    duck = read_with_duckdb(t).to_pylist()
    duck_rows = (tuple(r[c] for c in cols) + tuple(str(r[c]) for c in typed) for r in duck)
    assert sorted(duck_rows) == want

    sid, old_cols, old_rows = pinned[pin % len(pinned)]
    old_typed = [c for c in old_cols if c in _TYPED]
    old_plain = [c for c in old_cols if c not in _TYPED]
    got = t.df(snapshot_id=sid)
    assert got.columns == old_cols
    assert _spark_rows(got, old_plain, old_typed) == old_rows
    got = spark.read.format("icelite").option("snapshot_id", sid).load(t.location)
    assert got.columns == old_cols
    assert _spark_rows(got, old_plain, old_typed) == old_rows


def _write_mixed(spark, t, on_spark: bool, key: int) -> None:
    """One merge-on-read DELETE, one copy-on-write DELETE and one upsert,
    each staged from a read on one executor."""
    with read_threshold(spark, -1 if on_spark else "10485760"):
        t.set_properties({"write.delete.mode": "merge-on-read"})
        t.delete(f"id = {key}")
        t.set_properties({"write.delete.mode": "copy-on-write"})
        t.delete(f"id = {key + 1}")
        t.upsert(local_df(spark, [(key + 2, -1)], "id bigint, v bigint"), ["id"])


def test_dml_staged_on_one_executor_reads_alike_on_the_other(spark, tmp_path):
    """Position deletes staged from an Arrow read are later applied by the
    Spark scan once a table outgrows the threshold, and the reverse, so
    both executors must name files and positions alike. The warehouse
    path contains a space, which Spark's file identity percent-encodes."""
    register_batch_source(spark)
    cat = IceLiteCatalog(spark, str(tmp_path / "ware house"))
    cat.create_namespace("x")
    t = cat.create_table("x.t", "id bigint, v bigint", properties={"format-version": "2"})
    t.append(local_df(spark, [(i, i) for i in range(12)], "id bigint, v bigint"))
    model = {i: i for i in range(12)}
    for on_spark, key in ((False, 0), (True, 6)):
        _write_mixed(spark, t, on_spark, key)
        del model[key], model[key + 1]
        model[key + 2] = -1
        want = sorted(model.items())
        for threshold in ("10485760", -1):
            with read_threshold(spark, threshold):
                assert sorted(tuple(r) for r in t.refresh().df().collect()) == want
        batch = spark.read.format("icelite").load(t.location)
        assert sorted(tuple(r) for r in batch.collect()) == want
        assert sorted((r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist()) == want


# ------------------------------------------------------------ tooling guard

_PKG = pathlib.Path(__file__).resolve().parent.parent / "iceberg_matrix_spark"
# where ``.equality_ids`` may be read: the planner, the metadata model
# that defines and parses it, and the delete-file writer
_ALLOWED = {
    ("tables/scan.py", None),
    ("tables/metadata.py", None),
    ("tables/table.py", "IceLiteTable._write_delete_file"),
}


def _equality_id_reads(source: str):
    """(enclosing qualified name, line) of each ``.equality_ids`` read."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            if isinstance(child, ast.Attribute) and child.attr == "equality_ids":
                yield ".".join(scope), child.lineno
            yield from walk(child, scope)

    return list(walk(ast.parse(source), []))


def test_guard_flags_an_equality_id_read():
    src = "class T:\n    def read(self, d):\n        return d.equality_ids\n"
    assert _equality_id_reads(src) == [("T.read", 3)]


def test_equality_ids_are_read_only_by_the_planner():
    offenders, planner_reads = [], 0
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for scope, line in _equality_id_reads(path.read_text()):
            planner_reads += rel == "tables/scan.py"
            if (rel, None) not in _ALLOWED and (rel, scope) not in _ALLOWED:
                offenders.append(f"{rel}:{line} ({scope or 'module'})")
    assert planner_reads, "tables/scan.py no longer reads equality_ids"
    assert offenders == [], (
        "equality-delete keys are resolved in tables/scan.py:plan_scan; "
        f"read the plan's key_cols instead: {offenders}"
    )


def test_typed_defaults_read_alike_in_every_reader(spark, tmp_path):
    """Metadata stores a date, timestamp or decimal default as a string;
    every reader returns it in the column's type."""
    register_batch_source(spark)
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("d")
    t = cat.create_table("d.t", "id bigint", properties={"format-version": "3"})
    t.append(local_df(spark, [(1,), (2,)], "id bigint"))
    t.add_columns(
        {c: typ for c, (typ, _v) in _TYPED.items()},
        defaults={c: v for c, (_typ, v) in _TYPED.items()},
    )
    want = [(i, *(v for _typ, v in _TYPED.values())) for i in (1, 2)]
    readers = {"batch-source": spark.read.format("icelite").load(t.location)}
    readers["df-arrow"] = t.df()
    with read_threshold(spark, -1):
        readers["df-spark"] = t.df()
        got = {name: _spark_rows(df, ["id"], _TYPED) for name, df in readers.items()}
    for name, df in readers.items():
        assert [f.dataType.simpleString() for f in df.schema.fields[1:]] == [
            typ for typ, _v in _TYPED.values()
        ], name
    assert got == dict.fromkeys(readers, want)
    duck = read_with_duckdb(t)
    assert [str(duck.schema.field(c).type) for c in _TYPED] == [
        "date32[day]", "timestamp[us]", "decimal128(10, 2)"
    ]
    assert sorted(tuple(str(v) for v in r.values()) for r in duck.to_pylist()) == [
        tuple(map(str, r)) for r in want
    ]


def _default_instants(spark, t):
    """The ``ts`` default of ``t`` as UTC microseconds, per reader."""

    def micros(df):
        return {r[0] for r in df.select(F.unix_micros("ts")).collect()}

    got = {"df-arrow": micros(t.df())}
    with read_threshold(spark, -1):
        got["df-spark"] = micros(t.df())
    got["batch-source"] = micros(spark.read.format("icelite").load(t.location))
    epoch = datetime.datetime(1970, 1, 1)
    got["duckdb"] = {
        (r["ts"] - epoch) // datetime.timedelta(microseconds=1)
        for r in read_with_duckdb(t).to_pylist()
    }
    return got


def test_timestamp_default_is_one_instant_in_any_session(spark, tmp_path):
    """A timestamp default without an offset is a wall-clock time in the
    session time zone, as ``lit(v).cast("timestamp")`` reads it. Metadata
    stores it resolved, so every reader returns the writer's instant, in
    the writing session and in a session in another time zone. Metadata
    that still holds the bare string (written before defaults were stored
    resolved) reads in the reading session's zone on both ``tb.df()``
    executors and in DuckDB, as the Spark scan always read it."""
    register_batch_source(spark)
    tz = "spark.sql.session.timeZone"
    old = spark.conf.get(tz)
    new_york = 1704182645 * 10**6  # 2024-01-02 03:04:05 America/New_York
    utc = 1704164645 * 10**6  # 2024-01-02 03:04:05 UTC
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("d")
    try:
        spark.conf.set(tz, "America/New_York")
        t = cat.create_table("d.t", "id bigint", properties={"format-version": "3"})
        t.append(local_df(spark, [(1,)], "id bigint"))
        t.add_columns({"ts": "timestamp"}, defaults={"ts": "2024-01-02 03:04:05"})
        assert t.meta.current_schema.fields[-1].initial_default == "2024-01-02T08:04:05+00:00"
        want = dict.fromkeys(("df-arrow", "df-spark", "batch-source", "duckdb"), {new_york})
        assert _default_instants(spark, t) == want
        spark.conf.set(tz, "UTC")
        assert _default_instants(spark, t) == want

        def bare(meta):
            f = meta.current_schema.fields[-1]
            f.initial_default = f.write_default = "2024-01-02 03:04:05"
            return meta

        t._commit(bare)
        for zone, instant in (("America/New_York", new_york), ("UTC", utc)):
            spark.conf.set(tz, zone)
            got = _default_instants(spark, t)
            del got["batch-source"]  # runs outside any session: reads UTC
            assert got == dict.fromkeys(("df-arrow", "df-spark", "duckdb"), {instant}), zone
    finally:
        spark.conf.set(tz, old)
