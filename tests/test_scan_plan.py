"""One scan plan for every IceLite reader (tables/scan.py).

A three-way differential: random DML histories are read through
``tb.df()``, ``spark.read.format("icelite")`` and ``read_with_duckdb``,
and each read must equal an in-memory model. A tooling guard keeps
equality-delete key resolution inside the planner.
"""

from __future__ import annotations

import ast
import pathlib
import tempfile

from hypothesis import given, settings, strategies as st

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sources.batch_source import register_batch_source
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.interop import read_with_duckdb

from tests.hypcfg import DERANDOMIZE, n_examples

# Every example runs each kind once, in a drawn order with drawn
# arguments, so a handful of examples covers every kind.
_KINDS = (
    "append", "delete-mor", "update-mor", "upsert", "rename",
    "delete-cow", "add-column", "upsert", "append",
)
_TYPES = {"id": "bigint", "v": "bigint", "w": "string"}


def _ddl(names):
    return ", ".join(f"{names[c]} {_TYPES[c]}" for c in names)


def _rows(model, names):
    return sorted(tuple(r[c] for c in names) for r in model.values())


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
        else:
            t.add_columns({"w": "string"}, defaults={"w": "dflt"})
            names["w"] = "w"
            for r in model.values():
                r["w"] = "dflt"
            continue
        pinned.append((t.current_snapshot().snapshot_id, dict(names), _rows(model, names)))

    want = _rows(model, names)
    cols = list(names.values())
    assert sorted(tuple(r) for r in t.df().select(*cols).collect()) == want
    batch_read = spark.read.format("icelite").load(t.location)
    assert sorted(tuple(r) for r in batch_read.select(*cols).collect()) == want
    duck = read_with_duckdb(t).to_pylist()
    assert sorted(tuple(r[c] for c in cols) for r in duck) == want

    sid, old_names, old_rows = pinned[pin % len(pinned)]
    old_cols = list(old_names.values())
    got = t.df(snapshot_id=sid)
    assert got.columns == old_cols
    assert sorted(tuple(r) for r in got.collect()) == old_rows
    got = spark.read.format("icelite").option("snapshot_id", sid).load(t.location)
    assert got.columns == old_cols
    assert sorted(tuple(r) for r in got.collect()) == old_rows


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
