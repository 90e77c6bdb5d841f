"""Writer safety under concurrent commits: the hazards a concurrent
writer creates for every write and for the compaction/cleanup
procedures, exercised deterministically by injecting the concurrent
commit between an op's expensive phase and its commit loop (the window
the optimistic protocol is supposed to protect)."""

from __future__ import annotations

import ast
import os
import pathlib
import time

import pytest

from iceberg_matrix_spark.tables import maintenance as maint
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    c = IceLiteCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("ns")
    return c


def _ids(t):
    return sorted(r["id"] for r in t.refresh().df().collect())


def _race_once(t, action):
    """Wrap t._commit so `action` runs once, just before the first commit
    attempt — i.e. AFTER the procedure's heavy write, INSIDE its window."""
    real = t._commit
    state = {"fired": False}

    def racing(mutate):
        if not state["fired"]:
            state["fired"] = True
            action()
        return real(mutate)

    t._commit = racing


def test_rewrite_restarts_on_concurrent_cow_delete(spark, catalog):
    """A copy-on-write DELETE replaces victim files WITHOUT adding delete
    files; committing a rewrite captured before it would resurrect the
    deleted rows and duplicate the survivors. The victim-presence guard
    must restart instead."""
    t = catalog.create_table("ns.cowrace", "id bigint")
    t.append(spark.range(10).coalesce(1))
    t2 = catalog.load_table("ns.cowrace")
    _race_once(t, lambda: t2.delete("id < 5"))  # CoW mode by default

    maint.rewrite_data_files(t)
    assert _ids(t) == [5, 6, 7, 8, 9]
    # the aborted attempt's rewritten files were reclaimed immediately —
    # nothing for orphan cleanup even with an infinitely-aggressive cutoff
    future = int(time.time() * 1000) + 60_000
    assert maint.remove_orphan_files(t, dry_run=True, older_than_ms=future) == []


def test_rewrite_restarts_on_concurrent_rewrite(spark, catalog):
    """Two rewrites racing: the loser's victims vanished from the head, so
    it must restart, not double the table."""
    t = catalog.create_table("ns.rwrace", "id bigint")
    t.append(spark.range(8).coalesce(2))
    t2 = catalog.load_table("ns.rwrace")
    _race_once(t, lambda: maint.rewrite_data_files(t2))

    maint.rewrite_data_files(t)
    assert _ids(t) == list(range(8))


def test_rewrite_retry_reassigns_row_lineage(spark, catalog):
    """V3: a commit-conflict retry must draw FRESH _row_id ranges — the
    failed attempt's assignment overlaps the concurrent winner's."""
    t = catalog.create_table(
        "ns.v3race", "id bigint", properties={"format-version": "3"}
    )
    t.append(spark.range(5).coalesce(1))
    t2 = catalog.load_table("ns.v3race")
    # a concurrent APPEND (merges cleanly — no restart, just a
    # CommitConflict retry inside _commit)
    _race_once(t, lambda: t2.append(spark.range(100, 103).coalesce(1)))

    maint.rewrite_data_files(t)
    rows = t.refresh().df(with_lineage=True).select("id", "_row_id").collect()
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4, 100, 101, 102]
    row_ids = [r["_row_id"] for r in rows]
    assert len(set(row_ids)) == len(row_ids), f"duplicate _row_id: {sorted(row_ids)}"


def test_zorder_survives_nan(spark, catalog):
    """One NaN in a z-order dimension must not poison the Morton code
    (span=NaN → ANSI cast error or a silent constant dimension)."""
    from pyspark.sql import functions as F

    t = catalog.create_table("ns.nanz", "id bigint, x double")
    t.append(
        spark.range(10)
        .select(
            "id",
            F.when(F.col("id") == 7, F.lit(float("nan")))
            .otherwise(F.col("id").cast("double"))
            .alias("x"),
        )
        .coalesce(1)
    )
    res = maint.rewrite_data_files(t, strategy="zorder", columns=["id", "x"])
    assert res["rewritten_data_files_count"] >= 1
    assert _ids(t) == list(range(10))


def test_rewrite_manifests_preserves_conflict_detection(spark, catalog):
    """Metadata-chain compaction keeps version tombstones: a writer
    holding a stale version must still CONFLICT (and retry onto the real
    head), never fork an invisible commit below it."""
    t = catalog.create_table("ns.mfst", "id bigint")
    t.append(spark.range(2))
    stale = catalog.load_table("ns.mfst")  # holds the current version
    t.append(spark.range(10, 12))
    t.append(spark.range(20, 22))

    res = maint.rewrite_manifests(t)
    assert res["rewritten_manifests_count"] >= 1
    mdir = os.path.join(t.location, "metadata")
    tombs = [
        n
        for n in os.listdir(mdir)
        if n.endswith(".metadata.json")
        and os.path.getsize(os.path.join(mdir, n)) == 0
    ]
    assert tombs, "old versions should remain as zero-byte tombstones"

    # the stale handle commits THROUGH the tombstones onto the real head
    stale.append(spark.range(30, 32))
    assert _ids(t) == [0, 1, 10, 11, 20, 21, 30, 31]


def test_remove_orphans_sees_concurrent_commits(spark, catalog):
    """Cleanup must refresh first: files committed after the handle was
    loaded are live, not orphans — even with an aggressive cutoff."""
    t = catalog.create_table("ns.orfresh", "id bigint")
    t.append(spark.range(3))
    stale = catalog.load_table("ns.orfresh")
    t.append(spark.range(10, 13))  # stale handle doesn't know this commit

    future = int(time.time() * 1000) + 60_000
    assert maint.remove_orphan_files(stale, older_than_ms=future) == []
    assert _ids(t) == [0, 1, 2, 10, 11, 12]


# ---------------------------------------------- every write under one race

_KV = "id bigint, v bigint"
_MOR = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
}


def _kv(spark, rows):
    from iceberg_matrix_spark.session import local_df

    return local_df(spark, rows, _KV)


def _external_file(spark, tmp_path):
    path = str(tmp_path / "external")
    _kv(spark, [(60, 6), (61, 6)]).coalesce(1).write.parquet(path)
    return path


# op name -> (table properties, op, model of the rows after it)
_RACED = {
    "append": (
        {},
        lambda spark, t, tmp: t.append(_kv(spark, [(20, 2), (21, 2)])),
        lambda m: {**m, 20: 2, 21: 2},
    ),
    "add_files": (
        {},
        lambda spark, t, tmp: t.add_files([_external_file(spark, tmp)]),
        lambda m: {**m, 60: 6, 61: 6},
    ),
    "upsert": (
        {},
        lambda spark, t, tmp: t.upsert(_kv(spark, [(1, 9), (30, 9)]), ["id"]),
        lambda m: {**m, 1: 9, 30: 9},
    ),
    "overwrite": (
        {},
        lambda spark, t, tmp: t.overwrite(_kv(spark, [(40, 4)])),
        lambda m: {40: 4},
    ),
    "delete-cow": (
        {},
        lambda spark, t, tmp: t.delete("id < 3 OR id = 101"),
        lambda m: {k: v for k, v in m.items() if not (k < 3 or k == 101)},
    ),
    "delete-mor": (
        _MOR,
        lambda spark, t, tmp: t.delete("id < 3 OR id = 101"),
        lambda m: {k: v for k, v in m.items() if not (k < 3 or k == 101)},
    ),
    "update-cow": (
        {},
        lambda spark, t, tmp: t.update({"v": "v + 10"}, where="id % 2 = 0"),
        lambda m: {k: v + 10 if k % 2 == 0 else v for k, v in m.items()},
    ),
    "update-mor": (
        _MOR,
        lambda spark, t, tmp: t.update({"v": "v + 10"}, where="id % 2 = 0"),
        lambda m: {k: v + 10 if k % 2 == 0 else v for k, v in m.items()},
    ),
    "merge": (
        {},
        lambda spark, t, tmp: t.merge(
            _kv(spark, [(1, 7), (100, 7), (50, 7)]),
            on="t.id = s.id",
            matched_update={"v": "s.v"},
        ),
        lambda m: {**m, 1: 7, 100: 7, 50: 7},
    ),
    "rewrite_position_deletes": (
        _MOR,
        lambda spark, t, tmp: maint.rewrite_position_deletes(t),
        lambda m: m,
    ),
}


@pytest.mark.parametrize("op", list(_RACED))
def test_write_under_concurrent_append_leaves_no_orphans(spark, catalog, tmp_path, op):
    """One concurrent append lands between an op's write and its commit.
    The op must commit the right rows and leave no file that no snapshot
    references: a blind op re-bases its staged files, and an op whose
    input moved deletes them before it writes again."""
    props, run, model = _RACED[op]
    name = f"ns.race_{op.replace('-', '_')}"
    t = catalog.create_table(name, _KV, properties=props)
    t.append(_kv(spark, [(i, 0) for i in range(10)]).coalesce(1))
    want = {i: 0 for i in range(10)}
    if op == "rewrite_position_deletes":
        t.delete("id = 1")
        t.delete("id = 2")
        del want[1], want[2]
    t2 = catalog.load_table(name)
    _race_once(t, lambda: t2.append(_kv(spark, [(100, 1), (101, 1), (102, 1)])))

    res = run(spark, t, tmp_path)

    if op == "rewrite_position_deletes":
        assert res == {"rewritten_delete_files_count": 2, "added_delete_files_count": 1}
    want = model({**want, 100: 1, 101: 1, 102: 1})
    assert {r["id"]: r["v"] for r in t.refresh().df().collect()} == want
    future = int(time.time() * 1000) + 60_000
    assert maint.remove_orphan_files(t, dry_run=True, older_than_ms=future) == []
    if op in ("append", "upsert"):
        # the initial append, the concurrent one and the op each wrote
        # data once: a re-based op does not write its data again
        data = os.path.join(t.location, "data")
        assert len([d for d in os.listdir(data) if d.startswith("c-")]) == 3


def test_append_restarts_on_concurrent_schema_change(spark, catalog):
    """A schema change between an append's write and its commit restarts
    the append: its staged files are deleted and it writes again in the
    new schema."""
    t = catalog.create_table("ns.race_schema", _KV)
    t.append(_kv(spark, [(1, 1)]))
    t2 = catalog.load_table("ns.race_schema")
    _race_once(t, lambda: t2.add_columns({"w": "bigint"}))

    t.append(_kv(spark, [(2, 2)]))

    t.refresh()
    rows = sorted(tuple(r) for r in t.df().collect())
    assert rows == [(1, 1, None), (2, 2, None)]
    added = [f for f in t.current_snapshot().data_files if f.sequence_number == 2]
    assert added and {f.schema_id for f in added} == {t.meta.current_schema_id}
    future = int(time.time() * 1000) + 60_000
    assert maint.remove_orphan_files(t, dry_run=True, older_than_ms=future) == []


# ------------------------------------------------------------ tooling guard

_PKG = pathlib.Path(__file__).resolve().parent.parent / "iceberg_matrix_spark"
_COUNTERS = {"last_sequence_number", "next_row_id"}
# where the table's sequence and row-id counters may be assigned: the
# metadata model that defines and constructs them, and the apply step
_ALLOWED = {
    ("tables/metadata.py", None),
    ("tables/table.py", "IceLiteTable._snapshot"),
}


def _counter_writes(source: str):
    """(enclosing qualified name, line) of each assignment to, or keyword
    argument named, ``last_sequence_number`` or ``next_row_id``."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            targets = []
            if isinstance(child, ast.Assign):
                targets = child.targets
            elif isinstance(child, (ast.AugAssign, ast.AnnAssign)):
                targets = [child.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Attribute) and n.attr in _COUNTERS:
                        yield ".".join(scope), n.lineno
            if isinstance(child, ast.keyword) and child.arg in _COUNTERS:
                yield ".".join(scope), child.value.lineno
            yield from walk(child, scope)

    return list(walk(ast.parse(source), []))


def test_guard_flags_a_counter_write():
    src = (
        "class T:\n"
        "    def bump(self, meta):\n"
        "        meta.last_sequence_number += 1\n"
        "        return replace(meta, next_row_id=0)\n"
    )
    assert _counter_writes(src) == [("T.bump", 3), ("T.bump", 4)]


def test_counters_are_assigned_only_by_the_apply_step():
    offenders, apply_writes = [], 0
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for scope, line in _counter_writes(path.read_text()):
            apply_writes += (rel, scope) == ("tables/table.py", "IceLiteTable._snapshot")
            if (rel, None) not in _ALLOWED and (rel, scope) not in _ALLOWED:
                offenders.append(f"{rel}:{line} ({scope or 'module'})")
    assert apply_writes, "IceLiteTable._snapshot no longer assigns the counters"
    assert offenders == [], (
        "sequence numbers and row ids are assigned in IceLiteTable._snapshot; "
        f"stage entries and let it stamp them: {offenders}"
    )
