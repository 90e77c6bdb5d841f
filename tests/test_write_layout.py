"""One write layout: every data file an IceLite write adds holds one
partition value and is sorted by the table's sort order, whichever write
path produced it (``IceLiteTable._write_data_files`` lays out all of
them). Spark's planned write sorts partitioned output by the partition
columns and drops a local sort that does not lead with them, so these
cases run on a ``bucket(4, id)`` table; unpartitioned tables are the
controls."""

from __future__ import annotations

import ast
import pathlib

import pyarrow.parquet as pq
import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables import maintenance as maint
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.transforms import parse_transform

_SCHEMA = "id bigint, v bigint"
# v is a scramble of id, so a file in id order is not in v order
_ROWS = [(i, (i * 37) % 101) for i in range(200)]


def _rows(spark, rows):
    return local_df(spark, rows, _SCHEMA).repartition(3)


def _cow_merge(spark, t):
    t.merge(
        _rows(spark, [(i, 500 - i) for i in range(0, 300, 2)]),
        on="t.id = s.id",
        matched_update={"v": "s.v"},
    )


def _mor_update(spark, t):
    t.set_properties({"write.update.mode": "merge-on-read"})
    t.update({"v": "200 - v"}, where="id % 2 = 0")


_WRITES = {
    "append": lambda spark, t: t.append(
        _rows(spark, [(i, (i * 53) % 97) for i in range(200, 400)])
    ),
    "overwrite": lambda spark, t: t.overwrite(_rows(spark, _ROWS)),
    "cow-delete": lambda spark, t: t.delete("id % 3 = 0"),
    "cow-update": lambda spark, t: t.update({"v": "v + id % 7"}, where="id % 2 = 0"),
    "mor-update": _mor_update,
    "merge": _cow_merge,
    "upsert": lambda spark, t: t.upsert(
        _rows(spark, [(i, 300 - i) for i in range(100, 300)]), ["id"]
    ),
    "rewrite-binpack": lambda spark, t: maint.rewrite_data_files(t),
    "rewrite-sort": lambda spark, t: maint.rewrite_data_files(t, strategy="sort"),
    # a one-column z-value is v scaled, so its order is v's order
    "rewrite-zorder": lambda spark, t: maint.rewrite_data_files(
        t, strategy="zorder", columns=["v"]
    ),
}
# writes whose files are sorted on an unpartitioned table before the
# layout moved into _write_data_files too
_CONTROLS = ["append", "overwrite", "rewrite-sort", "rewrite-zorder"]


def _sorted_table(spark, tmp_path, partition_by, **props):
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("n")
    t = cat.create_table("n.t", _SCHEMA, partition_by=partition_by, properties=props)
    t.replace_sort_order(["v"])
    t.append(_rows(spark, _ROWS))
    return t


def _added_files(spark, t, write):
    before = {f.path for f in t.current_snapshot().data_files}
    write(spark, t)
    added = [f for f in t.refresh().current_snapshot().data_files if f.path not in before]
    assert added, "the write added no data file"
    return added


@pytest.mark.parametrize("write", sorted(_WRITES))
def test_partitioned_write_files_hold_one_partition_sorted_by_the_order(spark, tmp_path, write):
    t = _sorted_table(spark, tmp_path, ["bucket(4, id)"])
    bucket = parse_transform("bucket(4, id)")
    unsorted, mixed = [], []
    for f in _added_files(spark, t, _WRITES[write]):
        cols = pq.read_table(f.path, columns=["id", "v"]).to_pydict()
        if cols["v"] != sorted(cols["v"]):
            unsorted.append(f.path)
        if {bucket.project_value(i, "bigint") for i in cols["id"]} != {f.partition["id_bucket"]}:
            mixed.append(f.path)
    assert unsorted == [], f"{write}: files not sorted by v"
    assert mixed == [], f"{write}: files hold rows of another bucket"


@pytest.mark.parametrize("write", _CONTROLS)
def test_unpartitioned_write_files_sorted_by_the_order(spark, tmp_path, write):
    t = _sorted_table(spark, tmp_path, [])
    for f in _added_files(spark, t, _WRITES[write]):
        v = pq.read_table(f.path, columns=["v"]).column("v").to_pylist()
        assert v == sorted(v), f"{write}: {f.path} not sorted by v"


def test_hash_distributed_merge_writes_one_file_per_bucket(spark, tmp_path):
    """A MERGE with NOT MATCHED BY SOURCE rewrites every file; under
    write.distribution-mode=hash each bucket lands in one task, so the
    rewrite writes one file per bucket instead of one per (shuffle
    partition, bucket) pair."""
    cat = IceLiteCatalog(spark, str(tmp_path))
    cat.create_namespace("n")
    t = cat.create_table(
        "n.t", _SCHEMA, partition_by=["bucket(8, id)"],
        properties={"write.distribution-mode": "hash"},
    )
    t.append(_rows(spark, _ROWS))
    t.merge(
        local_df(spark, [(i, -i) for i in range(0, 200, 5)], _SCHEMA),
        on="t.id = s.id",
        matched_update={"v": "s.v"},
        not_matched_by_source_clauses=[("t.id % 2 = 0", ("update", {"v": "t.v + 1"}))],
    )
    snap = t.refresh().current_snapshot()
    assert len(snap.data_files) <= 8
    got = {r.id: r.v for r in t.df().collect()}
    assert got == {
        i: -i if i % 5 == 0 else v + 1 if i % 2 == 0 else v for i, v in _ROWS
    }


# ------------------------------------------------------------ tooling guard

_TABLES = pathlib.Path(__file__).resolve().parent.parent / "iceberg_matrix_spark" / "tables"
_LAYOUT_CALLS = {"sortWithinPartitions", "repartitionByRange", "partitionBy"}
_LAYOUT_STEP = ("table.py", "IceLiteTable._write_data_files")


def _layout_calls(source: str):
    """(enclosing qualified name, line) of each call to a DataFrame layout
    method; ``Window.partitionBy`` (a window spec, not a write) is not
    one."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            fn = child.func if isinstance(child, ast.Call) else None
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr in _LAYOUT_CALLS
                and not (isinstance(fn.value, ast.Name) and fn.value.id == "Window")
            ):
                yield ".".join(scope), child.lineno
            yield from walk(child, scope)

    return list(walk(ast.parse(source), []))


def test_guard_flags_a_layout_call():
    src = (
        "class T:\n"
        "    def write(self, df):\n"
        "        w = Window.partitionBy('k')\n"
        "        df.sortWithinPartitions('v').write.partitionBy('p').parquet('x')\n"
        "def f(df):\n"
        "    return df.repartitionByRange(4, 'v')\n"
    )
    assert _layout_calls(src) == [("T.write", 4), ("T.write", 4), ("f", 6)]


def test_layout_calls_only_in_the_layout_step():
    offenders, step_calls = [], 0
    for path in sorted(_TABLES.glob("*.py")):
        for scope, line in _layout_calls(path.read_text()):
            if (path.name, scope) == _LAYOUT_STEP:
                step_calls += 1
            else:
                offenders.append(f"{path.name}:{line} ({scope or 'module'})")
    assert step_calls, "IceLiteTable._write_data_files no longer lays out writes"
    assert offenders == [], (
        "data files are distributed and sorted in IceLiteTable._write_data_files; "
        f"pass it an order or a file count instead: {offenders}"
    )
