"""One file identity for every IceLite reader and the commit path.

Spark names a row's data file by ``_metadata.file_path``, a URI in which
a space, ``%``, ``#`` and ``?`` are percent-encoded and other non-ASCII
characters are not. Position deletes record that name, copy-on-write
DML replaces files by it, and the sequence-number join matches on it,
so ``tables/scan.py:_file_uri`` must render every path exactly so, and
every reader must compare the same form.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.sources.batch_source import register_batch_source
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.interop import read_with_duckdb
from iceberg_matrix_spark.tables.scan import _file_uri

from tests.executors import read_threshold

_SCHEMA = "id bigint, v bigint"
# a space, '%', '#' and a non-ASCII letter in one warehouse path
_LOCATION = "ware house %41 #1 café"


@pytest.mark.parametrize("name", ["a b", "p%q", "p%41q", "h#x", "q?x", "é", "plus+=&~*,;'"])
def test_file_uri_is_sparks_metadata_file_path(spark, tmp_path, name):
    path = os.path.join(str(tmp_path), name, "f.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"id": [1]}), path)
    got = spark.read.parquet(path).select("_metadata.file_path").first()[0]
    assert _file_uri(path) == got


_READERS = ("df-arrow", "df-spark", "batch-source", "duckdb")


def _readers(spark, t) -> dict[str, list[tuple]]:
    """Every reader's rows of ``t``."""
    t.refresh()
    out = {"df-arrow": sorted(tuple(r) for r in t.df().collect())}
    with read_threshold(spark, -1):
        out["df-spark"] = sorted(tuple(r) for r in t.df().collect())
    batch = spark.read.format("icelite").load(t.location)
    out["batch-source"] = sorted(tuple(r) for r in batch.collect())
    out["duckdb"] = sorted((r["id"], r["v"]) for r in read_with_duckdb(t).to_pylist())
    return out


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_dml_on_a_percent_encoded_location_reads_alike_in_every_reader(spark, tmp_path, mode):
    register_batch_source(spark)
    cat = IceLiteCatalog(spark, str(tmp_path / _LOCATION))
    cat.create_namespace("n")
    t = cat.create_table(
        "n.t", _SCHEMA,
        properties={"write.delete.mode": mode, "write.update.mode": mode},
    )
    t.append(local_df(spark, [(1, 10), (2, 20), (3, 30)], _SCHEMA))
    assert " " in t.current_snapshot().data_files[0].path

    t.delete("id = 2")
    want = [(1, 10), (3, 30)]
    assert _readers(spark, t) == dict.fromkeys(_READERS, want)
    assert t.current_snapshot().summary["total-records"] == (2 if mode == "copy-on-write" else 3)

    t.update({"v": "v + 1"}, where="id = 3")
    t.merge(
        local_df(spark, [(1, 11), (4, 40)], _SCHEMA),
        on="t.id = s.id",
        matched_update={"v": "s.v"},
    )
    want = [(1, 11), (3, 31), (4, 40)]
    assert _readers(spark, t) == dict.fromkeys(_READERS, want)

    t.upsert(local_df(spark, [(3, 33), (5, 50)], _SCHEMA), ["id"])
    want = [(1, 11), (3, 33), (4, 40), (5, 50)]
    assert _readers(spark, t) == dict.fromkeys(_READERS, want)
