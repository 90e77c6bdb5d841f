"""'icelite_stream': continuous tail of an IceLite table's append snapshots.

The Spark-native analog of the reference's continuous Iceberg read —
Flink's ``/*+ OPTIONS('streaming'='true','monitor-interval'='2s') */``
(/root/reference/tests/flink_feature_tests.py:582-628) and Iceberg's own
``spark.readStream.format("iceberg")`` — implemented with PySpark 4's
Python Data Source API so the tail is a real ``readStream`` source with
offsets, checkpointing, and replay.

Semantics (same restrictions as Iceberg's streaming source):
- offsets are table sequence numbers on the ``main`` lineage;
- each micro-batch reads the data files ADDED by append snapshots in
  ``(start, end]`` — one input partition per data file, decoded to Arrow
  batches on executors (never the driver);
- non-append snapshots (overwrite/replace/delete) are skipped: compaction
  rewrites carry no new rows, and row-level deletes are not retracted —
  a streaming tail is append-only.

Scale: ``latestOffset`` reads one JSON metadata file; partition planning
is manifest-list work on the driver (file *names*, not data); all row
decoding is executor-side pyarrow.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from iceberg_matrix_spark.tables.metadata import _ancestors, load_metadata

SOURCE_NAME = "icelite_stream"


class _FilePartition(InputPartition):
    def __init__(self, path: str, schema_id: int):
        self.path = path
        self.schema_id = schema_id


def _main_lineage(meta):
    """Snapshots on the main-branch parent chain, oldest first."""
    ref = meta.refs.get("main")
    return list(reversed(list(_ancestors(meta, ref.snapshot_id if ref else None))))


class IceLiteStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.location = options["location"]
        self.starting = options.get("starting", "earliest")
        # Spark captures the stream's schema ONCE at start; pin the
        # matching schema id so every micro-batch projects files (old or
        # new) to exactly that shape — reading raw files by current-name
        # selection crashes the stream permanently at the first
        # add/rename/widen in its history
        meta, _version = load_metadata(self.location)
        self.target_schema_id = meta.current_schema_id

    def _meta(self):
        meta, _version = load_metadata(self.location)
        return meta

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            meta = self._meta()
            chain = _main_lineage(meta)
            return {"seq": chain[-1].sequence_number if chain else 0}
        return {"seq": 0}

    def latestOffset(self) -> dict:
        chain = _main_lineage(self._meta())
        return {"seq": chain[-1].sequence_number if chain else 0}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        meta = self._meta()
        parts: list[InputPartition] = []
        for s in _main_lineage(meta):
            if not (start["seq"] < s.sequence_number <= end["seq"]):
                continue
            if s.operation != "append":
                continue  # compaction/DML snapshots add no tailable rows
            for f in s.data_files:
                # files *added* by this snapshot carry its sequence number
                if f.sequence_number == s.sequence_number:
                    parts.append(_FilePartition(f.path, f.schema_id))
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        from iceberg_matrix_spark.sources.batch_source import (  # noqa: PLC0415
            project_arrow_table,
        )
        from iceberg_matrix_spark.tables.scan import project  # noqa: PLC0415

        meta = self._meta()
        # identity-transform partition values live in the data file too
        # (table.py _write_data_files aliases them); the field-ID
        # projection every IceLite reader uses renames/casts/back-fills
        # older files to the stream's pinned schema
        table = project_arrow_table(
            pq.read_table(partition.path),
            project(
                meta.schema_by_id(partition.schema_id),
                meta.schema_by_id(self.target_schema_id),
            ),
        )
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        pass


class IceLiteStreamDataSource(DataSource):
    """spark.readStream.format("icelite_stream").option("location", ...)"""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        meta, _version = load_metadata(self.options["location"])
        # PHYSICAL types: V3 logical types (timestamp_ns, variant) are not
        # valid Spark DDL — the batch source's exact rule
        from iceberg_matrix_spark.tables.table import _physical_type  # noqa: PLC0415

        return ", ".join(
            f"{f.name} {_physical_type(f.type)}"
            for f in meta.current_schema.fields
        )

    def streamReader(self, schema) -> IceLiteStreamReader:
        return IceLiteStreamReader(dict(self.options))


def register_stream_source(spark: SparkSession) -> None:
    from iceberg_matrix_spark.session import register_data_source_once  # noqa: PLC0415

    register_data_source_once(spark, IceLiteStreamDataSource, SOURCE_NAME)


def read_stream(
    spark: SparkSession, location: str, starting: str = "earliest"
) -> DataFrame:
    """Continuous tail of an IceLite table as a streaming DataFrame."""
    register_stream_source(spark)
    return (
        spark.readStream.format(SOURCE_NAME)
        .option("location", location)
        .option("starting", starting)
        .load()
    )
