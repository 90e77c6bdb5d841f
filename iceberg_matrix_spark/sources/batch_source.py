"""'icelite': batch Python DataSource — ``spark.read.format("icelite")``.

Makes IceLite tables readable through Spark's stock reader API (the way
every engine in the reference reads Iceberg natively), not only through
the :class:`IceLiteTable` wrapper:

    spark.read.format("icelite").load("/path/to/table")
    spark.read.format("icelite").option("snapshot_id", ...).load(path)
    spark.read.format("icelite").option("ref", "audit-branch").load(path)

The driver plans the read with :func:`tables.scan.plan_scan`, the same
plan ``IceLiteTable.df`` and the DuckDB rebuild execute: snapshot and
read schema, pruned data files, the delete files that apply, and one
field-id projection per write schema. This module executes the plan in
Arrow:

- one input partition per planned data file, carrying its projection
  and the plan's delete files, decoded on executors;
- each task applies position deletes to its own file's rows, projects
  them, then applies the equality deletes newer than its file;
- filter pushdown: ``pushFilters`` turns Spark's EqualTo/Greater/Less
  filters into plan filters, which prune files. All filters are also
  returned as residuals, so Spark re-applies them after the scan:
  pruning is an optimization, never a correctness dependency.

Scale: the driver touches one metadata JSON (partition planning reads no
data); row decoding, delete merging, and schema projection all run in
executor Python workers on Arrow batches.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from iceberg_matrix_spark.tables.metadata import load_metadata
from iceberg_matrix_spark.tables.scan import (
    Column,
    ScanPlan,
    _physical_type,
    plan_scan,
)
from iceberg_matrix_spark.tables.table import _file_uri

SOURCE_NAME = "icelite"

_OP = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _arrow_type(ddl: str):
    import pyarrow as pa

    ddl = ddl.lower()
    prim = {
        "boolean": pa.bool_(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    prim.update(
        {
            "smallint": pa.int16(),
            "short": pa.int16(),
            "tinyint": pa.int8(),
            "byte": pa.int8(),
        }
    )
    if ddl in prim:
        return prim[ddl]
    if ddl.startswith("decimal"):
        p, s = ddl[ddl.index("(") + 1 : ddl.index(")")].split(",")
        return pa.decimal128(int(p), int(s))
    # char(n)/varchar(n) store as strings; array<T> recurses. This map
    # must stay self-contained: it runs in executor Python workers where
    # no SparkSession exists, so StructType.fromDDL is unavailable.
    if ddl.startswith(("char(", "varchar(")):
        return pa.string()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return pa.list_(_arrow_type(ddl[len("array<") : -1]))
    raise NotImplementedError(f"icelite batch source: unsupported type {ddl!r}")


def project_arrow_table(table, columns: list[Column]):
    """Apply a :func:`tables.scan.project` projection to a raw parquet
    Arrow table: rename, cast (widening) and fill defaults. A column the
    file lacks physically (an adopted file) also takes its default."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for c in columns:
        typ = _arrow_type(c.type)
        if c.source is not None and c.source in table.column_names:
            col = table[c.source]
            if col.type != typ:
                col = pc.cast(col, typ)
        else:
            col = pa.array([c.default] * table.num_rows, type=typ)
        out[c.name] = col
    return pa.table(out)


_NAN = object()  # sentinel: lets float NaN keys compare equal (eqNullSafe)


def _norm(v):
    if isinstance(v, float) and v != v:
        return _NAN
    return v


class _ScanPartition(InputPartition):
    def __init__(self, path, seq, columns, pos_deletes, eq_deletes):
        self.path = path
        self.seq = seq
        self.columns = columns  # the file's projection to the read schema
        self.pos_deletes = pos_deletes  # [delete file path, ...]
        self.eq_deletes = eq_deletes  # [EqualityDelete, ...]


def _plan(options: dict, filters: list[tuple] | None = None) -> ScanPlan:
    meta, _ = load_metadata(options.get("path") or options["location"])
    sid = options.get("snapshot_id")
    return plan_scan(
        meta,
        snapshot_id=int(sid) if sid is not None else None,
        ref=options.get("ref", "main"),
        filters=filters,
    )


class IceLiteBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.filters: list[tuple] = []

    def pushFilters(self, filters):  # noqa: N802 (DataSource API)
        for f in filters:
            op = _OP.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.filters.append((f.attribute[0], op, f.value))
            yield f  # everything stays a residual: pruning only optimizes

    def partitions(self) -> list[_ScanPartition]:
        plan = _plan(self.options, self.filters)
        pos = [d.path for d in plan.position_deletes]
        return [
            _ScanPartition(
                f.path,
                f.sequence_number,
                plan.projections[f.schema_id],
                pos,
                plan.equality_deletes,
            )
            for f in plan.files
        ]

    def read(self, partition: _ScanPartition | None) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition is None:
            # PySpark plans one partition of None for an empty plan
            # (an empty table, or every file pruned)
            return
        table = pq.read_table(partition.path)

        # position deletes scoped to this file (file_path matches the
        # Spark _metadata.file_path form)
        uri = _file_uri(partition.path)
        drop = None
        for dpath in partition.pos_deletes:
            dels = pq.read_table(dpath, columns=["file_path", "pos"])
            mine = dels.filter(pc.equal(dels["file_path"], uri))["pos"]
            if len(mine):
                s = mine.to_pylist()
                drop = set(s) if drop is None else drop | set(s)
        if drop:
            mask = [i not in drop for i in range(table.num_rows)]
            table = table.filter(pa.array(mask))

        out = project_arrow_table(table, partition.columns)

        # equality deletes apply to rows written BEFORE the delete commit;
        # the delete parquet is read by its write-time column names and
        # matched against the projected table's read-schema names
        for d in partition.eq_deletes:
            if not out.num_rows:
                break  # nothing left to delete; empty masks are ill-typed
            if partition.seq >= d.sequence_number or not d.file_cols:
                continue
            keys = pq.read_table(d.path, columns=d.file_cols)
            if not keys.num_rows:
                continue
            if len(d.file_cols) == 1:
                # single-key fast path: vectorized set membership; Arrow
                # is_in already treats NaN==NaN, nulls handled explicitly
                vals = keys[d.file_cols[0]].combine_chunks()
                hit = pc.is_in(out[d.key_cols[0]], value_set=vals)
                out = out.filter(pc.invert(hit))
                continue
            # composite keys: row-wise TUPLE matching, null-safe and
            # NaN-safe (_norm maps float NaN to a sentinel so NaN keys
            # match, mirroring eqNullSafe). Per-column is_in would
            # cross-match composite keys: deletes {(1,'a'),(2,'b')} must
            # not delete (1,'b'); Arrow has no struct is_in kernel here.
            key_set = {
                tuple(_norm(v) for v in row)
                for row in zip(*[keys[fc].to_pylist() for fc in d.file_cols])
            }
            rows = zip(*[out[kc].to_pylist() for kc in d.key_cols])
            mask = [
                tuple(_norm(v) for v in row) not in key_set for row in rows
            ]
            out = out.filter(pa.array(mask, type=pa.bool_()))

        yield from out.to_batches()


class IceLiteBatchDataSource(DataSource):
    """spark.read.format("icelite").load(table_location)"""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        plan = _plan(dict(self.options))
        return ", ".join(
            f"{f.name} {_physical_type(f.type)}" for f in plan.schema.fields
        )

    def reader(self, schema) -> IceLiteBatchReader:
        return IceLiteBatchReader(dict(self.options))


def register_batch_source(spark: SparkSession) -> None:
    # pushFilters requires this conf (dynamic SQLConf — safe to set at
    # runtime); self-configure so the source works on any session, the
    # same pattern as load_table's nanosAsLong
    from iceberg_matrix_spark.session import register_data_source_once  # noqa: PLC0415

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_data_source_once(spark, IceLiteBatchDataSource, SOURCE_NAME)
