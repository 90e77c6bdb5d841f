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
field-id projection per write schema. :func:`execute_scan` executes a
plan in Arrow, and it is the one Arrow executor: this source runs it
once per data file on executors, and ``IceLiteTable.df`` runs it on the
driver for a small plan (see ``IceLiteTable._read_plan``):

- one input partition per planned data file, carrying the plan scoped
  to that file;
- each file's position deletes drop rows by position, the rows are
  projected to the read schema, then the equality deletes newer than
  the file drop rows by key;
- filter pushdown: ``pushFilters`` turns Spark's EqualTo/Greater/Less
  filters into plan filters, which prune files. All filters are also
  returned as residuals, so Spark re-applies them after the scan:
  pruning is an optimization, never a correctness dependency.

Scale: planning reads one metadata JSON and no data. Through this
source, row decoding, delete merging and schema projection run in
executor Python workers, one task per data file.
"""

from __future__ import annotations

from dataclasses import replace
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

from iceberg_matrix_spark.tables.metadata import TableSchema, load_metadata
from iceberg_matrix_spark.tables.scan import (
    META_FILE,
    META_POS,
    META_SEQ,
    Column,
    ScanPlan,
    _file_uri,
    _physical_type,
    plan_scan,
)

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


def arrow_readable(schema: TableSchema) -> bool:
    """Whether :func:`execute_scan` can represent every column of
    ``schema`` (struct and map columns it cannot)."""
    try:
        for f in schema.fields:
            _arrow_type(_physical_type(f.type))
    except NotImplementedError:
        return False
    return True


def _default_column(value, typ, n: int):
    """``n`` copies of a column default, converted to ``typ`` as Spark's
    ``lit(value).cast(type)`` converts it: metadata stores a date,
    timestamp or decimal default as its string. IceLite stores a
    timestamp default with its offset; ``IceLiteTable.df`` resolves one
    without (older metadata) in the session time zone before it calls
    :func:`execute_scan`, and the batch source, which runs outside any
    session, reads it as UTC."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    if value is None:
        return pa.nulls(n, typ)
    if pa.types.is_timestamp(typ) and isinstance(value, str):
        value = datetime.datetime.fromisoformat(value)
        if typ.tz is not None and value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
    return pa.repeat(pc.cast(pa.array([value]), typ)[0], n)


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
            col = _default_column(c.default, typ, table.num_rows)
        out[c.name] = col
    return pa.table(out)


_NAN = object()  # sentinel: lets float NaN keys compare equal (eqNullSafe)


def _norm(v):
    if isinstance(v, float) and v != v:
        return _NAN
    return v


def _equality_hits(rows, key_cols: list[str], keys, file_cols: list[str]):
    """Mask of the ``rows`` whose ``key_cols`` equal a row of ``keys``
    (the delete file's ``file_cols``), null-safely and NaN-safely."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(key_cols) == 1:
        # single key: vectorized set membership; Arrow is_in already
        # matches NaN to NaN and, with nulls in the set, NULL to NULL
        col = rows[key_cols[0]]
        return pc.is_in(col, value_set=keys[file_cols[0]].combine_chunks().cast(col.type))
    # composite keys: row-wise TUPLE matching (_norm maps float NaN to a
    # sentinel so NaN keys match, mirroring eqNullSafe). Per-column is_in
    # would cross-match composite keys: deletes {(1,'a'),(2,'b')} must
    # not delete (1,'b'); Arrow has no struct is_in kernel here.
    key_set = {
        tuple(_norm(v) for v in row)
        for row in zip(*[keys[fc].to_pylist() for fc in file_cols])
    }
    found = zip(*[rows[kc].to_pylist() for kc in key_cols])
    return pa.array([tuple(_norm(v) for v in row) in key_set for row in found], pa.bool_())


def execute_scan(plan: ScanPlan, with_meta: bool = False, with_seq: bool = False):
    """The plan's live rows as one Arrow table in the read schema, read
    in-process with pyarrow. The plan's filters pruned its files; the
    caller filters the rows.

    Per data file: its position deletes drop rows by position, the rows
    are projected to the read schema, then each equality delete newer
    than the file drops the rows whose keys match one of its rows.
    ``with_meta`` adds ``__file`` (the file's :func:`tables.scan._file_uri`)
    and ``__pos`` (the row's index in its file before any delete, Spark's
    ``_metadata.row_index``); ``with_seq`` adds ``__seq``, the file's
    sequence number."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    fields = [pa.field(f.name, _arrow_type(_physical_type(f.type))) for f in plan.schema.fields]
    if with_meta:
        fields += [pa.field(META_FILE, pa.string()), pa.field(META_POS, pa.int64())]
    if with_seq:
        fields.append(pa.field(META_SEQ, pa.int64()))

    # every position-delete row, grouped once into (file identity →
    # positions); each data file then takes its own positions by lookup
    dropped = {}
    if plan.position_deletes:
        # cast: a delete file written from a Spark scan has non-null columns
        schema = pa.schema([("file_path", pa.string()), ("pos", pa.int64())])
        dels = pa.concat_tables(
            [
                pq.read_table(d.path, columns=schema.names).cast(schema)
                for d in plan.position_deletes
            ]
        )
        grouped = dels.group_by("file_path").aggregate([("pos", "list")])
        dropped = dict(
            zip(grouped["file_path"].to_pylist(), grouped["pos_list"].combine_chunks())
        )
    # a batch-source task's plan holds one file: skip a delete file no
    # planned file is older than before reading it
    equality = [
        (d, pq.read_table(d.path, columns=d.file_cols))
        for d in plan.equality_deletes
        if d.file_cols and any(f.sequence_number < d.sequence_number for f in plan.files)
    ]

    parts = []
    for f in plan.files:
        raw = pq.read_table(f.path)
        uri = _file_uri(f.path)
        pos = pa.array(np.arange(raw.num_rows, dtype=np.int64))
        if uri in dropped:
            keep = pc.invert(pc.is_in(pos, value_set=dropped[uri].values))
            raw, pos = raw.filter(keep), pos.filter(keep)
        out = project_arrow_table(raw, plan.projections[f.schema_id])
        if with_meta:
            out = out.append_column(META_FILE, pa.repeat(pa.scalar(uri), len(pos)))
            out = out.append_column(META_POS, pos)
        if with_seq:
            seq = pa.scalar(f.sequence_number, pa.int64())
            out = out.append_column(META_SEQ, pa.repeat(seq, len(pos)))
        # equality deletes apply to rows written BEFORE the delete commit;
        # the delete parquet is read by its write-time column names and
        # matched against the projected table's read-schema names
        for d, keys in equality:
            if out.num_rows and keys.num_rows and f.sequence_number < d.sequence_number:
                out = out.filter(pc.invert(_equality_hits(out, d.key_cols, keys, d.file_cols)))
        parts.append(out)
    # one chunk per column: columns chunked apart slice into empty record
    # batches, and createDataFrame drops the rows after an empty batch that
    # follows a non-empty one
    return pa.concat_tables([pa.schema(fields).empty_table(), *parts]).combine_chunks()


class _ScanPartition(InputPartition):
    def __init__(self, plan: ScanPlan):
        self.plan = plan  # the read's plan, scoped to one data file
        self.path = plan.files[0].path


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
        return [_ScanPartition(replace(plan, files=[f])) for f in plan.files]

    def read(self, partition: _ScanPartition | None) -> Iterator:
        if partition is None:
            # PySpark plans one partition of None for an empty plan
            # (an empty table, or every file pruned)
            return
        yield from execute_scan(partition.plan).to_batches()


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
