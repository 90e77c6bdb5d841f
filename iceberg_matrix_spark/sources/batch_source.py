"""'icelite': batch Python DataSource — ``spark.read.format("icelite")``.

Makes IceLite tables readable through Spark's stock reader API (the way
every engine in the reference reads Iceberg natively), not only through
the :class:`IceLiteTable` wrapper:

    spark.read.format("icelite").load("/path/to/table")
    spark.read.format("icelite").option("snapshot_id", ...).load(path)
    spark.read.format("icelite").option("ref", "audit-branch").load(path)

Semantics (current or time-traveled snapshot, MoR-merged):
- one input partition per data file, decoded to Arrow on executors;
- position deletes (incl. V3 PUFFIN-tagged DVs) and equality deletes are
  applied per partition — each task reads only the delete entries scoped
  to the snapshot and filters its own file's rows;
- filter pushdown: ``pushFilters`` translates Spark's EqualTo/Greater/
  Less filters into manifest pruning (partition-transform projection +
  column bounds via :func:`prune_files`) — pruned files never become
  partitions. All filters are also returned as residuals, so Spark
  re-applies them post-scan: pruning is an optimization, never a
  correctness dependency;
- schema evolution by field ID: old files are projected/renamed/
  back-filled (incl. V3 initial-defaults) to the current schema in Arrow.

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

from iceberg_matrix_spark.tables.metadata import TableMetadata, load_metadata
from iceberg_matrix_spark.tables.table import (
    _file_uri,
    _physical_type,
    prune_files,
    pruning_spec,
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


def _project_schema(meta: TableMetadata, options: dict):
    """Projection target: the SNAPSHOT's schema for a pinned read (the
    same time-travel semantics IceLiteTable.df implements), else the
    current schema."""
    sid = options.get("snapshot_id")
    if sid is not None:
        snap = meta.snapshot_by_id(int(sid))
        if snap is not None and snap.schema_id is not None:
            return meta.schema_by_id(snap.schema_id)
    return meta.current_schema


def project_arrow_table(table, file_schema, target_schema):
    """Field-ID projection of a raw parquet arrow table to a target
    schema: rename (by id), cast (widening), back-fill added columns
    (V3 initial-default, else NULL). Shared by the batch and streaming
    sources so evolution semantics can't drift between them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    by_id = {f.id: f for f in file_schema.fields}
    cols, names = [], []
    for cf in target_schema.fields:
        typ = _arrow_type(_physical_type(cf.type))
        old = by_id.get(cf.id)
        if old is not None and old.name in table.column_names:
            col = table[old.name]
            if col.type != typ:
                col = pc.cast(col, typ)
        else:
            fill = cf.initial_default
            col = pa.array([fill] * table.num_rows, type=typ)
        cols.append(col)
        names.append(cf.name)
    return pa.table(dict(zip(names, cols)))


_NAN = object()  # sentinel: lets float NaN keys compare equal (eqNullSafe)


def _norm(v):
    if isinstance(v, float) and v != v:
        return _NAN
    return v


class _ScanPartition(InputPartition):
    def __init__(self, path, seq, schema_id, pos_delete_dirs, eq_deletes):
        self.path = path
        self.seq = seq
        self.schema_id = schema_id
        self.pos_delete_dirs = pos_delete_dirs  # [dir, ...]
        self.eq_deletes = eq_deletes  # [(dir, file_cols, proj_cols, seq), ...]


def _resolve_snapshot(meta: TableMetadata, options: dict):
    sid = options.get("snapshot_id")
    if sid is not None:
        return meta.snapshot_by_id(int(sid))
    ref = meta.refs.get(options.get("ref", "main"))
    if ref is None:
        return None
    return meta.snapshot_by_id(ref.snapshot_id)


class IceLiteBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.location = options.get("path") or options["location"]
        self.options = dict(options)
        self.filters: list[tuple] = []

    def pushFilters(self, filters):  # noqa: N802 (DataSource API)
        for f in filters:
            op = _OP.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.filters.append((f.attribute[0], op, f.value))
            yield f  # everything stays a residual: pruning only optimizes

    def partitions(self) -> list[_ScanPartition]:
        meta, _ = load_metadata(self.location)
        snap = _resolve_snapshot(meta, self.options)
        if snap is None:
            return []
        files = prune_files(snap.data_files, self.filters, *pruning_spec(meta))
        pos_dirs = [d.path for d in snap.delete_files if d.content == 1]
        # equality keys resolved by FIELD ID to the projection target's
        # names (table.py:_read_snapshot's mechanism): the delete parquet
        # carries WRITE-TIME names; matching by that name after a RENAME
        # would miss (KeyError) or hit an unrelated re-added column
        target = _project_schema(meta, self.options)
        by_fid = {f.id: f.name for f in target.fields}
        eq = []
        for d in snap.delete_files:
            if d.content != 2:
                continue
            if d.equality_ids:
                missing = [i for i in d.equality_ids if i not in by_fid]
                if missing:
                    raise ValueError(
                        f"equality delete {d.path} references dropped field "
                        f"id(s) {missing}; cannot apply it correctly"
                    )
                proj_cols = [by_fid[i] for i in d.equality_ids]
            else:  # legacy name-addressed entries
                proj_cols = list(d.equality_columns)
            eq.append(
                (d.path, list(d.equality_columns), proj_cols, d.sequence_number)
            )
        return [
            _ScanPartition(f.path, f.sequence_number, f.schema_id, pos_dirs, eq)
            for f in files
        ]

    def read(self, partition: _ScanPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        meta, _ = load_metadata(self.location)
        file_schema = meta.schema_by_id(partition.schema_id)
        current = _project_schema(meta, self.options)
        table = pq.read_table(partition.path)

        # position deletes scoped to this file (file_path matches the
        # Spark _metadata.file_path form)
        uri = _file_uri(partition.path)
        drop = None
        for ddir in partition.pos_delete_dirs:
            dels = pq.read_table(ddir, columns=["file_path", "pos"])
            mine = dels.filter(pc.equal(dels["file_path"], uri))["pos"]
            if len(mine):
                s = mine.to_pylist()
                drop = set(s) if drop is None else drop | set(s)
        if drop:
            mask = [i not in drop for i in range(table.num_rows)]
            table = table.filter(pa.array(mask))

        # field-ID projection to the target schema (+ V3 initial-defaults)
        out = project_arrow_table(table, file_schema, current)

        # equality deletes apply to rows written BEFORE the delete commit;
        # the delete parquet is read by its WRITE-TIME column names, the
        # projected table matched by the field-id-resolved target names
        for ddir, file_cols, proj_cols, dseq in partition.eq_deletes:
            if not out.num_rows:
                break  # nothing left to delete; empty masks are ill-typed
            if partition.seq >= dseq or not file_cols:
                continue
            keys = pq.read_table(ddir, columns=file_cols)
            if not keys.num_rows:
                continue
            if len(file_cols) == 1:
                # single-key fast path: vectorized set membership; Arrow
                # is_in already treats NaN==NaN, nulls handled explicitly
                # (spec semantics: a delete row carrying NULL matches data
                # rows with NULL — same contract as eqNullSafe / IS NOT
                # DISTINCT FROM in the other two read paths)
                vals = keys[file_cols[0]].combine_chunks()
                hit = pc.is_in(out[proj_cols[0]], value_set=vals)
                out = out.filter(pc.invert(hit))
                continue
            # composite keys: row-wise TUPLE matching, null-safe and
            # NaN-safe (_norm maps float NaN to a sentinel so NaN keys
            # match, mirroring eqNullSafe). Per-column is_in would
            # cross-match composite keys: deletes {(1,'a'),(2,'b')} must
            # not delete (1,'b'); Arrow has no struct is_in kernel here.
            key_set = {
                tuple(_norm(v) for v in row)
                for row in zip(*[keys[fc].to_pylist() for fc in file_cols])
            }
            rows = zip(*[out[kc].to_pylist() for kc in proj_cols])
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
        location = self.options.get("path") or self.options["location"]
        meta, _ = load_metadata(location)
        target = _project_schema(meta, dict(self.options))
        return ", ".join(
            f"{f.name} {_physical_type(f.type)}" for f in target.fields
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
