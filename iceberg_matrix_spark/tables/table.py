"""IceLiteTable: snapshot-versioned table operations in pure PySpark.

Implements the reference's Iceberg operation surface (SURVEY.md §2.9,
§2.11–§2.13): append/overwrite writes, row-level DELETE/UPDATE/MERGE in
both copy-on-write and merge-on-read modes (position-delete files; V3
emits consolidated "PUFFIN"-tagged deletion-vector files —
/root/reference/tests/iceberg_feature_tests.py:1517-1555), equality
deletes for streaming upsert (flink suite :744-808), hidden
partitioning, time travel (:820), branches/tags (:888-898), incremental
reads (flink :1184-1211), schema evolution with field-ID resolution
(:702-750).

Scale design notes
- Writes are DataFrame work on executors; the driver touches only file
  *lists* and JSON metadata (manifest-scale, like Iceberg's planning
  path).
- Reads pick their executor by size (``_read_plan``): a snapshot whose
  data files add up to at most 256 KB (and to at most
  ``spark.sql.autoBroadcastJoinThreshold``) is read in-process with
  pyarrow; a larger one is a parquet scan on
  executors that resolves position deletes with an anti-join on
  (_metadata.file_path, _metadata.row_index) — a broadcast-able join
  because delete files are small relative to data.
- CoW DML rewrites only the files that contain matching rows (file set
  discovered by a metadata-column aggregate, pruned before rewrite).
- Parquet footer statistics are collected on executors
  (sc.parallelize over the new file list), not the driver.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field, replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.metadata import (
    CommitConflict,
    DataFileEntry,
    DeleteFileEntry,
    Ref,
    SchemaField,
    Snapshot,
    TableMetadata,
    TableSchema,
    _ancestors,
    commit_metadata,
    load_metadata,
)
from iceberg_matrix_spark.tables.scan import (
    META_FILE,
    META_POS,
    META_SEQ,
    ScanPlan,
    _file_uri,
    _physical_type,
    plan_scan,
    plan_snapshot,
    prune_files,
    pruning_spec,
    timestamp_default,
    with_time_zone,
)
from iceberg_matrix_spark.tables.transforms import (
    Transform,
    parse_transform,
    transform_spec,
)

# Every position-delete file IceLite writes has exactly these columns;
# reading with the schema pinned skips Spark's schema-inference job.
_POS_DELETE_SCHEMA = "file_path string, pos bigint"

# The most data-file bytes a read runs in-process in Arrow. Arrow's cost
# grows with the rows it decodes and hands to the JVM; a Spark scan's is
# mostly fixed per query and per file. tools/read_executor_probe.py on a
# 4-vCPU host, one data file per MB, median CPU seconds of driver and JVM,
# Arrow vs Spark: a point read 0.11 vs 0.46 at 256 KB, 0.26 vs 0.43 at
# 1 MB; a grouped full scan 0.32 vs 0.43 at 256 KB, 0.46 vs 0.36 at
# 512 KB, 0.62 vs 0.44 at 1 MB. The cap sits where the scan crosses over.
_ARROW_SCAN_BYTES = 256 << 10

# int→bigint / float→double widening per the reference's type-promotion
# probes (/root/reference/tests/iceberg_feature_tests.py:738-750)
_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
    ("int", "double"),
}


# Variant shredding: bounded sample size for shred-schema inference and
# the table-property prefix the inferred DDL is cached under (re-inferred
# only when absent — one extra Spark job on the FIRST shredded append,
# zero afterwards).
_VARIANT_SAMPLE_ROWS = 256
_VARIANT_SCHEMA_PROP = "write.parquet.variant-shredding.schema."


def _py_json_type(v) -> "T.DataType":
    """Spark type of one parsed JSON value (driver-side, no Spark jobs)."""
    if v is None:
        return T.NullType()
    if isinstance(v, bool):  # before int — bool subclasses int
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        elem: T.DataType = T.NullType()
        for x in v:
            elem = _merge_json_type(elem, _py_json_type(x))
        return T.ArrayType(elem if not isinstance(elem, T.NullType) else T.StringType())
    if isinstance(v, dict):
        return T.StructType(
            [T.StructField(k, _py_json_type(x)) for k, x in v.items()]
        )
    return T.StringType()


def _strip_null_leaves(t: "T.DataType") -> "T.DataType":
    """Replace any remaining NullType leaf with string. A JSON field that
    is null in every sampled row merges to NullType; parquet cannot write
    a void column, and the DDL is cached per field id — so one all-null
    sample would otherwise poison every later append on the table."""
    if isinstance(t, T.NullType):
        return T.StringType()
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _strip_null_leaves(f.dataType), f.nullable)
                for f in t.fields
            ]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_strip_null_leaves(t.elementType), t.containsNull)
    if isinstance(t, T.MapType):
        return T.MapType(
            _strip_null_leaves(t.keyType),
            _strip_null_leaves(t.valueType),
            t.valueContainsNull,
        )
    return t


def _merge_json_type(a: "T.DataType", b: "T.DataType") -> "T.DataType":
    """Least-upper-bound of two inferred JSON shapes: struct fields
    union-merge (the SUPERSET schema), long+double widen to double,
    otherwise fall back to string — mirroring spark.read.json's merge
    rules without running a Spark job."""
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    if {type(a), type(b)} == {T.LongType, T.DoubleType}:
        return T.DoubleType()
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = _merge_json_type(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
                order.append(f.name)
        return T.StructType([T.StructField(n, fields[n]) for n in order])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_json_type(a.elementType, b.elementType))
    return T.StringType()


@dataclass
class _Staged:
    """What one write step produced, for ``IceLiteTable._snapshot`` to
    apply to whatever head exists at commit time."""

    operation: str
    data_files: list[DataFileEntry] = field(default_factory=list)
    delete_files: list[DeleteFileEntry] = field(default_factory=list)
    # head data and delete files (as file: URIs) the snapshot drops
    replaces: set[str] = field(default_factory=set)
    # directories the write created; deleted when they are not committed
    reclaim: list[str] = field(default_factory=list)
    # table properties that ride the commit (inferred variant-shred DDL)
    properties: dict[str, str] = field(default_factory=dict)
    summary: dict = field(default_factory=dict)

    def discard(self) -> None:
        for d in self.reclaim:
            shutil.rmtree(d, ignore_errors=True)


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


class _Inspect:
    """PyIceberg-shaped metadata accessor: each method returns the
    matching metadata table as a DataFrame. Defined by delegation so the
    single source of truth stays tables/metadata_tables.py."""

    _TABLES = (
        "snapshots", "files", "data_files", "all_data_files", "all_files",
        "all_delete_files", "delete_files", "partitions", "refs", "history",
        "metadata_log_entries", "statistics", "manifests",
    )

    def __init__(self, table: "IceLiteTable"):
        self._table = table

    def __getattr__(self, name: str):
        if name not in self._TABLES:
            raise AttributeError(f"no metadata table {name!r}")
        from iceberg_matrix_spark.tables import metadata_tables as mt  # noqa: PLC0415

        fn = getattr(mt, name)
        return lambda *a, **kw: fn(self._table, *a, **kw)

    def __dir__(self):
        return list(self._TABLES)


class TableScan:
    """Lazy scan handle mirroring PyIceberg's DataScan materializers."""

    def __init__(self, df: DataFrame):
        self._df = df

    def to_df(self) -> DataFrame:
        return self._df

    def to_arrow(self):
        return self._df.toArrow()

    def to_pandas(self):
        return self._df.toPandas()


def _type_str(t) -> str:
    """Coerce a type given as a DDL string or a PyIceberg/PySpark-style
    ``*Type()`` object/class into our logical type string."""
    if isinstance(t, str):
        return t.strip().lower()
    name = t.__name__ if isinstance(t, type) else type(t).__name__
    name = name.removesuffix("Type").lower()
    return {"long": "bigint", "integer": "int"}.get(name, name)


# Schema build steps: ``build(meta, fields) -> fields``, run by
# IceLiteTable._evolve_schema alone or batched by _UpdateSchema.


def _rename_field(old: str, new: str):
    def build(meta, fields):
        for f in fields:
            if f.name == old:
                f.name = new
                return fields
        raise KeyError(old)

    return build


def _drop_field(name: str):
    def build(meta, fields):
        out = [f for f in fields if f.name != name]
        if len(out) == len(fields):
            raise KeyError(name)
        return out

    return build


def _widen_field(name: str, new_type: str):
    def build(meta, fields):
        for i, f in enumerate(fields):
            if f.name == name:
                # a new SchemaField stores the type as metadata does
                widened = replace(f, type=new_type)
                if widened.type != f.type and (f.type, widened.type) not in _WIDENINGS:
                    raise ValueError(f"narrowing/unsupported: {f.type} → {new_type}")
                fields[i] = widened
                return fields
        raise KeyError(name)

    return build


def _spec_change(adds=(), removes=()):
    """Commit mutation that drops the ``removes`` partition fields (spec
    strings, matched after normalization) and then appends ``adds``."""

    def mutate(meta: TableMetadata) -> TableMetadata:
        for spec in removes:
            normalized = parse_transform(spec).spec_string()
            for i, existing in enumerate(meta.partition_spec):
                if parse_transform(existing).spec_string() == normalized:
                    meta.partition_spec.pop(i)
                    break
            else:
                raise KeyError(spec)
        meta.partition_spec.extend(adds)
        return meta

    return mutate


class _UpdateSchema:
    """PyIceberg's schema-evolution idiom, literally
    (pyiceberg_feature_tests.py:343-350, update_column :371-372)::

        with tbl.update_schema() as u:
            u.add_column("new_col", StringType())

    Ops batch and land as ONE schema commit on context exit (or an
    explicit ``.commit()``). Types may be DDL strings or ``*Type()``
    objects; later ops see earlier ops' effects (rename-then-drop works).
    """

    def __init__(self, table: "IceLiteTable"):
        self._table = table
        self._ops: list = []
        self._committed = False

    def add_column(self, name, field_type, doc=None, required=False, default=None):
        defaults = {name: default} if default is not None else None
        self._ops.append(
            self._table._add_columns_op({name: _type_str(field_type)}, defaults, required)
        )
        return self

    def rename_column(self, old: str, new: str):
        self._ops.append(_rename_field(old, new))
        return self

    def delete_column(self, name: str):
        self._ops.append(_drop_field(name))
        return self

    def update_column(self, name: str, field_type):
        self._ops.append(_widen_field(name, _type_str(field_type)))
        return self

    def commit(self) -> None:
        if self._committed:
            raise RuntimeError("update_schema already committed")
        self._committed = True
        if not self._ops:
            return
        ops = self._ops

        def build(meta, fields):
            for op in ops:
                fields = op(meta, fields)
            return fields

        self._table._evolve_schema(build)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None and not self._committed:
            self.commit()
        return False


class _UpdateSpec:
    """PyIceberg's partition-spec evolution idiom
    (pyiceberg_feature_tests.py:450-452)::

        with tbl.update_spec() as u:
            u.add_field("ts", HourTransform(), "ts_hour")

    Partition field names are derived (``{source}_{kind}``, Iceberg's own
    default); a caller-supplied name must match the derived one. All ops
    land as one metadata commit.
    """

    def __init__(self, table: "IceLiteTable"):
        self._table = table
        self._adds: list[str] = []
        self._removes: list[str] = []
        self._committed = False

    def add_field(self, source_column_name: str, transform, partition_field_name=None):
        spec = transform_spec(source_column_name, transform)
        t = parse_transform(spec)
        if partition_field_name and partition_field_name != t.field_name:
            raise ValueError(
                "custom partition field names are unsupported; the derived "
                f"name for {spec!r} is {t.field_name!r}"
            )
        self._table._validate_partition_source(spec)
        self._adds.append(spec)
        return self

    def remove_field(self, name: str):
        """``name`` is the partition field name ("ts_hour") or a spec
        string ("hour(ts)")."""
        self._removes.append(name)
        return self

    def commit(self) -> None:
        if self._committed:
            raise RuntimeError("update_spec already committed")
        self._committed = True
        if not (self._adds or self._removes):
            return
        by_name = {t.field_name: t.spec_string() for t in self._table._transforms()}
        removes = [by_name.get(name, name) for name in self._removes]
        self._table._commit(_spec_change(self._adds, removes))

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None and not self._committed:
            self.commit()
        return False


class _ManageSnapshots:
    """PyIceberg's snapshot-management builder
    (pyiceberg_feature_tests.py:522,552-553 — note snapshot_id comes
    FIRST in this idiom, unlike :meth:`IceLiteTable.create_branch`)::

        tbl.manage_snapshots().create_branch(snap_id, "dev").commit()
    """

    def __init__(self, table: "IceLiteTable"):
        self._table = table
        self._ops: list = []

    def create_branch(self, snapshot_id: int, branch_name: str):
        self._ops.append(lambda m: _add_ref(m, branch_name, "branch", snapshot_id))
        return self

    def create_tag(self, snapshot_id: int, tag_name: str):
        self._ops.append(lambda m: _add_ref(m, tag_name, "tag", snapshot_id))
        return self

    def remove_branch(self, branch_name: str):
        self._ops.append(lambda m: _remove_ref(m, branch_name))
        return self

    def remove_tag(self, tag_name: str):
        self._ops.append(lambda m: _remove_ref(m, tag_name))
        return self

    def commit(self) -> None:
        """Apply the queued ops in order as one metadata commit: if one
        raises, none of them lands."""
        ops, self._ops = self._ops, []

        def mutate(meta: TableMetadata) -> TableMetadata:
            for op in ops:
                meta = op(meta)
            return meta

        self._table._commit(mutate)


class PartitionSpecView:
    """PyIceberg's tbl.spec() shape: ``.fields`` with ``.name``
    (pyiceberg_feature_tests.py:453-455)."""

    def __init__(self, fields: list[Transform]):
        self.fields = fields


class IceLiteTable:
    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location
        self.refresh()

    # ------------------------------------------------------------------ meta

    def refresh(self) -> "IceLiteTable":
        self.meta, self.version = load_metadata(self.location)
        return self

    @property
    def properties(self) -> dict[str, str]:
        return self.meta.properties

    @property
    def format_version(self) -> int:
        return self.meta.format_version

    def _transforms(self) -> list[Transform]:
        return [parse_transform(s) for s in self.meta.partition_spec]

    @property
    def inspect(self) -> "_Inspect":
        """PyIceberg's inspect accessor — ``tbl.inspect.manifests()``
        (pyiceberg_feature_tests.py:652) and the rest of the metadata-
        table family, as DataFrames (tables/metadata_tables.py)."""
        return _Inspect(self)

    # ---- PyIceberg-shaped accessors & evolution idioms -------------------

    @property
    def metadata(self) -> TableMetadata:
        """PyIceberg's ``tbl.metadata`` (``.refs`` / ``.snapshots`` live
        here — pyiceberg_feature_tests.py:446,554-556)."""
        return self.meta

    def current_snapshot(self, ref: str = "main") -> Snapshot | None:
        """PyIceberg's ``tbl.current_snapshot()``
        (pyiceberg_feature_tests.py:523)."""
        return self._current_snapshot(ref)

    def schema(self) -> TableSchema:
        """PyIceberg's ``tbl.schema()`` — ``.fields`` / ``find_field`` /
        ``as_arrow`` (pyiceberg_feature_tests.py:351,373,519)."""
        return self.meta.current_schema

    def spec(self) -> PartitionSpecView:
        """PyIceberg's ``tbl.spec()`` — field names follow Iceberg's
        derived naming (pyiceberg_feature_tests.py:453-455)."""
        return PartitionSpecView(self._transforms())

    def update_schema(self) -> _UpdateSchema:
        """``with tbl.update_schema() as u: u.add_column(...)`` —
        PyIceberg's batched-single-commit evolution idiom
        (pyiceberg_feature_tests.py:343-350)."""
        return _UpdateSchema(self)

    def update_spec(self) -> _UpdateSpec:
        """``with tbl.update_spec() as u: u.add_field(...)``
        (pyiceberg_feature_tests.py:450-452)."""
        return _UpdateSpec(self)

    def manage_snapshots(self) -> _ManageSnapshots:
        """``tbl.manage_snapshots().create_branch(id, name).commit()``
        (pyiceberg_feature_tests.py:522)."""
        return _ManageSnapshots(self)

    # Commit retry budget: under N concurrent writers one loser can lose
    # every round until the others drain, so the budget must exceed any
    # realistic writer fan-in (Iceberg's default is 4 with exponential
    # backoff; heavy streaming fan-in needs more). Jittered backoff keeps
    # racing writers from re-colliding in lockstep.
    _COMMIT_RETRIES = 20

    def _commit(self, mutate) -> TableMetadata:
        """Optimistic commit loop: re-read + re-apply on conflict, and
        return the metadata that committed. The mutation runs on a deep
        copy of ``self.meta`` so a mid-mutate failure can't leave the
        in-memory metadata half-updated."""
        import copy
        import random
        import time

        for attempt in range(self._COMMIT_RETRIES):
            try:
                meta = mutate(copy.deepcopy(self.meta))
                self.version = commit_metadata(self.location, meta, self.version)
                self.meta = meta
                return meta
            except CommitConflict:
                self.refresh()
                time.sleep(random.uniform(0, 0.02 * min(attempt + 1, 5)))
        raise CommitConflict(
            f"gave up after {self._COMMIT_RETRIES} retries: {self.location}"
        )

    def _commit_write(self, write, branch: str = "main", moved=None) -> TableMetadata:
        """Commit one snapshot-producing op under the stage / re-base /
        restart contract in tables/metadata.py.

        ``write(meta)`` runs the op's Spark work against ``meta`` and
        returns a :class:`_Staged`. ``moved(before, now)`` gets the
        branch head the write read and the head at commit time, and says
        whether the write must run again; a new current schema or
        partition spec always restarts it."""
        base = self.meta
        staged = write(base)

        def mutate(meta: TableMetadata) -> TableMetadata:
            nonlocal base, staged
            if _layout(meta) != _layout(base) or (
                moved is not None and moved(_head(base, branch), _head(meta, branch))
            ):
                staged.discard()
                staged = None
                # _commit hands mutate a copy of self.meta, unchanged
                base = self.meta
                staged = write(base)
            return self._snapshot(meta, staged, branch)

        try:
            return self._commit(mutate)
        except Exception:
            if staged is not None:
                staged.discard()
            raise

    # ------------------------------------------------------------------ util

    def _current_snapshot(self, ref: str = "main") -> Snapshot | None:
        return _head(self.meta, ref)

    def _spark_schema(self, ts: TableSchema) -> StructType:
        # logical V3 types map to their physical storage type: timestamp_ns
        # is an INT64 nanos column (Spark has no ns timestamp), variant is
        # the JSON source string (shredding adds typed sibling columns).
        ddl = ", ".join(f"{f.name} {_physical_type(f.type)}" for f in ts.fields)
        return StructType.fromDDL(ddl)

    def _align(
        self, df: DataFrame, ts: TableSchema, names: list[str] | None = None
    ) -> DataFrame:
        """Project/cast an incoming DataFrame to the table schema; a
        missing column takes its V3 write-default (falling back to the
        initial-default, then NULL). ``names`` binds the frame's columns
        by position to those table columns; without it they bind by name."""
        cols = []
        dtypes = dict(df.dtypes)
        source = dict(zip(names or df.columns, df.columns))
        for f in ts.fields:
            pt = _physical_type(f.type)
            if f.name in source:
                col = F.col(source[f.name])
                if f.type == "timestamp_ns" and dtypes.get(source[f.name], "").startswith(
                    "timestamp"
                ):
                    # a plain cast timestamp→bigint yields SECONDS —
                    # silently destroying sub-second precision; convert
                    # through microseconds to the nanos physical value
                    col = F.unix_micros(col.cast("timestamp")) * F.lit(1000)
                cols.append(col.cast(pt).alias(f.name))
            else:
                dflt = f.write_default if f.write_default is not None else f.initial_default
                cols.append(F.lit(dflt).cast(pt).alias(f.name))
        return df.select(*cols)

    # ---------------------------------------------------------------- writes

    def _infer_variant_shred_schemas(
        self, out: DataFrame, vcols: list[str]
    ) -> dict[str, str]:
        """Shred-schema DDL per variant column from ONE bounded-sample job
        covering every column at once: up to _VARIANT_SAMPLE_ROWS rows
        (filtered to rows where at least one variant column is non-null)
        are collected, their JSON shapes parsed driver-side and merged to
        the superset schema (struct fields union, long+double → double —
        _merge_json_type). Columns whose merged shape is scalar are not
        shreddable (from_json needs struct/array) and are skipped, as are
        columns with no parseable sample."""
        import json as _json  # noqa: PLC0415

        cond = None
        for c in vcols:
            p = F.col(c).isNotNull()
            cond = p if cond is None else (cond | p)
        rows = out.select(*vcols).filter(cond).limit(_VARIANT_SAMPLE_ROWS).collect()
        result: dict[str, str] = {}
        for c in vcols:
            merged: T.DataType = T.NullType()
            for r in rows:
                if r[c] is None:
                    continue
                try:
                    merged = _merge_json_type(merged, _py_json_type(_json.loads(r[c])))
                except ValueError:
                    continue
            if isinstance(merged, (T.StructType, T.ArrayType)):
                result[c] = _strip_null_leaves(merged).simpleString()
        return result

    def _write_data_files(
        self, df: DataFrame, staged: _Staged, order: list | None = None, files: int | None = None
    ) -> None:
        """Write df as parquet data files in the current schema and add
        their entries, with footer stats, to ``staged``. Inferred
        variant-shred schemas go to ``staged.properties`` so they ride
        the same commit.

        Every data file IceLite writes is laid out here, in the one
        required ordering of Iceberg's Spark writer: partition columns
        first, then the table sort order. ``write.distribution-mode``
        distributes the rows (``hash``: by the partition columns;
        ``range``: by the partition columns plus the order; ``none``: as
        they come), and each task sorts them by partition columns, then
        order, so Spark's planned write adds no partition sort of its own
        that would drop the order. ``rewrite_data_files`` overrides the
        layout: ``order`` (sort-order Columns) replaces the table order
        and range-distributes on the order alone into ``files`` tasks, so
        within each partition every file covers a disjoint key range;
        ``files`` alone coalesces into that many tasks (binpack, no
        shuffle)."""
        mode = str(self.meta.properties.get("write.distribution-mode", "none")).lower()
        if mode not in ("none", "hash", "range"):
            raise ValueError(f"bad write.distribution-mode: {mode!r}")
        schema_id = self.meta.current_schema_id
        ts = self.meta.schema_by_id(schema_id)
        out = self._align(df, ts)
        # V3 shredded VARIANT (write.parquet.variant-shredding.enabled,
        # iceberg_feature_tests.py:1342-1348): materialize a typed sibling
        # column per variant field so engines can project/push down typed
        # paths without re-parsing JSON. The shred schema is inferred once
        # from a bounded multi-row sample (superset shape across rows, ONE
        # extra job for all variant columns together), cached in table
        # properties, and only re-inferred when absent; the shredding
        # itself runs JVM-side. Readers project by the table field list,
        # so the sibling column is invisible to normal scans.
        if (
            self.format_version >= 3
            and str(
                self.meta.properties.get("write.parquet.variant-shredding.enabled", "")
            ).lower()
            == "true"
        ):
            props = self.meta.properties
            # cache keyed by FIELD ID, not name: a dropped-then-recreated
            # (or renamed-onto) variant column must never inherit the old
            # column's shred schema — the same id-resolution rule the
            # equality-delete and identifier-field paths follow
            vfields = [f_ for f_ in ts.fields if f_.type == "variant"]
            fid = {f_.name: f_.id for f_ in vfields}
            shred = {
                f_.name: props[_VARIANT_SCHEMA_PROP + str(f_.id)]
                for f_ in vfields
                if _VARIANT_SCHEMA_PROP + str(f_.id) in props
            }
            missing = [f_.name for f_ in vfields if f_.name not in shred]
            if missing:
                inferred = self._infer_variant_shred_schemas(out, missing)
                shred.update(inferred)
                for c, ddl in inferred.items():
                    staged.properties[_VARIANT_SCHEMA_PROP + str(fid[c])] = ddl
            for c, ddl in shred.items():
                out = out.withColumn(
                    f"{c}__typed_value", F.from_json(F.col(c), ddl)
                )
        commit_dir = os.path.join(self.location, "data", f"c-{uuid.uuid4().hex[:12]}")
        transforms = self._transforms()
        dtypes = dict(out.dtypes)
        # bloom-filter write properties (iceberg_feature_tests.py:1087-1094):
        # write.parquet.bloom-filter-enabled.column.<col>=true → the parquet
        # writer's per-column bloom option. Like the reference notes
        # (flink_feature_tests.py:1620-1626), presence isn't observable from
        # SQL — the option is honored at the file level.
        bloom_opts = {
            f"parquet.bloom.filter.enabled#{prop.rsplit('.', 1)[1]}": "true"
            for prop, val in self.meta.properties.items()
            if prop.startswith("write.parquet.bloom-filter-enabled.column.")
            and str(val).lower() == "true"
        }
        # identity transforms partition on an aliased copy (__p_<col>):
        # partitionBy strips the partition column from the data files,
        # and the source column must survive in the data.
        pcols = {
            (f"__p_{t.source}" if t.kind == "identity" else t.field_name): t.apply_typed(
                dtypes[t.source]
            )
            for t in transforms
        }
        keys = list(pcols)
        if pcols:
            out = out.withColumns(pcols)
        if order is not None:
            out = out.repartitionByRange(files, *order)
        else:
            order = _sort_columns(
                f for f in self.sort_order_fields() if f["column"] in dtypes
            )
            if files:
                out = out.coalesce(files)
            elif mode == "range" and (keys or order):
                out = out.repartitionByRange(*keys, *order)
            elif mode == "hash" and keys:
                out = out.repartition(*keys)
        if order:
            out = out.sortWithinPartitions(*keys, *order)
        writer = out.write.options(**bloom_opts)
        (writer.partitionBy(*keys) if keys else writer).parquet(commit_dir)

        paths = []
        for root, _dirs, names in os.walk(commit_dir):
            for n in names:
                if n.endswith(".parquet"):
                    paths.append(os.path.join(root, n))
        stats = _collect_file_stats(self.spark, paths)
        entries = []
        for p in sorted(paths):
            st = stats[p]
            if st["rows"] == 0:
                # Iceberg never commits empty data files; drop the part
                # files Spark's empty input partitions produce.
                os.remove(p)
                continue
            partition = _partition_from_path(os.path.relpath(p, commit_dir))
            entries.append(
                DataFileEntry(
                    path=p,
                    record_count=st["rows"],
                    partition=partition,
                    schema_id=schema_id,
                    file_size_bytes=st["size"],
                    lower_bounds=st["lower"],
                    upper_bounds=st["upper"],
                    null_counts=st["nulls"],
                    value_counts=st["values"],
                )
            )
        if entries:
            staged.data_files += entries
            staged.reclaim.append(commit_dir)
        else:
            shutil.rmtree(commit_dir, ignore_errors=True)

    def _write_delete_file(
        self, df: DataFrame, content: int, staged: _Staged, equality_columns=()
    ) -> DeleteFileEntry | None:
        """Write ``df`` as one delete file, add it to ``staged`` and
        return it. Returns None, and leaves no file, when ``df`` has no
        rows: Iceberg never commits an empty delete file, and each one
        would add a no-op join to every later read."""
        by_name = {f.name: f.id for f in self.meta.current_schema.fields}
        unknown = [c for c in equality_columns if c not in by_name]
        if unknown:
            raise ValueError(
                f"equality delete key column(s) {unknown} not in the current "
                f"schema — refusing to write a delete file whose equality_ids "
                f"would not cover its key columns"
            )
        equality_ids = [by_name[c] for c in equality_columns]
        ddir = os.path.join(self.location, "deletes")
        name = f"delete-{uuid.uuid4().hex[:12]}"
        path = os.path.join(ddir, name)
        df.coalesce(1).write.parquet(path)
        files = [
            os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
        ]
        stats = _collect_file_stats(self.spark, files)
        rows = sum(s["rows"] for s in stats.values())
        if rows == 0:
            shutil.rmtree(path, ignore_errors=True)
            return None
        # V3 MoR position deletes are deletion vectors in Puffin files in
        # real Iceberg (iceberg_feature_tests.py:1533-1537); IceLite emits
        # one consolidated parquet per commit and tags it PUFFIN to model
        # the same observable.
        fmt = "PUFFIN" if (content == 1 and self.format_version >= 3) else "PARQUET"
        entry = DeleteFileEntry(
            path=path,
            content=content,
            record_count=rows,
            file_format=fmt,
            equality_columns=list(equality_columns),
            equality_ids=equality_ids,
        )
        staged.delete_files.append(entry)
        staged.reclaim.append(path)
        return entry

    def _snapshot(
        self, meta: TableMetadata, staged: _Staged, branch: str = "main"
    ) -> TableMetadata:
        """Apply ``staged`` to ``branch``'s head in ``meta`` as one new
        snapshot: drop the files it replaces, add its entries stamped
        with the new sequence number, and merge its property updates.
        The only place that assigns sequence numbers and V3 row ids."""
        existing = meta.refs.get(branch)
        if existing is not None and existing.type == "tag":
            raise ValueError(f"cannot write to tag {branch!r}")
        parent = _head(meta, branch)
        prev_data = parent.data_files if parent else []
        live = {_file_uri(f.path) for f in prev_data}
        dup = [f.path for f in staged.data_files if _file_uri(f.path) in live]
        if dup:
            raise ValueError(f"{branch!r} already references files: {dup[:3]}")
        meta.last_sequence_number += 1
        seq = meta.last_sequence_number
        kept = [f for f in prev_data if _file_uri(f.path) not in staged.replaces]
        added = [replace(f, sequence_number=seq) for f in staged.data_files]
        data_files = kept + added
        delete_files = [
            d
            for d in (parent.delete_files if parent else [])
            if _file_uri(d.path) not in staged.replaces
        ] + [replace(d, sequence_number=seq) for d in staged.delete_files]
        for k, v in staged.properties.items():
            meta.properties.setdefault(k, v)
        sid = meta.new_snapshot_id()
        meta.last_snapshot_id = sid
        if meta.format_version >= 3:
            # V3 row lineage: newly committed files get a first_row_id;
            # rows read back first_row_id + position. Files carried over
            # from the parent keep theirs.
            for f in data_files:
                if f.first_row_id is None:
                    f.first_row_id = meta.next_row_id
                    meta.next_row_id += f.record_count
        summary = {
            "operation": staged.operation,
            "added-data-files": len(added),
            "deleted-data-files": len(prev_data) - len(kept),
            "added-records": sum(f.record_count for f in added),
            "total-records": sum(f.record_count for f in data_files),
            "total-data-files": len(data_files),
            "total-delete-files": len(delete_files),
            "total-position-deletes": sum(
                d.record_count for d in delete_files if d.content == 1
            ),
            "total-equality-deletes": sum(
                d.record_count for d in delete_files if d.content == 2
            ),
        }
        summary.update(staged.summary)
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent.snapshot_id if parent else None,
            sequence_number=seq,
            timestamp_ms=_now_ms(),
            operation=staged.operation,
            data_files=data_files,
            delete_files=delete_files,
            summary=summary,
            schema_id=meta.current_schema_id,
        )
        meta.snapshots.append(snap)
        meta.refs[branch] = Ref(snapshot_id=sid, type="branch")
        return meta

    def append(
        self,
        df: DataFrame,
        branch: str = "main",
        extra_summary: dict | None = None,
    ) -> None:
        """Append-only write → one new snapshot (one commit per write, the
        invariant the reference's streaming tests count on).
        ``extra_summary`` rides along in the same atomic commit — the
        streaming sink stores its epoch bookkeeping there so a crash
        between "write" and "record batch id" is impossible."""

        def write(meta: TableMetadata) -> _Staged:
            staged = _Staged("append", summary=dict(extra_summary or {}))
            self._write_data_files(df, staged)
            return staged

        self._commit_write(write, branch)

    def add_files(self, paths: list[str], branch: str = "main") -> int:
        """Iceberg's ``add_files`` procedure shape: adopt EXISTING parquet
        files as data files WITHOUT rewriting — the manifest entries point
        at the files in place, so a foreign writer's output (DuckDB, a
        bulk loader) becomes table data with a metadata-only commit. The
        inverse of tables/interop.py's export direction.

        Scope guards, loudly enforced: unpartitioned tables only (adopted
        files carry no partition values); every file must share at least
        one column with the current schema (missing columns read as NULL
        through the schema'd scan, extra columns are ignored); a path
        already referenced by the head snapshot is rejected (Iceberg's
        duplicate check). Returns the number of files adopted; zero-row
        files are skipped but never deleted — they aren't ours.
        """
        import pyarrow.parquet as pq  # noqa: PLC0415

        if self._transforms():
            raise ValueError(
                "add_files supports unpartitioned tables only (adopted "
                "files carry no partition values)"
            )
        resolved: list[str] = []
        for p in paths:
            if os.path.isdir(p):
                resolved.extend(
                    sorted(
                        os.path.join(root, n)
                        for root, _d, names in os.walk(p)
                        for n in names
                        if n.endswith(".parquet")
                    )
                )
            else:
                resolved.append(p)
        if not resolved:
            raise ValueError("add_files: no parquet files at the given paths")
        # intra-call dedupe (a directory expansion can overlap an explicit
        # file): adopting the same file twice would silently double every
        # row it contains on all subsequent scans
        seen: set[str] = set()
        resolved = [
            p for p in resolved
            if not (_file_uri(p) in seen or seen.add(_file_uri(p)))
        ]
        current_cols = set(self.meta.current_schema.names())
        for p in resolved:
            cols = set(pq.read_schema(p).names)
            if not (cols & current_cols):
                raise ValueError(
                    f"add_files: {p} shares no columns with the table "
                    f"schema {sorted(current_cols)}"
                )
        stats = _collect_file_stats(self.spark, resolved)
        adopted = [p for p in resolved if stats[p]["rows"] > 0]

        def write(meta: TableMetadata) -> _Staged:
            # no reclaim: the adopted files are not ours to delete
            entries = [
                DataFileEntry(
                    path=p,
                    record_count=stats[p]["rows"],
                    schema_id=meta.current_schema_id,
                    file_size_bytes=stats[p]["size"],
                    lower_bounds=stats[p]["lower"],
                    upper_bounds=stats[p]["upper"],
                    null_counts=stats[p]["nulls"],
                    value_counts=stats[p]["values"],
                )
                for p in adopted
            ]
            return _Staged(
                "append",
                data_files=entries,
                summary={"added-files-via-add-files": len(entries)},
            )

        self._commit_write(write, branch)
        return len(adopted)

    def append_arrow(self, arrow_table, branch: str = "main") -> None:
        """Append a pyarrow Table (PyIceberg's ``tbl.append(pa.table)``
        surface, /root/reference/tests/pyiceberg_feature_tests.py:155-158).
        Arrow → DataFrame conversion is zero-copy batch transfer."""
        self.append(self.spark.createDataFrame(arrow_table), branch=branch)

    def to_arrow(self, **read_kwargs):
        """Scan to a pyarrow Table (``tbl.scan().to_arrow()`` parity)."""
        return self.df(**read_kwargs).toArrow()

    def scan(
        self,
        row_filter: str | None = None,
        selected_fields=None,
        limit: int | None = None,
        **read_kwargs,
    ) -> "TableScan":
        """PyIceberg's scan shape, literally — the reference calls
        ``tbl.scan(...).to_arrow()`` throughout its PyIceberg suite
        (pyiceberg_feature_tests.py:157-158,495 with snapshot_id).
        ``row_filter`` is a SQL predicate string; time-travel kwargs
        (snapshot_id / as_of_timestamp_ms / ref) pass through to df()."""
        df = self.df(**read_kwargs)
        if row_filter:
            df = df.filter(row_filter)
        if selected_fields:
            df = df.select(*selected_fields)
        if limit is not None:
            df = df.limit(limit)
        return TableScan(df)

    def overwrite(self, df: DataFrame, branch: str = "main") -> None:
        """Full-table INSERT OVERWRITE (flink suite :640,892)."""

        def write(meta: TableMetadata) -> _Staged:
            parent = _head(meta, branch)
            staged = _Staged(
                "overwrite",
                replaces={
                    _file_uri(f.path)
                    for f in (parent.data_files + parent.delete_files if parent else [])
                },
            )
            self._write_data_files(df, staged)
            return staged

        self._commit_write(write, branch, _new_head)

    # ----------------------------------------------------------------- reads

    def df(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str = "main",
        filters: list[tuple] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Snapshot read (time travel via snapshot_id / timestamp / ref —
        the VERSION AS OF / TIMESTAMP AS OF / branch_x surface).

        ``with_lineage=True`` (V3 only) appends the hidden row-lineage
        columns ``_row_id`` and ``_last_updated_sequence_number``
        (iceberg_feature_tests.py:1483-1487)."""
        plan = plan_scan(self.meta, snapshot_id, as_of_timestamp_ms, ref, filters)
        if not with_lineage:
            return self._read_plan(plan)
        if self.format_version < 3:
            raise ValueError("row lineage requires format-version 3")
        out = self._read_plan(plan, with_meta=True, with_seq=True)
        fr_map = local_df(
            self.spark,
            [(_file_uri(f.path), f.first_row_id) for f in plan.files]
            or [("", None)],
            f"{META_FILE} string, __first_row_id long",
        )
        return (
            out.join(F.broadcast(fr_map), META_FILE, "left")
            .withColumn("_row_id", F.col("__first_row_id") + F.col(META_POS))
            .withColumn("_last_updated_sequence_number", F.col(META_SEQ))
            .drop(META_FILE, META_POS, META_SEQ, "__first_row_id")
        )

    def read_incremental(self, start_snapshot_id: int, end_snapshot_id: int) -> DataFrame:
        """Append-only incremental read of rows added in (start, end] —
        Spark's start-snapshot-id/end-snapshot-id options (flink's
        start-tag/end-tag hints, :1208-1211).

        The range must contain only appends, and that is VALIDATED:
        a CoW rewrite inside the range re-sequences pre-existing
        surviving rows, which would surface as "newly added" — Iceberg
        likewise raises on non-append snapshots in an incremental scan.
        Use :meth:`snapshot_changes` for ranges with row-level changes."""
        start = self.meta.snapshot_by_id(start_snapshot_id)
        end = self.meta.snapshot_by_id(end_snapshot_id)
        lo, hi = start.sequence_number, end.sequence_number
        non_append = [
            s.operation
            for s in self.meta.snapshots
            if lo < s.sequence_number <= hi and s.operation != "append"
        ]
        if non_append:
            raise ValueError(
                f"incremental read range contains non-append operation(s) "
                f"{sorted(set(non_append))}; rewritten files would surface "
                f"old rows as new — use snapshot_changes for CDC"
            )
        plan = plan_snapshot(self.meta, end)
        files = [f for f in plan.files if lo < f.sequence_number <= hi]
        return self._read_plan(
            replace(plan, files=files, position_deletes=[], equality_deletes=[])
        )

    def snapshot_changes(
        self, start_snapshot_id: int, end_snapshot_id: int
    ) -> DataFrame:
        """CDC changelog between two snapshots: the table rows plus a
        ``_change_type`` column ('insert' | 'delete') — Iceberg's
        create_changelog_view shape, expressed Spark-first as a MULTISET
        state diff: inserts = state@end ∖ state@start, deletes =
        state@start ∖ state@end (``exceptAll``, so duplicate rows diff by
        multiplicity). Works across any operation mix — appends, CoW/MoR
        DELETE/UPDATE, MERGE — because it diffs materialized states
        rather than replaying operation metadata; an UPDATE surfaces as
        its delete+insert pair. Scale: two MoR-resolved scans + two
        hash-distinct-style shuffles on the full row, the same cost
        class as the DISTINCT the diff semantics require."""
        # both states project to the CURRENT schema (not each snapshot's
        # own, as time travel now does): the diff needs ONE row shape,
        # and a changelog feeds a replica of the current table
        before = self._read_snapshot(self.meta.snapshot_by_id(start_snapshot_id))
        after = self._read_snapshot(self.meta.snapshot_by_id(end_snapshot_id))
        return after.exceptAll(before).withColumn(
            "_change_type", F.lit("insert")
        ).unionAll(
            before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
        )

    def _prune_files(
        self, files: list[DataFileEntry], filters: list[tuple]
    ) -> list[DataFileEntry]:
        return prune_files(files, filters, *pruning_spec(self.meta))

    def _read_snapshot(self, snap: Snapshot | None, with_meta: bool = False) -> DataFrame:
        """The live rows of ``snap`` in the current schema."""
        return self._read_plan(plan_snapshot(self.meta, snap), with_meta)

    def _read_plan(
        self, plan: ScanPlan, with_meta: bool = False, with_seq: bool = False
    ) -> DataFrame:
        """The plan's live rows: data files minus position and equality
        deletes, filtered by the plan's filters. ``with_meta`` adds each
        row's ``__file`` and ``__pos`` (DML finds the rows it rewrites or
        deletes by them); ``with_seq`` adds its file's ``__seq`` (row
        lineage).

        This is the one place that picks the executor. A plan whose data
        files add up to at most ``_ARROW_SCAN_BYTES`` (256 KB: above it a
        full scan costs more CPU in Arrow than on Spark) runs
        in-process in Arrow (``execute_scan``, the batch source's
        executor). The rows reach Spark as a ``LocalRelation``, so a
        filter folds into it and ``collect`` runs no job; a ``with_meta``
        read keeps ``local_df``'s one slice, so a write from it runs one
        task. A read collected to the driver is what a broadcast is, so
        ``spark.sql.autoBroadcastJoinThreshold`` bounds it too: a lower
        threshold lowers the cut-off and -1 turns the Arrow path off. A
        larger plan, a plan with an entry of unknown size (0 bytes) or
        with a column type Arrow cannot represent run as a Spark parquet
        scan (:meth:`_scan_with_spark`)."""
        # the batch source imports tables.scan, whose package imports this module
        from iceberg_matrix_spark.sources.batch_source import (  # noqa: PLC0415
            arrow_readable,
            execute_scan,
        )

        broadcast = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        limit = min(broadcast, _ARROW_SCAN_BYTES)
        sizes = [f.file_size_bytes for f in plan.files]
        if all(sizes) and sum(sizes) <= limit and arrow_readable(plan.schema):
            struct = self._spark_schema(plan.schema)
            if with_meta:
                struct = struct.add(META_FILE, "string").add(META_POS, "long")
            if with_seq:
                struct = struct.add(META_SEQ, "long")
            rows = execute_scan(with_time_zone(plan, _time_zone(self.spark)), with_meta, with_seq)
            df = self.spark.createDataFrame(rows, struct)
            if with_meta:
                df = df.coalesce(1)
        else:
            df = self._scan_with_spark(plan, with_meta, with_seq)
        for col, op, val in plan.filters:
            df = df.filter(F.expr(f"{col} {'==' if op == '=' else op} {_sql_lit(val)}"))
        return df

    def _scan_with_spark(self, plan: ScanPlan, with_meta: bool, with_seq: bool) -> DataFrame:
        """:meth:`_read_plan` on Spark executors. A plain read scans the
        data files and nothing else. The file and position columns come
        from the parquet ``_metadata`` column and are attached only when
        the plan has a position or equality delete or the caller asks for
        them; the sequence-number join only when the plan has an equality
        delete or the caller asks for it. Columns the caller did not ask
        for are dropped before returning."""
        need_seq = with_seq or bool(plan.equality_deletes)
        need_meta = with_meta or need_seq or bool(plan.position_deletes)
        df = self._read_files(plan, need_meta, need_seq)

        if plan.position_deletes:
            dels = (
                self.spark.read.schema(_POS_DELETE_SCHEMA)
                .parquet(*[d.path for d in plan.position_deletes])
                .select(F.col("file_path").alias(META_FILE), F.col("pos").alias(META_POS))
            )
            df = df.join(F.broadcast(dels), [META_FILE, META_POS], "left_anti")

        for d in plan.equality_deletes:
            # rows older than the delete whose keys match null-safely
            keys = self.spark.read.parquet(d.path).select(*d.file_cols).toDF(*d.key_cols)
            cond = None
            for c in d.key_cols:
                piece = F.col(f"__eqdata.{c}").eqNullSafe(F.col(f"__eqdel.{c}"))
                cond = piece if cond is None else (cond & piece)
            doomed = (
                df.filter(F.col(META_SEQ) < F.lit(d.sequence_number))
                .alias("__eqdata")
                .join(F.broadcast(keys.alias("__eqdel")), cond, "left_semi")
                .select(META_FILE, META_POS)
            )
            df = df.join(doomed, [META_FILE, META_POS], "left_anti")

        if need_seq and not with_seq:
            df = df.drop(META_SEQ)
        if need_meta and not with_meta:
            df = df.drop(META_FILE, META_POS)
        return df

    def _read_files(
        self, plan: ScanPlan, with_meta: bool, with_seq: bool = False
    ) -> DataFrame:
        """Read the plan's data files through their projections, without
        deletes, as a Spark parquet scan. ``with_meta`` adds each row's
        file and position; ``with_seq`` (which needs ``with_meta``) adds
        its file's sequence number."""
        if not plan.files:
            base = self.spark.createDataFrame([], self._spark_schema(plan.schema))
            if with_meta:
                base = base.withColumns(
                    {
                        META_FILE: F.lit(None).cast("string"),
                        META_POS: F.lit(None).cast("long"),
                    }
                )
            if with_seq:
                base = base.withColumn(META_SEQ, F.lit(None).cast("long"))
            return base

        by_schema: dict[int, list[DataFileEntry]] = {}
        for f in plan.files:
            by_schema.setdefault(f.schema_id, []).append(f)

        parts = []
        for schema_id, group in by_schema.items():
            file_schema = self.meta.schema_by_id(schema_id)
            reader = self.spark.read.schema(self._spark_schema(file_schema))
            raw = reader.parquet(*[f.path for f in group])
            cols = [
                (F.col(c.source) if c.source is not None else F.lit(c.default))
                .cast(c.type)
                .alias(c.name)
                for c in plan.projections[schema_id]
            ]
            if with_meta:
                cols += [
                    F.col("_metadata.file_path").alias(META_FILE),
                    F.col("_metadata.row_index").alias(META_POS),
                ]
            parts.append(raw.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if with_seq:
            seq_map = local_df(
                self.spark,
                [(_file_uri(f.path), f.sequence_number) for f in plan.files],
                f"{META_FILE} string, {META_SEQ} long",
            )
            out = out.join(F.broadcast(seq_map), META_FILE, "left")
        return out

    # ------------------------------------------------------------------- DML

    def _dml_mode(self, op: str) -> str:
        return self.meta.properties.get(f"write.{op}.mode", "copy-on-write")

    def _row_level(self, op, branch, mode, target, clauses, victims=None) -> None:
        """The one row-level write behind delete, update and merge, in the
        shape of Spark's ReplaceData (copy-on-write) and WriteDelta
        (merge-on-read) plans. ``op`` names the snapshot operation.

        ``target(live)`` turns the branch head's live rows, which carry
        ``__file`` and ``__pos``, into the frame the clauses run over: the
        target row's columns under alias ``t`` and, for merge, the source
        row's under ``s``. A row whose ``t.__file`` is NULL has no target
        row.

        ``clauses`` is an ordered list of ``(condition, action)``. Each
        row takes the first clause whose SQL condition is TRUE (NULL is
        not TRUE; a None condition always holds), Spark's first-match-wins
        rule for ``WHEN ... AND``. Actions:

        - ``("delete",)`` drops the target row;
        - ``("update", {col: expr})`` sets the named columns of the target
          row, the others keep their value;
        - ``("insert", {col: expr})`` writes a new row with the named
          columns set, the others NULL.

        A row that no clause takes keeps its target row unchanged, or
        vanishes if it has none. SET and insert columns resolve against
        the current schema case-insensitively, as in Spark; an unknown
        column or a column named twice raises ValueError before any Spark
        job runs.

        ``merge-on-read`` writes one position-delete file covering every
        target row a clause took, plus the updated and inserted rows.
        ``copy-on-write`` rewrites the files holding those rows:
        ``victims(frame, parent)`` names them (by default the distinct
        ``__file`` of the taken rows), and the rewrite reads only those
        files. An unknown branch raises ValueError; a branch with no
        snapshot and no insert clause commits nothing."""
        if branch != "main" and branch not in self.meta.refs:
            raise ValueError(f"unknown branch {branch!r}")
        if self._current_snapshot(branch) is None and not any(
            a[0] == "insert" for _c, a in clauses
        ):
            return

        def write(meta: TableMetadata) -> _Staged:
            names = meta.current_schema.names()
            resolved = _resolve_clauses(names, clauses)
            drop = [i for i, (_c, kind, _e) in enumerate(resolved) if kind == "delete"]
            ins = [i for i, (_c, kind, _e) in enumerate(resolved) if kind == "insert"]
            act = " ".join(
                f"WHEN {'true' if c is None else f'({c})'} THEN {i}"
                for i, (c, _k, _e) in enumerate(resolved)
            )
            act = F.expr(f"CASE {act} ELSE -1 END" if act else "-1")

            def acted(live: DataFrame) -> DataFrame:
                return target(live).withColumn("__act", act)

            has_t = F.col(f"t.{META_FILE}").isNotNull()
            took = has_t & (F.col("__act") >= 0)
            keep = (has_t & ~F.col("__act").isin(drop)) | F.col("__act").isin(ins)
            outputs = [_project(c, resolved) for c in names]

            parent = _head(meta, branch)
            frame = acted(self._read_snapshot(parent, with_meta=True))
            staged = _Staged(op)
            if mode == "merge-on-read":
                dels = frame.filter(took).select(
                    F.col(f"t.{META_FILE}").alias("file_path"),
                    F.col(f"t.{META_POS}").alias("pos"),
                )
                entry = self._write_delete_file(dels, 1, staged)
                if entry is not None:
                    staged.summary["added-position-deletes"] = entry.record_count
                # rows to write exist only if a clause writes rows and
                # either took a target row or inserts
                if len(drop) < len(resolved) and (entry is not None or ins):
                    rows = frame.filter(keep & (F.col("__act") >= 0))
                    self._write_data_files(rows.selectExpr(*outputs), staged)
                return staged
            if victims is not None:
                staged.replaces = victims(frame, parent)
            else:
                taken = frame.filter(took).select(f"t.{META_FILE}").distinct()
                staged.replaces = {r[0] for r in taken.collect()}
            if staged.replaces or ins:
                if parent is not None and len(staged.replaces) < len(parent.data_files):
                    # every target row a clause takes, and every target
                    # row a source row matches, lives in a victim file, so
                    # a read of those files alone gives each row the same
                    # clause (and finds the same unmatched source rows)
                    scoped = [
                        f for f in parent.data_files if _file_uri(f.path) in staged.replaces
                    ]
                    frame = acted(
                        self._read_snapshot(replace(parent, data_files=scoped), with_meta=True)
                    )
                self._write_data_files(frame.filter(keep).selectExpr(*outputs), staged)
            return staged

        self._commit_write(write, branch, _new_head)

    def delete(
        self,
        where: str | None = None,
        branch: str = "main",
        delete_filter: str | None = None,
    ) -> None:
        """DELETE FROM ... WHERE (iceberg_feature_tests.py:516): the row-
        level write ``[(where, ("delete",))]`` in ``write.delete.mode``
        (see :meth:`_row_level`). Copy-on-write rewrites only the files
        containing matches (:553-585, :667-680); merge-on-read writes one
        position-delete file (PUFFIN-tagged on V3).

        ``delete_filter`` is PyIceberg's keyword for the same predicate —
        the reference calls ``tbl.delete(delete_filter="id == 2")``
        (pyiceberg_feature_tests.py:214); ``==`` is valid Spark SQL so
        the string passes through unchanged."""
        if where is None:
            where = delete_filter
        if where is None:
            raise ValueError("delete needs a predicate (where= or delete_filter=)")
        clauses = [(where, ("delete",))]
        self._row_level("delete", branch, self._dml_mode("delete"), _as_target, clauses)

    def update(self, set_exprs: dict[str, str], where: str = "true", branch: str = "main") -> None:
        """UPDATE ... SET ... WHERE (iceberg_feature_tests.py:512): the
        row-level write ``[(where, ("update", set_exprs))]`` in
        ``write.update.mode`` (see :meth:`_row_level`)."""
        clauses = [(where, ("update", set_exprs))]
        self._row_level("overwrite", branch, self._dml_mode("update"), _as_target, clauses)

    def merge(
        self,
        source: DataFrame,
        on: str,
        matched_update: dict[str, str] | None = None,
        matched_delete: bool = False,
        branch: str = "main",
        matched_clauses: list[tuple[str | None, tuple]] | None = None,
        not_matched_clauses: list[tuple[str | None, tuple]] | None = None,
        not_matched_by_source_clauses: list[tuple[str | None, tuple]] | None = None,
    ) -> None:
        """MERGE INTO t USING s ON <cond> (iceberg_feature_tests.py:525-529):
        a copy-on-write row-level write over the full outer join of
        target and source, the join Spark plans (see :meth:`_row_level`).

        ``on`` and every clause reference the target as ``t`` and the
        source as ``s``. Each clause family is an ordered ``(condition |
        None, action)`` list. ``matched_clauses`` and
        ``not_matched_by_source_clauses`` take ``("update", {col: expr})``
        or ``("delete",)``; the legacy ``matched_update`` /
        ``matched_delete`` kwargs are the unconditional one-clause case.
        ``not_matched_clauses`` (NOT MATCHED [BY TARGET]) take ``("insert",
        {col: expr})`` or ``("insert", "*")``, which inserts every source
        column the table has by name; the default is one unconditional
        INSERT *, and ``[]`` inserts nothing. A target row matching more
        than one source row raises ValueError, as in Iceberg."""
        if matched_clauses is None:
            matched_clauses = []
            if matched_delete:
                matched_clauses.append((None, ("delete",)))
            elif matched_update is not None:
                matched_clauses.append((None, ("update", matched_update)))
        nmbs_clauses = not_matched_by_source_clauses or []
        if not_matched_clauses is None:
            not_matched_clauses = [(None, ("insert", "*"))]
        table_cols = {n.lower() for n in self.meta.current_schema.names()}
        star = {c: f"s.{_quote(c)}" for c in source.columns if c.lower() in table_cols}
        not_matched_clauses = [
            (cond, ("insert", star) if action == ("insert", "*") else action)
            for cond, action in not_matched_clauses
        ]
        t_in = f"t.{META_FILE} IS NOT NULL"
        s_in = "s.__s_present IS NOT NULL"
        families = [
            (f"{t_in} AND {s_in}", matched_clauses),
            (f"{t_in} AND s.__s_present IS NULL", nmbs_clauses),
            (f"t.{META_FILE} IS NULL AND {s_in}", not_matched_clauses),
        ]
        # the families are disjoint, so one ordered list keeps each one's order
        clauses = [
            (mark if cond is None else f"{mark} AND ({cond})", action)
            for mark, family in families
            for cond, action in family
        ]
        src = source.withColumn("__s_present", F.lit(1))

        def target(live: DataFrame) -> DataFrame:
            return live.alias("t").join(src.alias("s"), F.expr(on), "full_outer")

        def victims(joined: DataFrame, parent: Snapshot | None) -> set[str]:
            # Pass 1 (narrow): match count per target row (file, pos),
            # for both the cardinality check and the victim files.
            # Catalyst prunes the join inputs to the `on` keys and the
            # meta columns, so this pass never shuffles the payload.
            match_stats = (
                joined.filter(f"{t_in} AND {s_in}")
                .groupBy(
                    F.col(f"t.{META_FILE}").alias("__f"),
                    F.col(f"t.{META_POS}").alias("__p"),
                )
                .agg(F.count(F.lit(1)).alias("__n"))
                .groupBy("__f")
                .agg(F.max("__n").alias("__max_n"))
                .collect()
            )
            if any(r["__max_n"] > 1 for r in match_stats):
                raise ValueError(
                    "MERGE cardinality violation: a target row matches more "
                    "than one source row (Iceberg raises here; dedupe the "
                    "source or use upsert() for last-writer-wins)"
                )
            if nmbs_clauses and parent is not None:
                # NOT MATCHED BY SOURCE can take any target row
                return {_file_uri(f.path) for f in parent.data_files}
            return {r["__f"] for r in match_stats}

        self._row_level("merge", branch, "copy-on-write", target, clauses, victims)

    def set_identifier_fields(self, columns: list[str]) -> None:
        """ALTER TABLE ... SET IDENTIFIER FIELDS — declare the row-identity
        key (Iceberg schema identifier-field-ids). Stored as field IDS,
        so later RENAME COLUMN keeps the identity intact. ``upsert``
        defaults its key to these fields."""
        by_name = {f.name: f.id for f in self.meta.current_schema.fields}
        ids = []
        for c in columns:
            if c not in by_name:
                raise KeyError(f"identifier field not in schema: {c}")
            ids.append(by_name[c])

        def mutate(meta: TableMetadata) -> TableMetadata:
            meta.identifier_field_ids = ids
            return meta

        self._commit(mutate)

    def identifier_fields(self) -> list[str]:
        """Current NAMES of the identifier fields (resolved by ID)."""
        by_id = {f.id: f.name for f in self.meta.current_schema.fields}
        return [by_id[i] for i in self.meta.identifier_field_ids if i in by_id]

    def upsert(
        self,
        source: DataFrame,
        key_columns: list[str] | None = None,
        branch: str = "main",
        extra_summary: dict | None = None,
        order_by: str | None = None,
    ) -> None:
        """Streaming-style PK upsert via equality deletes + append in ONE
        snapshot (flink write.upsert.enabled, :764-784): new rows carry
        the same sequence number as the delete, so the equality delete
        only affects older files. ``key_columns`` defaults to the
        table's identifier fields (set_identifier_fields).

        Same-batch duplicate keys: a DataFrame has no inherent row order,
        so "last" is ill-defined without one — pass ``order_by`` (a
        column whose max identifies the winner, e.g. an event timestamp)
        for deterministic last-writer-wins; without it ONE ARBITRARY row
        per key is kept (dropDuplicates), matching what Flink's upsert
        gives only when the batch carries at most one row per key."""
        if key_columns is None:
            key_columns = self.identifier_fields()
            if not key_columns:
                raise ValueError(
                    "upsert needs key_columns or table identifier fields "
                    "(set_identifier_fields)"
                )

        def write(meta: TableMetadata) -> _Staged:
            if order_by is not None:
                w = Window.partitionBy(*key_columns).orderBy(
                    F.col(order_by).desc()
                )
                dedup = (
                    source.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                dedup = source.dropDuplicates(key_columns)
            staged = _Staged("overwrite")
            dentry = self._write_delete_file(
                dedup.select(*key_columns), 2, staged, equality_columns=key_columns
            )
            self._write_data_files(dedup, staged)
            staged.summary = {
                "added-equality-deletes": dentry.record_count if dentry else 0,
                **(extra_summary or {}),
            }
            return staged

        self._commit_write(write, branch)

    # ------------------------------------------------------- schema evolution

    def _evolve_schema(self, build) -> None:
        def mutate(meta: TableMetadata) -> TableMetadata:
            current = meta.current_schema
            new_fields = build(meta, [SchemaField(**vars(f)) for f in current.fields])
            # every evolution path (add / rename / future ones) funnels
            # through here: duplicate field names would commit fine and
            # make every later read ambiguous — reject before the commit
            # (case-insensitive, matching Spark's resolution)
            seen: set[str] = set()
            for f in new_fields:
                low = f.name.lower()
                if low in seen:
                    raise ValueError(f"duplicate column name: {f.name!r}")
                seen.add(low)
            new_schema = TableSchema(
                schema_id=current.schema_id + 1, fields=new_fields
            )
            meta.schemas.append(new_schema)
            meta.current_schema_id = new_schema.schema_id
            return meta

        self._commit(mutate)

    def add_columns(
        self, columns: dict[str, str], defaults: dict[str, object] | None = None
    ) -> None:
        """ALTER TABLE ADD COLUMNS — old rows read NULL, or the V3
        initial-default when one is given (iceberg_feature_tests.py:708-711
        and :771-776 `val STRING DEFAULT 'hello'`)."""
        self._evolve_schema(self._add_columns_op(columns, defaults))

    def _add_columns_op(
        self,
        columns: dict[str, str],
        defaults: dict[str, object] | None = None,
        required: bool = False,
    ):
        """Check ``columns`` against the format version, then return the
        schema build step that adds them."""
        if defaults and self.format_version < 3:
            raise ValueError("column DEFAULT values require format-version 3")
        for name, dtype in columns.items():
            if dtype in ("timestamp_ns", "variant", "geometry") and (
                self.format_version < 3
            ):
                # same V3 gate as CREATE (catalog.py): evolving a V3-only
                # type onto a v2 table would commit spec-invalid metadata
                raise ValueError(
                    f"type {dtype!r} requires format-version 3 (column {name!r})"
                )

        def build(meta, fields):
            for name, dtype in columns.items():
                meta.last_field_id += 1
                dflt = _stored_default(self.spark, dtype, (defaults or {}).get(name))
                fields.append(
                    SchemaField(
                        id=meta.last_field_id,
                        name=name,
                        type=dtype,
                        nullable=not required,
                        initial_default=dflt,
                        write_default=dflt,
                    )
                )
            return fields

        return build

    def rename_column(self, old: str, new: str) -> None:
        self._evolve_schema(_rename_field(old, new))

    def drop_column(self, name: str) -> None:
        self._evolve_schema(_drop_field(name))

    def alter_column_type(self, name: str, new_type: str) -> None:
        """Type widening only (int→bigint, float→double, int→double)."""
        self._evolve_schema(_widen_field(name, new_type))

    # --------------------------------------------------- partition evolution

    def _validate_partition_source(self, spec: str) -> None:
        """The transform's source column must exist NOW: a spec
        referencing a ghost column would commit fine and then brick every
        subsequent write with a raw KeyError at partition-value compute
        time (found by the ALTER fuzz, tests/test_sql_facade_properties)."""
        src = parse_transform(spec).source
        if src not in self.meta.current_schema.names():
            raise ValueError(
                f"partition transform source column not in schema: {src!r}"
            )

    def add_partition_field(self, spec: str) -> None:
        """ALTER TABLE ADD PARTITION FIELD (iceberg_feature_tests.py:968) —
        metadata-only; existing files keep their old layout."""
        self._validate_partition_source(spec)
        self._commit(_spec_change(adds=[spec]))

    def drop_partition_field(self, spec: str) -> None:
        self._commit(_spec_change(removes=[spec]))

    def replace_partition_field(self, old: str, new: str) -> None:
        """REPLACE PARTITION FIELD (redshift suite :1308-1328). The new
        spec is validated BEFORE the drop commits — otherwise a bad new
        field would leave the old one dropped and nothing added."""
        self._validate_partition_source(new)
        self.drop_partition_field(old)
        self.add_partition_field(new)

    def set_partition_fields(self, specs: list[str]) -> None:
        """Replace the ENTIRE partition spec in one metadata commit — the
        DuckDB suite's ``ALTER TABLE ... SET PARTITIONED BY (bucket(8,
        id))`` (duckdb_feature_tests.py:505). Existing files keep their
        old layout, like any spec evolution."""
        for s in specs:
            self._validate_partition_source(s)  # all validated before any commit

        def mutate(meta: TableMetadata) -> TableMetadata:
            meta.partition_spec = list(specs)
            return meta

        self._commit(mutate)

    # ------------------------------------------------------- sort order

    def replace_sort_order(self, columns: list[str]) -> None:
        """ALTER TABLE ... WRITE ORDERED BY — metadata-only commit that
        registers a new sort order and makes it the default. Columns may
        carry a direction suffix ("col desc"); default is ascending.
        Existing files keep their layout. Every later data write (append,
        overwrite, upsert, each row-level write and ``rewrite_data_files``)
        sorts each file it adds by partition columns, then this order,
        and distributes its rows by ``write.distribution-mode``."""
        fields = _sort_fields(columns, self.meta.current_schema.names())

        def mutate(meta: TableMetadata) -> TableMetadata:
            order_id = max((o["order_id"] for o in meta.sort_orders), default=0) + 1
            meta.sort_orders.append({"order_id": order_id, "fields": fields})
            meta.default_sort_order_id = order_id
            return meta

        self._commit(mutate)

    def sort_order_fields(self) -> list[dict]:
        """The default sort order's fields ([] when unsorted)."""
        if self.meta.default_sort_order_id == 0:
            return []
        for o in self.meta.sort_orders:
            if o["order_id"] == self.meta.default_sort_order_id:
                return list(o["fields"])
        return []

    # ------------------------------------------------------------- refs

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """A new branch at ``snapshot_id`` (default: main's head); an
        existing ref name raises ValueError."""
        self._commit(lambda meta: _add_ref(meta, name, "branch", snapshot_id))

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """CREATE TAG ... AS OF VERSION (iceberg_feature_tests.py:888-889);
        an existing ref name raises ValueError."""
        self._commit(lambda meta: _add_ref(meta, name, "tag", snapshot_id))

    def rollback_to_snapshot(self, snapshot_id: int) -> None:
        """Move ``main`` back to an ANCESTOR snapshot (the Iceberg
        ``rollback_to_snapshot`` procedure contract — arbitrary jumps go
        through :meth:`set_current_snapshot`). Later snapshots stay in
        metadata (and remain tag/branch-addressable) until
        ``expire_snapshots`` removes them."""

        def mutate(meta: TableMetadata) -> TableMetadata:
            meta.snapshot_by_id(snapshot_id)  # existence check
            chain = _ancestors(meta, meta.current_snapshot_id)
            if all(s.snapshot_id != snapshot_id for s in chain):
                raise ValueError(
                    f"snapshot {snapshot_id} is not an ancestor of the current "
                    "main head; use set_current_snapshot for non-linear jumps"
                )
            meta.refs["main"] = Ref(snapshot_id=snapshot_id, type="branch")
            return meta

        self._commit(mutate)

    def set_current_snapshot(self, snapshot_id: int) -> None:
        """Point ``main`` at ANY existing snapshot (Iceberg's
        ``set_current_snapshot`` procedure) — e.g. rolling forward again
        after a rollback."""

        def mutate(meta: TableMetadata) -> TableMetadata:
            meta.snapshot_by_id(snapshot_id)
            meta.refs["main"] = Ref(snapshot_id=snapshot_id, type="branch")
            return meta

        self._commit(mutate)

    def rollback_to_timestamp(self, timestamp_ms: int) -> int:
        """Move ``main`` back to the LATEST ancestor committed strictly
        before ``timestamp_ms`` (Iceberg's ``rollback_to_timestamp``
        procedure). Returns the snapshot id rolled back to."""

        def mutate(meta: TableMetadata) -> TableMetadata:
            for snap in _ancestors(meta, meta.current_snapshot_id):
                if snap.timestamp_ms < timestamp_ms:
                    meta.refs["main"] = Ref(snapshot_id=snap.snapshot_id, type="branch")
                    return meta
            raise ValueError(
                f"no ancestor of main committed before {timestamp_ms}"
            )

        return self._commit(mutate).current_snapshot_id

    def fast_forward(self, branch: str, to: str) -> tuple[int | None, int]:
        """Fast-forward ``branch`` to another ref's head (Iceberg's
        ``fast_forward`` procedure — the publish step of the
        write-audit-publish pattern: stage commits on an audit branch,
        then fast-forward main). Requires ``branch``'s head to be an
        ancestor of ``to``'s head — a true fast-forward, never a merge.
        Returns (previous_head, new_head)."""
        out: list[tuple[int | None, int]] = []

        def mutate(meta: TableMetadata) -> TableMetadata:
            to_ref = meta.refs.get(to)
            if to_ref is None:
                raise ValueError(f"unknown ref {to!r}")
            cur = meta.refs.get(branch)
            if cur is not None and cur.type != "branch":
                raise ValueError(f"{branch!r} is a {cur.type}, not a branch")
            head = cur.snapshot_id if cur is not None else None
            # ancestry check: branch head must be on to-head's parent chain
            if head is not None and all(
                s.snapshot_id != head for s in _ancestors(meta, to_ref.snapshot_id)
            ):
                raise ValueError(
                    f"cannot fast-forward {branch!r}: its head {head} is "
                    f"not an ancestor of {to!r} ({to_ref.snapshot_id})"
                )
            meta.refs[branch] = Ref(snapshot_id=to_ref.snapshot_id, type="branch")
            out.append((head, to_ref.snapshot_id))
            return meta

        self._commit(mutate)
        return out[-1]

    def cherrypick_snapshot(self, snapshot_id: int) -> int:
        """Re-apply an APPEND snapshot's added files on top of the current
        main head (Iceberg's ``cherrypick_snapshot`` — e.g. publishing one
        staged/rolled-back append without replaying history). Non-append
        snapshots are rejected, matching Iceberg's own restriction.
        Returns the new snapshot id."""

        def write(meta: TableMetadata) -> _Staged:
            src = meta.snapshot_by_id(snapshot_id)
            if src.operation != "append":
                raise ValueError(
                    f"cherrypick_snapshot supports append snapshots only; "
                    f"{snapshot_id} is {src.operation!r}"
                )
            by_id = {s.snapshot_id: s for s in meta.snapshots}
            src_parent = by_id.get(src.parent_id) if src.parent_id else None
            prev = {f.path for f in src_parent.data_files} if src_parent else set()
            # re-adding a file main already holds is rejected by _snapshot
            return _Staged(
                "append",
                data_files=[f for f in src.data_files if f.path not in prev],
                summary={"source-snapshot-id": str(snapshot_id)},
            )

        return self._commit_write(write).current_snapshot_id

    def ancestors_of(self, snapshot_id: int | None = None) -> list[tuple[int, int]]:
        """(snapshot_id, timestamp_ms) for the parent chain starting at
        ``snapshot_id`` (default: current main head), newest first —
        Iceberg's ``ancestors_of`` procedure output."""
        meta = self.meta
        sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        if sid is not None and all(s.snapshot_id != sid for s in meta.snapshots):
            raise ValueError(f"unknown snapshot {sid}")
        return [(s.snapshot_id, s.timestamp_ms) for s in _ancestors(meta, sid)]

    def drop_ref(self, name: str) -> None:
        """Remove a branch or tag; main and an unknown name raise
        ValueError."""
        self._commit(lambda meta: _remove_ref(meta, name))

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE ... SET TBLPROPERTIES (flink :994)."""

        def mutate(meta: TableMetadata) -> TableMetadata:
            meta.properties.update(props)
            return meta

        self._commit(mutate)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _head(meta: TableMetadata, ref: str = "main") -> Snapshot | None:
    r = meta.refs.get(ref)
    return meta.snapshot_by_id(r.snapshot_id) if r else None


def _add_ref(meta: TableMetadata, name: str, kind: str, snapshot_id: int | None) -> TableMetadata:
    if name in meta.refs:
        raise ValueError(f"ref {name!r} already exists")
    sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
    if sid is None:
        raise ValueError("cannot create ref on empty table")
    meta.snapshot_by_id(sid)  # existence check
    meta.refs[name] = Ref(snapshot_id=sid, type=kind)
    return meta


def _remove_ref(meta: TableMetadata, name: str) -> TableMetadata:
    if name == "main":
        raise ValueError("cannot drop main")
    if name not in meta.refs:
        raise ValueError(f"unknown ref {name!r}")
    del meta.refs[name]
    return meta


def _sort_fields(columns: list[str], names: list[str]) -> list[dict]:
    """Sort-order fields from ``"col [asc|desc]"`` strings. Columns
    resolve case-insensitively, as Spark's do, and keep the schema's
    spelling; a column not in ``names`` raises KeyError, a bad direction
    ValueError."""
    by_lower = {n.lower(): n for n in reversed(names)}
    fields = []
    for c in columns:
        col, *rest = c.split()
        direction = rest[0].lower() if rest else "asc"
        name = col if col in names else by_lower.get(col.lower())
        if name is None:
            raise KeyError(f"sort column not in schema: {col}")
        if direction not in ("asc", "desc"):
            raise ValueError(f"bad sort direction: {c!r}")
        fields.append({"column": name, "direction": direction})
    return fields


def _sort_columns(fields) -> list:
    """Spark sort Columns for sort-order fields."""
    return [
        F.col(f["column"]).desc() if f["direction"] == "desc" else F.col(f["column"]).asc()
        for f in fields
    ]


def _layout(meta: TableMetadata) -> tuple:
    """What every write step depends on: the schema and partition spec
    it wrote its files in."""
    return meta.current_schema_id, meta.partition_spec


def _new_head(before: Snapshot | None, now: Snapshot | None) -> bool:
    """``moved`` for ops that read the branch they write: any commit to
    it restarts the write."""
    return (before.snapshot_id if before else None) != (now.snapshot_id if now else None)


def _as_target(live: DataFrame) -> DataFrame:
    """DELETE and UPDATE run their clauses over the live rows alone."""
    return live.alias("t")


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _resolve_clauses(names: list[str], clauses) -> list[tuple]:
    """``(condition, kind, {column: SQL expr})`` per row-level clause, its
    SET and insert columns resolved to the schema's ``names``
    case-insensitively. An insert gives NULL to the columns it does not
    name; an unknown column or a column named twice raises."""
    by_lower = {n.lower(): n for n in names}
    out = []
    for cond, action in clauses:
        kind, exprs = action[0], {}
        if kind not in ("delete", "update", "insert"):
            raise ValueError(f"unknown row-level action {kind!r}")
        for key, expr in action[1].items() if kind != "delete" else ():
            name = by_lower.get(key.lower())
            if name is None:
                verb = "SET" if kind == "update" else "INSERT"
                raise ValueError(f"{verb} names unknown column {key!r}; table has {names}")
            if name in exprs:
                raise ValueError(f"{kind.upper()} names column {name!r} twice")
            exprs[name] = expr
        if kind == "insert":
            exprs = {n: exprs.get(n, "NULL") for n in names}
        out.append((cond, kind, exprs))
    return out


def _project(col: str, resolved: list[tuple]) -> str:
    """SQL for output column ``col``: the value the row's clause gives
    it, else the target row's value."""
    whens = [
        f"WHEN __act = {i} THEN ({exprs[col]})"
        for i, (_c, _k, exprs) in enumerate(resolved)
        if col in exprs
    ]
    value = f"t.{_quote(col)}"
    if whens:
        value = f"CASE {' '.join(whens)} ELSE {value} END"
    return f"{value} AS {_quote(col)}"


def _time_zone(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.session.timeZone")


def _stored_default(spark: SparkSession, typ: str, value):
    """A column default as metadata stores it. A ``timestamp`` default
    is resolved in the session time zone and stored in UTC with its
    offset (:func:`tables.scan.timestamp_default`), so every reader, in
    any session, reads the instant the writer meant."""
    if _physical_type(typ).lower() == "timestamp":
        return timestamp_default(value, _time_zone(spark))
    return value


def _sql_lit(val) -> str:
    if isinstance(val, str):
        escaped = val.replace("'", "''")
        return f"'{escaped}'"
    return str(val)


def _partition_from_path(rel_path: str) -> dict[str, object]:
    """Parse hive-style dirs (``name=value/...``) into partition values.

    Directory values are Hive-ESCAPED by the writer (':' → '%3A' etc.);
    unescape them, or prune_files would compare the escaped string
    against the raw filter literal and silently skip matching files
    (e.g. every identity partition on a timestamp-like string)."""
    from urllib.parse import unquote  # noqa: PLC0415

    out: dict[str, object] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" not in seg:
            continue
        name, _, raw = seg.partition("=")
        raw = unquote(raw)
        if name.startswith("__p_"):
            name = name[4:]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[name] = None
            continue
        try:
            out[name] = int(raw)
        except ValueError:
            try:
                out[name] = float(raw)  # identity-partitioned float/double cols
            except ValueError:
                out[name] = raw
    return out


# Below this many files a commit reads parquet footers in-process; above
# it the read fans out to executors. Footers are a few KB each, so the
# crossover is dominated by fixed job cost, not bytes: an RDD job with
# Python workers costs ~0.2-0.4 s regardless of size, while a driver
# footer read is ~1 ms/file — measured on the bench DML quartet
# (merge/wap/zorder/branch), whose commits write 1-2 files each. At
# production commit sizes (thousands of files per commit) the distributed
# path engages unchanged.
_STATS_DRIVER_FILE_CUTOFF = 32


def _collect_file_stats(spark: SparkSession, paths: list[str]) -> dict[str, dict]:
    """Parquet footer stats per file — executor-side for large commits,
    in-process below ``_STATS_DRIVER_FILE_CUTOFF`` files (same pyarrow
    footer walk either way; the dict is identical by construction)."""
    if not paths:
        return {}
    sc = spark.sparkContext
    n = max(1, min(len(paths), 32))

    def read_footers(it):
        import os as _os

        import pyarrow.parquet as pq

        for p in it:
            md = pq.ParquetFile(p).metadata
            lower: dict = {}
            upper: dict = {}
            nulls: dict = {}
            values: dict = {}
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    # parquet num_values counts every value incl. nulls —
                    # exactly Iceberg's value_counts semantics
                    values[name] = values.get(name, 0) + col.num_values
                    st = col.statistics
                    if st is None:
                        continue
                    nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
                    # pyarrow cannot convert the bounds of a decimal stored
                    # as INT32/INT64 (Spark's layout up to precision 18);
                    # a column without bounds never prunes
                    if st.has_min_max and st.logical_type.type != "DECIMAL":
                        mn, mx = _plain(st.min), _plain(st.max)
                        if name not in lower or _lt(mn, lower[name]):
                            lower[name] = mn
                        if name not in upper or _lt(upper[name], mx):
                            upper[name] = mx
            yield (
                p,
                {
                    "rows": md.num_rows,
                    "size": _os.path.getsize(p),
                    "lower": lower,
                    "upper": upper,
                    "nulls": nulls,
                    "values": values,
                },
            )

    if len(paths) <= _STATS_DRIVER_FILE_CUTOFF:
        return dict(read_footers(paths))
    return dict(sc.parallelize(paths, n).mapPartitions(read_footers).collect())


def _plain(v):
    import datetime as _dt

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return str(a) < str(b)
