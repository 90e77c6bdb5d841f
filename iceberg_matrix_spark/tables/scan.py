"""Merge-on-read scan planning, shared by every IceLite reader.

A snapshot is read three ways: by Spark (``IceLiteTable.df``), by the
Arrow batch source (``spark.read.format("icelite")``) and by DuckDB over
the raw files (tables/interop.py). :func:`plan_scan` makes every decision
such a read depends on, from metadata already in memory, and the readers
only execute the :class:`ScanPlan` it returns:

- the snapshot, from a snapshot id, a timestamp or a ref (an unknown ref
  raises ``KeyError``);
- the read schema: the snapshot's own schema for a read pinned by
  snapshot id or timestamp, otherwise the current schema;
- the data files, pruned by partition transforms and column bounds
  (:func:`prune_files` with :func:`pruning_spec`);
- the position deletes;
- the equality deletes that apply to at least one planned file (a file
  with a lower sequence number), with their key columns resolved by
  field id to read-schema names, so a rename after the delete still
  targets the right column;
- for each schema id, a projection to the read schema: each read column
  comes from the file column with the same field id, or, for a column
  added later, from its initial default.

Executing the plan is the readers' part, with the same semantics in each:
a position delete removes (file, row position); an equality delete
removes rows of files older than itself whose key columns equal one of
its key rows, null-safely (NULL matches NULL, NaN matches NaN). A
position delete names its data file by :func:`_file_uri`, the one file
identity every reader and the commit path compare.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace

from iceberg_matrix_spark.tables.metadata import (
    DataFileEntry,
    DeleteFileEntry,
    Snapshot,
    TableMetadata,
    TableSchema,
)
from iceberg_matrix_spark.tables.transforms import Transform, parse_transform


# Row metadata columns a read attaches on request: the row's data file
# (its _file_uri), its index in that file before any delete (Spark's
# _metadata.row_index) and the file's sequence number.
META_FILE = "__file"
META_POS = "__pos"
META_SEQ = "__seq"

# What java.net.URI quotes in a path, as Hadoop's Path.toUri() (and so
# Spark's _metadata.file_path) renders it: the ASCII characters URIs
# forbid, control characters (Unicode Cc) and space separators (Zs, Zl,
# Zp). Other non-ASCII characters stay as they are.
_URI_QUOTED = re.compile(
    r'[ "#%<>?\[\\\]^`{|}\x00-\x1f\x7f-\xa0'
    r"\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)


def _file_uri(path: str) -> str:
    """The identity of a data file: Spark's ``_metadata.file_path`` for
    ``path``. A local path gets Hadoop's single-slash scheme
    (``file:/tmp/...``), and each character java.net.URI quotes becomes
    ``%XX`` of its UTF-8 bytes (space ``%20``, ``%`` ``%25``, ``#``
    ``%23``, ``?`` ``%3F``). A ``file:`` URI is already in this form."""
    if path.startswith("file:"):
        return path
    return "file:" + _URI_QUOTED.sub(
        lambda m: "".join(f"%{b:02X}" for b in m.group().encode()), path
    )


@dataclass(frozen=True)
class Column:
    """One read-schema column of a projection: the file column ``source``
    cast to ``type`` (physical) and named ``name``, or ``default`` when
    the file predates the column (``source`` is None)."""

    name: str
    type: str
    source: str | None
    default: object = None


@dataclass(frozen=True)
class EqualityDelete:
    path: str
    sequence_number: int
    file_cols: list[str]  # write-time names, as stored in the delete file
    key_cols: list[str]  # the same keys under the read schema


@dataclass(frozen=True)
class ScanPlan:
    schema: TableSchema
    files: list[DataFileEntry]
    filters: list[tuple]
    position_deletes: list[DeleteFileEntry]
    equality_deletes: list[EqualityDelete]
    projections: dict[int, list[Column]]  # schema id → read-schema columns


def timestamp_default(value, time_zone: str):
    """A ``timestamp`` column default as an ISO string in UTC with its
    offset, the Iceberg spec's form for an instant. A string without an
    offset is a wall-clock time in ``time_zone`` (a region id such as
    ``America/New_York`` or an offset such as ``+05:00``), which is how
    Spark's ``lit(value).cast("timestamp")`` reads it in that session.
    Any other value, or a string Python cannot parse, is returned as is."""
    import datetime
    import zoneinfo

    if not isinstance(value, str):
        return value
    try:
        ts = datetime.datetime.fromisoformat(value)
        if ts.tzinfo is None:
            try:
                tz = zoneinfo.ZoneInfo(time_zone)
            except (ValueError, zoneinfo.ZoneInfoNotFoundError):
                tz = datetime.datetime.fromisoformat("2000-01-01T00:00:00" + time_zone).tzinfo
            ts = ts.replace(tzinfo=tz)
    except ValueError:
        return value
    return ts.astimezone(datetime.timezone.utc).isoformat()


def with_time_zone(plan: ScanPlan, time_zone: str) -> ScanPlan:
    """``plan`` with every ``timestamp`` default resolved by
    :func:`timestamp_default` in the session time zone ``time_zone``, for
    an executor that reads the default outside Spark. Metadata written
    before defaults were stored resolved holds strings without an offset."""
    projections = {
        sid: [
            replace(c, default=timestamp_default(c.default, time_zone))
            if c.type.lower() == "timestamp"
            else c
            for c in cols
        ]
        for sid, cols in plan.projections.items()
    }
    return replace(plan, projections=projections)


def resolve_snapshot(
    meta: TableMetadata,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str = "main",
) -> Snapshot | None:
    """The snapshot a read names; None for a table without snapshots."""
    if snapshot_id is not None:
        return meta.snapshot_by_id(snapshot_id)
    if as_of_timestamp_ms is not None:
        eligible = [s for s in meta.snapshots if s.timestamp_ms <= as_of_timestamp_ms]
        if not eligible:
            raise ValueError(f"no snapshot at or before {as_of_timestamp_ms}")
        return max(eligible, key=lambda s: (s.timestamp_ms, s.snapshot_id))
    r = meta.refs.get(ref)
    if r is None:
        if ref == "main":
            return None
        raise KeyError(f"unknown ref {ref}")
    return meta.snapshot_by_id(r.snapshot_id)


def project(source: TableSchema, target: TableSchema) -> list[Column]:
    """Field-id projection of files written with ``source`` to
    ``target``: renames follow the id, a widened type casts, a column
    added after the write takes its initial default (NULL without one)."""
    by_id = {f.id: f.name for f in source.fields}
    return [
        Column(f.name, _physical_type(f.type), by_id.get(f.id), f.initial_default)
        for f in target.fields
    ]


def plan_scan(
    meta: TableMetadata,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str = "main",
    filters: list[tuple] | None = None,
) -> ScanPlan:
    """Plan a read of the snapshot named by id, timestamp or ref.
    ``filters`` are conjunctive ``(column, op, literal)`` predicates: they
    prune files here, and the reader applies them to the rows."""
    snap = resolve_snapshot(meta, snapshot_id, as_of_timestamp_ms, ref)
    # Iceberg time travel: a pinned read keeps the snapshot's columns (a
    # later drop must not erase history, a later add must not appear); a
    # ref read, like Iceberg's, uses the current schema
    schema = meta.current_schema
    pinned = snapshot_id is not None or as_of_timestamp_ms is not None
    if pinned and snap is not None and snap.schema_id is not None:
        schema = meta.schema_by_id(snap.schema_id)
    return plan_snapshot(meta, snap, schema, filters)


def plan_snapshot(
    meta: TableMetadata,
    snap: Snapshot | None,
    schema: TableSchema | None = None,
    filters: list[tuple] | None = None,
) -> ScanPlan:
    """Plan a read of ``snap`` (which may be a scoped copy of a snapshot)
    into ``schema``, the current schema by default."""
    schema = schema if schema is not None else meta.current_schema
    files = snap.data_files if snap is not None else []
    deletes = snap.delete_files if snap is not None else []
    if filters:
        files = prune_files(files, filters, *pruning_spec(meta))
    by_id = {f.id: f.name for f in schema.fields}
    positions, equalities = [], []
    for d in deletes:
        if d.content == 1:
            positions.append(d)
        elif d.content != 2:
            raise NotImplementedError(f"unknown delete content={d.content} in {d.path}")
        elif any(f.sequence_number < d.sequence_number for f in files):
            key_cols = list(d.equality_columns)  # legacy entries: by name
            if d.equality_ids:
                missing = [i for i in d.equality_ids if i not in by_id]
                if missing:
                    raise ValueError(
                        f"equality delete {d.path} references field id(s) "
                        f"{missing} that are not in the read schema — an "
                        f"equality-key column was dropped after the delete "
                        f"was written; the delete cannot be applied correctly"
                    )
                key_cols = [by_id[i] for i in d.equality_ids]
            equalities.append(
                EqualityDelete(
                    d.path, d.sequence_number, list(d.equality_columns), key_cols
                )
            )
    return ScanPlan(
        schema=schema,
        files=files,
        filters=list(filters or []),
        position_deletes=positions,
        equality_deletes=equalities,
        projections={s.schema_id: project(s, schema) for s in meta.schemas},
    )


# V3 logical types → physical storage type (Spark simpleString).
_PHYSICAL_TYPES = {
    "timestamp_ns": "bigint",
    "variant": "string",
    # V3 geometry: WKB bytes physically (functions/geo.py is the codec);
    # the typed column is the Flink-DDL surface, flink_feature_tests.py:1459
    "geometry": "binary",
}


def _physical_type(logical: str) -> str:
    return _PHYSICAL_TYPES.get(logical, logical)


def prune_files(
    files: list[DataFileEntry],
    filters: list[tuple],
    transforms: list[Transform],
    types: dict[str, str] | None = None,
) -> list[DataFileEntry]:
    """Manifest-level file skipping: partition-transform projection +
    column min/max bounds (SURVEY §4). ``filters`` are simple
    conjunctive predicates (col, op, literal); anything not prunable
    is left to the parquet scan's pushdown.

    ``types`` maps a column to its physical type. A ``bucket`` field
    prunes only an equality predicate, and only when ``types`` gives
    the column's type (the hash input depends on it); without
    ``types`` bucket fields never prune. :func:`pruning_spec` gives the
    transforms and types that are safe for a table's files."""
    by_source = {t.source: t for t in transforms}
    types = types or {}
    kept = []
    for f in files:
        alive = True
        for col, op, val in filters:
            # partition projection
            t = by_source.get(col)
            if t is not None and t.field_name in f.partition:
                pv = f.partition[t.field_name]
                # a hash is not order-preserving: bucket projects only "="
                proj = (
                    t.project_value(val, types.get(col))
                    if op == "=" or t.kind != "bucket"
                    else None
                )
                if proj is not None and pv is not None:
                    # identity: partition value IS the column value, so
                    # strict ops prune strictly; other transforms map a
                    # range of column values onto one partition value, so
                    # a file at the boundary must be kept
                    ident = t.kind == "identity"
                    if op == "=" and not _cmp_ok(pv, "=", proj):
                        alive = False
                    elif op in (">", ">=") and not _cmp_ok(
                        pv, op if ident else ">=", proj
                    ):
                        alive = False
                    elif op in ("<", "<=") and not _cmp_ok(
                        pv, op if ident else "<=", proj
                    ):
                        alive = False
            # column bounds
            lo = f.lower_bounds.get(col)
            hi = f.upper_bounds.get(col)
            if lo is not None and hi is not None:
                if op == "=" and not (_cmp_ok(hi, ">=", val) and _cmp_ok(lo, "<=", val)):
                    alive = False
                elif op in (">", ">=") and not _cmp_ok(hi, ">=", val):
                    alive = False
                elif op in ("<", "<=") and not _cmp_ok(lo, "<=", val):
                    alive = False
        if alive:
            kept.append(f)
    return kept


def pruning_spec(meta: TableMetadata) -> tuple[list[Transform], dict[str, str]]:
    """The transforms and column types that :func:`prune_files` may trust
    for every data file of the table. A file records its partition
    values, not the spec or schema that produced them, so two cases are
    left out rather than pruned wrongly:

    - a bucket or truncate field whose argument ever changed:
      ``bucket(4, id)`` and ``bucket(8, id)`` both write ``id_bucket``.
      Without a ``partition_history`` (older metadata) no such field is
      trusted;
    - the type of a column whose physical type differs between schemas:
      an int widened to bigint was hashed as 4 bytes in older files and
      as 8 in newer ones."""
    history = meta.partition_history
    specs: dict[str, set[str]] = {}
    for spec in (history or []) + meta.partition_spec:
        t = parse_transform(spec)
        specs.setdefault(t.field_name, set()).add(t.spec_string())
    transforms = [
        t
        for t in map(parse_transform, meta.partition_spec)
        if t.kind not in ("bucket", "truncate")
        or (history is not None and len(specs[t.field_name]) == 1)
    ]
    types = {}
    for cf in meta.current_schema.fields:
        seen = {
            _physical_type(f.type)
            for s in meta.schemas
            for f in s.fields
            if f.id == cf.id or f.name == cf.name
        }
        if len(seen) == 1:
            types[cf.name] = seen.pop()
    return transforms, types


def _cmp_ok(a, op: str, b) -> bool:
    try:
        a2, b2 = _coerce(a, b)
        if op == "=":
            return a2 == b2
        if op == ">=":
            return a2 >= b2
        if op == "<=":
            return a2 <= b2
        if op == ">":
            return a2 > b2
        if op == "<":
            return a2 < b2
    except TypeError:
        return True  # incomparable → keep the file (pruning must be safe)
    return True


def _coerce(a, b):
    # Only compare like with like: coercing a numeric to str made range
    # pruning lexicographic ('10.5' < '9.0') and wrongly dropped files.
    # Cross-type pairs are incomparable → TypeError → caller keeps the file.
    num = (int, float)
    if isinstance(a, str) and isinstance(b, str):
        return a, b
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        return a, b
    if type(a) is type(b):
        return a, b
    raise TypeError(f"incomparable partition/bound types: {type(a)} vs {type(b)}")
