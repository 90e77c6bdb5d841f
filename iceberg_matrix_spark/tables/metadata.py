"""IceLite table metadata model + atomic commit protocol.

Mirrors the Iceberg metadata concepts the reference inspects — snapshots
with operation + summary counters (/root/reference/tests/
iceberg_feature_tests.py:577-580), delete-file content codes 1=position /
2=equality (flink suite :744-757), refs for branches/tags (:888-898),
schema list with field IDs for evolution (:702-750), metadata_log
(redshift fixtures :144).

Commit protocol: each commit writes ``metadata/v{N}.metadata.json`` with
``open(..., 'x')`` (create-exclusive). A concurrent writer racing to the
same N loses and must re-read + retry — optimistic concurrency like
Iceberg's catalog swap, with the filesystem as the arbiter.

Every snapshot-producing op (append, add_files, overwrite, delete,
update, merge, upsert, cherrypick and the two maintenance rewrites)
commits through ``IceLiteTable._commit_write`` under one contract, the
one Iceberg states as "write the files once, retry only the metadata
swap" (https://iceberg.apache.org/spec/#optimistic-concurrency):

1. **Stage once.** The op's write step runs its Spark work once, before
   the commit loop. It returns the staged data and delete entries, the
   head files they replace, the directories it wrote and any table
   property updates (the inferred variant-shred schemas).
2. **Apply.** ``IceLiteTable._snapshot`` applies the staged entries to
   whatever head exists at commit time. It is the only place that
   assigns sequence numbers and V3 ``first_row_id`` ranges.
3. **Re-base or restart.** On :class:`CommitConflict` the loop refreshes
   and re-applies, which re-bases the op onto the new head. When the
   metadata the write read has moved, the staged directories are deleted
   and the write runs again. "Moved" means the current schema or
   partition spec for every op, the branch head for ops that read the
   table (delete, update, merge, overwrite), and the victim and
   delete-set checks for ``rewrite_data_files`` and
   ``rewrite_position_deletes``. Blind ops (append, add_files, upsert,
   cherrypick) re-base without rewriting. A write whose commit fails
   deletes what it staged, so an uncommitted op leaves no files behind.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import asdict, dataclass, field


class CommitConflict(Exception):
    """Another writer committed the same version first."""


@dataclass
class DataFileEntry:
    path: str
    record_count: int
    partition: dict[str, object] = field(default_factory=dict)
    schema_id: int = 0
    sequence_number: int = 0
    file_size_bytes: int = 0
    # V3 row lineage: _row_id of the file's first row; rows get
    # first_row_id + position (Iceberg's manifest-inherited row ids)
    first_row_id: int | None = None
    # column stats for manifest-level file skipping (SURVEY §4)
    lower_bounds: dict[str, object] = field(default_factory=dict)
    upper_bounds: dict[str, object] = field(default_factory=dict)
    null_counts: dict[str, int] = field(default_factory=dict)
    # Iceberg's value_counts: total values per column incl. nulls — the
    # reference reads it off `.files` (iceberg_feature_tests.py:1056-1068)
    value_counts: dict[str, int] = field(default_factory=dict)


@dataclass
class DeleteFileEntry:
    path: str
    content: int  # 1 = position deletes, 2 = equality deletes
    record_count: int
    sequence_number: int = 0
    file_format: str = "PARQUET"  # "PUFFIN" marks V3 deletion vectors
    equality_columns: list[str] = field(default_factory=list)
    # FIELD IDS of the equality columns (Iceberg's equality_ids): the
    # names above are the write-time names; application resolves ids →
    # CURRENT names so RENAME COLUMN can't detach a delete from its key
    equality_ids: list[int] = field(default_factory=list)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # append | overwrite | delete | replace | merge
    data_files: list[DataFileEntry]
    delete_files: list[DeleteFileEntry]
    summary: dict[str, object] = field(default_factory=dict)
    # the TABLE schema current when this snapshot committed: time-travel
    # reads project to it, like Iceberg (None on pre-upgrade snapshots →
    # readers fall back to the current schema)
    schema_id: int | None = None


_CHAR_TYPE = re.compile(r"\b(?:var)?char\s*\(\s*\d+\s*\)", re.IGNORECASE)


@dataclass
class SchemaField:
    id: int
    name: str
    type: str  # logical type: Spark simpleString, or timestamp_ns/variant (V3)
    nullable: bool = True
    # V3 column defaults: initial-default back-fills pre-existing rows on
    # read; write-default fills the column when a writer omits it.
    initial_default: object = None
    write_default: object = None

    def __post_init__(self):
        # Iceberg has no char type, and no reader here reads one back:
        # char(n) and varchar(n), nested ones too, store as string
        if "char" in self.type.lower():
            self.type = _CHAR_TYPE.sub("string", self.type)

    # PyIceberg's field attribute name (schema().find_field(c).field_type,
    # pyiceberg_feature_tests.py:373-375) — here the logical type string.
    @property
    def field_type(self) -> str:
        return self.type


@dataclass
class TableSchema:
    schema_id: int
    fields: list[SchemaField]

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def spark_ddl(self) -> str:
        return ", ".join(f"{f.name} {f.type}" for f in self.fields)

    def find_field(self, name: str) -> SchemaField:
        """PyIceberg's schema().find_field(name)
        (pyiceberg_feature_tests.py:373)."""
        for f in self.fields:
            if f.name == name:
                return f
        raise ValueError(f"no field named {name!r}")

    def as_arrow(self):
        """pyarrow schema — PyIceberg casts arrow batches to
        ``tbl.schema().as_arrow()`` before append
        (pyiceberg_feature_tests.py:519). Raises for logical types with
        no direct Spark DDL spelling (timestamp_ns, variant)."""
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
        from pyspark.sql.types import StructType  # noqa: PLC0415

        return to_arrow_schema(StructType.fromDDL(self.spark_ddl()))


@dataclass
class Ref:
    snapshot_id: int
    type: str  # "branch" | "tag"


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    format_version: int
    current_schema_id: int
    schemas: list[TableSchema]
    partition_spec: list[str]  # transform spec strings
    properties: dict[str, str]
    refs: dict[str, Ref]
    snapshots: list[Snapshot]
    last_sequence_number: int = 0
    last_snapshot_id: int = 0
    last_field_id: int = 0
    # V3 row lineage: next _row_id to assign (advanced per committed file)
    next_row_id: int = 0
    metadata_log: list[dict] = field(default_factory=list)
    # Iceberg-style table statistics: one entry per analyzed snapshot
    # ({"snapshot_id", "statistics_path", "blob_type", "columns"}), the
    # metadata.json `statistics` list that CALL compute_table_stats
    # maintains. Absent in pre-statistics metadata files → default [].
    statistics: list[dict] = field(default_factory=list)
    # Iceberg sort orders (metadata.json `sort-orders` +
    # `default-sort-order-id`): each entry is {"order_id": N, "fields":
    # [{"column": c, "direction": "asc"|"desc"}, ...]}. Order id 0 is the
    # implicit unsorted order, so 0 here means "no sort order set".
    sort_orders: list[dict] = field(default_factory=list)
    default_sort_order_id: int = 0
    # Iceberg identifier fields (schema `identifier-field-ids`): the
    # row-identity key upsert paths default to. Stored as FIELD IDS so
    # renames track automatically.
    identifier_field_ids: list[int] = field(default_factory=list)
    # Every partition spec string the table has had, kept by
    # commit_metadata. Data files record partition values, not the spec
    # that made them, and bucket(4, id) and bucket(8, id) both write an
    # ``id_bucket`` value: pruning trusts such a field only when it never
    # changed. None on metadata written before the history was kept.
    partition_history: list[str] | None = None

    # ---- accessors --------------------------------------------------------

    @property
    def current_snapshot_id(self) -> int | None:
        ref = self.refs.get("main")
        return ref.snapshot_id if ref else None

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"no snapshot {snapshot_id}")

    def schema_by_id(self, schema_id: int) -> TableSchema:
        for s in self.schemas:
            if s.schema_id == schema_id:
                return s
        raise KeyError(f"no schema {schema_id}")

    @property
    def current_schema(self) -> TableSchema:
        return self.schema_by_id(self.current_schema_id)

    def new_snapshot_id(self) -> int:
        return self.last_snapshot_id + 1

    # ---- (de)serialization ------------------------------------------------

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=1, default=str)

    @staticmethod
    def from_json(text: str) -> "TableMetadata":
        raw = json.loads(text)
        raw["schemas"] = [
            TableSchema(
                schema_id=s["schema_id"],
                fields=[SchemaField(**f) for f in s["fields"]],
            )
            for s in raw["schemas"]
        ]
        raw["refs"] = {k: Ref(**v) for k, v in raw["refs"].items()}
        raw["snapshots"] = [
            Snapshot(
                **{
                    **s,
                    "data_files": [DataFileEntry(**f) for f in s["data_files"]],
                    "delete_files": [DeleteFileEntry(**f) for f in s["delete_files"]],
                }
            )
            for s in raw["snapshots"]
        ]
        return TableMetadata(**raw)


def _ancestors(meta: TableMetadata, snapshot_id: int | None):
    """The snapshots on ``snapshot_id``'s parent chain, newest first and
    starting with it. The walk ends at the first snapshot that is no
    longer in ``meta`` (expired), not with a KeyError."""
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    snap = by_id.get(snapshot_id)
    while snap is not None:
        yield snap
        snap = by_id.get(snap.parent_id)


def new_table_metadata(
    location: str,
    schema: TableSchema,
    partition_spec: list[str],
    properties: dict[str, str],
) -> TableMetadata:
    return TableMetadata(
        table_uuid=str(uuid.uuid4()),
        location=location,
        format_version=int(properties.get("format-version", "2")),
        current_schema_id=schema.schema_id,
        schemas=[schema],
        partition_spec=list(partition_spec),
        partition_history=list(partition_spec),
        properties=dict(properties),
        refs={},
        snapshots=[],
        last_field_id=max((f.id for f in schema.fields), default=0),
    )


# ---------------------------------------------------------------------------
# Version-file persistence
# ---------------------------------------------------------------------------


def metadata_dir(table_location: str) -> str:
    return os.path.join(table_location, "metadata")


def _version_path(table_location: str, version: int) -> str:
    return os.path.join(metadata_dir(table_location), f"v{version}.metadata.json")


def current_version(table_location: str) -> int:
    """Highest committed version, 0 if none (listing beats a hint file —
    the hint can lag after a crashed writer)."""
    mdir = metadata_dir(table_location)
    if not os.path.isdir(mdir):
        return 0
    best = 0
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".metadata.json"):
            try:
                best = max(best, int(name[1:].split(".")[0]))
            except ValueError:
                continue
    return best


def load_metadata(table_location: str) -> tuple[TableMetadata, int]:
    version = current_version(table_location)
    if version == 0:
        raise FileNotFoundError(f"no table at {table_location}")
    with open(_version_path(table_location, version)) as fh:
        return TableMetadata.from_json(fh.read()), version


def commit_metadata(
    table_location: str, meta: TableMetadata, expected_version: int
) -> int:
    """Atomically commit metadata as version ``expected_version + 1``.

    Raises :class:`CommitConflict` if a concurrent writer won the race.
    """
    os.makedirs(metadata_dir(table_location), exist_ok=True)
    new_version = expected_version + 1
    if meta.partition_history is not None:
        meta.partition_history += [
            s for s in meta.partition_spec if s not in meta.partition_history
        ]
    meta.metadata_log.append(
        {"version": new_version, "timestamp_ms": int(time.time() * 1000)}
    )
    path = _version_path(table_location, new_version)
    # Write-temp-then-link so a crash mid-write can never leave a truncated
    # v{N}.metadata.json as the table head (Iceberg writes temp + atomic
    # rename). os.link fails with FileExistsError if a concurrent writer
    # won — the same exclusive-create semantics open(path, "x") gave us.
    tmp = os.path.join(
        metadata_dir(table_location), f".tmp-v{new_version}-{uuid.uuid4().hex}.json"
    )
    with open(tmp, "w") as fh:
        fh.write(meta.to_json())
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError as exc:
        raise CommitConflict(
            f"version {new_version} already committed at {table_location}"
        ) from exc
    finally:
        os.unlink(tmp)
    return new_version
