"""Directory-based IceLite catalog (the Hadoop-catalog analog).

The reference always keeps a filesystem catalog as the no-services
fallback (/root/reference/tests/iceberg_feature_tests.py:368-375,
rationale :143-146). Namespaces are directories under the warehouse;
tables are directories holding ``metadata/`` + ``data/`` + ``deletes/``.

Surface parity: CREATE/DROP NAMESPACE (:420,434), CREATE TABLE with
properties incl. format-version (:422-430), DROP TABLE [PURGE] with the
blast-radius gate (:221-230), DESCRIBE (:431), SHOW NAMESPACES/TABLES
(:1129-1131), CTAS (duckdb suite :272).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from iceberg_matrix_spark.tables.metadata import (
    SchemaField,
    TableSchema,
    commit_metadata,
    current_version,
    new_table_metadata,
)
from iceberg_matrix_spark.tables.table import IceLiteTable, _physical_type, _stored_default
from iceberg_matrix_spark.tables.transforms import parse_transform


def _parse_schema_ddl(ddl: str) -> list[tuple[str, str]]:
    """Split a DDL string into (name, logical_type) at top-level commas.

    Unlike StructType.fromDDL this admits the V3 logical types
    ``timestamp_ns`` and ``variant`` (stored as bigint/string physically).
    Types normalize to lowercase so `CREATE TABLE (id BIGINT)` and
    `(id bigint)` produce the same metadata (type-widening checks and
    Spark's simpleString are lowercase).
    """
    out: list[tuple[str, str]] = []
    depth, cur = 0, []
    for ch in ddl + ",":
        if ch == "," and depth == 0:
            part = "".join(cur).strip()
            cur = []
            if not part:
                continue
            # ANY whitespace separates name and type — a newline or tab
            # between them is legal SQL (same fix as the ALTER parser,
            # found by the DDL fuzz)
            bits = part.split(None, 1)
            if len(bits) != 2:
                raise ValueError(f"bad schema field: {part!r}")
            name, typ = bits[0], bits[1].strip().lower()
            out.append((name, typ))
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        cur.append(ch)
    if not out:
        raise ValueError("CREATE TABLE with no columns")
    seen: set[str] = set()
    for name, _typ in out:
        low = name.strip("`").lower()
        if low in seen:
            # a table with duplicate field names commits fine and is then
            # unreadable/unwritable (ambiguous resolution) — reject at DDL
            raise ValueError(f"duplicate column name: {name!r}")
        seen.add(low)
    return out


class NoSuchTableError(Exception):
    pass


class TableAlreadyExistsError(Exception):
    pass


class IceLiteCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------ namespaces

    def create_namespace(self, name: str) -> None:
        os.makedirs(os.path.join(self.warehouse, name), exist_ok=True)

    def drop_namespace(self, name: str) -> None:
        """Drop an empty namespace. Emptiness means no REGISTERED tables
        (live metadata chain) — catalog semantics, like Iceberg, where
        the reference's `_drop_table(tbl)` + `DROP NAMESPACE` teardown
        succeeds even though the non-purged table's data files linger
        (iceberg_feature_tests.py:221-230,433-434). Those unregistered
        leftovers are removed with the namespace directory: the purge
        gate defers data deletion to table-drop time, and an explicit
        namespace drop is the user's stated intent to discard what
        remains under it."""
        path = os.path.join(self.warehouse, name)
        if os.path.isdir(path):
            if self.list_tables(name):
                raise ValueError(f"namespace {name} is not empty")
            # an entry whose metadata/ directory CONTAINS FILES but has no
            # committed version is a CREATE mid-write (or corrupt metadata
            # needing attention) — a non-purge drop removes the whole
            # metadata dir, so leftovers never carry one. Deleting it
            # would corrupt a concurrent writer; refuse instead. An EMPTY
            # metadata dir is a crashed create's garbage (killed between
            # makedirs and the first version write) — droppable, so one
            # crash can't make the namespace permanently undroppable.
            for e in os.scandir(path):
                meta_dir = os.path.join(e.path, "metadata")
                if (
                    e.is_dir()
                    and os.path.isdir(meta_dir)
                    and any(os.scandir(meta_dir))
                ):
                    raise ValueError(
                        f"namespace {name} has a table create in flight "
                        f"(or corrupt metadata): {e.name}"
                    )
            shutil.rmtree(path)

    def list_namespaces(self) -> list[str]:
        return sorted(
            e.name for e in os.scandir(self.warehouse) if e.is_dir()
        )

    def list_tables(self, namespace: str) -> list[str]:
        path = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(path):
            return []
        return sorted(
            e.name
            for e in os.scandir(path)
            if e.is_dir() and current_version(e.path) > 0
        )

    # ---------------------------------------------------------------- tables

    def _location(self, identifier: str) -> str:
        ns, _, tbl = identifier.rpartition(".")
        if not ns:
            raise ValueError(f"identifier must be namespace.table: {identifier}")
        return os.path.join(self.warehouse, ns, tbl)

    def table_exists(self, identifier: str) -> bool:
        return current_version(self._location(identifier)) > 0

    def create_table(
        self,
        identifier: str,
        schema: StructType | str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        defaults: dict[str, object] | None = None,
        location: str | None = None,
    ) -> IceLiteTable:
        """``defaults`` maps column → V3 DEFAULT literal (used both as
        initial-default and write-default — the CREATE TABLE ... DEFAULT
        surface, iceberg_feature_tests.py:771-776). ``location``
        overrides the identifier-derived directory (a pointer catalog
        like SqlCatalog allocates fresh dirs for re-created names)."""
        location = location or self._location(identifier)
        if current_version(location) > 0:
            raise TableAlreadyExistsError(identifier)
        version = int((properties or {}).get("format-version", "2"))
        if version not in (1, 2, 3):
            # an unknown version commits fine and then every version gate
            # (V3-only types, DEFAULTs, deletion vectors) silently passes
            raise ValueError(f"unsupported format-version: {version}")
        if isinstance(schema, str):
            fields = [
                SchemaField(id=i + 1, name=n, type=t)
                for i, (n, t) in enumerate(_parse_schema_ddl(schema))
            ]
        else:
            fields = [
                SchemaField(id=i + 1, name=f.name, type=f.dataType.simpleString(), nullable=f.nullable)
                for i, f in enumerate(schema.fields)
            ]
        if defaults:
            if version < 3:
                raise ValueError("column DEFAULT values require format-version 3")
            by_name = {f.name: f for f in fields}
            for col, lit in defaults.items():
                if col not in by_name:
                    raise ValueError(f"DEFAULT for unknown column {col!r}")
                lit = _stored_default(self.spark, by_name[col].type, lit)
                by_name[col].initial_default = lit
                by_name[col].write_default = lit
        for f in fields:
            if f.type in ("timestamp_ns", "variant", "geometry") and version < 3:
                raise ValueError(
                    f"type {f.type!r} requires format-version 3 (column {f.name!r})"
                )
        # validate the physical schema parses (catches type typos early)
        StructType.fromDDL(
            ", ".join(f"{f.name} {_physical_type(f.type)}" for f in fields)
        )
        for spec in partition_by or []:
            t = parse_transform(spec)
            if t.source not in {f.name for f in fields}:
                raise ValueError(f"partition source column {t.source!r} not in schema")
        meta = new_table_metadata(
            location=location,
            schema=TableSchema(schema_id=0, fields=fields),
            partition_spec=list(partition_by or []),
            properties=dict(properties or {}),
        )
        os.makedirs(location, exist_ok=True)
        commit_metadata(location, meta, 0)
        return IceLiteTable(self.spark, location)

    def create_table_as_select(
        self,
        identifier: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> IceLiteTable:
        """CTAS (duckdb suite :272)."""
        table = self.create_table(identifier, df.schema, partition_by, properties)
        table.append(df)
        return table

    def load_table(self, identifier: str) -> IceLiteTable:
        location = self._location(identifier)
        if current_version(location) == 0:
            raise NoSuchTableError(identifier)
        return IceLiteTable(self.spark, location)

    def drop_table(self, identifier: str, purge: bool = False) -> None:
        """DROP TABLE [PURGE] — the purge gate mirrors the reference's
        blast-radius control (iceberg_feature_tests.py:221-230): without
        PURGE only the metadata chain is removed; data files remain."""
        location = self._location(identifier)
        if current_version(location) == 0:
            raise NoSuchTableError(identifier)
        if purge:
            shutil.rmtree(location)
        else:
            shutil.rmtree(os.path.join(location, "metadata"))

    def describe(self, identifier: str) -> list[tuple[str, str]]:
        table = self.load_table(identifier)
        return [(f.name, f.type) for f in table.meta.current_schema.fields]
