"""Cross-engine interop: a second engine reads IceLite's live files.

The reference's §5.6 pattern is write-here/read-there — one engine writes
an Iceberg table, another reads it and must see the same rows
(/root/reference/tests/daft_feature_tests.py:210-226 reads a table with
PyIceberg-written position deletes; the ClickHouse suite is built
entirely on this; the DuckDB suite explicitly includes foreign engines
reading equality deletes, duckdb_feature_tests.py:358-368). DuckDB is the
in-container second engine (it is already the correctness oracle), so the
helpers here export a ref's scan plan (:func:`tables.scan.plan_scan`, the
plan ``IceLiteTable.df`` and the batch source execute) as a live-file
manifest — data files WITH their sequence numbers and per-schema
projections, position-delete files, and the equality-delete files that
apply — and have DuckDB reconstruct the table state from the raw parquet
alone:

    read_parquet(data, filename, file_row_number, union_by_name)
      ANTI JOIN read_parquet(pos_deletes) ON (file, position)
      minus, per equality-delete file d with sequence S_d:
        rows whose data-file sequence < S_d matching d's key columns
"""

from __future__ import annotations

import glob as _glob
import os

from iceberg_matrix_spark.tables.scan import _file_uri, plan_scan, with_time_zone
from iceberg_matrix_spark.tables.table import IceLiteTable, _time_zone


def _expand(entry_path: str) -> list[str]:
    if os.path.isdir(entry_path):
        return sorted(_glob.glob(os.path.join(entry_path, "*.parquet")))
    return [entry_path]


_DUCK_TYPES = {
    "boolean": "BOOLEAN",
    "int": "INTEGER",
    "integer": "INTEGER",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "date": "DATE",
    "string": "VARCHAR",
    "binary": "BLOB",
    "uuid": "UUID",
}


def _duck_type(t: str) -> str:
    """IceLite field type → DuckDB type (zero-row typed projections)."""
    tl = str(t).strip().lower()
    if tl.startswith("decimal"):
        return tl.upper()
    if tl.startswith("timestamp"):  # timestamp / timestamptz / timestamp_ns
        return "TIMESTAMP"
    return _DUCK_TYPES.get(tl, "VARCHAR")


def _duck_lit(v, t: str) -> str:
    """A column default → DuckDB value of the column's type ``t`` (V3
    initial_default backfill). Metadata stores a date, timestamp or
    decimal default as its string, so the literal is cast, as Spark's
    ``lit(v).cast(t)`` is."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        lit = "TRUE" if v else "FALSE"
    elif isinstance(v, (int, float)):
        lit = repr(v)
    else:
        lit = "'" + str(v).replace("'", "''") + "'"
    return f"CAST({lit} AS {_duck_type(t)})"


def _norm(path: str) -> str:
    """file:/... / file:///... URI → bare path (DuckDB's filename col)."""
    while path.startswith("file:/") :
        path = "/" + path[len("file:/"):].lstrip("/")
    return path


def _duck_path(path: str) -> str:
    """Path → quoted DuckDB string literal (a directory like /o'brien/
    would otherwise terminate the literal early)."""
    return "'" + path.replace("'", "''") + "'"


def live_file_manifest(table: IceLiteTable, ref: str = "main") -> dict:
    """The ref's scan plan, resolved to concrete parquet paths.

    Returns::

        {"data": [paths],                      # flat, all data files
         "data_entries": [{"paths": [...], "seq": n, "schema_id": s}],
         "scan_groups": [{"paths": [...], "select": [scan.Column]}],
         "position_deletes": [paths],
         "equality_deletes": [{"paths": [...], "seq": n,
                               "file_cols": [...], "key_cols": [...]}]}

    ``scan_groups`` has one entry per write schema, with its projection
    to the current schema. ``file_cols`` are the write-time column names
    stored IN the delete parquet; ``key_cols`` are the same keys under
    the current schema names (field-id resolved) — a foreign engine
    selects file_cols and compares against key_cols.
    """
    plan = with_time_zone(plan_scan(table.meta, ref=ref), _time_zone(table.spark))
    data_entries = [
        {"paths": _expand(f.path), "seq": f.sequence_number, "schema_id": f.schema_id}
        for f in plan.files
    ]
    scan_groups = [
        {
            "paths": [p for e in data_entries if e["schema_id"] == sid for p in e["paths"]],
            "select": plan.projections[sid],
        }
        for sid in sorted({e["schema_id"] for e in data_entries})
    ]
    return {
        "data": [p for e in data_entries for p in e["paths"]],
        "data_entries": data_entries,
        "scan_groups": scan_groups,
        "position_deletes": [p for d in plan.position_deletes for p in _expand(d.path)],
        "equality_deletes": [
            {
                "paths": _expand(d.path),
                "seq": d.sequence_number,
                "file_cols": d.file_cols,
                "key_cols": d.key_cols,
            }
            for d in plan.equality_deletes
        ],
    }


def duckdb_scan_sql(table: IceLiteTable, ref: str = "main") -> str:
    """DuckDB SQL reconstructing the table's current rows from raw files."""
    manifest = live_file_manifest(table, ref=ref)
    if not manifest["data"]:
        # zero rows but the REAL schema: cross-engine comparisons check
        # column names/types, not just counts
        typed = ", ".join(
            f'CAST(NULL AS {_duck_type(f.type)}) AS "{f.name}"'
            for f in table.meta.current_schema.fields
        )
        return f"SELECT {typed} WHERE false"
    cols = ", ".join(f'"{c}"' for c in table.meta.current_schema.names())
    # Spark records URIs as file:/... (sometimes file:///...); DuckDB's
    # filename column is a bare path — normalize both to bare paths.
    norm = "regexp_replace({x}, '^file:/+', '/')"
    # one scan per write-schema group, projected to the current names
    # (rename → alias; added-later column → NULL / initial_default);
    # UNION ALL coerces widened numeric types to the common widest
    group_sql: list[str] = []
    for g in manifest["scan_groups"]:
        paths = ", ".join(_duck_path(p) for p in g["paths"])
        sel = ", ".join(
            (
                f'"{c.source}" AS "{c.name}"'
                if c.source is not None
                else f'{_duck_lit(c.default, c.type)} AS "{c.name}"'
            )
            for c in g["select"]
        )
        # union_by_name even within one schema group: V3 variant shredding
        # appends a per-commit __typed_value sibling column whose struct
        # shape is inferred per write, so files sharing a schema_id can
        # still diverge physically (table.py:_write_data_files)
        group_sql.append(
            f"SELECT {sel}, {norm.format(x='filename')} AS __fname, "
            f"file_row_number AS __pos "
            f"FROM read_parquet([{paths}], filename=true, "
            f"file_row_number=true, union_by_name=true)"
        )
    scan = " UNION ALL ".join(group_sql)
    ctes = [f"data AS ({scan})"]
    live = "data"

    if manifest["position_deletes"] or manifest["equality_deletes"]:
        # each concrete data file: DuckDB's filename, its file identity
        # (the form position deletes record, tables/scan.py:_file_uri,
        # without the scheme) and its sequence number
        file_rows = ", ".join(
            f"({_duck_path(_norm(p))}, {_duck_path(_norm(_file_uri(p)))}, {e['seq']})"
            for e in manifest["data_entries"]
            for p in e["paths"]
        )
        ctes.append(f"files(__fname, __key, __seq) AS (VALUES {file_rows})")

    if manifest["position_deletes"]:
        del_list = ", ".join(_duck_path(p) for p in manifest["position_deletes"])
        ctes.append(
            f"pdels AS (SELECT f.__fname, d.pos AS __pos "
            f"FROM read_parquet([{del_list}]) d "
            f"JOIN files f ON {norm.format(x='d.file_path')} = f.__key)"
        )
        ctes.append(
            f"pos_kept AS (SELECT * FROM {live} "
            f"ANTI JOIN pdels USING (__fname, __pos))"
        )
        live = "pos_kept"

    eq_conds: list[str] = []
    if manifest["equality_deletes"]:
        # per-concrete-file sequence numbers: equality deletes apply only
        # to rows written BEFORE the delete (data_seq < delete_seq), as in
        # every IceLite reader (tables/scan.py)
        ctes.append(
            f"seq_live AS (SELECT {live}.*, __seq FROM {live} "
            f"JOIN files USING (__fname))"
        )
        live = "seq_live"
        for i, e in enumerate(manifest["equality_deletes"]):
            paths = ", ".join(_duck_path(p) for p in e["paths"])
            sel = ", ".join(
                f'"{fc}" AS "__k_{j}"' for j, fc in enumerate(e["file_cols"])
            )
            ctes.append(f"ed_{i} AS (SELECT {sel} FROM read_parquet([{paths}]))")
            # IS NOT DISTINCT FROM: spec equality deletes match null-safely
            # (a delete row carrying NULL matches data rows with NULL)
            match = " AND ".join(
                f'e."__k_{j}" IS NOT DISTINCT FROM {live}."{kc}"'
                for j, kc in enumerate(e["key_cols"])
            )
            eq_conds.append(
                f"NOT (__seq < {e['seq']} AND "
                f"EXISTS (SELECT 1 FROM ed_{i} e WHERE {match}))"
            )

    where = (" WHERE " + " AND ".join(eq_conds)) if eq_conds else ""
    return f"WITH {', '.join(ctes)} SELECT {cols} FROM {live}{where}"


def read_with_duckdb(table: IceLiteTable, ref: str = "main"):
    """Execute the reconstruction scan in DuckDB → pyarrow Table."""
    import duckdb  # noqa: PLC0415

    con = duckdb.connect()
    try:
        return con.execute(duckdb_scan_sql(table, ref=ref)).arrow()
    finally:
        con.close()
