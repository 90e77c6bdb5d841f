"""Metadata inspection tables (SURVEY.md §2.15).

DataFrame views over IceLite metadata matching Iceberg's dot-suffix
tables the reference reads: ``snapshots`` (ordered-by-committed_at idiom,
/root/reference/tests/iceberg_feature_tests.py:394-398), ``files`` with
record_count/bounds/null counts (:1056-1068), ``all_delete_files``
content + file_format (:572,1533-1537), ``partitions`` (flink :1279),
``refs`` (flink :1183), ``history`` / ``metadata_log_entries``
(redshift fixtures :144).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.scan import resolve_snapshot
from iceberg_matrix_spark.tables.table import IceLiteTable


def _local_df(table: IceLiteTable, rows, schema: str) -> DataFrame:
    """Driver-built metadata rows → 1-slice DataFrame (metadata is
    manifest-scale — thousands of rows, not data rows; see
    session.local_df for why one slice)."""
    return local_df(table.spark, rows, schema)


def snapshots(table: IceLiteTable) -> DataFrame:
    rows = [
        (
            s.snapshot_id,
            s.parent_id,
            s.sequence_number,
            s.timestamp_ms,
            s.operation,
            {k: str(v) for k, v in s.summary.items()},
        )
        for s in table.meta.snapshots
    ]
    return _local_df(
        table,
        rows,
        "snapshot_id long, parent_id long, sequence_number long, "
        "committed_at long, operation string, summary map<string,string>",
    )


def files(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    snap = resolve_snapshot(table.meta, snapshot_id)
    entries = snap.data_files if snap else []
    rows = [
        (
            f.path,
            f.record_count,
            f.file_size_bytes,
            f.schema_id,
            f.sequence_number,
            {k: str(v) for k, v in f.partition.items()},
            {k: str(v) for k, v in f.lower_bounds.items()},
            {k: str(v) for k, v in f.upper_bounds.items()},
            {k: int(v) for k, v in f.null_counts.items()},
            {k: int(v) for k, v in f.value_counts.items()},
        )
        for f in entries
    ]
    return _local_df(
        table,
        rows,
        "file_path string, record_count long, file_size_in_bytes long, "
        "schema_id int, sequence_number long, partition map<string,string>, "
        "lower_bounds map<string,string>, upper_bounds map<string,string>, "
        "null_value_counts map<string,long>, value_counts map<string,long>",
    )


def data_files(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    """Alias of ``files`` under Iceberg's ``{tbl}.data_files`` name."""
    return files(table, snapshot_id)


def all_data_files(table: IceLiteTable) -> DataFrame:
    """Every data file referenced by ANY surviving snapshot (Iceberg's
    all_data_files): one row per (snapshot, file) reference — the
    input to orphan audits and time-travel storage accounting."""
    rows = [
        (s.snapshot_id, f.path, f.record_count, f.file_size_bytes, f.sequence_number)
        for s in table.meta.snapshots
        for f in s.data_files
    ]
    return _local_df(
        table,
        rows,
        "snapshot_id long, file_path string, record_count long, "
        "file_size_in_bytes long, sequence_number long",
    )


def all_files(table: IceLiteTable) -> DataFrame:
    """all_data_files ∪ delete-file references with an Iceberg content
    code (0=data, 1=position deletes, 2=equality deletes)."""
    rows = [
        (s.snapshot_id, 0, f.path, f.record_count, f.file_size_bytes, f.sequence_number)
        for s in table.meta.snapshots
        for f in s.data_files
    ] + [
        (s.snapshot_id, d.content, d.path, d.record_count, None, d.sequence_number)
        for s in table.meta.snapshots
        for d in s.delete_files
    ]
    return _local_df(
        table,
        rows,
        "snapshot_id long, content int, file_path string, record_count long, "
        "file_size_in_bytes long, sequence_number long",
    )


def all_delete_files(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    snap = resolve_snapshot(table.meta, snapshot_id)
    entries = snap.delete_files if snap else []
    rows = [
        (d.path, d.content, d.record_count, d.sequence_number, d.file_format,
         list(d.equality_columns))
        for d in entries
    ]
    return _local_df(
        table,
        rows,
        "file_path string, content int, record_count long, "
        "sequence_number long, file_format string, equality_columns array<string>",
    )


def delete_files(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    """Current-snapshot delete files — the ``{tbl}.delete_files`` surface
    the reference groups by content (redshift fixtures :155-159).
    Snapshot-scoped like ``all_delete_files`` (whose name follows the
    reference's ``{tbl}.all_delete_files`` probes)."""
    return all_delete_files(table, snapshot_id)


def partitions(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    snap = resolve_snapshot(table.meta, snapshot_id)
    agg: dict[str, dict] = {}
    for f in snap.data_files if snap else []:
        key = json.dumps(f.partition, sort_keys=True, default=str)
        slot = agg.setdefault(key, {"record_count": 0, "file_count": 0})
        slot["record_count"] += f.record_count
        slot["file_count"] += 1
    rows = [
        ({k: str(v) for k, v in json.loads(key).items()}, v["record_count"], v["file_count"])
        for key, v in sorted(agg.items())
    ]
    return _local_df(
        table,
        rows, "partition map<string,string>, record_count long, file_count long"
    )


def refs(table: IceLiteTable) -> DataFrame:
    rows = [(name, r.type, r.snapshot_id) for name, r in sorted(table.meta.refs.items())]
    return _local_df(
        table,
        rows, "name string, type string, snapshot_id long"
    )


def history(table: IceLiteTable) -> DataFrame:
    """Snapshot lineage of the main branch (made_current_at semantics)."""
    rows = [
        (s.timestamp_ms, s.snapshot_id, s.parent_id)
        for s in table.meta.snapshots
    ]
    return _local_df(
        table,
        rows, "made_current_at long, snapshot_id long, parent_id long"
    )


def metadata_log_entries(table: IceLiteTable) -> DataFrame:
    rows = [(e["version"], e["timestamp_ms"]) for e in table.meta.metadata_log]
    return _local_df(table, rows, "version int, timestamp_ms long")


def statistics(table: IceLiteTable) -> DataFrame:
    """The `statistics` metadata table: one row per (analyzed snapshot,
    column) with its NDV estimate — read back from the stats files the
    compute_table_statistics procedure wrote."""
    import json as _json

    rows = []
    for entry in table.meta.statistics:
        with open(entry["statistics_path"]) as f:
            blob = _json.load(f)
        for col, est in sorted(blob["ndv"].items()):
            rows.append(
                (entry["snapshot_id"], entry["statistics_path"],
                 entry["blob_type"], col, float(est))
            )
    return _local_df(
        table,
        rows,
        "snapshot_id long, statistics_path string, blob_type string, "
        "column string, ndv double",
    )


def manifests(table: IceLiteTable, snapshot_id: int | None = None) -> DataFrame:
    """The `manifests` metadata table (iceberg_feature_tests.py:1053).

    IceLite has no physical manifest files — the metadata.json embeds
    each snapshot's file lists — so each snapshot's embedded list IS its
    manifest: one row per (snapshot, content) with added/existing file
    counts and row totals, the columns the reference reads.

    Expired parents: a snapshot whose parent was expired has no baseline
    to diff against, so its added/existing split is reported as NULL
    rather than mis-counting every carried-over file as "added" (a root
    snapshot — parent_id None — genuinely adds everything and keeps
    concrete counts)."""
    snaps = table.meta.snapshots
    if snapshot_id is not None:
        snaps = [s for s in snaps if s.snapshot_id == snapshot_id]
    by_id = {s.snapshot_id: s for s in table.meta.snapshots}
    rows = []
    for s in snaps:
        parent = by_id.get(s.parent_id)
        parent_expired = s.parent_id is not None and parent is None
        prev_data = {f.path for f in parent.data_files} if parent else set()
        prev_del = {d.path for d in parent.delete_files} if parent else set()
        if parent_expired:
            rows.append((s.snapshot_id, 0, None, None, None, None))
        else:
            added_d = [f for f in s.data_files if f.path not in prev_data]
            exist_d = [f for f in s.data_files if f.path in prev_data]
            rows.append(
                (s.snapshot_id, 0, len(added_d), len(exist_d),
                 sum(f.record_count for f in added_d),
                 sum(f.record_count for f in exist_d))
            )
        if s.delete_files:
            if parent_expired:
                rows.append((s.snapshot_id, 1, None, None, None, None))
                continue
            added_l = [d for d in s.delete_files if d.path not in prev_del]
            exist_l = [d for d in s.delete_files if d.path in prev_del]
            rows.append(
                (s.snapshot_id, 1, len(added_l), len(exist_l),
                 sum(d.record_count for d in added_l),
                 sum(d.record_count for d in exist_l))
            )
    return _local_df(
        table,
        rows,
        "snapshot_id long, content int, added_files_count int, "
        "existing_files_count int, added_rows_count long, existing_rows_count long",
    )
