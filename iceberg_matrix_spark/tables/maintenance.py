"""Table maintenance procedures (SURVEY.md §2.14).

The CALL-procedure surface: ``rewrite_data_files`` (compaction,
/root/reference/tests/iceberg_feature_tests.py:853), ``expire_snapshots``
(:854-860), ``remove_orphan_files`` + ``rewrite_manifests``
(features catalog, /root/reference/src/data/features.json:88-93).
"""

from __future__ import annotations

import os
import re
import shutil

from iceberg_matrix_spark.tables.metadata import TableMetadata
from iceberg_matrix_spark.tables.scan import _file_uri
from iceberg_matrix_spark.tables.table import (
    _POS_DELETE_SCHEMA,
    IceLiteTable,
    _head,
    _sort_columns,
    _sort_fields,
    _Staged,
)


def _zorder_expr(live, columns: list[str], bits: int | None = None):
    """Z-value (Morton code) expression over ``columns``.

    Numeric columns are linearly scaled to ``bits``-bit integers using
    global min/max (one tiny driver-side aggregate — 2 scalars per
    column, constant regardless of table size); non-numeric columns are
    xxhash64-masked to the same width. The bit interleave itself is a
    chain of shift/and/or Catalyst expressions, so the whole z-value
    stays inside whole-stage codegen — no Python in the row path.
    Mirrors Iceberg's rewrite_data_files(strategy=>'sort',
    sort_order=>'zorder(a,b)') clustering semantics."""
    from pyspark.sql import functions as F

    # The interleaved code must fit a signed 64-bit long: bit positions go
    # up to bits*len(columns)-1, and position 63 is the sign bit (flipping
    # it would invert range order for high z-values; >=64 wraps mod 64
    # under Java shift semantics, silently colliding bits). Scale the
    # per-dimension width down so the widest bit lands at <= 62.
    if bits is None:
        bits = min(16, 62 // max(1, len(columns)))
        if bits < 1:
            # 63+ columns can't get even 1 bit each without touching the
            # sign bit / wrapping shifts — reject instead of silently
            # corrupting the code (no real table z-orders this wide)
            raise ValueError(
                f"zorder supports at most 62 columns, got {len(columns)}"
            )

    dtypes = dict(live.dtypes)
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}

    def num_expr(c: str):
        """(column as DOUBLE, is_floating), or (None, False) for
        non-numeric. DATE can't cast to DOUBLE under ANSI — route through
        unix_date (TIMESTAMP casts fine). Floating columns route through
        nanvl: one NaN would otherwise poison min/max → span=NaN → every
        row's scaled value NaN (an ANSI cast error, or a silent
        constant-0 dimension)."""
        t = dtypes.get(c, "").split("(")[0]
        if t == "date":
            return F.unix_date(F.col(c)).cast("double"), False
        if t in ("float", "double"):
            e = F.col(c).cast("double")
            return F.nanvl(e, F.lit(None).cast("double")), True
        if t in numeric or t in ("decimal", "timestamp", "timestamp_ntz"):
            return F.col(c).cast("double"), False
        return None, False

    aggs = []
    for c in columns:
        e, _fl = num_expr(c)
        if e is not None:
            aggs += [F.min(e).alias(f"__mn_{c}"), F.max(e).alias(f"__mx_{c}")]
    bounds = live.agg(*aggs).collect()[0].asDict() if aggs else {}

    mask = (1 << bits) - 1
    scaled = []
    for c in columns:
        e, floating = num_expr(c)
        if e is not None and bounds.get(f"__mn_{c}") is not None:
            mn, mx = bounds[f"__mn_{c}"], bounds[f"__mx_{c}"]
            span = (mx - mn) or 1.0
            s = F.round((e - F.lit(mn)) / F.lit(span) * F.lit(mask)).cast("long")
            s = F.least(F.greatest(s, F.lit(0)), F.lit(mask))
            if floating:
                # NaN sorts greater than every value in Spark — cluster it
                # into the top bucket to mirror that ordering
                s = F.when(F.isnan(F.col(c)), F.lit(mask).cast("long")).otherwise(s)
        else:
            # non-numeric (or all-NULL/all-NaN): hash into the same code
            # space
            s = F.pmod(F.xxhash64(F.col(c)), F.lit(mask + 1))
        scaled.append(F.coalesce(s, F.lit(0)))

    n = len(scaled)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftrightunsigned(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def rewrite_data_files(
    table: IceLiteTable,
    target_partitions: int | None = None,
    strategy: str = "binpack",
    columns: list[str] | None = None,
) -> dict:
    """Compaction: materialize the MoR-resolved live rows and rewrite them
    as a compact file set (op="replace"); the captured files' delete files
    are applied and dropped. Returns a summary like the Iceberg procedure.

    ``strategy`` mirrors Iceberg's rewrite_data_files strategies. Each
    one only picks an order and a file count for
    ``IceLiteTable._write_data_files``, the layout step every IceLite
    write shares. Other writes distribute by ``write.distribution-mode``
    and sort by the table order; a rewrite distributes by its strategy
    instead. Either way every output file holds one partition value and
    is sorted by the order:

    - ``binpack`` (default): no shuffle; read splits merge into
      ``target_partitions`` tasks, or by default into as many as
      ``write.target-file-size-bytes`` asks for. Files keep the table
      sort order.
    - ``sort``: range-distribute on ``columns`` alone (default: the
      table's registered sort order, see ``replace_sort_order``; names
      resolve case-insensitively) into ``target_partitions`` tasks
      (default ``spark.sql.shuffle.partitions``), so within each
      partition every output file covers a disjoint key range — manifest
      min/max pruning then skips files for range predicates.
    - ``zorder``: the same on the Morton interleave of ``columns``, so
      min/max bounds tighten on EVERY z-dimension at once — multi-column
      predicates prune files that a single-column sort cannot.

    Concurrency (what lets this run inside a live streaming job,
    flink_feature_tests.py:1100-1172) follows the commit contract in
    tables/metadata.py: the rewrite replaces only the captured victim
    files, so concurrent appends re-base it. It restarts when a victim
    left the head or a newer delete file landed, the same as Iceberg's
    conflicting-delete validation."""

    if strategy not in ("binpack", "sort", "zorder"):
        raise ValueError(f"unknown rewrite strategy: {strategy!r}")

    def write(meta: TableMetadata) -> _Staged:
        parent = _head(meta)
        if parent is None:
            raise ValueError("nothing to compact")
        live = table._read_snapshot(parent, with_meta=False)
        order = None
        n = target_partitions or int(table.spark.conf.get("spark.sql.shuffle.partitions"))
        if strategy == "sort":
            fields = (
                _sort_fields(columns, meta.current_schema.names())
                if columns
                else table.sort_order_fields()
            )
            if not fields:
                raise ValueError(
                    "strategy='sort' needs columns= or a table sort order "
                    "(replace_sort_order)"
                )
            order = _sort_columns(fields)
        elif strategy == "zorder":
            if not columns:
                raise ValueError("strategy='zorder' needs columns=")
            order = [_zorder_expr(live, columns).asc()]
        elif not target_partitions:
            # size-aware binpack: merge read splits toward
            # write.target-file-size-bytes so compaction emits ~target-
            # sized files instead of one file per input split
            target_bytes = int(
                meta.properties.get(
                    "write.target-file-size-bytes", str(512 * 1024 * 1024)
                )
            )
            total = sum(f.file_size_bytes for f in parent.data_files)
            n = max(1, -(-total // max(target_bytes, 1)))
        # every delete file is applied by the read above, so the snapshot
        # drops them all along with the victims
        staged = _Staged(
            "replace",
            replaces={
                _file_uri(f.path) for f in parent.data_files + parent.delete_files
            },
        )
        table._write_data_files(live, staged, order, n)
        staged.summary = {
            "rewritten-data-files": len(parent.data_files),
            "added-data-files-compact": len(staged.data_files),
        }
        return staged

    def moved(before, now) -> bool:
        # A concurrent copy-on-write delete/update (or another rewrite)
        # replaces victim files without adding delete files: committing
        # our copy of a vanished victim would resurrect its deleted rows
        # and duplicate its survivors. A newer delete file would be
        # dropped unapplied.
        return bool(
            {f.path for f in before.data_files} - {f.path for f in now.data_files}
        ) or any(d.sequence_number > before.sequence_number for d in now.delete_files)

    table.refresh()
    snap = _head(table._commit_write(write, moved=moved))
    return {
        "rewritten_data_files_count": int(snap.summary["rewritten-data-files"]),
        # NOT len(snap.data_files): concurrent appends merged past this
        # commit also live in the snapshot
        "added_data_files_count": int(snap.summary["added-data-files-compact"]),
    }


def expire_snapshots(
    table: IceLiteTable,
    older_than_ms: int | None = None,
    retain_last: int = 1,
) -> dict:
    """Expire snapshots older than the cutoff while retaining the last N
    and every ref target; physically deletes files referenced only by
    expired snapshots (the reference asserts count-after-expiry,
    iceberg_feature_tests.py:854-860)."""

    removed_files: list[str] = []

    def mutate(meta: TableMetadata) -> TableMetadata:
        # reset on every attempt: an optimistic-commit retry recomputes
        # against refreshed metadata, and stale paths from a failed attempt
        # must not drive physical deletion (they may be live in the new head)
        removed_files.clear()
        keep_ids = {r.snapshot_id for r in meta.refs.values()}
        ordered = sorted(meta.snapshots, key=lambda s: s.snapshot_id)
        keep_ids.update(s.snapshot_id for s in ordered[-max(1, retain_last):])
        expired = [
            s
            for s in ordered
            if s.snapshot_id not in keep_ids
            and (older_than_ms is None or s.timestamp_ms < older_than_ms)
        ]
        if not expired:
            return meta
        survivors = [s for s in meta.snapshots if s not in expired]
        live_paths = {
            f.path for s in survivors for f in s.data_files
        } | {d.path for s in survivors for d in s.delete_files}
        for s in expired:
            for f in s.data_files:
                if f.path not in live_paths:
                    removed_files.append(f.path)
            for d in s.delete_files:
                if d.path not in live_paths:
                    removed_files.append(d.path)
        meta.snapshots = survivors
        return meta

    table._commit(mutate)
    deleted = 0
    for path in set(removed_files):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
            deleted += 1
        elif os.path.isfile(path):
            os.remove(path)
            deleted += 1
    return {"deleted_data_files_count": deleted}


def remove_orphan_files(
    table: IceLiteTable, dry_run: bool = False, older_than_ms: int | None = None
) -> list[str]:
    """Delete data/delete files not referenced by ANY snapshot (e.g. from
    failed commits).

    Two guards against deleting files that are about to BECOME
    referenced (the same hazards Iceberg's procedure guards):

    - the handle is refreshed first, so files committed since the handle
      was loaded are seen as referenced, not orphaned;
    - only files last modified before ``older_than_ms`` are removed —
      default 3 days ago, Iceberg's default — because every write stages
      its files before it commits (the contract in tables/metadata.py);
      an in-flight writer's staged output is young, not orphaned.
    """
    import time as _time

    table.refresh()
    cutoff_ms = (
        older_than_ms
        if older_than_ms is not None
        else int(_time.time() * 1000) - 3 * 86400 * 1000
    )
    referenced: set[str] = set()
    for s in table.meta.snapshots:
        referenced.update(f.path for f in s.data_files)
        referenced.update(d.path for d in s.delete_files)

    orphans: list[str] = []
    data_root = os.path.join(table.location, "data")
    for root in (data_root, os.path.join(table.location, "deletes")):
        if not os.path.isdir(root):
            continue
        for entry in os.scandir(root):
            # commit dirs under data/, delete dirs under deletes/
            if entry.is_dir():
                files_in, newest_ms = [], entry.stat().st_mtime * 1000
                for r, _d, names in os.walk(entry.path):
                    for n in names:
                        p = os.path.join(r, n)
                        newest_ms = max(newest_ms, os.path.getmtime(p) * 1000)
                        if n.endswith(".parquet"):
                            files_in.append(p)
                if entry.path in referenced:
                    continue
                if newest_ms >= cutoff_ms:
                    continue  # young enough to be an in-flight write
                if not any(p in referenced for p in files_in):
                    orphans.append(entry.path)
    if not dry_run:
        for path in orphans:
            shutil.rmtree(path, ignore_errors=True)
    return sorted(orphans)


def rewrite_manifests(table: IceLiteTable) -> dict:
    """Compact the metadata chain: reclaim every version file below the
    current head (the manifest-rewrite analog; older versions are
    superseded).

    Old version files are TRUNCATED to zero bytes, never unlinked: the
    commit protocol detects conflicts by exclusive-create of
    v{N}.metadata.json (metadata.py:commit_metadata), so a writer holding
    a stale version k must keep colliding with the existing v{k+1} — if
    it were removed, that writer's commit would "succeed" at a version
    below head and be silently invisible (a lost update). Truncation
    reclaims the bytes while keeping the name as a tombstone; head
    resolution (max version number) and the embedded metadata_log are
    unaffected. Versions STRICTLY BELOW the refreshed head are compacted,
    so a commit racing this procedure (which always lands above head) is
    never touched."""
    head = table.refresh().version
    mdir = os.path.join(table.location, "metadata")
    removed = 0
    for name in os.listdir(mdir):
        m = re.match(r"v(\d+)\.metadata\.json$", name)
        if not m or int(m.group(1)) >= head:
            continue
        p = os.path.join(mdir, name)
        if os.path.getsize(p) > 0:
            with open(p, "w"):
                pass  # truncate in place
            removed += 1
    return {"rewritten_manifests_count": removed}


def rewrite_position_deletes(table: IceLiteTable) -> dict:
    """Consolidate accumulated position-delete files into one (Iceberg's
    ``rewrite_position_delete_files`` procedure): every MoR read anti-
    joins each outstanding delete file, so N per-commit files cost N
    inputs per scan — consolidation restores O(1). Dangling entries
    pointing at data files no longer in the head snapshot are dropped.

    Concurrency follows the commit contract in tables/metadata.py:
    concurrent appends re-base the consolidation, and a change to the
    head's position-delete set (a concurrent MoR DELETE) restarts it.
    """
    import pyspark.sql.functions as F

    def positions(snap) -> list[str]:
        return [d.path for d in snap.delete_files if d.content == 1]

    table.refresh()
    head = table._current_snapshot()
    if head is None:
        raise ValueError("nothing to rewrite: empty table")
    if len(positions(head)) <= 1:
        return {"rewritten_delete_files_count": 0, "added_delete_files_count": 0}

    def write(meta: TableMetadata) -> _Staged:
        h = _head(meta)
        pos = positions(h)
        staged = _Staged("replace", replaces={_file_uri(p) for p in pos})
        if pos:
            live = sorted(_file_uri(f.path) for f in h.data_files)
            dels = (
                table.spark.read.schema(_POS_DELETE_SCHEMA)
                .parquet(*pos)
                .distinct()
                .filter(F.col("file_path").isin(live))
            )
            # adds nothing when every delete points at a file no longer live
            table._write_delete_file(dels, 1, staged)
        staged.summary = {
            "rewritten-delete-files": len(pos),
            "added-delete-files": len(staged.delete_files),
        }
        return staged

    snap = _head(
        table._commit_write(
            write, moved=lambda before, now: set(positions(before)) != set(positions(now))
        )
    )
    return {
        "rewritten_delete_files_count": int(snap.summary["rewritten-delete-files"]),
        "added_delete_files_count": int(snap.summary["added-delete-files"]),
    }


def compute_table_statistics(table: IceLiteTable, columns: list[str] | None = None) -> dict:
    """Iceberg's ``compute_table_stats`` procedure shape: per-column NDV
    sketches for the CURRENT snapshot, persisted as a statistics file
    under metadata/ and registered in the metadata.json ``statistics``
    list (one entry per analyzed snapshot; re-analyzing replaces it).

    Real Iceberg writes Apache DataSketches theta blobs in a Puffin file;
    IceLite writes the deterministic KMV sketch estimates
    (operators/scale.py — same estimator, engine-portable hash) as JSON.
    Scale: one aggregation pass per column, each shuffling at most k
    hashes per partition — never the distinct set itself.
    """
    import json as _json

    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.scale import _KMV_SPACE, KMV_K

    table.refresh()
    head = table._current_snapshot()
    if head is None:
        raise ValueError("cannot compute statistics on an empty table")
    df = table.df()
    cols = columns or df.columns
    # ONE scan for every column: per-partition k-smallest hash sets for
    # all columns in a single aggregation, merged into one sketch row
    # (KMV of a union = KMV of merged KMVs). A zero-row head degrades to
    # empty sketches → NDV 0.0, not a crash.
    k = KMV_K
    ncols = len(cols)
    hashes = df.select(
        *[
            F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias(f"__h{i}")
            for i, c in enumerate(cols)
        ],
    )

    # Per-partition k-smallest via Arrow-batched mapInPandas with a
    # RUNNING k-bounded buffer: memory is O(k + arrow-batch), never the
    # partition's distinct set (a collect_set here would buffer the full
    # per-partition NDV before any slice — an OOM risk on
    # high-cardinality columns at scale). Hashing stays JVM-side; only
    # the k-min selection crosses to Python.
    def _k_smallest(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        mins = [np.empty(0, dtype=np.int64) for _ in range(ncols)]
        for pdf in batches:
            for i in range(ncols):
                vals = pdf[f"__h{i}"].dropna()
                if len(vals):
                    merged_arr = np.unique(
                        np.concatenate([mins[i], vals.to_numpy(dtype=np.int64)])
                    )
                    mins[i] = merged_arr[:k]
        yield pd.DataFrame({f"__m{i}": [mins[i].tolist()] for i in range(ncols)})

    per_part = hashes.mapInPandas(
        _k_smallest, schema=", ".join(f"__m{i} array<bigint>" for i in range(ncols))
    )
    merged = per_part.agg(
        *[
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(f"__m{i}")))),
                1,
                k,
            ).alias(f"__m{i}")
            for i in range(len(cols))
        ]
    ).collect()[0]
    ndv: dict[str, float] = {}
    for i, c in enumerate(cols):
        mins = merged[f"__m{i}"] or []
        if len(mins) < k:
            ndv[c] = float(len(mins))
        else:
            ndv[c] = float(k - 1) / (float(mins[k - 1]) / _KMV_SPACE)

    sdir = os.path.join(table.location, "metadata")
    path = os.path.join(sdir, f"stats-{head.snapshot_id}.json")
    with open(path, "w") as f:
        _json.dump(
            {"snapshot_id": head.snapshot_id, "blob_type": "kmv-ndv-v1", "ndv": ndv},
            f,
            indent=1,
        )

    def mutate(meta: TableMetadata) -> TableMetadata:
        meta.statistics = [
            s for s in meta.statistics if s["snapshot_id"] != head.snapshot_id
        ] + [
            {
                "snapshot_id": head.snapshot_id,
                "statistics_path": path,
                "blob_type": "kmv-ndv-v1",
                "columns": sorted(ndv),
            }
        ]
        return meta

    table._commit(mutate)
    return {"analyzed_columns": len(ndv), "statistics_path": path, "ndv": ndv}
