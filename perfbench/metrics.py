"""Every metric the benchmark reports, with the end-to-end metric and
workload each per-layer metric should move. ``BENCHMARK.json`` lists the
same names; ``tests/test_helpers.py`` keeps the two in step.

The end-to-end metrics are CPU seconds of the benchmark's process tree
(``cputime.py``), not wall seconds: on a shared host the wall clock of the
same op swings by 1.5x with the time other guests take from the CPUs.
Wall-clock figures are per-layer metrics (``wall.*``).

Per-layer metrics are reported on every workload; a layer the workload
does not exercise reads 0 (for example ``tables.*`` on ``query_mix``).
``exec.*`` values are per-op means over the measured ops.
"""

from __future__ import annotations

from querymix import DML

WORKLOADS = ("lake_history", "query_mix")

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_cpu_s": ("s", "lower", 0.25),
    "read_cpu_s": ("s", "lower", 0.25),
    "write_cpu_s": ("s", "lower", 0.25),
}

_OPS = ("append", "merge", "delete", "update", "point_read", "scan", "time_travel")
FAMILIES = ("relational", "streaming_q", "text", "dedup")

# name -> (unit, better, moves: "<end-to-end metric> on <workload>")
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "wall.setup_s on all workloads"),
    "session.get_spark_cpu_s": ("s", "lower", "setup_s on all workloads"),
    "session.peak_rss_mb": ("MB", "lower", "none: driver JVM + Python VmHWM, memory moved into set-up"),
    "sources.load_table_s": ("s", "lower", "setup_s, read_cpu_s on query_mix"),
    "sources.load_table_jobs": ("count", "lower", "setup_s on query_mix"),
    "queries.build_s": ("s", "lower", "op_cpu_s, read_cpu_s on query_mix"),
    "queries.build_jobs": ("count", "lower", "op_cpu_s, read_cpu_s on query_mix"),
    "plan.executed_plan_s": ("s", "lower", "read_cpu_s on all workloads"),
    "exec.noop_write_s": ("s", "lower", "read_cpu_s on query_mix"),
}
for _f in FAMILIES:
    PER_LAYER[f"family.{_f}.query_s"] = ("s", "lower", "op_cpu_s on query_mix")
for _q in DML:
    PER_LAYER[f"query.{_q}_s"] = ("s", "lower", "write_cpu_s on query_mix")
PER_LAYER.update({
    "tables.load_table_s": ("s", "lower", "read_cpu_s, write_cpu_s, op_cpu_s on lake_history"),
    "tables.metadata_bytes": ("B", "lower", "write_cpu_s, read_cpu_s, op_cpu_s on lake_history"),
    "tables.metadata_bytes_per_commit": ("B", "lower", "write_cpu_s, op_cpu_s on lake_history"),
    "tables.driver_only_s": ("s", "lower", "write_cpu_s on lake_history"),
})
for _o in _OPS:
    _e2e = "write_cpu_s" if _o in ("append", "merge", "delete", "update") else "read_cpu_s"
    PER_LAYER[f"tables.{_o}_p50_s"] = ("s", "lower", f"{_e2e}, op_cpu_s on lake_history")
    PER_LAYER[f"tables.{_o}.driver_only_s"] = ("s", "lower", f"{_e2e} on lake_history")
    PER_LAYER[f"tables.{_o}.load_table_s"] = ("s", "lower", f"{_e2e} on lake_history")
PER_LAYER.update({
    "tables.head_data_files": ("count", "lower", "read_cpu_s on lake_history"),
    "tables.head_delete_files": ("count", "lower", "read_cpu_s on lake_history"),
    "tables.prune_kept_ratio": ("ratio", "lower", "read_cpu_s on lake_history"),
    "tables.rows_scanned_per_row_returned": ("ratio", "lower", "read_cpu_s on lake_history"),
    "tables.jobs_per_commit": ("count", "lower", "write_cpu_s on lake_history"),
    "tables.jobs_per_read": ("count", "lower", "read_cpu_s on lake_history"),
    "tables.write_amp": ("ratio", "lower", "write_cpu_s on lake_history"),
    "tables.space_amp": ("ratio", "lower", "read_cpu_s on lake_history"),
})
_EXEC = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "input_bytes": "B", "output_bytes": "B", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "untagged_jobs": "count",
}
for _k, _u in _EXEC.items():
    PER_LAYER[f"exec.{_k}"] = (_u, "lower", "op_cpu_s, read_cpu_s on all workloads")
PER_LAYER.update({
    "wall.setup_s": ("s", "lower", "none: setup_s in wall seconds"),
    "wall.ops_per_s": ("1/s", "higher", "none: measured ops over the sum of their walls"),
    "wall.read_p50_s": ("s", "lower", "none: median wall of the read ops"),
    "wall.write_p50_s": ("s", "lower", "none: median wall of the write ops"),
    "trace.overhead_s": ("s", "lower", "none: the recorder's own time per op"),
    "trace.spans": ("count", "lower", "none: spans recorded per op"),
    # minus op_cpu_s of an untraced run with the same seed, it is the
    # tracing overhead
    "trace.op_cpu_s": ("s", "lower", "none: op_cpu_s with tracing on"),
})
