"""SparkSession factory.

Modeled on the reference harness's session builder
(/root/reference/tests/iceberg_feature_tests.py:262-384): local master,
deterministic shuffle partitioning, AQE off for correctness runs (the
reference disables AQE at :314 for deterministic physical artifacts), UTC
session timezone, Arrow enabled for pandas interchange.

Scale notes: on a real cluster these settings come from spark-submit; the
factory only sets semantics-bearing configs (timezone, nanos handling,
Arrow) plus local-mode conveniences. Everything here is safe at 100 TB —
no collect-based logic, no hard-coded partition counts in operators (the
shuffle-partition default is a local-mode testing knob; production uses AQE
coalescing).
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "iceberg-matrix-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    adaptive: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``adaptive=False`` by default: the correctness harness needs
    deterministic plans/artifacts (reference disables AQE for the same
    reason). Benchmarks pass ``adaptive=True``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        # AQE sessions start shuffles WIDE and let runtime coalescing
        # shrink small stages back to target size — the production
        # sizing pattern ("partitions fit in executor memory"): with a
        # fixed 32, the heavy inverted-index aggregations spilled ~30 GB
        # at the scale sweep's 100× point (round 10, chunk_dedup family)
        # because each task's agg state outgrew its memory share; wide
        # initial partitions bound per-task state while AQE keeps tiny
        # stages from fragmenting. No effect on adaptive=False
        # correctness sessions (their plans stay deterministic).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "256" if adaptive else str(shuffle_partitions),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's events table carries INT64 TIMESTAMP(NANOS) parquet
        # timestamps, which Spark rejects by default; read them as raw
        # nanosecond longs and convert explicitly (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema: str | list[str]):
    """Driver-built rows → a one-slice DataFrame over a JVM ``LocalRelation``.

    Metadata and lookup frames (file→sequence maps, CALL results,
    dimension literals, appended batches) are driver-scale by definition.
    The rows go to the JVM once, as an Arrow table, and Catalyst plans
    them as a ``LocalTableScan``: reading the frame, broadcasting it or
    writing it runs no Python worker. A frame over a pickled Python RDD
    (``parallelize``) or over a plain row list would make every
    downstream touch a Python-worker job.

    Values are converted with the schema's own ``toInternal``, so a naive
    ``datetime`` in a ``timestamp`` column means local time exactly as in
    ``spark.createDataFrame(rows, schema)``. A list of column names
    instead of a DDL string infers the types from the rows.

    ``coalesce(1)`` keeps the one-slice layout: a ``LocalTableScan``
    spreads its rows over up to ``defaultParallelism`` slices, and a
    partitioned write emits one file per partition value per slice (a
    200-row ``bucket(8)`` append would write 32 files, not 8). One slice
    also keeps broadcast hash and nested-loop joins against these frames
    cheap."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

    if isinstance(schema, str):
        struct = _parse_datatype_string(schema)
    else:
        struct = spark._inferSchemaFromList(rows, names=list(schema))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*(struct.toInternal(r) for r in rows))) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct).coalesce(1)


# Data-source registration: once per LIVE session, under a lock.
# - lock: concurrent register() calls race to DATA_SOURCE_ALREADY_EXISTS
#   (thread-pooled conformance probes); sequential re-register is only a
#   WARN, the race is an error.
# - WeakSet, not id(spark): a new session allocated at a garbage-collected
#   session's address would satisfy an id()-keyed guard and silently skip
#   registration (first read would fail DATA_SOURCE_NOT_FOUND).
_DS_LOCK = threading.Lock()
_DS_REGISTERED: dict[str, object] = {}
_DS_CLASSES: dict[str, type] = {}


def register_data_source_once(spark: SparkSession, cls, name: str) -> None:
    with _DS_LOCK:
        _DS_CLASSES[name] = cls
        seen = _DS_REGISTERED.setdefault(name, weakref.WeakSet())
        if spark in seen:
            return
        spark.dataSource.register(cls)
        seen.add(spark)


def reregister_data_sources(spark: SparkSession) -> list[str]:
    """Heal path for the shared-JVM ``java.io.OptionalDataException``
    artifact (round 10 diagnosis): a Python data source's JVM wrapper
    carries a SHARED mutable env-vars HashMap that each task launch
    mutates; if a mutation races a concurrent taskBinary serialization
    of the SAME wrapper (thread-pooled conformance probes; a streaming
    trigger next to driver-thread job submission), the map — and with
    it every LATER serialization — can be left permanently inconsistent,
    which is why the artifact was observed turning near-deterministic
    for the rest of a long session (4 task-deserialization failures in
    one round-10 suite run, all on the icelite_stream source, retries
    included). Re-registering under the same name replaces the JVM
    wrapper, giving the next query a fresh map. Returns the names
    re-registered; callers invoke this before retrying on exactly that
    exception signature."""
    with _DS_LOCK:
        healed = []
        for name, cls in _DS_CLASSES.items():
            seen = _DS_REGISTERED.get(name)
            if seen is not None and spark in seen:
                spark.dataSource.register(cls)
                healed.append(name)
        return healed
