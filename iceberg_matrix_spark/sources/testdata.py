"""Loaders for the driver-provided TPC-H-ish parquet tables.

See /root/repo/TESTDATA.md: tables ``region nation customer supplier part
orders lineitem events documents embeddings`` at sf0.001/0.01/0.1.

Scale note: these are plain ``spark.read.parquet`` scans — column pruning
and predicate pushdown reach the parquet reader untouched. The only
transformation applied at load time is the events-table nanosecond
timestamp normalization, a pure projection that doesn't block pushdown of
filters on other columns.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types.

    ``events.ts`` is normalized to TIMESTAMP_NTZ (see
    ``normalize_events_ts``) so values match DuckDB's ``ts`` exactly
    regardless of whether the driver generated NANOS or MICROS parquet.
    """
    if name == "events":
        # Some driver generations write events.ts as INT64 TIMESTAMP(NANOS);
        # vanilla sessions reject that with PARQUET_TYPE_ILLEGAL unless
        # nanosAsLong is on. Set it here (a dynamic SQLConf) so queries work
        # under ANY session, not just ones built by session.py. Deliberately
        # not restored: the conf must still hold at execution time, and it
        # only affects nanos-typed columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df, to="timestamp_ntz")
    return df


def normalize_events_ts(df: DataFrame, to: str = "timestamp_ntz") -> DataFrame:
    """Normalize events.ts to a uniform timestamp type whatever the file's
    physical unit: NANOS arrives as a raw long (nanosAsLong) →
    integer-divide to micros (``div`` — float division would lose
    precision: 2024-epoch nanos exceed the 53-bit double mantissa);
    MICROS/MILLIS arrive as a timestamp type already → just align the
    target type. Dispatch on the *read* dtype, not the file footer, so the
    same code survives driver testdata regenerations (round 1 shipped
    NANOS events, round 2 MICROS)."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # Build the NTZ value with pure epoch arithmetic
        # (timestampadd on a TIMESTAMP_NTZ literal) — NOT via
        # timestamp_micros(), whose LTZ→NTZ cast renders session-local
        # wall clock and would shift every value under a non-UTC driver
        # session (the hostile-TZ contract tests pin).
        col = F.expr(
            "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    elif ts_type == "timestamp_ntz":
        col = F.col("ts")
    elif ts_type == "timestamp":
        # isAdjustedToUTC=true micros read as TIMESTAMP_LTZ; a bare
        # cast('timestamp_ntz') renders session-LOCAL wall clock and
        # silently diverges from DuckDB's naive (UTC wall clock) read
        # under non-UTC sessions. unix_micros extracts the instant's UTC
        # epoch micros session-TZ-independently; rebuild NTZ with the
        # same pure-epoch arithmetic as the nanos branch.
        col = F.expr(
            "timestampadd(MICROSECOND, unix_micros(ts), "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    else:
        raise TypeError(
            f"events.ts read as unexpected dtype {ts_type!r}; "
            "normalize_events_ts knows bigint (nanos), timestamp_ntz, "
            "and timestamp (LTZ micros) — a driver testdata regeneration "
            "changed the physical unit, extend the dispatch deliberately"
        )
    return df.withColumn("ts", col.cast(to))


# On-disk size under which a table gets an explicit broadcast hint.
# Conservative vs Spark's 10 MB in-memory default (parquet decompresses
# ~3-5×); above this we add NO hint and let AQE pick the strategy at
# runtime — a hard-coded broadcast of customer/supplier would OOM the
# executors at 100 TB.
BROADCAST_MAX_FILE_BYTES = 32 * 1024 * 1024


def load_dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table with a broadcast hint ONLY if its file is small.

    Size is measured from the actual parquet footprint, so the same query
    code broadcasts at test scale and shuffles (AQE-planned) at 100 TB.
    """
    df = load_table(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    try:
        size = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
            )
        )
    except OSError:
        return df
    return F.broadcast(df) if size <= BROADCAST_MAX_FILE_BYTES else df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view (same names DuckDB pre-registers)."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
