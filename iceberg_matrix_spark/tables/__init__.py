"""IceLite: a snapshot-versioned table format in pure PySpark.

The reference project's query surface is the Apache Iceberg operation set
(SURVEY.md §2: row-level DML with MoR/CoW, hidden partitioning, schema &
partition evolution, time travel, branches/tags, metadata inspection,
maintenance). No Iceberg runtime JAR exists in this environment, so
IceLite re-implements that *operation surface* Spark-first:

- data files are plain Parquet written by Spark executors;
- table state is JSON snapshot metadata with an atomic, optimistic
  version-file commit protocol (create-exclusive, like Iceberg's
  version-hint + metadata.json chain);
- MoR reads apply position and equality deletes to the data files. A
  read of at most 256 KB of files (and of at most
  ``spark.sql.autoBroadcastJoinThreshold``) runs in-process in Arrow and
  reaches Spark as a local relation; a
  larger one is a Spark parquet scan with ``_metadata.file_path`` /
  ``_metadata.row_index`` anti-joins;
- hidden partitioning uses Iceberg's transform family
  (years/months/days/hours/bucket/truncate/identity) with manifest-level
  file pruning on scan.

Behavioral citations into the reference test suites appear throughout so
parity can be checked feature by feature.
"""

from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.daft_shape import (
    from_pydict,
    read_iceberg,
    write_iceberg,
)
from iceberg_matrix_spark.tables.table import IceLiteTable
from iceberg_matrix_spark.tables.transforms import (
    BucketTransform,
    DayTransform,
    HourTransform,
    IdentityTransform,
    MonthTransform,
    TruncateTransform,
    YearTransform,
)

__all__ = [
    "IceLiteCatalog",
    "IceLiteTable",
    "read_iceberg",
    "write_iceberg",
    "from_pydict",
    "BucketTransform",
    "DayTransform",
    "HourTransform",
    "IdentityTransform",
    "MonthTransform",
    "TruncateTransform",
    "YearTransform",
]
