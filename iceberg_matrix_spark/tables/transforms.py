"""Hidden-partitioning transforms (Iceberg's transform family).

Reference surface: ``PARTITIONED BY (year(ts), bucket(4, category),
truncate(10, id))`` (/root/reference/tests/iceberg_feature_tests.py:918-927),
``months(event_date)`` (clickhouse suite :498-503), ``day(ts), bucket(8,
id)`` (redshift suite :1240-1242).

Each transform maps a source column to a partition value column; scans
prune files by translating simple source-column predicates into partition
space (SURVEY §4 "partition pruning via hidden-partition transforms").
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime, timezone

import pyspark.sql.functions as F
from pyspark.sql import Column

# re.I: transform names are SQL function names — PARTITIONED BY
# (BUCKET(4, id)) is as legal as bucket(4, id) (found by the round-9
# CREATE TABLE grammar fuzz; parse_transform lowercases the kind)
_TRANSFORM_RE = re.compile(
    r"^\s*(?:(?P<fn>years?|months?|days?|hours?)\s*\(\s*(?P<tcol>\w+)\s*\)"
    r"|(?P<bfn>bucket|truncate)\s*\(\s*(?P<arg>\d+)\s*,\s*(?P<bcol>\w+)\s*\)"
    r"|(?P<icol>\w+))\s*$",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class Transform:
    """One partition field: ``transform(source_column)``."""

    kind: str  # identity | year | month | day | hour | bucket | truncate
    source: str
    arg: int | None = None  # bucket N / truncate width

    @property
    def field_name(self) -> str:
        if self.kind == "identity":
            return self.source
        return f"{self.source}_{self.kind}"

    # PyIceberg's spec-field attribute name (tbl.spec().fields[*].name,
    # pyiceberg_feature_tests.py:453-455 asserts "ts_hour")
    @property
    def name(self) -> str:
        return self.field_name

    def spec_string(self) -> str:
        if self.kind == "identity":
            return self.source
        if self.kind in ("bucket", "truncate"):
            return f"{self.kind}({self.arg}, {self.source})"
        return f"{self.kind}({self.source})"

    def apply(self, col: Column | None = None) -> Column:
        """Partition value expression for a row."""
        c = F.col(self.source) if col is None else col
        if self.kind == "identity":
            return c
        if self.kind == "year":
            return F.year(c)
        if self.kind == "month":
            # linear month ordinal so ranges stay order-preserving
            return F.year(c) * 12 + (F.month(c) - 1)
        if self.kind == "day":
            return F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
        if self.kind == "hour":
            return (c.cast("timestamp").cast("long") / 3600).cast("int")
        if self.kind == "bucket":
            return F.pmod(F.xxhash64(c), F.lit(self.arg))
        if self.kind == "truncate":
            raise ValueError("truncate needs the source dtype — use apply_typed")
        raise ValueError(f"unknown transform {self.kind}")

    def apply_typed(self, dtype: str) -> Column:
        """Like :meth:`apply` but uses the source column's data type to pick
        the truncate variant (string prefix vs numeric floor)."""
        c = F.col(self.source)
        if self.kind == "truncate":
            if dtype.startswith("string"):
                return F.substring(c, 1, self.arg)
            return c - F.pmod(c, F.lit(self.arg))
        return self.apply(c)

    # ---- predicate translation (manifest pruning) -------------------------

    def project_value(self, value, dtype: str | None = None) -> object | None:
        """Transform a literal from source space into partition space.
        Returns None when the transform can't project the literal.

        ``bucket`` projects only through ``dtype``, the source column's
        physical type: the hash input is the column's binary form, so the
        same literal lands in different buckets as an int and as a bigint
        (see :func:`bucket_hash_input`)."""
        if self.kind == "identity":
            return value
        if self.kind in ("year", "month", "day", "hour"):
            ts = _as_datetime(value)
            if ts is None:
                return None
            if self.kind == "year":
                return ts.year
            if self.kind == "month":
                return ts.year * 12 + (ts.month - 1)
            if self.kind == "day":
                return (ts.date() - date(1970, 1, 1)).days
            if self.kind == "hour":
                return int(ts.replace(tzinfo=timezone.utc).timestamp() // 3600)
        if self.kind == "truncate":
            if isinstance(value, str):
                return value[: self.arg]
            if isinstance(value, int):
                return value - (value % self.arg)
        if self.kind == "bucket" and dtype is not None:
            data = bucket_hash_input(value, dtype)
            if data is not None:
                # Python's % with a positive modulus is Spark's pmod
                return xxhash64(data) % self.arg
        return None


# ---- Spark's xxhash64, for bucket projection ----------------------------
#
# The writer computes bucket(N, c) as pmod(xxhash64(c), N) (Transform.apply).
# Pruning an equality predicate on c needs the same value on the driver, so
# this is XXH64 (the published algorithm, which Spark's XXH64.java
# implements) with Spark's seed and Spark's choice of input bytes per type.

_SEED = 42
_U64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

# Spark hashes tinyint and smallint as a 4-byte int, like int itself.
_HASH_INT_BYTES = {"tinyint": 4, "smallint": 4, "int": 4, "bigint": 8}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _U64, 31) * _P1 & _U64


def xxhash64(data: bytes) -> int:
    """Spark SQL's ``xxhash64`` of ``data`` as a signed 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _U64, (_SEED + _P2) & _U64, _SEED, (_SEED - _P1) & _U64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _U64
        for acc in v:
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _U64
    else:
        h = (_SEED + _P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _U64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _U64
        h = (_rotl(h, 23) * _P2 + _P3) & _U64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _U64
        h = _rotl(h, 11) * _P1 & _U64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _U64
    h ^= h >> 29
    h = h * _P3 & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_hash_input(value, dtype: str) -> bytes | None:
    """The bytes Spark's ``xxhash64`` reads for ``value`` in a column of
    physical type ``dtype``: a 4-byte little-endian int for tinyint,
    smallint and int, 8 bytes for bigint, UTF-8 for string. None for any
    other type, for a literal whose Python type does not match the column
    (a float or bool on an integer column, a number on a string column),
    and for an integer outside the column's range: those are not
    projected, so the file is kept."""
    width = _HASH_INT_BYTES.get(dtype)
    if width is not None:
        if type(value) is not int:
            return None
        try:
            return value.to_bytes(width, "little", signed=True)
        except OverflowError:
            return None
    if dtype == "string" and isinstance(value, str):
        return value.encode("utf-8")
    return None


# ---- PyIceberg-shaped transform objects --------------------------------
#
# The reference constructs DayTransform()/HourTransform() objects for
# partition specs and update_spec().add_field
# (/root/reference/tests/pyiceberg_feature_tests.py:446,452). Each renders
# our spec string for the given source column.


class _NamedTransform:
    kind: str = ""

    def spec(self, source: str) -> str:
        return f"{self.kind}({source})"

    def __repr__(self) -> str:  # pragma: no cover - debug nicety
        return f"{type(self).__name__}()"


class YearTransform(_NamedTransform):
    kind = "year"


class MonthTransform(_NamedTransform):
    kind = "month"


class DayTransform(_NamedTransform):
    kind = "day"


class HourTransform(_NamedTransform):
    kind = "hour"


class IdentityTransform(_NamedTransform):
    kind = "identity"

    def spec(self, source: str) -> str:
        return source


class BucketTransform(_NamedTransform):
    kind = "bucket"

    def __init__(self, num_buckets: int):
        self.num_buckets = int(num_buckets)

    def spec(self, source: str) -> str:
        return f"bucket({self.num_buckets}, {source})"


class TruncateTransform(_NamedTransform):
    kind = "truncate"

    def __init__(self, width: int):
        self.width = int(width)

    def spec(self, source: str) -> str:
        return f"truncate({self.width}, {source})"


def transform_spec(source: str, transform) -> str:
    """Render (source, transform) into a spec string. ``transform`` may be
    a *Transform object (above, or anything with a ``spec(source)``
    method), a bare kind string (``"hour"``), a parameterized kind
    (``"bucket(16)"``), or already a full spec (``"hour(ts)"``)."""
    if not isinstance(transform, str):
        spec = getattr(transform, "spec", None)
        if callable(spec):
            return spec(source)
        raise TypeError(f"cannot render transform: {transform!r}")
    t = transform.strip()
    if "(" in t:
        m = re.match(r"^(bucket|truncate)\s*\(\s*(\d+)\s*\)$", t)
        if m:
            return f"{m.group(1)}({m.group(2)}, {source})"
        parsed = parse_transform(t)  # full spec — validate + check source
        if parsed.source != source:
            raise ValueError(
                f"transform {t!r} names source {parsed.source!r}, not {source!r}"
            )
        return t
    if t == "identity":
        return source
    return f"{t}({source})"


def _as_datetime(value) -> datetime | None:
    if isinstance(value, datetime):
        return value
    if isinstance(value, date):
        return datetime(value.year, value.month, value.day)
    if isinstance(value, str):
        try:
            return datetime.fromisoformat(value)
        except ValueError:
            return None
    return None


def parse_transform(spec: str) -> Transform:
    """Parse ``years(ts)`` / ``bucket(4, id)`` / ``truncate(10, s)`` /
    bare-column identity specs. Accepts both singular and plural time
    transform spellings (the reference uses both)."""
    m = _TRANSFORM_RE.match(spec)
    if not m:
        raise ValueError(f"cannot parse partition transform: {spec!r}")
    if m.group("fn"):
        kind = m.group("fn").lower().rstrip("s")
        return Transform(kind=kind, source=m.group("tcol"))
    if m.group("bfn"):
        arg = int(m.group("arg"))
        if arg < 1:
            # bucket(0,·) is pmod-by-zero at WRITE time, truncate(0,·)
            # a mod-zero at PRUNE time — reject at DDL, not mid-commit
            # (found by the round-9 CREATE TABLE grammar fuzz)
            raise ValueError(
                f"{m.group('bfn').lower()} needs a positive argument: {spec!r}"
            )
        return Transform(
            kind=m.group("bfn").lower(), source=m.group("bcol"), arg=arg
        )
    return Transform(kind="identity", source=m.group("icol"))
