"""The ``lake_history`` workload: a seeded op stream, the in-memory model
that checks it, and the PyIceberg-shaped client that sends it.

Rows are a pure function of the id and the seed, with ``v`` an exact
binary fraction, so sums of ``v`` are exact in double precision whatever
order Spark adds them in and the model can compare aggregates exactly.
"""

from __future__ import annotations

import contextlib
import random
from dataclasses import dataclass

SCHEMA = "id bigint, grp int, v double, tag string"
NAMESPACE = "bench"
TABLE = "history"
BATCH = 200  # rows per append
INITIAL = 2_000  # rows loaded at set-up
V_SCALE = 1024  # v = ((id * b + salt) mod 2^20) / 1024: exact in a double
V_MOD = 1 << 20

# The op kinds of one cycle, in order. A run measures whole cycles, the
# order is fixed and the seed draws every batch, key and predicate, so every
# run sends the same mix. Point reads follow the delete, the scan, the merge
# and the update, so they resolve the delete files those leave.
CYCLE = (
    "append", "point_read", "delete", "append", "point_read", "scan",
    "merge", "point_read", "append", "time_travel", "update", "point_read",
    "append",
)

WRITES = {"append", "delete", "merge", "update"}
READS = {"point_read", "scan", "time_travel"}


def op_class(kind: str) -> str:
    return "write" if kind in WRITES else "read"


@dataclass(frozen=True)
class Op:
    kind: str
    lo: int = 0  # append: ids [lo, hi)
    hi: int = 0
    keys: tuple[int, ...] = ()  # delete / update / point_read / merge keys
    salt: int = 0  # merge: new values are row(id, salt)
    pick: float = 0.0  # time_travel: position in the snapshot list


class RowGen:
    """Row contents as a function of (id, salt), shared by the model and
    the client's batches."""

    def __init__(self, seed: int):
        rng = random.Random(f"rows-{seed}")
        self.a = rng.randrange(1, 10_000)
        self.b = rng.randrange(1, 1_000_000) | 1
        self.c = rng.randrange(1, 10_000)

    def row(self, i: int, salt: int = 0) -> tuple[int, int, float, str]:
        return (
            i,
            (i * self.a + salt) % 16,
            ((i * self.b + salt) % V_MOD) / V_SCALE,
            f"t{(i * self.c + salt) % 100}",
        )


class OpStream:
    """Endless seeded op sequence, one cycle at a time."""

    def __init__(self, seed: int | str):
        self.rng = random.Random(f"ops-{seed}")
        self.next_id = INITIAL

    def _recent(self, n: int) -> tuple[int, ...]:
        lo = max(0, self.next_id - 4 * BATCH)
        return tuple(sorted({self.rng.randrange(lo, self.next_id) for _ in range(n)}))

    def _make(self, kind: str) -> Op:
        r = self.rng
        if kind == "append":
            lo = self.next_id
            self.next_id += BATCH
            return Op(kind, lo=lo, hi=self.next_id)
        if kind == "delete":  # uniform keys: touches files all over the table
            return Op(kind, keys=tuple(sorted({r.randrange(self.next_id) for _ in range(8)})))
        if kind == "update":
            return Op(kind, keys=self._recent(4))
        if kind == "merge":  # upsert: recent keys plus two new ones
            keys = self._recent(16) + (self.next_id, self.next_id + 1)
            self.next_id += 2
            return Op(kind, keys=keys, salt=r.randrange(1, 1 << 16))
        if kind == "point_read":
            return Op(kind, keys=(r.randrange(self.next_id),))
        return Op(kind, pick=r.random())  # time_travel; scan takes no input

    def next_cycle(self) -> list[Op]:
        return [self._make(kind) for kind in CYCLE]


class Model:
    """The table as it should be: id -> (grp, v, tag), plus the row count
    of every snapshot the client has seen committed."""

    def __init__(self, rows: RowGen):
        self.rows = rows
        self.live: dict[int, tuple[int, float, str]] = {}
        self.snapshot_rows: dict[int, int] = {}

    def apply(self, op: Op) -> None:
        if op.kind == "append":
            for i in range(op.lo, op.hi):
                self.live[i] = self.rows.row(i)[1:]
        elif op.kind == "delete":
            for k in op.keys:
                self.live.pop(k, None)
        elif op.kind == "update":
            for k in op.keys:
                if k in self.live:
                    g, v, t = self.live[k]
                    self.live[k] = (g, v + 1.0, t)
        elif op.kind == "merge":
            for k in op.keys:
                _i, g, v, t = self.rows.row(k, op.salt)
                if k in self.live:
                    self.live[k] = (self.live[k][0], v, t)
                else:
                    self.live[k] = (g, v, t)

    def point(self, k: int) -> list[tuple]:
        return [(k, *self.live[k])] if k in self.live else []

    def groups(self) -> dict[int, tuple[int, float]]:
        out: dict[int, list] = {}
        for g, v, _t in self.live.values():
            acc = out.setdefault(g, [0, 0.0])
            acc[0] += 1
            acc[1] += v
        return {g: (n, s) for g, (n, s) in out.items()}

    def table(self) -> list[tuple]:
        return sorted((k, *r) for k, r in self.live.items())


def _in_list(keys) -> str:
    return ", ".join(str(k) for k in keys)


def _untimed(_name):
    return contextlib.nullcontext()


# A read made at set-up so that the measured reads find the read path
# compiled: the first point read of a session takes twice as long as the
# fifth, and the measured read median would sit on that slope.
WARM_READ = Op("point_read", keys=(0,))

class ApiClient:
    """PyIceberg-shaped client: every op starts with ``load_table``, like a
    stateless service. The table is v2, merge-on-read, ``bucket(8, id)``."""

    def __init__(self, ctx, table: str):
        self.ctx = ctx
        self.ident = f"{NAMESPACE}.{table}"

    def create(self) -> None:
        self.ctx.catalog.create_table(
            self.ident, SCHEMA, partition_by=["bucket(8, id)"],
            properties={
                "format-version": "2",
                "write.delete.mode": "merge-on-read",
                "write.update.mode": "merge-on-read",
                "write.merge.mode": "merge-on-read",
            },
        )

    def load(self) -> int:
        tb = self.ctx.catalog.load_table(self.ident)
        tb.append(self._batch(range(INITIAL)))
        return tb.current_snapshot().snapshot_id

    def warm(self) -> None:
        self.run(WARM_READ, _untimed)

    def warm_up(self, seed: int) -> None:
        """Run once, untimed and unchecked, each op kind that a set-up does
        not: the first run of a kind in a JVM loads classes and compiles
        Spark's generated code, and that cold work swings with the
        neighbours' load far more than warm work does."""
        for op in OpStream(f"warm-{seed}").next_cycle():
            if op.kind not in ("append", "point_read"):
                self.run(op, _untimed)

    def _batch(self, ids, salt: int = 0):
        from iceberg_matrix_spark.session import local_df

        rows = [self.ctx.model.rows.row(i, salt) for i in ids]
        return local_df(self.ctx.spark, rows, SCHEMA)

    def run(self, op: Op, ph) -> tuple[object, int | None]:
        """Execute ``op``. Returns (rows, None) for a read, (rows, snapshot
        read) for a time-travel read and (None, new snapshot) for a write.
        ``ph(name)`` times and traces one phase."""
        import pyspark.sql.functions as F

        with ph("load_table"):
            tb = self.ctx.catalog.load_table(self.ident)
        k = op.kind
        if k in WRITES:
            with ph(f"table.{k}"):
                if k == "append":
                    tb.append(self._batch(range(op.lo, op.hi)))
                elif k == "delete":
                    tb.delete(f"id IN ({_in_list(op.keys)})")
                elif k == "update":
                    tb.update({"v": "v + 1.0"}, where=f"id IN ({_in_list(op.keys)})")
                else:
                    tb.merge(
                        self._batch(op.keys, op.salt), on="t.id = s.id",
                        matched_update={"v": "s.v", "tag": "s.tag"},
                    )
            return None, tb.current_snapshot().snapshot_id
        target = None
        with ph("build"):
            if k == "point_read":
                key = op.keys[0]
                df = tb.df(filters=[("id", "=", key)]).filter(F.col("id") == key)
            elif k == "scan":
                df = tb.df().groupBy("grp").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            else:
                snaps = tb.meta.snapshots
                target = snaps[int(op.pick * len(snaps))].snapshot_id
                df = tb.df(snapshot_id=target).agg(F.count("*").alias("n"))
        with ph("plan"):
            df._jdf.queryExecution().executedPlan()
        with ph("exec"):
            rows = [tuple(r) for r in df.collect()]
        return rows, target


def check(model: Model, op: Op, rows, target: int | None) -> str | None:
    """None when a read's rows equal the model, else a description."""
    if op.kind == "point_read":
        want = model.point(op.keys[0])
    elif op.kind == "scan":
        got = {g: (n, sv) for g, n, sv in rows}
        want = model.groups()
        return None if got == want else f"scan: got {got} want {want}"
    else:
        want = [(model.snapshot_rows[target],)]
    return None if rows == want else f"{op.kind} {op.keys}: got {rows} want {want}"
