#!/usr/bin/env python3
"""Lakehouse benchmark: IceLite table ops and a headline-query mix.

    python3 perfbench/run.py --workload lake_history --seed 1 --seconds 10 --trace 0

Run from the repository root. One client thread sends ops in a closed loop
to a ``local[nproc]`` Spark session for about ``--seconds`` (whole op
cycles or query passes; a cycle starts only if the last one fits in the
time left). Outputs are checked against an in-memory model (lake
workloads) or the DuckDB oracles (``query_mix``). The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. The end-to-end metrics are CPU seconds of the run's process
tree (``cputime.py``); wall-clock figures are per-layer (``wall.*``).
Lines before it, starting with ``#``, give the walls of the run's parts,
sample counts and tail percentiles. A traced run also writes its spans to
``.perfbench/traces/``. Everything else the run writes lives in a
per-run directory under ``.perfbench/`` that is removed at exit.

Exit status: 0 when every output matched, 1 on a mismatch or failed op,
2 when the run could not start (for example, no ``iceberg_matrix_spark``
package next to ``perfbench/``).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from cputime import tree_cpu_s  # noqa: E402
from ledger import COUNTERS, RETAIN_CONF, Ledger  # noqa: E402
from stats import median, percentile, tail_percentile, union_length  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUP_REPS = 3


@dataclass
class OpRecord:
    index: int
    kind: str
    cls: str  # write / read
    group: str
    wall_s: float
    window: tuple[float, float]  # epoch seconds
    phases: dict[str, float]
    phase_windows: dict[str, tuple[float, float]]
    error: str | None = None
    result: object = None
    exec: object = None
    cpu_s: float = 0.0  # process-tree CPU seconds (see cputime.py)
    extra: dict = field(default_factory=dict)


def _cpu_count() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def isolate(run_dir: str) -> None:
    """Point every writer at ``run_dir`` before the JVM starts."""
    for sub in ("tmp", "local", "store", "warehouse", "spark-warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    env = os.environ
    env["TMPDIR"] = tmp
    env["IMX_STORAGE_ROOT"] = os.path.join(run_dir, "store")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["SPARK_GRAFT_CPUS"] = str(_cpu_count())
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # Compiler threads live as long as the JVM, so cputime.py can leave
    # their CPU out. Methods compile after a tenth of the usual invocation
    # counts, so the run's JVM reaches compiled code during set-up, as a
    # long-lived service's would; otherwise how much of an op still runs
    # interpreted depends on how much CPU the compiler threads got, and
    # the op's CPU seconds vary with the neighbours' load.
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads -XX:CompileThresholdScaling=0.1"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # cwd-relative spark-warehouse, derby.log and the like


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.records: list[OpRecord] = []
        self.mismatches: list[str] = []
        self.checks = 0  # correctness checks made outside the measured ops
        self.layer: dict[str, float] = {}
        self.setup_wall_s = self.setup_cpu_s = 0.0
        self.walls: dict[str, float] = {}  # run phases, printed on a `#` line

    # ------------------------------------------------------------ session

    def start(self) -> None:
        from iceberg_matrix_spark import get_spark

        conf = dict(RETAIN_CONF)
        conf.update({
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
        })
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span("get_spark", op="setup"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}", adaptive=True, extra_conf=conf
            )
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.get_spark_cpu_s = tree_cpu_s() - c0
        self.walls["get_spark"] = self.layer["session.get_spark_s"]
        self.t_mark = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ledger = Ledger(self.spark)

    def peak_rss_mb(self) -> float:
        proc = self.spark.sparkContext._gateway.proc
        return (_vm_hwm_kb(proc.pid) + _vm_hwm_kb("self")) / 1024.0

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc if gateway is not None else None
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------ op loop

    def run_op(self, index: int, kind: str, cls: str, execute) -> OpRecord:
        group = f"op-{index:05d}"
        phases: dict[str, float] = {}
        windows: dict[str, tuple[float, float]] = {}

        @contextlib.contextmanager
        def ph(name):
            e0, t0 = time.time(), time.perf_counter()
            with self.tracer.span(name):
                try:
                    yield
                finally:
                    phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0
                    windows[name] = (e0, time.time())

        error = result = None
        c0 = tree_cpu_s()
        with self.ledger.group(group):
            e0, t0 = time.time(), time.perf_counter()
            with self.tracer.span(f"op.{kind}", op=group):
                try:
                    result = execute(ph)
                except Exception:  # the loop must go on; the op counts as failed
                    error = traceback.format_exc()
            wall = time.perf_counter() - t0
            e1 = time.time()
        cpu = tree_cpu_s() - c0
        if error:
            print(f"# FAILED op {index} {kind}:\n{error}", file=sys.stderr)
        rec = OpRecord(index, kind, cls, group, wall, (e0, e1), phases, windows, error, result,
                       cpu_s=cpu)
        self.records.append(rec)
        return rec

    def measure(self, units) -> None:
        """Run op units (a cycle or a pass: a list of callables that each run
        one op) until ``--seconds`` would be exceeded. A unit starts only if
        the previous one fits in the time left; the first always runs."""
        mark = self.ledger.mark()
        start = time.perf_counter()
        deadline = start + self.args.seconds
        while True:
            t0 = time.perf_counter()
            for step in next(units):
                step()
            last = time.perf_counter() - t0
            if time.perf_counter() + last > deadline:
                break
        self.measured_s = self.walls["measure"] = time.perf_counter() - start
        folds = self.ledger.fold(mark, {r.group: r.window for r in self.records})
        for r in self.records:
            r.exec = folds[r.group]

    def fail(self, msg: str) -> None:
        print(f"# MISMATCH {msg}", file=sys.stderr)
        self.mismatches.append(msg)

    # ------------------------------------------------------------ lake

    def lake(self) -> None:
        import lake as L
        from iceberg_matrix_spark.tables import IceLiteCatalog

        self.catalog = IceLiteCatalog(self.spark, os.path.join(self.run_dir, "warehouse"))
        self.catalog.create_namespace(L.NAMESPACE)
        self.model = L.Model(L.RowGen(self.args.seed))
        # identical set-ups on fresh tables; the last table is measured
        names = [f"{L.TABLE}_{i}" for i in range(SETUP_REPS - 1)] + [L.TABLE]
        setups, setup_cpu = [], []
        for name in names:
            client = self.client = L.ApiClient(self, name)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with self.tracer.span("setup.table", op="setup"):
                client.create()
                sid = client.load()
                client.warm()
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s() - c0)
        self.model.apply(L.Op("append", lo=0, hi=L.INITIAL))
        self.model.snapshot_rows[sid] = L.INITIAL
        self.setup_wall_s = self.layer["session.get_spark_s"] + median(setups)
        self.setup_cpu_s = self.get_spark_cpu_s + median(setup_cpu)
        self.version0 = self._table().version
        self.walls["setup"] = time.perf_counter() - self.t_mark
        t0 = time.perf_counter()
        L.ApiClient(self, names[0]).warm_up(self.args.seed)
        self.walls["warm"] = time.perf_counter() - t0

        stream = L.OpStream(self.args.seed)

        def step(op):
            def go():
                rec = self.run_op(len(self.records), op.kind, L.op_class(op.kind),
                                  lambda ph: client.run(op, ph))
                rec.extra["op"] = op
                if rec.error is None:
                    self._lake_after(L, op, rec)
            return go

        def cycles():
            while True:
                yield [step(op) for op in stream.next_cycle()]

        self.measure(cycles())
        t0 = time.perf_counter()
        got = sorted(tuple(r) for r in self._table().df().collect())
        self.checks += 1
        if got != self.model.table():
            self.fail(f"final table: {len(got)} rows, model has {len(self.model.live)}")
        self.walls["check"] = time.perf_counter() - t0
        if self.args.trace:
            self._lake_layers(L)

    def _table(self):
        return self.catalog.load_table(self.client.ident)

    def _lake_after(self, L, op, rec) -> None:
        rows, sid = rec.result
        if op.kind in L.WRITES:
            self.model.apply(op)
            self.model.snapshot_rows[sid] = len(self.model.live)
        else:
            msg = L.check(self.model, op, rows, sid)
            if msg:
                rec.error = msg
                print(f"# MISMATCH {msg}", file=sys.stderr)

    # ------------------------------------------------------------ query mix

    def query_mix(self) -> None:
        import querymix as Q
        from iceberg_matrix_spark.queries import QUERIES

        loads, load_cpu, jobs = [], [], 0
        for _ in range(SETUP_REPS):
            mark = self.ledger.mark()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with self.tracer.span("sources.load_table", op="setup"):
                Q.load_sources(self.spark)
            loads.append(time.perf_counter() - t0)
            load_cpu.append(tree_cpu_s() - c0)
            jobs = self.ledger.mark() - mark
        self.layer["sources.load_table_s"] = median(loads)
        self.layer["sources.load_table_jobs"] = jobs
        self.walls["setup"] = sum(loads)
        # warm-up pass (set-up): fills operator caches and collects each
        # result for the oracle check
        pdfs = {}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for name in Q.QUERY_MIX:
            with self.tracer.span(f"warm.{name}", op="setup"):
                try:
                    pdfs[name] = QUERIES[name](self.spark, Q.DATA).toPandas()
                except Exception:
                    self.fail(f"{name} raised in the warm-up pass:\n{traceback.format_exc()}")
        warm = self.walls["warm"] = time.perf_counter() - t0
        self.setup_wall_s = self.layer["session.get_spark_s"] + median(loads) + warm
        self.setup_cpu_s = self.get_spark_cpu_s + median(load_cpu) + tree_cpu_s() - c0
        t0 = time.perf_counter()
        for name, pdf in pdfs.items():
            self.checks += 1
            msg = Q.oracle_mismatch(pdf, name)
            if msg:
                self.fail(msg)
        self.checks += len(Q.QUERY_MIX) - len(pdfs)
        self.walls["check"] = time.perf_counter() - t0

        def step(name):
            def execute(ph):
                with ph("build"):
                    df = QUERIES[name](self.spark, Q.DATA)
                with ph("plan"):
                    df._jdf.queryExecution().executedPlan()
                with ph("exec"):
                    df.write.format("noop").mode("overwrite").save()

            def go():
                rec = self.run_op(len(self.records), name,
                                  "write" if name in Q.DML else "read", execute)
                rec.extra["family"] = Q.family(QUERIES[name])
            return go

        def passes():  # the pinned order: what ran before a query moves its CPU
            while True:
                yield [step(n) for n in Q.QUERY_MIX]

        self.measure(passes())
        if self.args.trace:
            self._mix_layers(Q)

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> dict[str, float]:
        """CPU seconds: set-up, and per measured op (all, reads, writes)."""

        def cpu_per_op(cls=None):
            xs = [r.cpu_s for r in self.records if cls is None or r.cls == cls]
            return sum(xs) / len(xs)

        return {
            "setup_s": self.setup_cpu_s,
            "op_cpu_s": cpu_per_op(),
            "read_cpu_s": cpu_per_op("read"),
            "write_cpu_s": cpu_per_op("write"),
        }

    def per_layer(self) -> dict[str, float]:
        out = {name: 0.0 for name in M.PER_LAYER}
        out.update(self.layer)
        recs = self.records
        n = len(recs)
        for k in COUNTERS:
            if f"exec.{k}" in out:
                out[f"exec.{k}"] = sum(getattr(r.exec, k) for r in recs) / n
        plans = [r.phases["plan"] for r in recs if "plan" in r.phases]
        if plans:
            out["plan.executed_plan_s"] = median(plans)
        out["trace.overhead_s"] = self.tracer.overhead_s / n
        out["trace.spans"] = len(self.tracer.spans) / n
        out["trace.op_cpu_s"] = sum(r.cpu_s for r in recs) / n
        out["session.get_spark_cpu_s"] = self.get_spark_cpu_s
        out["wall.setup_s"] = self.setup_wall_s
        out["wall.ops_per_s"] = n / sum(r.wall_s for r in recs)
        for cls in ("read", "write"):
            xs = [r.wall_s for r in recs if r.cls == cls and r.error is None]
            out[f"wall.{cls}_p50_s"] = median(xs) if xs else 0.0
        return out

    def _lake_layers(self, L) -> None:
        from iceberg_matrix_spark.tables.metadata import _version_path, current_version
        from iceberg_matrix_spark.tables.table import prune_files
        from iceberg_matrix_spark.tables.transforms import parse_transform

        recs, lay = self.records, self.layer
        for r in recs:
            r.extra["driver_only_s"] = r.wall_s - union_length(r.exec.intervals, *r.window)
        by_kind: dict[str, list[OpRecord]] = {}
        for r in recs:
            by_kind.setdefault(r.kind, []).append(r)
        for kind, rs in by_kind.items():
            lay[f"tables.{kind}_p50_s"] = median([r.wall_s for r in rs])
            lay[f"tables.{kind}.driver_only_s"] = median([r.extra["driver_only_s"] for r in rs])
            lay[f"tables.{kind}.load_table_s"] = median([r.phases["load_table"] for r in rs])
        writes = [r for r in recs if r.cls == "write"]
        reads = [r for r in recs if r.cls == "read"]
        lay["tables.load_table_s"] = median([r.phases["load_table"] for r in recs])
        lay["tables.driver_only_s"] = median([r.extra["driver_only_s"] for r in writes])
        tb = self._table()
        loc = tb.location
        head_v = current_version(loc)
        lay["tables.metadata_bytes"] = os.path.getsize(_version_path(loc, head_v))
        sizes = [os.path.getsize(_version_path(loc, v)) for v in range(self.version0 + 1, head_v + 1)]
        lay["tables.metadata_bytes_per_commit"] = sum(sizes) / max(1, len(sizes))
        snap = tb.current_snapshot()
        lay["tables.head_data_files"] = len(snap.data_files)
        lay["tables.head_delete_files"] = len(snap.delete_files)
        transforms = [parse_transform(s) for s in tb.meta.partition_spec]
        points = [r for r in reads if r.kind == "point_read"]
        if points and snap.data_files:
            kept = [
                len(prune_files(snap.data_files, [("id", "=", r.extra["op"].keys[0])], transforms))
                / len(snap.data_files)
                for r in points
            ]
            lay["tables.prune_kept_ratio"] = sum(kept) / len(kept)
            returned = sum(len(r.result[0]) for r in points)
            scanned = sum(r.exec.input_records for r in points)
            lay["tables.rows_scanned_per_row_returned"] = scanned / max(1, returned)
        lay["tables.jobs_per_commit"] = sum(r.exec.jobs for r in writes) / max(1, len(writes))
        lay["tables.jobs_per_read"] = sum(r.exec.jobs for r in reads) / max(1, len(reads))
        user_bytes = 0
        for r in writes:
            op = r.extra["op"]
            ids = range(op.lo, op.hi) if op.kind == "append" else (op.keys if op.kind == "merge" else ())
            user_bytes += sum(20 + len(self.model.rows.row(i, op.salt)[3]) for i in ids)
        lay["tables.write_amp"] = sum(r.exec.output_bytes for r in writes) / max(1, user_bytes)
        lay["tables.space_amp"] = self._space_amp(tb)

    def _space_amp(self, tb) -> float:
        """Table bytes on disk over the live rows written once, compacted,
        with the same (default) codec."""
        def du(path):
            return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)

        out = os.path.join(self.run_dir, "compact")
        tb.df().coalesce(1).write.parquet(out)
        return du(tb.location) / max(1, du(out))

    def _mix_layers(self, Q) -> None:
        recs, lay = self.records, self.layer
        passes = len(recs) / len(Q.QUERY_MIX)
        lay["queries.build_s"] = median([r.phases["build"] for r in recs])
        lay["exec.noop_write_s"] = median([r.phases["exec"] for r in recs])
        build_jobs = 0
        for r in recs:
            a, b = r.phase_windows["build"]
            build_jobs += sum(1 for s, _e in r.exec.intervals if a <= s <= b)
        lay["queries.build_jobs"] = build_jobs / len(recs)
        for r in recs:
            key = f"family.{r.extra['family']}.query_s"
            lay[key] = lay.get(key, 0.0) + r.wall_s / passes
        for name in Q.DML:
            lay[f"query.{name}_s"] = median([r.wall_s for r in recs if r.kind == name])

    # ------------------------------------------------------------ report

    def report(self, out_metrics: dict[str, float]) -> dict:
        recs = self.records
        print(f"# workload={self.args.workload} seed={self.args.seed} "
              f"ops={len(recs)} measured_s={self.measured_s:.2f}")
        print("# run walls: " + " ".join(f"{k}={v:.1f}s" for k, v in self.walls.items()))
        for cls in ("all", "write", "read"):
            xs = [r.wall_s for r in recs if cls == "all" or r.cls == cls]
            if not xs:
                continue
            pct = tail_percentile(len(xs))
            tail = f" p{pct}={percentile(xs, pct):.4f}s" if pct else " (too few for a tail)"
            print(f"# {cls}: n={len(xs)} p50={median(xs):.4f}s{tail}")
        failed = sum(1 for r in recs if r.error) + len(self.mismatches)
        units = M.END_TO_END if not self.args.trace else M.PER_LAYER
        return {
            "correct": failed == 0,
            "attempted": len(recs) + self.checks,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in out_metrics.items()},
        }

    def dump_trace(self) -> None:
        for r in self.records:
            op_span = next(
                (s.id for s in self.tracer.spans if s.op == r.group and s.parent is None), None
            )
            for a, b in r.exec.intervals:
                self.tracer.add("spark.job", a, b, op_span, r.group)
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        ops = [
            {"op": r.group, "kind": r.kind, "wall_s": r.wall_s, "cpu_s": r.cpu_s, "phases": r.phases,
             "error": r.error, "exec": {k: getattr(r.exec, k) for k in COUNTERS}}
            for r in self.records
        ]
        self.tracer.dump(path, {"workload": self.args.workload, "seed": self.args.seed, "ops": ops})
        print(f"# trace written to {os.path.relpath(path, ROOT)}")

    def run(self) -> int:
        self.start()
        try:
            if self.args.workload == "query_mix":
                self.query_mix()
            else:
                self.lake()
            self.layer["session.peak_rss_mb"] = self.peak_rss_mb()
            if self.args.trace:
                values = self.per_layer()
                self.dump_trace()
            else:
                values = self.end_to_end()
        finally:
            t0 = time.perf_counter()
            self.stop()
            self.walls["stop"] = time.perf_counter() - t0
        result = self.report(values)
        print(json.dumps(result))
        return 0 if result["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("iceberg_matrix_spark") is None:
        print(f"perfbench: no iceberg_matrix_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    isolate(run_dir)
    try:
        return Bench(args, run_dir).run()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
