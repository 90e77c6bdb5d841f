"""CPU and peak RSS of IceLite reads on each executor, by plan size.

    python tools/read_executor_probe.py OUT_DIR [--sizes-kb 64 128 ...]

``IceLiteTable._read_plan`` reads a plan of at most ``_ARROW_SCAN_BYTES``
in-process in Arrow and a larger one as a Spark parquet scan. This probe
measures where the two cross. A set-up process writes one synthetic
table per size and layout under OUT_DIR (the lake_history schema, ids
spread so that no file prunes, one merge-on-read delete). Then each
(table, executor) pair runs in its own process, so its peak RSS is its
own: two warm-up reads, then the median of ``--reps`` reads of

- ``point``: ``tb.df(filters=[("id", "=", k)])`` filtered and collected;
- ``scan``: ``tb.df()`` grouped by ``grp`` with a count and a sum.

CPU is that of the process tree (driver Python, JVM and its Python
workers) without JIT compiler threads, read as perfbench reads it. The
executor is forced by ``spark.sql.autoBroadcastJoinThreshold`` (-1:
Spark) and by raising ``_ARROW_SCAN_BYTES`` above every table (Arrow).
Prints one JSON line per table, then one per read configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

SCHEMA = "id bigint, grp int, v double, tag string"
LAYOUTS = {"small": 32, "large": 1024}  # KB per data file, at most
SPREAD = 2654435761  # id = i * SPREAD mod 2^40: every file spans the key range


def key_of(i: int) -> int:
    return (i * SPREAD) % (1 << 40)


def _session(out_dir: str):
    from iceberg_matrix_spark import get_spark

    return get_spark(
        app_name="read-executor-probe", adaptive=True,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(out_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(out_dir, "spark-warehouse"),
        },
    )


def _rows(spark, lo: int, hi: int):
    import pyspark.sql.functions as F

    return spark.range(lo, hi, numPartitions=1).select(
        ((F.col("id") * F.lit(SPREAD)) % F.lit(1 << 40)).alias("id"),
        (F.col("id") % 16).cast("int").alias("grp"),
        F.rand(7).alias("v"),
        F.concat(F.lit("tag-"), (F.col("id") % 1000).cast("string")).alias("tag"),
    )


def setup(out_dir: str, sizes_kb: list[int]) -> dict:
    from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
    from iceberg_matrix_spark.tables.scan import plan_scan

    spark = _session(out_dir)
    cat = IceLiteCatalog(spark, os.path.join(out_dir, "warehouse"))
    cat.create_namespace("p")
    probe = cat.create_table("p.calibrate", SCHEMA)
    probe.append(_rows(spark, 0, 100_000))
    size = sum(f.file_size_bytes for f in plan_scan(cat.load_table("p.calibrate").meta).files)
    rows_per_kb = 100_000 * 1024 / size
    tables = {}
    for layout, file_kb in LAYOUTS.items():
        for kb in sizes_kb:
            name = f"t{kb}_{layout}"
            tb = cat.create_table(
                f"p.{name}", SCHEMA,
                properties={"format-version": "2", "write.delete.mode": "merge-on-read"},
            )
            rows, step = int(kb * rows_per_kb), int(file_kb * rows_per_kb)
            for lo in range(0, rows, step):
                tb.append(_rows(spark, lo, min(rows, lo + step)))
            # every 20th row of the first 1% is deleted: one position-delete file
            victims = ",".join(str(key_of(i)) for i in range(0, rows // 100, 20))
            cat.load_table(f"p.{name}").delete(f"id IN ({victims})")
            plan = plan_scan(cat.load_table(f"p.{name}").meta)
            tables[name] = {
                "files": len(plan.files),
                "bytes": sum(f.file_size_bytes for f in plan.files),
                "rows": rows,
            }
    spark.stop()
    return tables


def _vm_hwm_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) // 1024
    return 0


def _child_jvm() -> int | None:
    me = str(os.getpid())
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        if tail.split()[1] == me and "java" in head:
            return int(name)
    return None


def read(out_dir: str, table: str, executor: str, rows: int, reps: int) -> dict:
    import pyspark.sql.functions as F
    from cputime import tree_cpu_s

    from iceberg_matrix_spark.tables import table as table_mod
    from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

    spark = _session(out_dir)
    if executor == "spark":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    else:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1 << 40))
        table_mod._ARROW_SCAN_BYTES = 1 << 40
    cat = IceLiteCatalog(spark, os.path.join(out_dir, "warehouse"))
    # live keys outside the deleted first 1%
    keys = [key_of(i) for i in range(rows // 2, rows, max(1, rows // (2 * (reps + 3))))]

    def point(k):
        tb = cat.load_table(f"p.{table}")
        return tb.df(filters=[("id", "=", k)]).filter(F.col("id") == k).collect()

    def scan(_k):
        tb = cat.load_table(f"p.{table}")
        agg = tb.df().groupBy("grp").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        return agg.collect()

    out = {"table": table, "executor": executor}
    for op, fn in (("point", point), ("scan", scan)):
        fn(keys[0])
        fn(keys[1])
        cpus = []
        for k in keys[2 : 2 + reps]:
            c0 = tree_cpu_s()
            assert fn(k), (op, k)
            cpus.append(tree_cpu_s() - c0)
        out[f"{op}_cpu_s"] = round(statistics.median(cpus), 3)
    jvm = _child_jvm()
    out["driver_hwm_mb"] = _vm_hwm_mb(os.getpid())
    out["jvm_hwm_mb"] = _vm_hwm_mb(jvm) if jvm else None
    spark.stop()
    return out


def _last_json(cmd: list[str]) -> dict:
    done = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(done.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sizes-kb", type=int, nargs="+", default=[64, 128, 256, 512, 1024, 2048, 4096])
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--setup", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--read", nargs=3, metavar=("TABLE", "EXECUTOR", "ROWS"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    out_dir = os.path.abspath(args.out_dir)
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(out_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM options perfbench/run.py uses, so the CPU compares with its
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={out_dir}/tmp -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads -XX:CompileThresholdScaling=0.1"
    )
    if args.setup:
        print(json.dumps(setup(out_dir, args.sizes_kb)))
        return
    if args.read:
        table, executor, rows = args.read
        print(json.dumps(read(out_dir, table, executor, int(rows), args.reps)))
        return
    me = [sys.executable, os.path.abspath(__file__), out_dir, "--reps", str(args.reps)]
    tables = _last_json(me + ["--setup", "--sizes-kb", *map(str, args.sizes_kb)])
    for name, info in tables.items():
        print(json.dumps({name: info}), flush=True)
    for name, info in tables.items():
        for executor in ("arrow", "spark"):
            res = _last_json(me + ["--read", name, executor, str(info["rows"])])
            print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
