"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import lake  # noqa: E402
import metrics  # noqa: E402
from cputime import tree_cpu_s  # noqa: E402
from stats import (  # noqa: E402
    percentile,
    self_time,
    tail_percentile,
    union_length,
    valid_metric_name,
    valid_unit,
)
from tracing import Tracer  # noqa: E402


# ---------------------------------------------------------------- percentile


@pytest.mark.parametrize(
    "n, want",
    [
        (0, None),
        (19, None),  # even the median would leave only 9 above
        (20, 50),
        (40, 75),
        (99, 89),
        (100, 90),
        (1000, 90),
    ],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_percentile_rank_has_ten_above(n):
    pct = tail_percentile(n)
    xs = list(range(n))
    above = sum(1 for x in xs if x > percentile(xs, pct))
    assert above >= 10
    assert pct == 90 or tail_percentile(n, want=pct + 1) == pct  # highest such


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_overlapping_children_once():
    # children [1,3] and [2,5] overlap: they cover [1,5] = 4 of the 10
    assert self_time(0, 10, [(1, 3), (2, 5)]) == 6


def test_self_time_clips_children_to_the_span():
    assert self_time(0, 10, [(-5, 2), (9, 20), (30, 40)]) == 7


def test_union_length_disjoint_and_nested():
    assert union_length([(0, 1), (2, 3), (2.5, 2.7)], 0, 10) == 2


def test_tracer_self_times_and_overhead(tmp_path):
    t = Tracer(True)
    with t.span("op", op="op-1") as outer:
        with t.span("inner"):
            pass
    t.add("spark.job", t.spans[outer].start, t.spans[outer].start, outer, "op-1")
    selfs = t.self_times()
    assert selfs[outer] <= t.spans[outer].end - t.spans[outer].start
    assert all(s.op == "op-1" for s in t.spans)
    assert t.overhead_s > 0
    t.dump(str(tmp_path / "t.json"), {"workload": "x"})
    data = json.loads((tmp_path / "t.json").read_text())
    assert [s["name"] for s in data["spans"]] == ["op", "inner", "spark.job"]


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op") as sid:
        assert sid is None
    t.add("spark.job", 0, 1, None, None)
    assert t.spans == [] and t.overhead_s == 0


# ---------------------------------------------------------------- names


@pytest.mark.parametrize("name", ["setup_s", "exec.gc_s", "tables.point_read.driver_only_s", "9a-b"])
def test_valid_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_invalid_names(name):
    assert not valid_metric_name(name)


def test_every_metric_name_and_unit_is_valid():
    for name, (unit, better, *_rest) in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
        assert valid_metric_name(name), name
        assert valid_unit(unit), (name, unit)
        assert better in ("lower", "higher")


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(metrics.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    } == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()
    }
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert max(b for _u, _b, b in metrics.END_TO_END.values()) == metrics.END_TO_END["setup_s"][2]


# ---------------------------------------------------------------- cpu time


def test_tree_cpu_counts_this_process_and_its_children():
    import subprocess
    import time

    c0 = tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    # 0.3 s here plus 0.3 s in the reaped child, at clock-tick resolution
    assert tree_cpu_s() - c0 >= 0.5


# ---------------------------------------------------------------- op streams


def _take(seed, cycles=3):
    stream = lake.OpStream(seed)
    return [op for _ in range(cycles) for op in stream.next_cycle()]


def test_same_seed_same_ops():
    assert _take(7) == _take(7)


def test_other_seed_other_keys_same_kinds():
    a, b = _take(7), _take(8)
    assert a != b
    assert [o.kind for o in a] == [o.kind for o in b]


def test_keys_stay_inside_the_ids_written_so_far():
    stream = lake.OpStream(11)
    written = lake.INITIAL
    for _ in range(3):
        for op in stream.next_cycle():
            if op.kind == "append":
                assert op.lo == written
                written = op.hi
            elif op.kind == "merge":
                assert op.keys[-2:] == (written, written + 1)
                assert len(set(op.keys)) == len(op.keys)
                written += 2
            else:
                assert all(0 <= k < written for k in op.keys)


def test_cycle_has_every_op_kind():
    assert set(lake.CYCLE) == lake.WRITES | lake.READS


def test_row_values_are_exact_binary_fractions():
    rows = lake.RowGen(5)
    for i in range(0, 100_000, 997):
        v = rows.row(i, salt=i % 13)[2]
        assert v * lake.V_SCALE == int(v * lake.V_SCALE) < lake.V_MOD


def test_model_applies_upsert_update_delete():
    m = lake.Model(lake.RowGen(1))
    m.apply(lake.Op("append", lo=0, hi=10))
    m.apply(lake.Op("update", keys=(3,)))
    assert m.live[3][1] == m.rows.row(3)[2] + 1.0
    m.apply(lake.Op("delete", keys=(3, 4, 99)))
    assert 3 not in m.live and 4 not in m.live and len(m.live) == 8
    m.apply(lake.Op("merge", keys=(5, 3), salt=9))
    # matched row keeps grp and takes the source v/tag; unmatched is inserted
    assert m.live[5] == (m.rows.row(5)[1], *m.rows.row(5, 9)[2:])
    assert m.live[3] == m.rows.row(3, 9)[1:]
    assert sum(n for n, _s in m.groups().values()) == len(m.live) == 9
