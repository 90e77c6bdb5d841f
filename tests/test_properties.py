"""Property tests (hypothesis) — the reference ships fast-check property
tests for its pure helpers (src/App.test.tsx, engine-folders.ts docstrings
advertise purity; SURVEY §5.8). Same idea here: random inputs, a Python
reference model, and the Spark expression must agree row for row. Each
example is one batched Spark job over all generated rows.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from iceberg_matrix_spark.data.matrix import detect_folder_collisions, folder_name_expr
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.functions.text import word_shingles
from iceberg_matrix_spark.operators.scale import salted_aggregate

from tests.hypcfg import DERANDOMIZE, n_examples

_settings = settings(
    max_examples=n_examples(5, 10), deadline=None, derandomize=DERANDOMIZE
)

_ident = st.text(
    alphabet=st.sampled_from("abcdefgh-"), min_size=1, max_size=12
).filter(lambda s: not s.startswith("-"))


def _model_folder_name(pid: str, prefix: str | None) -> str:
    if prefix and pid.startswith(prefix + "-"):
        return pid[len(prefix) + 1 :]
    return pid


@_settings
@given(
    rows=st.lists(
        st.tuples(_ident, st.one_of(st.none(), _ident)), min_size=1, max_size=40
    )
)
def test_folder_name_expr_matches_model(spark, rows):
    df = local_df(spark, 
        [(pid, pre) for pid, pre in rows], "id string, vendor_prefix string"
    )
    got = [
        r["fn"]
        for r in df.select(
            folder_name_expr(F.col("id"), F.col("vendor_prefix")).alias("fn")
        ).collect()
    ]
    assert got == [_model_folder_name(pid, pre) for pid, pre in rows]


@_settings
@given(
    ids=st.lists(_ident, min_size=1, max_size=25, unique=True),
    prefix=st.one_of(st.none(), _ident),
)
def test_collision_detection_matches_model(spark, ids, prefix):
    rows = [("v", prefix, pid, i) for i, pid in enumerate(ids)]
    df = local_df(spark, 
        rows, "vendor string, vendor_prefix string, id string, ord int"
    )
    got = {
        (r["folder_name"], r["platform_ids"])
        for r in detect_folder_collisions(df).collect()
    }
    by_name: dict[str, list[str]] = {}
    for pid in ids:
        by_name.setdefault(_model_folder_name(pid, prefix), []).append(pid)
    expect = {
        (name, ",".join(pids)) for name, pids in by_name.items() if len(pids) >= 2
    }
    assert got == expect


def _model_shingles(text: str, k: int) -> list[str]:
    toks = re.split(r"\s+", text.strip()) if text.strip() else [""]
    if len(toks) < k:
        return []
    out, seen = [], set()
    for i in range(len(toks) - k + 1):
        s = " ".join(toks[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@_settings
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("ab x\t"), max_size=40),
        min_size=1,
        max_size=30,
    )
)
def test_word_shingles_match_model(spark, texts):
    df = local_df(spark, [(t,) for t in texts], "text string")
    got = [r["sh"] for r in df.select(word_shingles("text", 3).alias("sh")).collect()]
    assert got == [_model_shingles(t, 3) for t in texts]


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    buckets=st.integers(1, 8),
)
def test_salted_aggregate_invariant_under_salt(spark, rows, buckets):
    df = local_df(spark, rows, "k int, v long")
    got = {
        (r["k"], r["n"], r["s"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            {"n": ("count", "k"), "s": ("sum", "v"), "mx": ("max", "v")},
            salt_buckets=buckets,
        ).collect()
    }
    plain = {
        (r["k"], r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == plain


# ---------------------------------------------------------------------------
# Partition/stats pruning soundness: a pruned+filtered scan must equal the
# unpruned model for ANY data + transform + predicate. (ADVICE round 1
# found one pruning bug by inspection — these search the space.)
# ---------------------------------------------------------------------------

import tempfile

from iceberg_matrix_spark.tables.catalog import IceLiteCatalog


def _fresh_table(spark, schema, partition_by, properties=None):
    cat = IceLiteCatalog(spark, tempfile.mkdtemp(prefix="prop-wh-"))
    cat.create_namespace("p")
    return cat.create_table("p.t", schema, partition_by, properties)


_OPS = ["=", ">", ">=", "<", "<="]


def _model(vals, op, lit):
    return sorted(
        v for v in vals
        if v is not None
        and {"=": v == lit, ">": v > lit, ">=": v >= lit, "<": v < lit, "<=": v <= lit}[op]
    )


@_settings
@given(
    vals=st.lists(st.integers(-50, 50), min_size=2, max_size=20),
    part=st.sampled_from([None, "k", "bucket(4, k)", "truncate(5, k)"]),
    op=st.sampled_from(_OPS),
    lit=st.integers(-50, 50),
)
def test_int_pruned_scan_matches_model(spark, vals, part, op, lit):
    t = _fresh_table(spark, "k int", [part] if part else None)
    mid = len(vals) // 2  # two appends → multiple files → real pruning
    for chunk in (vals[:mid], vals[mid:]):
        if chunk:
            t.append(local_df(spark, [(v,) for v in chunk], "k int"))
    got = sorted(r["k"] for r in t.df(filters=[("k", op, lit)]).collect())
    assert got == _model(vals, op, lit)


@_settings
@given(
    vals=st.lists(st.integers(-400, 400).map(lambda i: i / 4), min_size=2, max_size=20),
    part=st.sampled_from([None, "v"]),
    op=st.sampled_from(_OPS),
    lit=st.integers(-400, 400).map(lambda i: i / 4),
)
def test_float_pruned_scan_matches_model(spark, vals, part, op, lit):
    # identity-partitioned DOUBLE columns: partition values round-trip
    # through the directory path as strings — the round-1 ADVICE bug class
    t = _fresh_table(spark, "v double", [part] if part else None)
    mid = len(vals) // 2
    for chunk in (vals[:mid], vals[mid:]):
        if chunk:
            t.append(local_df(spark, [(v,) for v in chunk], "v double"))
    got = sorted(r["v"] for r in t.df(filters=[("v", op, lit)]).collect())
    assert got == _model(vals, op, lit)


@_settings
@given(
    hours=st.lists(st.integers(0, 24 * 400), min_size=2, max_size=20),
    part=st.sampled_from([None, "days(ts)", "months(ts)", "hours(ts)"]),
    op=st.sampled_from(_OPS),
    lit_hours=st.integers(0, 24 * 400),
)
def test_timestamp_pruned_scan_matches_model(spark, hours, part, op, lit_hours):
    from datetime import datetime, timedelta

    base = datetime(2020, 1, 1)
    vals = [base + timedelta(hours=h) for h in hours]
    lit = base + timedelta(hours=lit_hours)
    t = _fresh_table(spark, "ts timestamp", [part] if part else None)
    mid = len(vals) // 2
    for chunk in (vals[:mid], vals[mid:]):
        if chunk:
            t.append(local_df(spark, [(v,) for v in chunk], "ts timestamp"))
    got = sorted(
        r["ts"] for r in t.df(filters=[("ts", op, lit.strftime("%Y-%m-%d %H:%M:%S"))]).collect()
    )
    assert got == _model(vals, op, lit)


# ---------------------------------------------------------------------------
# DML soundness under NULLs: DELETE/UPDATE with arbitrary predicates over
# data containing NULLs must match three-valued SQL semantics (only rows
# where the predicate is TRUE are affected) in BOTH write modes. Round 1's
# CoW DELETE silently dropped NULL-predicate rows — this searches that
# space mechanically.
# ---------------------------------------------------------------------------


def _pred_strategy():
    atom = st.one_of(
        st.tuples(st.just("cmp"), st.sampled_from([">", "<", "=", ">=", "<="]),
                  st.integers(-10, 10)),
        st.just(("isnull",)),
        st.just(("notnull",)),
    )
    return st.lists(atom, min_size=1, max_size=2), st.sampled_from(["AND", "OR"])


def _pred_sql(atoms, joiner):
    parts = []
    for a in atoms:
        if a[0] == "cmp":
            parts.append(f"v {a[1]} {a[2]}")
        elif a[0] == "isnull":
            parts.append("v IS NULL")
        else:
            parts.append("v IS NOT NULL")
    return f" {joiner} ".join(parts)


def _pred_eval(v, atoms, joiner):
    import operator as op

    ops = {">": op.gt, "<": op.lt, "=": op.eq, ">=": op.ge, "<=": op.le}
    vals = []
    for a in atoms:
        if a[0] == "cmp":
            vals.append(None if v is None else ops[a[1]](v, a[2]))
        elif a[0] == "isnull":
            vals.append(v is None)
        else:
            vals.append(v is not None)
    out = vals[0]
    for x in vals[1:]:
        if joiner == "AND":
            out = (False if (out is False or x is False)
                   else (None if (out is None or x is None) else True))
        else:
            out = (True if (out is True or x is True)
                   else (None if (out is None or x is None) else False))
    return out is True  # SQL DML affects only TRUE rows


@_settings
@given(
    vals=st.lists(st.one_of(st.none(), st.integers(-10, 10)), min_size=1, max_size=16),
    pred=_pred_strategy()[0],
    joiner=_pred_strategy()[1],
    mode=st.sampled_from(["copy-on-write", "merge-on-read"]),
)
def test_delete_matches_sql_semantics(spark, vals, pred, joiner, mode):
    t = _fresh_table(spark, "id bigint, v bigint", None)
    t.set_properties({"write.delete.mode": mode})
    rows = [(i, v) for i, v in enumerate(vals)]
    mid = len(rows) // 2  # two files so CoW rewrite mixes touched/untouched
    for chunk in (rows[:mid], rows[mid:]):
        if chunk:
            t.refresh().append(
                local_df(spark, chunk, "id bigint, v bigint")
            )
    t.refresh().delete(_pred_sql(pred, joiner))
    got = sorted((r["id"], r["v"]) for r in t.refresh().df().collect())
    expect = sorted((i, v) for i, v in rows if not _pred_eval(v, pred, joiner))
    assert got == expect


@_settings
@given(
    vals=st.lists(st.one_of(st.none(), st.integers(-10, 10)), min_size=1, max_size=16),
    pred=_pred_strategy()[0],
    joiner=_pred_strategy()[1],
    mode=st.sampled_from(["copy-on-write", "merge-on-read"]),
)
def test_update_matches_sql_semantics(spark, vals, pred, joiner, mode):
    t = _fresh_table(spark, "id bigint, v bigint", None)
    t.set_properties({"write.update.mode": mode})
    rows = [(i, v) for i, v in enumerate(vals)]
    mid = len(rows) // 2
    for chunk in (rows[:mid], rows[mid:]):
        if chunk:
            t.refresh().append(
                local_df(spark, chunk, "id bigint, v bigint")
            )
    t.refresh().update({"v": "100"}, _pred_sql(pred, joiner))
    got = sorted((r["id"], r["v"]) for r in t.refresh().df().collect())
    expect = sorted(
        (i, 100 if _pred_eval(v, pred, joiner) else v) for i, v in rows
    )
    assert got == expect


# MERGE: ordered WHEN clauses, first match wins (Spark's rule), over keys
# and values that may be NULL. Each SQL fragment is drawn with its Python
# meaning under three-valued logic (None is NULL); the model applies the
# clauses row by row.
def _add(a, b):
    return None if a is None or b is None else a + b


def _gt(a, b):
    return None if a is None or b is None else a > b


_M_COND = [
    ("s.v > 0", lambda t, s: _gt(s, 0)),
    ("t.v < s.v", lambda t, s: _gt(s, t)),
    ("t.v IS NULL", lambda t, s: t is None),
]
_M_SET = [
    ("s.v", lambda t, s: s),
    ("t.v + s.v", _add),
    ("t.v - 1", lambda t, s: _add(t, -1)),
]
_NMBS_COND = [("t.v > 0", lambda t, s: _gt(t, 0)), ("t.v IS NULL", lambda t, s: t is None)]
_NMBS_SET = [("t.v + 100", lambda t, s: _add(t, 100)), ("NULL", lambda t, s: None)]
_INS_COND = [("s.v > 0", lambda t, s: _gt(s, 0)), ("s.v IS NULL", lambda t, s: s is None)]


def _clauses(conds, sets):
    """Up to two ``(condition | None, action)`` pairs; action None is
    DELETE, a drawn SET expression is UPDATE v."""
    action = st.one_of(st.none(), st.sampled_from(sets))
    return st.lists(st.tuples(st.one_of(st.none(), st.sampled_from(conds)), action), max_size=2)


_KEEP = object()


def _merge_model(target, source, matched, nmbs, insert, ins_cond):
    def taken(clauses, t, s):
        return next((a for c, a in clauses if c is None or c[1](t, s) is True), _KEEP)

    out, hit = [], set()
    for k, tv in target:
        match = [sv for sk, sv in source if k is not None and sk == k]
        if match:
            hit.add(k)
        s = match[0] if match else None
        action = taken(matched if match else nmbs, tv, s)
        if action is _KEEP:
            out.append((k, tv))
        elif action is not None:
            out.append((k, action[1](tv, s)))
    if insert:
        out += [
            (sk, sv)
            for sk, sv in source
            if (sk is None or sk not in hit) and (ins_cond is None or ins_cond[1](None, sv) is True)
        ]
    return out


def _nulls_last(rows):
    return sorted(rows, key=lambda r: tuple((x is None, x or 0) for x in r))


_key = st.one_of(st.none(), st.integers(0, 5))
_val = st.one_of(st.none(), st.integers(-3, 3))


# the fast profile's first examples are near-empty, so a clause list long
# enough to test ordering needs a larger budget than the other suites
@settings(max_examples=n_examples(12, 30), deadline=None, derandomize=DERANDOMIZE)
@given(
    target=st.lists(st.tuples(_key, _val), max_size=8),
    two_files=st.booleans(),
    source=st.lists(st.tuples(_key, _val), max_size=6),
    matched=_clauses(_M_COND, _M_SET),
    nmbs=_clauses(_NMBS_COND, _NMBS_SET),
    insert=st.booleans(),
    ins_cond=st.one_of(st.none(), st.sampled_from(_INS_COND)),
)
def test_merge_matches_first_match_wins_model(
    spark, target, two_files, source, matched, nmbs, insert, ins_cond
):
    # a NULL source key matches nothing; a repeated non-NULL one would be
    # a cardinality violation, so keep its first row only
    seen: set = set()
    source = [r for r in source if r[0] is None or not (r[0] in seen or seen.add(r[0]))]
    schema = "k bigint, v bigint"
    t = _fresh_table(spark, schema, None)
    mid = len(target) // 2 if two_files else len(target)
    for chunk in (target[:mid], target[mid:]):
        if chunk:
            t.refresh().append(local_df(spark, chunk, schema))

    def api(clauses):
        return [
            (c and c[0], ("delete",) if a is None else ("update", {"v": a[0]}))
            for c, a in clauses
        ]

    t.refresh().merge(
        local_df(spark, source, schema),
        on="t.k = s.k",
        matched_clauses=api(matched),
        not_matched_by_source_clauses=api(nmbs),
        not_matched_clauses=[(ins_cond and ins_cond[0], ("insert", "*"))] if insert else [],
    )
    got = [(r["k"], r["v"]) for r in t.refresh().df().collect()]
    expect = _merge_model(target, source, matched, nmbs, insert, ins_cond)
    assert _nulls_last(got) == _nulls_last(expect)


# ---------------------------------------------------------------------------
# Schema-evolution soundness: any sequence of add/rename/drop/widen/append
# must read back exactly what the in-memory model predicts (field-ID
# resolution, NULL/default back-fill, old files under new schemas).
# ---------------------------------------------------------------------------


@_settings
@given(
    steps=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 5)), min_size=3, max_size=7
    )
)
def test_schema_evolution_matches_model(spark, steps):
    t = _fresh_table(
        spark, "id bigint, a int", None, {"format-version": "3"}
    )
    # model: ordered columns -> per-row values keyed by id
    cols: list[str] = ["id", "a"]
    types: dict[str, str] = {"id": "bigint", "a": "int"}
    rows: dict[int, dict[str, object]] = {}
    next_id = 0
    next_col = 0

    def append_rows(n: int) -> None:
        nonlocal next_id
        batch = []
        for _ in range(n):
            r = {}
            for c in cols:
                r[c] = next_id if c == "id" else next_id * 10 + len(c)
                if types[c] == "string":
                    r[c] = str(r[c])
            rows[next_id] = r
            batch.append(tuple(r[c] for c in cols))
            next_id += 1
        ddl = ", ".join(f"{c} {types[c]}" for c in cols)
        t.refresh().append(local_df(spark, batch, ddl))

    append_rows(2)
    for kind, pick in steps:
        mutable = [c for c in cols if c != "id"]
        if kind == 0:  # add a string column with a default
            nonlocal_name = f"c{next_col}"
            next_col += 1
            default = f"d{pick}"
            t.refresh().add_columns(
                {nonlocal_name: "string"}, defaults={nonlocal_name: default}
            )
            cols.append(nonlocal_name)
            types[nonlocal_name] = "string"
            for r in rows.values():  # existing rows read the default
                r[nonlocal_name] = default
        elif kind == 1 and mutable:  # rename
            old = mutable[pick % len(mutable)]
            new = f"r{next_col}"
            next_col += 1
            t.refresh().rename_column(old, new)
            cols[cols.index(old)] = new
            types[new] = types.pop(old)
            for r in rows.values():
                r[new] = r.pop(old)
        elif kind == 2 and len(mutable) > 1:  # drop (keep >=1 data col)
            victim = mutable[pick % len(mutable)]
            t.refresh().drop_column(victim)
            cols.remove(victim)
            del types[victim]
            for r in rows.values():
                del r[victim]
        elif kind == 3:  # widen an int column
            ints = [c for c in mutable if types[c] == "int"]
            if ints:
                c = ints[pick % len(ints)]
                t.refresh().alter_column_type(c, "bigint")
                types[c] = "bigint"
        else:  # append under the current schema
            append_rows(1 + pick % 2)

    got = sorted(
        tuple(r[c] for c in sorted(cols)) for r in t.refresh().df().collect()
    )
    expect = sorted(tuple(r[c] for c in sorted(cols)) for r in rows.values())
    assert got == expect


@_settings
@given(
    vals=st.lists(
        st.text(alphabet=st.sampled_from("abc"), min_size=0, max_size=6),
        min_size=2,
        max_size=20,
    ),
    part=st.sampled_from([None, "s", "truncate(2, s)"]),
    op=st.sampled_from(_OPS),
    lit=st.text(alphabet=st.sampled_from("abc"), min_size=0, max_size=6),
)
def test_string_pruned_scan_matches_model(spark, vals, part, op, lit):
    # string partitions (identity + prefix-truncate): lexicographic range
    # filters against prefix-projected partition values must stay sound
    t = _fresh_table(spark, "s string", [part] if part else None)
    mid = len(vals) // 2
    for chunk in (vals[:mid], vals[mid:]):
        if chunk:
            t.refresh().append(local_df(spark, [(v,) for v in chunk], "s string"))
    got = sorted(r["s"] for r in t.df(filters=[("s", op, lit)]).collect())
    assert got == _model(vals, op, lit)


@settings(max_examples=n_examples(8, 15), deadline=None, derandomize=DERANDOMIZE)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),            # user key
            st.integers(0, 10_000),       # ts offset seconds (may collide)
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_forward_fill_matches_model(spark, rows):
    """forward_fill == last non-null observation per key in (ts, event_id)
    order, modeled in plain Python."""
    from iceberg_matrix_spark.operators.timeseries import forward_fill

    data = [
        (uid, 1_700_000_000 + off, i, val)  # event_id = list index → total order
        for i, (uid, off, val) in enumerate(rows)
    ]
    df = local_df(spark, 
        [(u, t, e, v) for u, t, e, v in data],
        "user_id int, ts bigint, event_id int, val double",
    )
    got = {
        (r["user_id"], r["event_id"]): r["filled_value"]
        for r in forward_fill(df, "user_id", ["ts", "event_id"], F.col("val")).collect()
    }
    # model
    by_user: dict[int, list] = {}
    for u, t, e, v in data:
        by_user.setdefault(u, []).append((t, e, v))
    expect = {}
    for u, evs in by_user.items():
        carried = None
        for t, e, v in sorted(evs):
            if v is not None:
                carried = v
            expect[(u, e)] = carried
    assert got == expect


@settings(max_examples=n_examples(6, 12), deadline=None, derandomize=DERANDOMIZE)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 1000),
            # include NULL payloads: a matched right row with a NULL value
            # must be carried as NULL, not skipped for a farther row
            st.one_of(st.none(), st.floats(-10, 10, allow_nan=False)),
        ),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_directions_match_pandas_model(spark, left, right):
    """Both as-of directions equal pandas.merge_asof (an independent
    reference implementation) on deduplicated right timestamps."""
    import pandas as pd

    from iceberg_matrix_spark.operators.asof import asof_join_backward, asof_join_forward

    # unique (key, ts) on the right: as-of is only well-defined per
    # timestamp; duplicates are collapsed by max value (same as the
    # registered query does)
    rdict: dict[tuple, float | None] = {}
    for k, ts, v in right:
        prev = rdict.get((k, ts), "unset")
        if prev == "unset":
            rdict[(k, ts)] = v
        elif v is not None:
            rdict[(k, ts)] = v if prev is None else max(v, prev)
    l_rows = [(k, ts, i) for i, (k, ts) in enumerate(left)]
    r_rows = [(k, ts, v) for (k, ts), v in sorted(rdict.items())]

    ldf = local_df(spark, l_rows, "k int, ts bigint, row_id int")
    rdf = local_df(spark, r_rows, "k int, ts bigint, val double") if r_rows else \
        local_df(spark, [], "k int, ts bigint, val double")

    lp = pd.DataFrame(l_rows, columns=["k", "ts", "row_id"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(r_rows, columns=["k", "ts", "val"]).sort_values("ts", kind="stable")

    for direction, fn in (("backward", asof_join_backward), ("forward", asof_join_forward)):
        got = {
            r["row_id"]: r["val"]
            for r in fn(ldf, rdf, on="ts", by=["k"], value_cols=["val"]).collect()
        }
        if rp.empty:
            expect = {i: None for _, _, i in l_rows}
        else:
            m = pd.merge_asof(
                lp, rp, on="ts", by="k", direction=direction, allow_exact_matches=True
            )
            expect = {
                int(r.row_id): (None if pd.isna(r.val) else float(r.val))
                for r in m.itertuples()
            }
        assert got == expect, direction


# ----------------------------------------------------- substring spans


def _model_spans(docs: list[tuple[int, str]], k: int) -> set[tuple[int, int, int]]:
    """Naive O(corpus²) reference for duplicate_spans: every positional
    k-gram string, cross-document duplicate grams, interval merge."""
    grams: dict[str, set[int]] = {}
    per_doc: dict[int, list[int]] = {}
    toks = {d: re.sub(r"\s+", " ", t).strip().split(" ") for d, t in docs}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            grams.setdefault(" ".join(ts[i : i + k]), set()).add(d)
    for d, ts in toks.items():
        starts = [
            i + 1
            for i in range(len(ts) - k + 1)
            if len(grams[" ".join(ts[i : i + k])]) >= 2
        ]
        if starts:
            per_doc[d] = starts
    out = set()
    for d, starts in per_doc.items():
        lo = prev = starts[0]
        for p in starts[1:]:
            if p - prev <= k:
                prev = p
                continue
            out.add((d, lo, prev + k - 1))
            lo = prev = p
        out.add((d, lo, prev + k - 1))
    return out


_word = st.sampled_from([f"w{i}" for i in range(12)])


@_settings
@given(
    docs=st.lists(
        st.lists(_word, min_size=1, max_size=30).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=5),
)
def test_duplicate_spans_match_naive_model(spark, docs, k):
    from iceberg_matrix_spark.operators.spans import duplicate_spans

    rows = list(enumerate(docs))
    df = local_df(spark, rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(
            df, "doc_id", "text", k=k, max_doc_freq=10**6
        ).collect()
    }
    assert got == _model_spans(rows, k)


# ---------------------------------------------------------------- LSH dedup


def _model_lsh_candidates(vecs: list[list[float]]) -> set[tuple[int, int]]:
    """Python model of the multi-probe banded candidate set: pairs whose
    signatures share ≥1 chunk in the aligned layout OR the bit-rotated
    layout — the set embedding_neardup_lsh must emit EXACTLY ONCE each
    (its first-colliding-band filter replaces a distinct)."""
    from iceberg_matrix_spark.operators.similarity import (
        _BANDS,
        _N_PLANES,
        _PLANES,
    )

    rows = _N_PLANES // _BANDS
    mask = (1 << rows) - 1

    def sig(v):
        s = 0
        for i, plane in enumerate(_PLANES):
            d = 0.0
            for a, b in zip(v, plane):
                d += a * b
            if d > 0:
                s |= 1 << i
        return s

    def rot(s):
        return ((s >> 1) | ((s & 1) << (_N_PLANES - 1))) & ((1 << _N_PLANES) - 1)

    def chunks(s):
        return [(s >> (j * rows)) & mask for j in range(_BANDS)]

    sigs = [sig(v) for v in vecs]
    out = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if any(x == y for x, y in zip(chunks(sigs[i]), chunks(sigs[j]))) or any(
                x == y for x, y in zip(chunks(rot(sigs[i])), chunks(rot(sigs[j])))
            ):
                out.add((i, j))
    return out


_vec64 = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=64,
    max_size=64,
)


@_settings
@given(vecs=st.lists(_vec64, min_size=2, max_size=10))
def test_lsh_candidates_match_model_and_dedup_exactly_once(spark, vecs):
    """The first-colliding-band filter must emit every multi-probe
    candidate pair EXACTLY once (no distinct in the plan): compare the
    full candidate set (threshold -2 keeps every verified pair; zero
    vectors excluded — NaN cosine has no candidate semantics) and assert
    zero duplicate emissions."""
    from hypothesis import assume

    from iceberg_matrix_spark.operators.similarity import embedding_neardup_lsh

    assume(all(any(x != 0.0 for x in v) for v in vecs))
    df = local_df(spark, 
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r["id1"], r["id2"])
        for r in embedding_neardup_lsh(df, threshold=-2.0).collect()
    ]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == _model_lsh_candidates(vecs)
