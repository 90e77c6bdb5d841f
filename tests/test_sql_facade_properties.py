"""Differential fuzzing of the SQL-string facade (sql/facade.py).

The reference ships fast-check property suites over its engine surfaces;
here hypothesis machine-searches the hand-rolled tokenizer's edge cases
(quotes with embedded '' escapes, keywords inside string literals, nested
parens, alias swaps, column-list permutations) instead of hand-enumerating
them. Each property generates a statement, runs it through IceLiteSQL
over a real IceLite table, and compares against Spark SQL executing the
EQUIVALENT statement over a plain temp view of the same rows — the
differential oracle. Five statement-shape strategies: SELECT, UPDATE,
DELETE, MERGE, INSERT VALUES.
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from iceberg_matrix_spark.sql import IceLiteSQL
from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog

from tests.hypcfg import DERANDOMIZE, n_examples

SETTINGS = dict(
    deadline=None,
    max_examples=n_examples(6, 12),
    derandomize=DERANDOMIZE,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

# Stable fuzzes (green ≥2 rounds, strategy space already well explored)
# run fewer examples per CI pass — the suite budget trade VERDICT r6 #7
# prescribes. NEW properties keep the full count until they've survived
# a couple of rounds.
SETTINGS_STABLE = {**SETTINGS, "max_examples": n_examples(3, 8)}

# strings that stress the tokenizer: quote escapes, keywords, separators,
# parens — all must survive quote-aware scanning unharmed
tricky_text = st.sampled_from(
    [
        "plain",
        "it''s",
        "a where b",
        "x, y",
        "(paren)",
        "AND OR NOT",
        "select from",
        "two''quotes''here",
        "when matched then",
        "",
    ]
)
int_val = st.integers(min_value=-5, max_value=15)
cmp_op = st.sampled_from(["=", "<", "<=", ">", ">=", "<>"])
bool_join = st.sampled_from(["AND", "OR"])


@st.composite
def predicates(draw):
    """A WHERE predicate over (id BIGINT, val STRING, num BIGINT)."""
    clauses = []
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        kind = draw(st.integers(min_value=0, max_value=2))
        if kind == 0:
            clauses.append(f"id {draw(cmp_op)} {draw(int_val)}")
        elif kind == 1:
            clauses.append(f"val = '{draw(tricky_text)}'")
        else:
            clauses.append(f"num {draw(cmp_op)} {draw(int_val)}")
    out = clauses[0]
    for c in clauses[1:]:
        out = f"({out}) {draw(bool_join)} {c}"
    return out


@st.composite
def row_sets(draw):
    """3-8 (id, val, num) rows with distinct ids."""
    n = draw(st.integers(min_value=3, max_value=8))
    ids = draw(
        st.lists(int_val, min_size=n, max_size=n, unique=True)
    )
    return [
        (i, draw(tricky_text), draw(int_val)) for i in ids
    ]


def _values_sql(rows) -> str:
    return ", ".join(
        f"({i}, '{v.replace(chr(39), chr(39) * 2)}', {n})" for i, v, n in rows
    )


@pytest.fixture(scope="module")
def fz(spark, tmp_path_factory):
    sql = IceLiteSQL(
        spark, IceLiteCatalog(spark, str(tmp_path_factory.mktemp("fuzz-wh")))
    )
    sql.sql("CREATE NAMESPACE IF NOT EXISTS local.fz")
    return sql


def _fresh_table(fz, rows) -> str:
    ident = f"fz.t_{uuid.uuid4().hex[:10]}"
    fz.sql(f"CREATE TABLE local.{ident} (id BIGINT, val STRING, num BIGINT) USING iceberg")
    if rows:
        fz.sql(f"INSERT INTO local.{ident} VALUES {_values_sql(rows)}")
    return ident


def _view_of(spark, rows, name="fzv"):
    view = f"{name}_{uuid.uuid4().hex[:8]}"
    local_df(spark, 
        rows, "id bigint, val string, num bigint"
    ).createOrReplaceTempView(view)
    return view


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates(), data=st.data())
def test_select_differential(fz, spark, rows, pred, data):
    """Generated SELECT: projection + WHERE + ORDER BY, facade vs Spark
    over a temp view of the same rows."""
    ident = _fresh_table(fz, rows)
    view = _view_of(spark, rows)
    proj = data.draw(
        st.sampled_from(
            ["*", "id, val", "val, num, id", "id, upper(val) AS uv, num + 1 AS n1"]
        )
    )
    body = f"SELECT {proj} FROM {{t}} WHERE {pred}"
    got = _rows(fz.sql(body.format(t=f"local.{ident}")))
    want = _rows(spark.sql(body.format(t=view)))
    assert got == want, body


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates(), data=st.data())
def test_update_differential(fz, spark, rows, pred, data):
    """Generated UPDATE SET ... WHERE: table state vs CASE-WHEN model."""
    ident = _fresh_table(fz, rows)
    view = _view_of(spark, rows)
    rhs_val = data.draw(tricky_text)
    rhs_num = data.draw(st.sampled_from(["num + 1", "id * 2", "0", "num"]))
    sets = f"val = '{rhs_val.replace(chr(39), chr(39) * 2)}', num = {rhs_num}"
    fz.sql(f"UPDATE local.{ident} SET {sets} WHERE {pred}")
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}"))
    want = _rows(
        spark.sql(
            f"SELECT id, "
            f"CASE WHEN {pred} THEN '{rhs_val.replace(chr(39), chr(39) * 2)}' ELSE val END AS val, "
            f"CASE WHEN {pred} THEN {rhs_num} ELSE num END AS num FROM {view}"
        )
    )
    assert got == want, pred


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates())
def test_delete_differential(fz, spark, rows, pred):
    """Generated DELETE WHERE: survivors are exactly NOT(pred)."""
    ident = _fresh_table(fz, rows)
    view = _view_of(spark, rows)
    fz.sql(f"DELETE FROM local.{ident} WHERE {pred}")
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}"))
    want = _rows(
        spark.sql(f"SELECT id, val, num FROM {view} WHERE NOT coalesce({pred}, false)")
    )
    assert got == want, pred


@settings(**SETTINGS_STABLE)
@given(tgt=row_sets(), src=row_sets(), data=st.data())
def test_merge_differential(fz, spark, tgt, src, data):
    """Generated MERGE (update+insert, random aliases incl. the t/s swap):
    post-state vs a full-outer-join relational model."""
    ti = _fresh_table(fz, tgt)
    si = _fresh_table(fz, src)
    tv, sv = _view_of(spark, tgt, "tgt"), _view_of(spark, src, "src")
    ta, sa = data.draw(st.sampled_from([("t", "s"), ("s", "t"), ("a", "b")]))
    fz.sql(
        f"MERGE INTO local.{ti} {ta} USING local.{si} {sa} ON {ta}.id = {sa}.id "
        f"WHEN MATCHED THEN UPDATE SET {ta}.val = {sa}.val, {ta}.num = {sa}.num + 100 "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{ti}"))
    want = _rows(
        spark.sql(
            f"SELECT t.id, coalesce(s.val, t.val) AS val, "
            f"  CASE WHEN s.id IS NOT NULL THEN s.num + 100 ELSE t.num END AS num "
            f"FROM {tv} t LEFT JOIN {sv} s ON t.id = s.id "
            f"UNION ALL "
            f"SELECT s.id, s.val, s.num FROM {sv} s LEFT JOIN {tv} t ON t.id = s.id "
            f"WHERE t.id IS NULL"
        )
    )
    assert got == want


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), data=st.data())
def test_insert_values_roundtrip(fz, spark, rows, data):
    """Generated INSERT VALUES (optionally with a permuted column list):
    every tricky literal must round-trip byte-identically."""
    cols = data.draw(
        st.sampled_from(
            [None, ["id", "val", "num"], ["val", "num", "id"], ["num", "id", "val"]]
        )
    )
    ident = _fresh_table(fz, [])
    if cols is None:
        fz.sql(f"INSERT INTO local.{ident} VALUES {_values_sql(rows)}")
    else:
        order = {"id": 0, "val": 1, "num": 2}
        vals = ", ".join(
            "("
            + ", ".join(
                (
                    f"'{r[order[c]].replace(chr(39), chr(39) * 2)}'"
                    if c == "val"
                    else str(r[order[c]])
                )
                for c in cols
            )
            + ")"
            for r in rows
        )
        fz.sql(f"INSERT INTO local.{ident} ({', '.join(cols)}) VALUES {vals}")
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}"))
    assert got == sorted(rows)


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates(), seed=st.integers(min_value=0, max_value=2**31))
def test_select_case_mangled_identifier(fz, spark, rows, pred, seed):
    """Spark SQL is case-insensitive on identifiers; the facade's
    identifier-extraction gate and substitution passes must be too —
    a randomly case-mangled spelling of the table name (with and
    without the catalog prefix) must resolve identically."""
    import random as _random

    ident = _fresh_table(fz, rows)
    view = _view_of(spark, rows)
    rng = _random.Random(seed)
    spelled = "".join(c.upper() if rng.random() < 0.5 else c.lower() for c in ident)
    if rng.random() < 0.5:
        prefix = "".join(
            c.upper() if rng.random() < 0.5 else c.lower() for c in "local"
        )
        spelled = f"{prefix}.{spelled}"
    got = _rows(fz.sql(f"SELECT id, val, num FROM {spelled} WHERE {pred}"))
    want = _rows(spark.sql(f"SELECT id, val, num FROM {view} WHERE {pred}"))
    assert got == want, spelled


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), data=st.data())
def test_time_travel_spellings_agree(fz, spark, rows, data):
    """Every dialect spelling of the same snapshot read — VERSION AS OF,
    FOR SYSTEM_VERSION AS OF, AT (VERSION => N), and the OPTIONS
    snapshot-id hint — must return identical rows (they now share one
    _snapshot_view helper; this pins the equivalence against drift)."""
    ident = _fresh_table(fz, rows[: len(rows) // 2 or 1])
    fz.sql(f"INSERT INTO local.{ident} VALUES {_values_sql(rows[len(rows) // 2 or 1:])}"
           ) if rows[len(rows) // 2 or 1:] else None
    snaps = [
        r[0]
        for r in fz.sql(
            f"SELECT snapshot_id FROM local.{ident}.snapshots ORDER BY committed_at"
        ).collect()
    ]
    sid = data.draw(st.sampled_from(snaps))
    spellings = [
        f"SELECT id, val, num FROM local.{ident} VERSION AS OF {sid}",
        f"SELECT id, val, num FROM local.{ident} FOR SYSTEM_VERSION AS OF {sid}",
        f"SELECT id, val, num FROM local.{ident} AT (VERSION => {sid})",
        f"SELECT id, val, num FROM local.{ident} /*+ OPTIONS('snapshot-id'='{sid}') */",
    ]
    results = [_rows(fz.sql(q)) for q in spellings]
    assert all(r == results[0] for r in results[1:]), (sid, results)


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates())
def test_path_function_spellings_agree(fz, spark, rows, pred):
    """Every path-function spelling of the same table — ClickHouse's
    icebergLocal('<dir>'), DuckDB's iceberg_scan('<dir>') with and
    without allow_moved_paths — must return exactly the catalog-name
    read's rows under an arbitrary predicate, including when row values
    themselves contain 'icebergLocal(...)' text (quote-aware
    substitution must not fire inside literals)."""
    trap = [(900, "icebergLocal('/tmp/x')", 1), (901, "iceberg_scan('/a')", 2)]
    ident = _fresh_table(fz, rows + trap)
    loc = fz.catalog.load_table(ident).location
    spellings = [
        f"SELECT id, val, num FROM local.{ident} WHERE {pred}",
        f"SELECT id, val, num FROM icebergLocal('{loc}') WHERE {pred}",
        f"SELECT id, val, num FROM iceberg_scan('{loc}') WHERE {pred}",
        f"SELECT id, val, num FROM iceberg_scan('{loc}', allow_moved_paths => true) "
        f"WHERE {pred}",
    ]
    results = [_rows(fz.sql(q)) for q in spellings]
    assert all(r == results[0] for r in results[1:]), results
    # a literal containing the spelling is data, not a table reference
    got = fz.sql(
        f"SELECT val FROM local.{ident} WHERE val = 'icebergLocal(''/tmp/x'')'"
    ).collect()
    assert [r[0] for r in got] == ["icebergLocal('/tmp/x')"]


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), pred=predicates(), data=st.data())
def test_bare_name_session_differential(fz, spark, rows, pred, data):
    """USE <ns> + bare table names (the Flink session idiom) must agree
    with the fully-qualified spelling on every path — reads, the
    backticked bare `t$snapshots` metadata suffix, and DML — including
    a predicate that embeds the TABLE NAME ITSELF as a string literal,
    the trap for quote-unaware bare-name substitution."""
    ident = _fresh_table(fz, rows)
    bare = ident.split(".")[1]
    fz.sql("USE fz")
    try:
        trap = f"({pred}) OR val = '{bare}'"
        q = "SELECT id, val, num FROM {t} WHERE " + trap
        got = _rows(fz.sql(q.format(t=bare)))
        want = _rows(fz.sql(q.format(t=f"local.{ident}")))
        assert got == want, trap
        n_bare = fz.sql(f"SELECT count(*) FROM `{bare}$snapshots`").collect()[0][0]
        n_full = fz.sql(
            f"SELECT count(*) FROM local.{ident}.snapshots"
        ).collect()[0][0]
        assert n_bare == n_full
        fz.sql(f"DELETE FROM {bare} WHERE {pred}")
        got2 = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}"))
        view = _view_of(spark, rows)
        want2 = _rows(
            spark.sql(
                f"SELECT id, val, num FROM {view} "
                f"WHERE NOT coalesce(({pred}), false)"
            )
        )
        assert got2 == want2, pred
    finally:
        fz.default_ns = None


# --------------------------------------------------------------- CALL fuzz
#
# VERDICT r4 #6: the one real CALL bug (arguments validated only after a
# destructive procedure ran) lived on this surface. Three strategies:
# fault-injected statements must be rejected with ZERO metadata change
# (rejection-before-side-effect), and the named / permuted-named /
# positional / quoted-boolean spellings of the same procedure must agree.

_CALL_PROCS = [
    "rewrite_data_files",
    "expire_snapshots",
    "remove_orphan_files",
    "rewrite_manifests",
    "rewrite_position_delete_files",
    "compute_table_stats",
    "rollback_to_snapshot",
    "set_current_snapshot",
    "cherrypick_snapshot",
    "fast_forward",
    "ancestors_of",
]

_CALL_FAULTS = [
    "unknown_proc",
    "unknown_arg",
    "missing_table",
    "too_many_positional",
    "mixed_forms",
    "bad_bool",
    "duplicate_arg",
]


def _valid_call_args(proc: str, ident: str, snaps: list[int]) -> dict[str, str]:
    """WOULD-EXECUTE argument sets: if validation ever ran after the
    procedure body, the injected fault tests below would observe the
    state change."""
    t = f"'{ident}'"
    return {
        "rewrite_data_files": {"table": t},
        # positional spelling maps values to _PROC_POSITIONAL order, so
        # the arg set must be a gap-free prefix: retain_last without
        # older_than would land "1" in the older_than slot (the exact
        # silent mis-binding this property exists to catch — it caught
        # itself in the first version of this test)
        "expire_snapshots": {
            "table": t, "older_than": "99999999999999", "retain_last": "1"
        },
        "remove_orphan_files": {
            "table": t, "older_than": "99999999999999", "dry_run": "false"
        },
        "rewrite_manifests": {"table": t},
        "rewrite_position_delete_files": {"table": t},
        "compute_table_stats": {"table": t},
        "rollback_to_snapshot": {"table": t, "snapshot_id": str(snaps[0])},
        "set_current_snapshot": {"table": t, "snapshot_id": str(snaps[0])},
        "cherrypick_snapshot": {"table": t, "snapshot_id": str(snaps[-1])},
        "fast_forward": {"table": t, "branch": "'main'", "to": "'main'"},
        "ancestors_of": {"table": t},
    }[proc]


def _table_state(fz, ident):
    t = fz.catalog.load_table(ident)
    m = t.meta
    return (
        m.current_snapshot_id,
        [s.snapshot_id for s in m.snapshots],
        sorted(m.properties.items()),
        sorted(f.path for f in (t._current_snapshot().data_files if t._current_snapshot() else [])),
    )


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), data=st.data())
def test_call_fault_rejected_before_side_effect(fz, spark, rows, data):
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    ident = _fresh_table(fz, rows[:2] or [(1, "a", 1)])
    fz.sql(f"INSERT INTO local.{ident} VALUES (77, 'second-commit', 0)")
    snaps = [
        r[0]
        for r in fz.sql(
            f"SELECT snapshot_id FROM local.{ident}.snapshots ORDER BY committed_at"
        ).collect()
    ]
    proc = data.draw(st.sampled_from(_CALL_PROCS))
    fault = data.draw(st.sampled_from(_CALL_FAULTS))
    args = _valid_call_args(proc, ident, snaps)

    if fault == "unknown_proc":
        proc_txt, arg_txt = proc + "_nope", ", ".join(
            f"{k} => {v}" for k, v in args.items()
        )
    elif fault == "unknown_arg":
        # names must stay UNKNOWN after normalization — an earlier draw,
        # 't able', collapsed to the valid name 'table' and turned this
        # into a duplicate-argument case (now its own fault class below)
        bogus = data.draw(st.sampled_from(["retention", "snapshotid", "aelder", "tab1e"]))
        items = [f"{k} => {v}" for k, v in args.items()]
        items.insert(
            data.draw(st.integers(min_value=0, max_value=len(items))),
            f"{bogus} => 1",
        )
        proc_txt, arg_txt = proc, ", ".join(items)
    elif fault == "duplicate_arg":
        # last-wins would execute with an arbitrary copy — must reject
        dup = data.draw(st.sampled_from(sorted(args)))
        items = [f"{k} => {v}" for k, v in args.items()]
        items.insert(
            data.draw(st.integers(min_value=0, max_value=len(items))),
            f"{dup} => {args[dup]}",
        )
        proc_txt, arg_txt = proc, ", ".join(items)
    elif fault == "missing_table":
        rest = {k: v for k, v in args.items() if k != "table"}
        proc_txt, arg_txt = proc, ", ".join(f"{k} => {v}" for k, v in rest.items())
    elif fault == "too_many_positional":
        from iceberg_matrix_spark.sql.facade import _PROC_POSITIONAL

        order = _PROC_POSITIONAL[proc]
        vals = [args.get(k, "0") for k in order] + ["'overflow'", "1"]
        proc_txt, arg_txt = proc, ", ".join(vals)
    elif fault == "mixed_forms":
        items = [f"{k} => {v}" for k, v in args.items() if k != "table"]
        proc_txt, arg_txt = proc, ", ".join([args["table"]] + items) if items else (
            args["table"] + ", extra => 1"
        )
        if not items:
            arg_txt = f"{args['table']}, extra => 1"
    else:  # bad_bool
        proc_txt = "remove_orphan_files"
        bad = data.draw(st.sampled_from(["'maybe'", "'yes'", "1", "'Faux'"]))
        arg_txt = f"table => '{ident}', dry_run => {bad}"

    before = _table_state(fz, ident)
    with pytest.raises(UnsupportedSQLError):
        fz.sql(f"CALL local.system.{proc_txt}({arg_txt})")
    assert _table_state(fz, ident) == before, (proc_txt, arg_txt)


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), data=st.data())
def test_call_arg_spellings_agree(fz, spark, rows, data):
    """Named (any permutation), positional, and quoted/unquoted-boolean
    spellings of one procedure leave two identical tables in identical
    states and return the same summary row."""
    import random as _random

    from iceberg_matrix_spark.sql.facade import _PROC_POSITIONAL

    rows = rows[:3] or [(1, "a", 1)]
    proc = data.draw(
        st.sampled_from(
            ["rollback_to_snapshot", "set_current_snapshot", "expire_snapshots",
             "remove_orphan_files", "compute_table_stats"]
        )
    )
    idents, snaps = [], []
    for _ in range(2):
        ident = _fresh_table(fz, rows)
        fz.sql(f"INSERT INTO local.{ident} VALUES (88, 'c2', 2)")
        idents.append(ident)
        snaps.append(
            [
                r[0]
                for r in fz.sql(
                    f"SELECT snapshot_id FROM local.{ident}.snapshots "
                    f"ORDER BY committed_at"
                ).collect()
            ]
        )

    def spell(ident, sids, form):
        args = dict(_valid_call_args(proc, ident, sids))
        if proc == "remove_orphan_files":
            args["dry_run"] = data.draw(
                st.sampled_from(["true", "'true'", "TRUE"])
            ) if form == "named" else "true"
        if form == "named":
            items = [f"{k} => {v}" for k, v in args.items()]
            _random.Random(data.draw(st.integers(0, 999))).shuffle(items)
            return ", ".join(items)
        order = _PROC_POSITIONAL[proc]
        return ", ".join(args[k] for k in order if k in args)

    out = []
    for ident, sids, form in zip(idents, snaps, ["named", "positional"]):
        df = fz.sql(f"CALL local.system.{proc}({spell(ident, sids, form)})")
        out.append(sorted(tuple(r) for r in df.collect()))
        # snapshot-id columns differ across tables; compare shapes there
    assert [len(o) for o in out[0]] == [len(o) for o in out[1]]
    s0, s1 = _table_state(fz, idents[0]), _table_state(fz, idents[1])
    # same structural outcome: same # snapshots, same position of the
    # current snapshot in the chain, same properties
    assert s0[1].index(s0[0]) == s1[1].index(s1[0])
    assert len(s0[1]) == len(s1[1])
    assert s0[2] == s1[2]
    assert _rows(fz.sql(f"SELECT id, val, num FROM local.{idents[0]}")) == _rows(
        fz.sql(f"SELECT id, val, num FROM local.{idents[1]}")
    )


@settings(**SETTINGS_STABLE)
@given(rows=row_sets(), data=st.data())
def test_timestamp_travel_spellings_agree(fz, spark, rows, data):
    """All four TIMESTAMP time-travel spellings of the same instant match
    the snapshot read that instant resolves to."""
    from datetime import datetime, timezone

    ident = _fresh_table(fz, rows[: len(rows) // 2 or 1])
    rest = rows[len(rows) // 2 or 1 :]
    if rest:
        fz.sql(f"INSERT INTO local.{ident} VALUES {_values_sql(rest)}")
    snaps = fz.sql(
        f"SELECT snapshot_id, committed_at FROM local.{ident}.snapshots "
        f"ORDER BY committed_at"
    ).collect()
    pick = data.draw(st.integers(min_value=0, max_value=len(snaps) - 1))
    sid = snaps[pick]["snapshot_id"]
    ts = snaps[pick]["committed_at"]
    iso = (
        ts.replace(tzinfo=timezone.utc)
        if isinstance(ts, datetime)
        else datetime.fromtimestamp(ts / 1000, tz=timezone.utc)
    ).isoformat()
    want = _rows(
        fz.sql(f"SELECT id, val, num FROM local.{ident} VERSION AS OF {sid}")
    )
    spellings = [
        f"SELECT id, val, num FROM local.{ident} TIMESTAMP AS OF '{iso}'",
        f"SELECT id, val, num FROM local.{ident} FOR SYSTEM_TIME AS OF '{iso}'",
        f"SELECT id, val, num FROM local.{ident} FOR TIMESTAMP AS OF TIMESTAMP '{iso}'",
        f"SELECT id, val, num FROM local.{ident} AT (TIMESTAMP => '{iso}')",
    ]
    for q in spellings:
        assert _rows(fz.sql(q)) == want, q


# ------------------------------------------------------------------ ALTER
# The multi-dialect ALTER parser is the next-largest hand-rolled grammar
# after CALL (VERDICT r5 #8): keyword-less Flink forms, engine type
# aliases, SET PARTITIONED BY. Two properties: every dialect spelling is
# equivalent to the canonical spelling, and every mangled statement is a
# typed rejection with ZERO metadata effect.

_ALIAS_TYPES = [
    ("bigint", ["BIGINT", "LONG", "INT8", "bIgInT"]),
    ("int", ["INT", "INTEGER", "INT4"]),
    ("double", ["DOUBLE", "FLOAT8"]),
    ("float", ["FLOAT", "REAL", "FLOAT4"]),
    ("string", ["STRING", "VARCHAR", "TEXT"]),
    ("boolean", ["BOOLEAN", "BOOL"]),
    ("timestamp_ntz", ["TIMESTAMP_NTZ", "TIMESTAMP(6)", "TIMESTAMP(3)"]),
]


def _table_fingerprint(fz, ident):
    """Everything an ALTER can touch: schema (names+types), partition
    spec, sort order, refs, properties, snapshot count."""
    t = fz.catalog.load_table(ident)
    return (
        tuple((f.name, f.type) for f in t.meta.current_schema.fields),
        tuple(t.meta.partition_spec),
        tuple(sorted(t.meta.refs)),
        tuple(sorted(t.meta.properties.items())),
        len(t.meta.snapshots),
        t.meta.default_sort_order_id,
    )


@st.composite
def alter_spelling_pairs(draw):
    """(canonical_body, variant_body) pairs that must be equivalent."""
    kind = draw(st.sampled_from(["add", "rename", "drop", "retype", "props"]))
    if kind == "add":
        canon_t, aliases = draw(st.sampled_from(_ALIAS_TYPES))
        alias = draw(st.sampled_from(aliases))
        form = draw(st.sampled_from(
            ["ADD COLUMN c9 {typ}", "ADD ({typ_only})", "ADD COLUMNS c9 {typ}"]
        ))
        variant = form.format(typ=alias, typ_only=f"c9 {alias}")
        return (f"ADD COLUMNS (c9 {canon_t})", variant)
    if kind == "rename":
        return ("RENAME COLUMN val TO val9", "RENAME val TO val9")
    if kind == "drop":
        return ("DROP COLUMN num", "DROP num")
    if kind == "retype":
        alias = draw(st.sampled_from(["BIGINT", "LONG", "INT8"]))
        spelling = draw(st.sampled_from(
            ["ALTER COLUMN small9 TYPE {t}", "MODIFY small9 {t}"]
        ))
        return (
            "ALTER COLUMN small9 TYPE bigint",
            spelling.format(t=alias),
        )
    quoted = draw(st.sampled_from(["'fz.k1'='v1'", "'fz.k1'='v1', 'fz.k2'='2'"]))
    return (f"SET TBLPROPERTIES ({quoted})", f"SET ({quoted})")


_ALTER_KEYWORDS = {
    "alter", "table", "add", "column", "columns", "rename", "to", "drop",
    "modify", "set", "tblproperties", "partitioned", "by", "type", "write",
    "ordered", "locally", "distributed", "partition", "field", "replace",
    "with", "create", "branch", "tag", "as", "of", "version", "identifier",
    "fields",
    # type tokens normalize via lower() in _norm_type, so they're fair game
    "bigint", "long", "int8", "int", "integer", "int4", "double", "float8",
    "float", "real", "float4", "string", "varchar", "text", "boolean",
    "bool", "timestamp_ntz",
}


def _mangle_case_ws(data, stmt: str) -> str:
    """Random case on KEYWORD/type tokens + random inter-token whitespace
    (incl. newlines); identifiers and quoted text pass through untouched
    (column-name case sensitivity is a separate contract)."""
    import re as _re

    def _word(m):
        w = m.group(0)
        if w.lower() in _ALTER_KEYWORDS and data.draw(st.booleans()):
            return w.upper() if w.islower() else w.lower()
        return w

    parts = stmt.split("'")  # even indexes are outside quotes
    for i in range(0, len(parts), 2):
        seg = _re.sub(r"[A-Za-z_][A-Za-z_0-9]*", _word, parts[i])
        seg = _re.sub(
            " ",
            lambda _m: data.draw(st.sampled_from([" ", "  ", "\n", " \t "])),
            seg,
        )
        parts[i] = seg
    return "'".join(parts)


@settings(**SETTINGS_STABLE)
@given(pair=alter_spelling_pairs(), data=st.data())
def test_alter_dialect_spellings_agree(fz, spark, pair, data):
    """Every dialect ALTER spelling leaves the table in exactly the state
    the canonical spelling does — under random keyword case and
    whitespace mangling too."""
    canon_body, variant_body = pair
    idents = []
    for body in (canon_body, variant_body):
        ident = _fresh_table(fz, [(1, "a", 1)])
        # a widenable small column for the retype class
        fz.sql(f"ALTER TABLE local.{ident} ADD COLUMNS (small9 int)")
        stmt = f"ALTER TABLE local.{ident} {body}"
        fz.sql(_mangle_case_ws(data, stmt))
        idents.append(ident)
    fp = [_table_fingerprint(fz, i) for i in idents]
    # fingerprints are location-independent; schemas/specs/props must agree
    assert fp[0] == fp[1], (canon_body, variant_body)


_ALTER_FAULTS = [
    "ADD COLUMNS (c9 NOTATYPE)",
    "ADD COLUMNS (c9 TIMESTAMP(7))",
    "ADD COLUMNS (c9 INT) trailing junk",
    "ADD (c9 INT extra",
    "ADD COLUMNS ()",
    "RENAME COLUMN ghost TO x",
    "RENAME COLUMN val TO num",             # rename onto an existing name
    "ADD COLUMNS (c9 INT, c9 STRING)",      # within-statement duplicate
    "ADD COLUMNS (val STRING)",             # duplicate vs existing
    "DROP COLUMN ghost",
    "DROP ghost",
    "MODIFY ghost INT",
    "MODIFY num NOTATYPE",
    "ALTER COLUMN num TYPE int",          # narrowing bigint -> int
    "ALTER COLUMN num TYPE TIMESTAMP(7)",
    "SET PARTITIONED BY (val) trailing",
    "SET PARTITIONED BY (nosuchcol)",
    "ADD PARTITION FIELD nosuchtransform(val)",
    "REPLACE PARTITION FIELD ghost WITH bucket(4, val)",
    "REPLACE PARTITION FIELD val WITH bucket(4, ghost)",  # bad NEW field
    "ADD PARTITION FIELD bucket(4, ghost)",
    "WRITE ORDERED BY (val) trailing",
    "CREATE BRANCH b AS OF VERSION 999999999",
    "SET IDENTIFIER FIELDS ghost",
    "FROBNICATE EVERYTHING",
    "",
]


@settings(**SETTINGS_STABLE)
@given(fault=st.sampled_from(_ALTER_FAULTS), data=st.data())
def test_alter_fault_rejected_without_effect(fz, spark, fault, data):
    """A mangled ALTER is a TYPED rejection (never an AttributeError /
    IndexError / re.error escaping the parser) and leaves the table
    metadata byte-identical — no partial schema commit, no orphan ref,
    no property leak."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    ident = _fresh_table(fz, [(1, "a", 1), (2, "b", 2)])
    before = _table_fingerprint(fz, ident)
    stmt = _mangle_case_ws(data, f"ALTER TABLE local.{ident} {fault}".rstrip())
    try:
        fz.sql(stmt)
    except (UnsupportedSQLError, ValueError, KeyError):
        assert _table_fingerprint(fz, ident) == before, fault
    else:
        raise AssertionError(f"mangled ALTER accepted: {fault!r}")


# ----------------------------------------------------------------- CREATE
_CREATE_FAULTS = [
    "(id BIGINT) USING iceberg PARTITIONED BY (ghost)",
    "(id BIGINT) USING iceberg PARTITIONED BY (bucket(4, ghost))",
    "(id BIGINT, id STRING) USING iceberg",
    "(id BIGINT, ID STRING) USING iceberg",
    "() USING iceberg",
    "(id WIBBLE) USING iceberg",
    "(id BIGINT) USING iceberg garbage here",
    "(g GEOMETRY) USING iceberg",                      # V3 type, default v2
    "(ts TIMESTAMP(9)) USING iceberg",                 # V3 type, default v2
    "(id BIGINT) USING iceberg WITH ('format-version'='9')",
    "(id BIGINT DEFAULT 7) USING iceberg",             # DEFAULT needs v3
]


@settings(**SETTINGS_STABLE)
@given(fault=st.sampled_from(_CREATE_FAULTS), data=st.data())
def test_create_fault_rejected_without_effect(fz, spark, fault, data):
    """A mangled CREATE TABLE is a typed rejection AND leaves nothing
    behind: the name must not resolve, and a subsequent VALID create of
    the SAME name must succeed (a half-written directory would turn the
    retry into TableAlreadyExistsError)."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError
    from iceberg_matrix_spark.tables.catalog import NoSuchTableError

    ident = f"fz.c_{uuid.uuid4().hex[:10]}"
    stmt = _mangle_case_ws(data, f"CREATE TABLE local.{ident} {fault}".rstrip())
    try:
        fz.sql(stmt)
    except (UnsupportedSQLError, ValueError, KeyError, Exception) as e:
        # typed rejections only — a parser crash class fails here
        assert isinstance(e, (UnsupportedSQLError, ValueError, KeyError)) or (
            type(e).__name__ == "ParseException"
        ), repr(e)
    else:
        raise AssertionError(f"mangled CREATE accepted: {fault!r}")
    with pytest.raises((NoSuchTableError, Exception)):
        fz.catalog.load_table(ident)
    # the name is still creatable — nothing half-written blocks it
    fz.sql(f"CREATE TABLE local.{ident} (id BIGINT, val STRING) USING iceberg")
    fz.sql(f"INSERT INTO local.{ident} VALUES (1, 'a')")
    assert fz.sql(f"SELECT COUNT(*) c FROM local.{ident}").collect()[0][0] == 1


@st.composite
def create_spelling_pairs(draw):
    """(canonical_tail, variant_tail) CREATE TABLE equivalents."""
    kind = draw(st.sampled_from(["types", "props", "partition"]))
    if kind == "types":
        canon_t, aliases = draw(st.sampled_from(_ALIAS_TYPES))
        alias = draw(st.sampled_from(aliases))
        return (
            f"(id BIGINT, c {canon_t}) USING iceberg",
            f"(id BIGINT, c {alias}) USING iceberg",
        )
    if kind == "props":
        return (
            "(id BIGINT) USING iceberg TBLPROPERTIES ('fz.k'='v')",
            "(id BIGINT) WITH ('fz.k'='v')",   # Flink spelling
        )
    return (
        "(id BIGINT, k INT) USING iceberg PARTITIONED BY (k)",
        "(id BIGINT, k INTEGER) USING iceberg PARTITIONED BY (k)",
    )


@settings(**SETTINGS_STABLE)
@given(pair=create_spelling_pairs(), data=st.data())
def test_create_dialect_spellings_agree(fz, spark, pair, data):
    canon, variant = pair
    fps = []
    for tail in (canon, variant):
        ident = f"fz.cs_{uuid.uuid4().hex[:10]}"
        fz.sql(_mangle_case_ws(data, f"CREATE TABLE local.{ident} {tail}"))
        fps.append(_table_fingerprint(fz, ident))
    assert fps[0] == fps[1], pair


# ----------------------------------------------------------------- INSERT
# Round-7 targets from the round-6 fuzz notes: column-list arity vs
# VALUES, quoted identifiers, case-insensitive resolution (Spark
# semantics), case-folded duplicate detection, and
# rejection-without-effect for every fault class.


def _spell_col(data, c: str) -> str:
    """A column reference spelling Spark accepts: as-is, backticked, or
    case-mangled (identifier resolution is case-insensitive)."""
    form = data.draw(st.sampled_from(["plain", "tick", "upper", "mixed"]))
    if form == "tick":
        return f"`{c}`"
    if form == "upper":
        return c.upper()
    if form == "mixed":
        return "".join(
            ch.upper() if i % 2 else ch for i, ch in enumerate(c)
        )
    return c


@settings(**SETTINGS)
@given(rows=row_sets(), data=st.data())
def test_insert_column_list_spellings_agree(fz, spark, rows, data):
    """Backticked / case-mangled / permuted / PARTIAL column lists all
    land values in the named columns (unnamed columns fill with the
    write-default, i.e. NULL) exactly like the canonical spelling."""
    order = {"id": 0, "val": 1, "num": 2}
    cols = data.draw(
        st.sampled_from(
            [
                ["id", "val", "num"],
                ["num", "id", "val"],
                ["id", "num"],          # partial: val defaults
                ["val", "id"],          # partial: num defaults
                ["id"],                 # minimal
            ]
        )
    )

    def vals_for(r):
        return ", ".join(
            f"'{r[order[c]].replace(chr(39), chr(39) * 2)}'"
            if c == "val"
            else str(r[order[c]])
            for c in cols
        )

    canon_ident = _fresh_table(fz, [])
    variant_ident = _fresh_table(fz, [])
    vals = ", ".join(f"({vals_for(r)})" for r in rows)
    fz.sql(f"INSERT INTO local.{canon_ident} ({', '.join(cols)}) VALUES {vals}")
    spelled = ", ".join(_spell_col(data, c) for c in cols)
    fz.sql(f"INSERT INTO local.{variant_ident} ({spelled}) VALUES {vals}")
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{variant_ident}"))
    want = _rows(fz.sql(f"SELECT id, val, num FROM local.{canon_ident}"))
    assert got == want, (cols, spelled)
    # the partial lists really defaulted the unnamed columns
    if "val" not in cols:
        assert all(r[1] is None for r in got)
    if "num" not in cols:
        assert all(r[2] is None for r in got)


_INSERT_FAULTS = [
    "(id, val, num) VALUES (1, 'a')",        # arity: list vs VALUES row
    "(id, num) VALUES (1, 'a', 2)",          # arity the other way
    "(id, id, val) VALUES (1, 2, 'a')",      # duplicate column
    "(id, ID, val) VALUES (1, 2, 'a')",      # case-folded duplicate
    "(`id`, `ID`) VALUES (1, 2)",            # quoted case-folded duplicate
    "(id, ghost) VALUES (1, 2)",             # unknown column
    "(id, val, num) VALUES (1, 'a', 2), (3)",  # ragged VALUES rows
    "() VALUES ()",                          # empty column list
    "VALUES (1, 'a')",                       # no list, too few values
    "VALUES (1, 'a', 2, 99)",                # no list, too many values
]


@settings(**SETTINGS)
@given(fault=st.sampled_from(_INSERT_FAULTS), data=st.data())
def test_insert_fault_rejected_without_effect(fz, spark, fault, data):
    """A malformed INSERT is a typed rejection (the facade's own error or
    Spark's parse/analysis error for VALUES-shape faults) and commits
    NOTHING: same snapshot count, same rows."""
    from pyspark.errors import AnalysisException, ParseException

    from iceberg_matrix_spark.sql import UnsupportedSQLError

    ident = _fresh_table(fz, [(1, "seed", 1)])
    before_rows = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}"))
    before_snaps = len(fz.catalog.load_table(ident).meta.snapshots)
    with pytest.raises((UnsupportedSQLError, AnalysisException, ParseException)):
        fz.sql(f"INSERT INTO local.{ident} {fault}")
    assert _rows(fz.sql(f"SELECT id, val, num FROM local.{ident}")) == before_rows
    assert len(fz.catalog.load_table(ident).meta.snapshots) == before_snaps, fault


# ------------------------------------------------------------ DESCRIBE/SHOW


@settings(**SETTINGS)
@given(rows=row_sets(), data=st.data())
def test_describe_show_spellings_agree(fz, spark, rows, data):
    """DESC / DESCRIBE / DESCRIBE TABLE (case/whitespace-mangled) return
    identical rows; SHOW TABLES IN == FROM; SHOW TBLPROPERTIES and SHOW
    CREATE TABLE parse under mangling."""
    ident = _fresh_table(fz, rows[:2] or [(1, "a", 1)])
    spellings = [
        f"DESC local.{ident}",
        f"DESCRIBE local.{ident}",
        f"DESCRIBE TABLE local.{ident}",
    ]
    results = [
        _rows(fz.sql(_mangle_case_ws(data, q))) for q in spellings
    ]
    assert results[1] == results[0] and results[2] == results[0]
    t_in = _rows(fz.sql(_mangle_case_ws(data, "SHOW TABLES IN local.fz")))
    t_from = _rows(fz.sql(_mangle_case_ws(data, "SHOW TABLES FROM local.fz")))
    assert t_in == t_from
    assert any(r[1] == ident.split(".")[1] for r in t_in)
    props = _rows(fz.sql(_mangle_case_ws(data, f"SHOW TBLPROPERTIES local.{ident}")))
    assert isinstance(props, list)
    ddl = fz.sql(
        _mangle_case_ws(data, f"SHOW CREATE TABLE local.{ident}")
    ).collect()[0][0]
    assert "USING ICEBERG" in ddl and ident in ddl


_DESCRIBE_SHOW_FAULTS = [
    "DESCRIBE local.fz.no_such_table_xyz",
    "DESC local.fz.no_such_table_xyz",
    "SHOW TBLPROPERTIES local.fz.no_such_table_xyz",
    "SHOW CREATE TABLE local.fz.no_such_table_xyz",
    "SHOW NAMESPACES IN wrongcat",
    "DESCRIBE",
    "SHOW TABLES",          # no namespace — not a supported spelling
    "SHOW GIBBERISH local.fz",
]


@settings(**SETTINGS)
@given(fault=st.sampled_from(_DESCRIBE_SHOW_FAULTS), data=st.data())
def test_describe_show_fault_is_typed(fz, spark, fault, data):
    """Metadata statements over missing objects / mangled verbs raise a
    TYPED error (UnsupportedSQLError / NoSuchTableError), never a parser
    crash class (AttributeError, IndexError, re.error)."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError
    from iceberg_matrix_spark.tables.catalog import NoSuchTableError

    with pytest.raises((UnsupportedSQLError, NoSuchTableError)):
        fz.sql(_mangle_case_ws(data, fault))


# ------------------------------------------------------------ OPTIONS hint

_HINT_FAULTS = [
    "'snapshot-id'='{sid}', 'branch'='main'",   # conflicting selectors
    "'branch'='main', 'tag'='faketag'",         # conflicting selectors
    "'snapshot-id'='{sid}', 'start-tag'='a', 'end-tag'='b'",
    "'start-tag'='a'",                          # half an incremental range
    "'end-tag'='b'",
    "'branch'='no_such_branch'",
    "'tag'='no_such_tag'",
    "'monitor-interval'='10s'",                 # unsupported key
    "",                                         # empty hint
    "branch='main'",                            # unquoted → no parsed keys
]


@settings(**SETTINGS)
@given(rows=row_sets(), fault=st.sampled_from(_HINT_FAULTS))
def test_options_hint_fault_is_typed(fz, spark, rows, fault):
    """Every malformed / ambiguous / dangling-reference OPTIONS hint is a
    typed rejection — never a silent guess between conflicting selectors
    (pre-round-7, snapshot-id + branch silently read the snapshot and
    ignored the branch: wrong data, not an error)."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    ident = _fresh_table(fz, rows[:2] or [(1, "a", 1)])
    sid = fz.sql(
        f"SELECT snapshot_id FROM local.{ident}.snapshots"
    ).collect()[0][0]
    hint = fault.format(sid=sid)
    with pytest.raises(UnsupportedSQLError):
        fz.sql(
            f"SELECT id, val, num FROM local.{ident} /*+ OPTIONS({hint}) */"
        )


@settings(**SETTINGS)
@given(rows=row_sets(), data=st.data())
def test_options_hint_selectors_read_right_data(fz, spark, rows, data):
    """Each single-selector OPTIONS spelling reads exactly its target:
    snapshot-id == VERSION AS OF, tag == tag-suffix read, branch reads
    the branch's rows (not main's) — under case/whitespace mangling of
    the hint syntax."""
    rows = rows[:3] or [(1, "a", 1)]
    ident = _fresh_table(fz, rows)
    fz.sql(f"ALTER TABLE local.{ident} CREATE TAG t0")
    fz.sql(f"ALTER TABLE local.{ident} CREATE BRANCH b1")
    fz.sql(f"INSERT INTO local.{ident}.branch_b1 VALUES (500, 'branch-only', 0)")
    fz.sql(f"INSERT INTO local.{ident} VALUES (600, 'main-later', 0)")
    sid = fz.sql(
        f"SELECT snapshot_id FROM local.{ident}.snapshots ORDER BY committed_at"
    ).collect()[0][0]

    def q(hint):
        spaced = hint.replace(", ", data.draw(st.sampled_from([",", " , ", ",  "])))
        kw = data.draw(st.sampled_from(["OPTIONS", "options", "Options"]))
        return _rows(
            fz.sql(
                f"SELECT id, val, num FROM local.{ident} /*+ {kw}({spaced}) */"
            )
        )

    assert q(f"'snapshot-id'='{sid}'") == _rows(
        fz.sql(f"SELECT id, val, num FROM local.{ident} VERSION AS OF {sid}")
    )
    assert q("'tag'='t0'") == _rows(
        fz.sql(f"SELECT id, val, num FROM local.{ident}.tag_t0")
    )
    branch_rows = q("'branch'='b1'")
    assert (500, "branch-only", 0) in branch_rows
    assert all(r[0] != 600 for r in branch_rows)


# ----------------------------------------------------------------- round 8:
# MERGE clause grammar + time-travel spellings (VERDICT r7 #5)

def _smod(a: int, b: int) -> int:
    """SQL's sign-preserving % (truncated division), not Python's
    floored % — they disagree on negative ids (-1 % 2: SQL -1, Python 1)."""
    return a - int(a / b) * b


_M_CONDS = [
    ("{s}.num > {t}.num", lambda t, s: s[2] > t[2]),
    ("{t}.id % 2 = 0", lambda t, s: _smod(t[0], 2) == 0),
    ("{s}.val <> {t}.val", lambda t, s: s[1] != t[1]),
]
_NMBS_CONDS = [
    ("{t}.num > 5", lambda t: t[2] > 5),
    ("{t}.id % 2 = 1", lambda t: _smod(t[0], 2) == 1),
]


@settings(**SETTINGS)
@given(tgt=row_sets(), src=row_sets(), data=st.data())
def test_merge_conditional_clause_grammar_differential(fz, spark, tgt, src, data):
    """Generated MERGE over the FULL clause grammar — WHEN MATCHED AND
    <cond> (conditional update/delete with an optional unconditional
    fallback, first-match-wins), NOT MATCHED BY SOURCE (delete/update,
    optionally conditional), conditional INSERT — differentially checked
    against an independent Python model of Spark's ordered-clause
    semantics."""
    ti = _fresh_table(fz, tgt)
    si = _fresh_table(fz, src)
    ta, sa = data.draw(st.sampled_from([("t", "s"), ("a", "b"), ("x", "y")]))
    c_sql, c_py = data.draw(st.sampled_from(_M_CONDS))
    c_sql = c_sql.format(t=ta, s=sa)
    mshape = data.draw(
        st.sampled_from(["up_else_del", "del_else_up", "up_only", "del_only"])
    )
    nshape = data.draw(st.sampled_from([None, "del", "cond_del", "upd"]))
    nc_sql, nc_py = data.draw(st.sampled_from(_NMBS_CONDS))
    nc_sql = nc_sql.format(t=ta)
    ishape = data.draw(st.sampled_from([None, "star", "cond_star"]))
    ic_py = lambda s: s[2] > 2  # noqa: E731

    upd = f"UPDATE SET {ta}.val = {sa}.val, {ta}.num = {sa}.num + 100"
    clauses = {
        "up_else_del": [
            f"WHEN MATCHED AND {c_sql} THEN {upd}",
            "WHEN MATCHED THEN DELETE",
        ],
        "del_else_up": [
            f"WHEN MATCHED AND {c_sql} THEN DELETE",
            f"WHEN MATCHED THEN {upd}",
        ],
        "up_only": [f"WHEN MATCHED AND {c_sql} THEN {upd}"],
        "del_only": [f"WHEN MATCHED AND {c_sql} THEN DELETE"],
    }[mshape]
    # Spark's grammar orders the families: MATCHED, NOT MATCHED, NOT
    # MATCHED BY SOURCE
    if ishape == "star":
        clauses.append("WHEN NOT MATCHED THEN INSERT *")
    elif ishape == "cond_star":
        clauses.append(f"WHEN NOT MATCHED AND {sa}.num > 2 THEN INSERT *")
    if nshape == "del":
        clauses.append("WHEN NOT MATCHED BY SOURCE THEN DELETE")
    elif nshape == "cond_del":
        clauses.append(f"WHEN NOT MATCHED BY SOURCE AND {nc_sql} THEN DELETE")
    elif nshape == "upd":
        clauses.append(
            f"WHEN NOT MATCHED BY SOURCE THEN UPDATE SET {ta}.num = {ta}.num + 1000"
        )
    fz.sql(
        f"MERGE INTO local.{ti} {ta} USING local.{si} {sa} "
        f"ON {ta}.id = {sa}.id " + " ".join(clauses)
    )

    smap = {r[0]: r for r in src}
    tids = {r[0] for r in tgt}
    want = []
    for t in tgt:
        s = smap.get(t[0])
        if s is not None:
            updated = (t[0], s[1], s[2] + 100)
            if mshape == "up_else_del":
                if c_py(t, s):
                    want.append(updated)
            elif mshape == "del_else_up":
                if not c_py(t, s):
                    want.append(updated)
            elif mshape == "up_only":
                want.append(updated if c_py(t, s) else t)
            elif not c_py(t, s):  # del_only
                want.append(t)
        elif nshape is None:
            want.append(t)
        elif nshape == "del":
            pass
        elif nshape == "cond_del":
            if not nc_py(t):
                want.append(t)
        else:  # upd
            want.append((t[0], t[1], t[2] + 1000))
    for s in src:
        if s[0] not in tids and (
            ishape == "star" or (ishape == "cond_star" and ic_py(s))
        ):
            want.append(s)
    got = _rows(fz.sql(f"SELECT id, val, num FROM local.{ti}"))
    assert got == sorted(want), (mshape, nshape, ishape, c_sql)


_BAD_MERGE_TAILS = [
    # unconditional clause shadowing a later one in the same family
    "WHEN MATCHED THEN UPDATE SET {t}.val = {s}.val WHEN MATCHED THEN DELETE",
    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET {t}.num = {t}.num "
    "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    # duplicate INSERT clauses
    "WHEN NOT MATCHED THEN INSERT * WHEN NOT MATCHED THEN INSERT *",
    # nonsense action / invalid family-action combos
    "WHEN MATCHED THEN UPSERT",
    "WHEN NOT MATCHED BY SOURCE THEN INSERT *",
    "WHEN MATCHED THEN INSERT *",
]


@settings(**SETTINGS)
@given(rows=row_sets(), data=st.data())
def test_merge_grammar_rejection_without_effect(fz, spark, rows, data):
    """Unsupported/ill-formed MERGE clause combinations must raise the
    TYPED error and leave the target byte-identical — no partial apply,
    no extra snapshot (the INSERT fuzz's rejection-without-effect
    contract extended to the MERGE grammar)."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    ti = _fresh_table(fz, rows)
    si = _fresh_table(fz, rows)
    before = _rows(fz.sql(f"SELECT id, val, num FROM local.{ti}"))
    n_snaps = fz.sql(f"SELECT snapshot_id FROM local.{ti}.snapshots").count()
    tail = data.draw(st.sampled_from(_BAD_MERGE_TAILS)).format(t="t", s="s")
    with pytest.raises(UnsupportedSQLError):
        fz.sql(f"MERGE INTO local.{ti} t USING local.{si} s ON t.id = s.id {tail}")
    assert _rows(fz.sql(f"SELECT id, val, num FROM local.{ti}")) == before
    assert (
        fz.sql(f"SELECT snapshot_id FROM local.{ti}.snapshots").count() == n_snaps
    )


@settings(**SETTINGS)
@given(rows=row_sets(), data=st.data())
def test_timestamp_travel_spellings_agree(fz, spark, rows, data):
    """Every dialect spelling of the same timestamp read — TIMESTAMP AS
    OF, FOR TIMESTAMP AS OF, FOR SYSTEM_TIME AS OF (the reference's
    redshift_feature_tests.py:1091-1097 probe set), the optional
    TIMESTAMP keyword before the literal, and DuckDB's AT (TIMESTAMP =>)
    — must return identical rows, equal to the snapshot the timestamp
    resolves to; a malformed timestamp raises the typed error."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    half = len(rows) // 2 or 1
    ident = _fresh_table(fz, rows[:half])
    if rows[half:]:
        fz.sql(f"INSERT INTO local.{ident} VALUES {_values_sql(rows[half:])}")
    snaps = fz.sql(
        f"SELECT snapshot_id, committed_at FROM local.{ident}.snapshots "
        f"ORDER BY committed_at"
    ).collect()
    pick = data.draw(st.integers(min_value=0, max_value=len(snaps) - 1))
    from datetime import datetime, timezone

    sid = snaps[pick][0]
    ts = datetime.fromtimestamp(snaps[pick][1] / 1000, tz=timezone.utc).isoformat()
    want = _rows(fz.sql(f"SELECT id, val, num FROM local.{ident} VERSION AS OF {sid}"))
    spellings = [
        f"SELECT id, val, num FROM local.{ident} TIMESTAMP AS OF '{ts}'",
        f"SELECT id, val, num FROM local.{ident} FOR TIMESTAMP AS OF '{ts}'",
        f"SELECT id, val, num FROM local.{ident} FOR SYSTEM_TIME AS OF '{ts}'",
        f"SELECT id, val, num FROM local.{ident} TIMESTAMP AS OF TIMESTAMP '{ts}'",
        f"SELECT id, val, num FROM local.{ident} AT (TIMESTAMP => '{ts}')",
    ]
    for q in spellings:
        assert _rows(fz.sql(q)) == want, q
    with pytest.raises(UnsupportedSQLError):
        fz.sql(f"SELECT id FROM local.{ident} TIMESTAMP AS OF 'not-a-time'")


# ---------------------------------------------------------------------------
# CREATE TABLE grammar fuzz (VERDICT r8 #7) — the last hand-rolled DDL
# grammar without a differential property. The reference probes exactly
# this surface (/root/reference/tests/iceberg_feature_tests.py:918-1037:
# PARTITIONED BY transforms, TBLPROPERTIES, V3 DEFAULTs).
# ---------------------------------------------------------------------------

_CT_WS = st.sampled_from([" ", "  ", "\n", "\t", " \n\t "])
_CT_CASE = st.sampled_from([str.lower, str.upper, str.title])
_CT_PROP_KW = st.sampled_from(["TBLPROPERTIES", "WITH", "TABLE PROPERTIES"])


@st.composite
def ct_specs(draw):
    """One LOGICAL create spec: columns, transforms, properties,
    V3 integer defaults."""
    cols = [("id", "BIGINT"), ("s", "STRING"), ("ts", "TIMESTAMP"), ("n", "INT")]
    if draw(st.booleans()):
        cols.append(("x0", draw(st.sampled_from(["DOUBLE", "DATE", "BIGINT"]))))
    pool = [
        "id",
        "s",
        f"bucket({draw(st.integers(min_value=1, max_value=16))}, id)",
        f"truncate({draw(st.integers(min_value=1, max_value=8))}, s)",
        draw(st.sampled_from(
            ["years", "months", "days", "hours", "year", "month", "day", "hour"]
        )) + "(ts)",
    ]
    transforms = draw(st.permutations(pool))[: draw(st.integers(0, 3))]
    props = {}
    if draw(st.booleans()):
        props["owner"] = "fuzz"
    if draw(st.booleans()):
        props["write.delete.mode"] = draw(
            st.sampled_from(["copy-on-write", "merge-on-read"])
        )
    defaults = {}
    if draw(st.booleans()):
        props["format-version"] = "3"
        if draw(st.booleans()):
            defaults["n"] = draw(st.integers(min_value=-5, max_value=5))
    return cols, transforms, props, defaults


def _render_create(draw, name, cols, transforms, props, defaults):
    """Render the spec in ONE drawn spelling: keyword/type/transform
    case, whitespace (newlines/tabs), clause order, property-clause
    dialect, transform-internal spacing, optional IF NOT EXISTS."""
    ws = lambda: draw(_CT_WS)  # noqa: E731
    case = lambda w: draw(_CT_CASE)(w)  # noqa: E731
    coldefs = []
    for c, t in cols:
        d = f"{ws()}{case('DEFAULT')}{ws()}{defaults[c]}" if c in defaults else ""
        coldefs.append(f"{c}{ws()}{case(t)}{d}")
    clauses = []
    if transforms:
        rendered = []
        for t in transforms:
            if "(" in t and draw(st.booleans()):
                fn, inner = t[:-1].split("(", 1)
                args = (","+ws()).join(a.strip() for a in inner.split(","))
                t = f"{case(fn)}({ws()}{args}{ws()})"
            rendered.append(t)
        clauses.append(
            f"{case('PARTITIONED')}{ws()}{case('BY')}{ws()}({', '.join(rendered)})"
        )
    if props:
        kw = draw(_CT_PROP_KW)
        body = ", ".join(f"'{k}'{ws()}={ws()}'{v}'" for k, v in props.items())
        clauses.append(f"{case(kw)}{ws()}({body})")
    clauses.append(f"{case('USING')}{ws()}{case('iceberg')}")
    order = draw(st.permutations(clauses))
    ine = f"{case('IF NOT EXISTS')} " if draw(st.booleans()) else ""
    return (
        f"{case('CREATE')}{ws()}{case('TABLE')}{ws()}{ine}{name}{ws()}"
        f"({', '.join(coldefs)}){ws()}" + ws().join(order)
    )


def _ct_shape(fz, ident):
    """Normalized observable table shape: schema (name, type, default),
    parsed transforms, properties."""
    from iceberg_matrix_spark.tables.transforms import parse_transform

    t = fz.catalog.load_table(ident)
    schema = [
        (f.name, f.type, getattr(f, "initial_default", None))
        for f in t.meta.current_schema.fields
    ]
    spec = [parse_transform(s) for s in t.meta.partition_spec]
    return schema, spec, dict(t.meta.properties)


@settings(**SETTINGS)
@given(spec=ct_specs(), data=st.data())
def test_create_table_spelling_equivalence(fz, spec, data):
    """The SAME logical CREATE in two independently drawn spellings
    (case, whitespace, clause order, property dialect, transform-name
    case + internal spacing, IF NOT EXISTS) must produce tables with
    identical normalized schema, partition transforms, properties, and
    SHOW CREATE TABLE output. Caught for real: transform names were
    case-SENSITIVE (BUCKET(4, id) rejected) before round 9."""
    cols, transforms, props, defaults = spec
    ids = [f"fz.ct_{uuid.uuid4().hex[:10]}" for _ in range(2)]
    for ident in ids:
        fz.sql(_render_create(data.draw, f"local.{ident}", cols, transforms,
                              props, defaults))
    a, b = (_ct_shape(fz, i) for i in ids)
    assert a == b, (ids, a, b)
    sca, scb = (
        fz.sql(f"SHOW CREATE TABLE local.{i}").collect()[0][0] for i in ids
    )
    assert sca.replace(ids[0].split(".")[-1], "T") == scb.replace(
        ids[1].split(".")[-1], "T"
    ), (sca, scb)
    # and the model shape holds: every declared column present in order
    assert [c for c, _ in cols] == [f[0] for f in a[0]]
    assert len(a[1]) == len(transforms)
    for c, v in defaults.items():
        got = dict((f[0], f[2]) for f in a[0])[c]
        assert got == v, (c, got, v)


@settings(**SETTINGS)
@given(spec=ct_specs(), data=st.data())
def test_create_table_rejects_bad_grammar_without_effect(fz, spec, data):
    """Malformed CREATE TABLE must raise the typed error AND leave no
    table behind (reject-without-effect): missing transform args, zero
    bucket/truncate widths (pmod-by-zero at write time before round 9),
    wrong time-transform arity, partition sources outside the schema,
    trailing garbage, and V2 DEFAULTs."""
    from iceberg_matrix_spark.sql import UnsupportedSQLError

    cols, transforms, props, defaults = spec
    props = {k: v for k, v in props.items() if k != "format-version"}
    corrupt = data.draw(st.sampled_from([
        "missing_arg", "zero_arg", "time_arity", "unknown_source",
        "trailing", "v2_default", "unbalanced",
    ]))
    ident = f"fz.bad_{uuid.uuid4().hex[:10]}"
    base_cols = [(c, t) for c, t in cols]
    bad_transforms, bad_defaults, tail = list(transforms), {}, ""
    if corrupt == "missing_arg":
        bad_transforms.append("bucket(id)")
    elif corrupt == "zero_arg":
        bad_transforms.append(data.draw(
            st.sampled_from(["bucket(0, id)", "truncate(0, s)"])
        ))
    elif corrupt == "time_arity":
        bad_transforms.append("years(4, ts)")
    elif corrupt == "unknown_source":
        bad_transforms.append("bucket(4, nope)")
    elif corrupt == "trailing":
        tail = " BANANA"
    elif corrupt == "v2_default":
        bad_defaults = {"n": 7}  # no format-version=3 in props
    stmt = _render_create(
        data.draw, f"local.{ident}", base_cols, bad_transforms, props,
        bad_defaults if corrupt == "v2_default" else {},
    ) + tail
    if corrupt == "unbalanced":
        stmt = stmt.replace("(", "", 1)
    with pytest.raises((UnsupportedSQLError, ValueError)):
        fz.sql(stmt)
    assert not fz.catalog.table_exists(ident), (corrupt, stmt)
