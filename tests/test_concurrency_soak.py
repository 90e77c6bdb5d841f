"""Randomized multi-writer soak: N threads run
fixed-seed schedules of append / delete / upsert / compaction against ONE
table through the optimistic-commit loop. Thread schedules are
row-disjoint (thread i owns ids [i*10_000, i*10_000+9_999]), so the
expected final row-set is the per-thread serial replay of each schedule
— order-independent across threads — while the METADATA commits still
conflict on every interleaving (each commit retries against the moved
head; compaction rewrites every file, forcing the CoW-conflict restart
path). Asserts: zero writer errors, final row-set == model, linear
parent chain, every committed operation accounted for, and no file left
behind that no snapshot references."""

from __future__ import annotations

import random
import threading
import time

import pytest

from iceberg_matrix_spark.session import local_df
from iceberg_matrix_spark.tables.catalog import IceLiteCatalog
from iceberg_matrix_spark.tables.table import IceLiteTable

N_THREADS = 5
OPS_PER_THREAD = 5
SEED = 20260815


@pytest.fixture()
def catalog(spark, tmp_path):
    c = IceLiteCatalog(spark, str(tmp_path / "wh"))
    c.create_namespace("soak")
    return c


def _schedule(i: int) -> list[tuple]:
    """Deterministic op list for thread i over its own id range."""
    rng = random.Random(SEED + i)
    base = i * 10_000
    ops: list[tuple] = [("append", [(base + k, 0) for k in range(10)])]
    cursor = 10
    for _ in range(OPS_PER_THREAD - 1):
        kind = rng.choice(["append", "delete", "upsert", "rewrite"])
        if kind == "append":
            ids = [base + cursor + k for k in range(rng.randint(3, 8))]
            cursor += len(ids)
            ops.append(("append", [(x, rng.randint(0, 9)) for x in ids]))
        elif kind == "delete":
            m = rng.randint(2, 5)
            ops.append(("delete", f"id >= {base} AND id < {base + 10_000} AND id % {m} = 0"))
        elif kind == "upsert":
            keys = rng.sample(range(base, base + cursor), k=min(4, cursor))
            ops.append(("upsert", [(x, rng.randint(10, 99)) for x in keys]))
        else:
            ops.append(("rewrite",))
    return ops


def _model_replay(ops: list[tuple]) -> dict[int, int]:
    rows: dict[int, int] = {}
    for op in ops:
        if op[0] == "append":
            for x, v in op[1]:
                rows[x] = v
        elif op[0] == "delete":
            m = int(op[1].rsplit("% ", 1)[1].split(" ")[0])
            rows = {x: v for x, v in rows.items() if x % m != 0}
        elif op[0] == "upsert":
            for x, v in op[1]:
                rows[x] = v
        # rewrite: row-set preserving
    return rows


def test_wap_publish_race_soak(spark, catalog):
    """Branch writers + a WAP publisher racing main writers and
    compaction: three threads stage to their OWN audit
    branches (never published), one publisher loops the real WAP retry
    protocol — branch off current main, stage, audit, fast_forward; when
    main moved underneath (ancestry rejection) it drops the branch and
    re-stages — while a main appender and a compactor keep moving main.
    Asserts: published main == serial model (main rows + published batch,
    exactly once), no unpublished branch commit reachable from main, each
    audit branch still holds exactly its staged rows, and no writer left a
    file behind that no snapshot references."""
    from iceberg_matrix_spark.tables import maintenance as maint

    t = catalog.create_table("soak.wap", "id bigint, v bigint")
    t.append(local_df(spark, [(i, 0) for i in range(10)], "id bigint, v bigint"))
    errs: list = []
    publish_attempts = {"n": 0}

    def branch_writer(i: int) -> None:
        try:
            mine = IceLiteTable(spark, t.location)
            mine.create_branch(f"audit_w{i}")
            rows = [(100_000 + i * 1_000 + k, i) for k in range(8)]
            mine.append(
                local_df(spark, rows, "id bigint, v bigint"),
                branch=f"audit_w{i}",
            )
        except Exception as e:  # noqa: BLE001
            errs.append(("branch", i, repr(e)))

    def main_appender() -> None:
        try:
            mine = IceLiteTable(spark, t.location)
            for k in range(4):
                mine.append(
                    local_df(
                        spark,
                        [(200_000 + k * 10 + j, k) for j in range(5)],
                        "id bigint, v bigint",
                    )
                )
        except Exception as e:  # noqa: BLE001
            errs.append(("main", repr(e)))

    def compactor() -> None:
        try:
            mine = IceLiteTable(spark, t.location)
            for _ in range(3):
                maint.rewrite_data_files(mine)
        except Exception as e:  # noqa: BLE001
            errs.append(("compact", repr(e)))

    staged = [(300_000 + k, 7) for k in range(6)]

    def publisher() -> None:
        """The WAP retry loop: fast_forward demands main's head be an
        ancestor of the audit head, so any main commit between staging
        and publish is a clean rejection — re-branch and re-stage."""
        try:
            mine = IceLiteTable(spark, t.location)
            for attempt in range(50):
                publish_attempts["n"] = attempt + 1
                branch = f"pub_{attempt}"
                mine.refresh().create_branch(branch)
                mine.append(
                    local_df(spark, staged, "id bigint, v bigint"), branch=branch
                )
                audit = mine.refresh().df(ref=branch)
                assert audit.filter("id >= 300000").count() == len(staged)
                try:
                    mine.fast_forward("main", branch)
                    return
                except ValueError:
                    continue  # main moved underneath — re-stage
            raise AssertionError("publisher never won the race")
        except Exception as e:  # noqa: BLE001
            errs.append(("publish", repr(e)))

    threads = [threading.Thread(target=branch_writer, args=(i,)) for i in range(3)]
    threads += [
        threading.Thread(target=main_appender),
        threading.Thread(target=compactor),
        threading.Thread(target=publisher),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == [], errs

    final = IceLiteTable(spark, t.location)
    got = {r["id"]: r["v"] for r in final.df().collect()}
    want = {i: 0 for i in range(10)}
    want.update({200_000 + k * 10 + j: k for k in range(4) for j in range(5)})
    want.update(dict(staged))  # published exactly once
    assert got == want  # and NO audit_w* rows leaked to main

    # every audit branch still holds exactly its staged rows on top of
    # whatever main state it branched from
    meta = final.meta
    for i in range(3):
        assert f"audit_w{i}" in meta.refs
        branch_rows = {
            r["id"]: r["v"] for r in final.df(ref=f"audit_w{i}").collect()
        }
        mine = {100_000 + i * 1_000 + k: i for k in range(8)}
        assert {k: v for k, v in branch_rows.items() if k >= 100_000} == mine
        assert all(k < 100_000 or k in mine for k in branch_rows)

    # main's ancestry contains no unpublished branch commit: replaying
    # main's chain must never see an audit_w row
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    sid = meta.refs["main"].snapshot_id
    chain = []
    while sid is not None:
        chain.append(sid)
        sid = by_id[sid].parent_id if sid in by_id else None
    for snap_id in chain:
        rows = final.df(snapshot_id=snap_id).filter(
            "id >= 100000 AND id < 200000"
        )
        assert rows.count() == 0
    _assert_no_orphans(final)


def test_concurrent_writer_soak(spark, catalog):
    from iceberg_matrix_spark.tables import maintenance as maint

    t = catalog.create_table("soak.t", "id bigint, v bigint")
    schedules = [_schedule(i) for i in range(N_THREADS)]
    errs: list = []

    def worker(i: int) -> None:
        try:
            mine = IceLiteTable(spark, t.location)
            for op in schedules[i]:
                if op[0] == "append":
                    mine.append(
                        local_df(spark, op[1], "id bigint, v bigint"),
                        extra_summary={"soak_tag": f"w{i}"},
                    )
                elif op[0] == "delete":
                    mine.delete(op[1])
                elif op[0] == "upsert":
                    mine.upsert(
                        local_df(spark, op[1], "id bigint, v bigint"), ["id"]
                    )
                else:
                    maint.rewrite_data_files(mine)
        except Exception as e:  # noqa: BLE001
            errs.append((i, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == [], errs

    final = IceLiteTable(spark, t.location)
    got = {r["id"]: r["v"] for r in final.df().collect()}
    want: dict[int, int] = {}
    for ops in schedules:
        want.update(_model_replay(ops))
    assert got == want

    # the committed log is one linear chain; every op committed exactly once
    snaps = final.meta.snapshots
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id
    assert len(snaps) == sum(len(s) for s in schedules)
    # appends are taggable; each thread's appends all landed
    tags = [s.summary.get("soak_tag") for s in snaps if s.summary.get("soak_tag")]
    for i, ops in enumerate(schedules):
        assert tags.count(f"w{i}") == sum(1 for op in ops if op[0] == "append")
    _assert_no_orphans(final)


def _assert_no_orphans(table) -> None:
    """Every file a writer staged is committed or deleted: a conflicted
    write re-bases its files or deletes them before it writes again."""
    from iceberg_matrix_spark.tables import maintenance as maint

    future = int(time.time() * 1000) + 60_000
    assert maint.remove_orphan_files(table, dry_run=True, older_than_ms=future) == []


# ------------------------------------------------------------ catalog races
# Rename-vs-write-vs-drop races at the CATALOG layer
# (SqlCatalog and the REST server over it). The invariants under test:
#
# - a rename re-points the identity atomically and never relocates data,
#   so a writer that committed through EITHER name finds its rows under
#   the final name (no lost committed write, no ghost path);
# - a non-purge DROP + re-CREATE of the same name allocates a FRESH
#   location (the creation metadata makes the old directory non-empty),
#   so an in-flight writer holding the dropped incarnation's handle can
#   only ever land rows in the ORPHANED directory — never inside the new
#   incarnation;
# - every racing thread fails CLEANLY (typed catalog errors only), never
#   with a parser/IO crash class, and never half-commits catalog state.


def _race_catalog(spark, tmp_path, kind):
    from iceberg_matrix_spark.tables.sql_catalog import SqlCatalog

    if kind == "sql":
        cat = SqlCatalog(spark, str(tmp_path / "wh"))
        return cat, lambda: None
    from iceberg_matrix_spark.tables.rest_catalog import (
        RestCatalog,
        RestCatalogServer,
    )

    srv = RestCatalogServer(spark, str(tmp_path / "rest-wh"))
    return RestCatalog(spark, srv.uri), srv.close


@pytest.mark.parametrize("kind", ["sql", "rest"])
def test_catalog_rename_write_drop_race_soak(spark, tmp_path, kind):
    import time

    from iceberg_matrix_spark.tables.catalog import (
        NoSuchTableError,
        TableAlreadyExistsError,
    )

    cat, closer = _race_catalog(spark, tmp_path, kind)
    try:
        cat.create_namespace("race")
        cat.create_table("race.t0", "id bigint, b bigint")
        names = ("race.t0", "race.t1")
        typed = (NoSuchTableError, TableAlreadyExistsError, ValueError)
        unexpected: list = []
        committed: list = []  # (batch_id, location) per successful append
        batches_done = [0]
        stop_flips = [False]
        recreated_locations: list = []
        dropped_locations: list = []

        def _load_current():
            for name in names:
                try:
                    return cat.load_table(name)
                except typed:
                    continue
            raise NoSuchTableError("mid-drop gap")

        def writer(wid: int):
            for i in range(10):
                batch = wid * 1000 + i
                rows = [(batch * 10 + k, batch) for k in range(3)]
                for _ in range(60):  # retry across rename/drop gaps
                    try:
                        t = _load_current()
                        loc = t.location
                        t.append(
                            local_df(spark, rows, "id bigint, b bigint")
                        )
                        committed.append((batch, loc))
                        batches_done[0] += 1
                        break
                    except typed:
                        time.sleep(0.02)
                    except Exception as exc:  # noqa: BLE001
                        unexpected.append(exc)
                        return
                else:
                    unexpected.append(RuntimeError(f"batch {batch} starved"))

        def renamer():
            while not stop_flips[0]:
                for src, dst in (names, names[::-1]):
                    try:
                        cat.rename_table(src, dst)
                    except typed:
                        pass
                    except Exception as exc:  # noqa: BLE001
                        unexpected.append(exc)
                        return
                time.sleep(0.01)

        def dropper():
            for threshold in (4, 12):
                while batches_done[0] < threshold:
                    time.sleep(0.02)
                while True:
                    try:
                        for name in names:
                            try:
                                dropped_locations.append(
                                    cat.load_table(name).location
                                )
                                cat.drop_table(name)  # non-purge
                                break
                            except typed:
                                continue
                        else:
                            continue
                        break
                    except Exception as exc:  # noqa: BLE001
                        unexpected.append(exc)
                        return
                while True:
                    try:
                        t = cat.create_table("race.t0", "id bigint, b bigint")
                        recreated_locations.append(t.location)
                        break
                    except TableAlreadyExistsError:
                        time.sleep(0.02)
                    except Exception as exc:  # noqa: BLE001
                        unexpected.append(exc)
                        return

        threads = [
            threading.Thread(target=writer, args=(w,)) for w in (1, 2)
        ] + [threading.Thread(target=dropper)]
        flipper = threading.Thread(target=renamer)
        for t in threads:
            t.start()
        flipper.start()
        for t in threads:
            t.join(timeout=120)
        stop_flips[0] = True
        flipper.join(timeout=20)
        assert not unexpected, unexpected[:3]

        final = _load_current()
        final_loc = final.location
        got = {
            (r["b"]) for r in final.df().select("b").distinct().collect()
        }
        want = {b for b, loc in committed if loc == final_loc}
        # every commit through the final incarnation survived the storm
        assert want <= got, sorted(want - got)
        # ghost writes (commits into dropped incarnations) never surface
        # under the recreated identity
        orphans = {b for b, loc in committed if loc != final_loc}
        assert not (got & orphans), sorted(got & orphans)
        # each recreate really allocated a fresh directory (compare
        # against the drops that happened BEFORE it — a recreated
        # incarnation legitimately shows up in dropped_locations when
        # the NEXT cycle drops it)
        for i, newloc in enumerate(recreated_locations):
            assert newloc not in dropped_locations[: i + 1]
    finally:
        closer()
