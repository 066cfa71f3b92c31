"""DML semantics (SURVEY.md §2.4): batch-all-or-nothing, ≤10 errors,
uniqueness, partition-scoped rewrite, snapshot atomicity."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest

from timeseries_db_spark.engine import TsdbEngine
from timeseries_db_spark.operators import dml
from timeseries_db_spark.operators.dml import MAX_ERRORS, DmlError, TsTable
from timeseries_db_spark.schema import TS_SCHEMA
from timeseries_db_spark.sources.fixture import BASE_TS, timeseries_fixture

DAY = 86_400_000
T0 = 1704067200000  # 2024-01-01T00:00:00Z


def mk(spark, rows):
    return spark.createDataFrame(
        [(int(t), str(g), float(v)) for t, g, v in rows], TS_SCHEMA
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = TsTable.create(spark, str(tmp_path / "ts"))
    t.insert(
        mk(
            spark,
            [
                (T0, "munich", 1.0),
                (T0, "skopje", 2.0),
                (T0 + 1, "munich", 3.0),
                (T0 + DAY, "munich", 4.0),  # second date partition
                (T0 + DAY, "athens", 5.0),
            ],
        )
    )
    return t


def rows_of(t):
    return {(r["timestamp"], r["tag"], r["value"]) for r in t.read().collect()}


def test_insert_and_read(table):
    assert rows_of(table) == {
        (T0, "munich", 1.0),
        (T0, "skopje", 2.0),
        (T0 + 1, "munich", 3.0),
        (T0 + DAY, "munich", 4.0),
        (T0 + DAY, "athens", 5.0),
    }


def test_insert_existing_key_rejected_atomically(table, spark):
    with pytest.raises(DmlError) as e:
        table.insert(mk(spark, [(T0 + 2, "new", 9.0), (T0, "munich", 9.0)]))
    assert "already exists" in e.value.errors[0]
    # all-or-nothing: the valid row must NOT have been inserted
    assert (T0 + 2, "new", 9.0) not in rows_of(table)


def test_intra_batch_duplicate_rejected(table, spark):
    with pytest.raises(DmlError) as e:
        table.insert(mk(spark, [(T0 + 5, "x", 1.0), (T0 + 5, "x", 2.0)]))
    assert "Duplicate key in batch" in e.value.errors[0]


def test_error_list_capped_at_10(table, spark):
    bad = mk(spark, [(T0 + 100 + i, f"t{i}", 1.0) for i in range(25)])
    with pytest.raises(DmlError) as e:
        table.update(bad)
    assert len(e.value.errors) == MAX_ERRORS


def test_update_hit_and_miss(table, spark):
    table.update(mk(spark, [(T0, "munich", 100.0)]))
    assert (T0, "munich", 100.0) in rows_of(table)
    assert (T0, "skopje", 2.0) in rows_of(table)  # untouched neighbor
    with pytest.raises(DmlError) as e:
        table.update(mk(spark, [(T0, "nope", 1.0)]))
    assert "no entry" in e.value.errors[0]


def test_update_only_rewrites_touched_partition(table, spark):
    before = table._manifest()["partitions"]
    table.update(mk(spark, [(T0 + DAY, "athens", 50.0)]))
    after = table._manifest()["partitions"]
    assert after["2024-01-01"] == before["2024-01-01"]  # untouched partition kept
    assert after["2024-01-02"] != before["2024-01-02"]  # touched partition replaced


def test_delete_hit_miss_and_empty_partition(table, spark):
    table.delete(mk(spark, [(T0 + DAY, "munich", 0.0), (T0 + DAY, "athens", 0.0)]))
    assert rows_of(table) == {
        (T0, "munich", 1.0),
        (T0, "skopje", 2.0),
        (T0 + 1, "munich", 3.0),
    }
    # fully-emptied partition disappears from the manifest
    assert "2024-01-02" not in table._manifest()["partitions"]
    with pytest.raises(DmlError):
        table.delete(mk(spark, [(T0 + DAY, "munich", 0.0)]))


def test_truncate_and_reinsert(table, spark):
    table.truncate()
    assert rows_of(table) == set()
    table.insert(mk(spark, [(T0, "munich", 1.0)]))  # keys reusable after truncate
    assert rows_of(table) == {(T0, "munich", 1.0)}


def test_compact_and_vacuum_preserve_data(table, spark):
    for i in range(3):
        table.insert(mk(spark, [(T0 + 10 + i, "bulk", float(i))]))
    expected = rows_of(table)
    table.compact()
    assert rows_of(table) == expected
    table.vacuum()
    assert rows_of(table) == expected
    # after compaction every partition references exactly one commit
    commits = {
        rel.split("/", 1)[0]
        for dirs in table._manifest()["partitions"].values()
        for rel in dirs
    }
    assert len(commits) == 1


def test_versions_monotonic(table, spark):
    v0 = table.version()
    table.insert(mk(spark, [(T0 + 99, "v", 1.0)]))
    assert table.version() == v0 + 1


def test_snapshot_isolation_across_commits(table, spark):
    """A DataFrame resolved before a commit keeps returning the version it
    was planned against: the manifest is resolved at read() time and
    published commit files are never mutated (writers stage new dirs and
    swap the version pointer)."""
    before = table.read()
    n_before = before.count()
    table.insert(mk(spark, [(T0 + 2 * DAY, "oslo", 9.0)]))
    # old plan: still the old snapshot; new plan: sees the insert
    assert before.count() == n_before
    assert table.read().count() == n_before + 1


def test_time_travel_reads_old_versions(table, spark):
    """Every commit is a retained manifest: read(version=N) reproduces
    the table as of that commit (Delta-style time travel)."""
    v0 = table.version()
    n0 = table.read().count()
    table.insert(mk(spark, [(T0 + 3 * DAY, "oslo", 7.0)]))
    table.delete(mk(spark, [(T0, "munich", 1.0)]).select("timestamp", "tag"))
    assert table.read().count() == n0  # +1 then -1
    assert table.read(version=v0).count() == n0
    assert {(r["timestamp"], r["tag"]) for r in table.read(version=v0).collect()} == {
        (T0, "munich"), (T0, "skopje"), (T0 + 1, "munich"),
        (T0 + DAY, "munich"), (T0 + DAY, "athens"),
    }
    # intermediate version: insert applied, delete not yet
    mid = table.read(version=v0 + 1)
    assert mid.count() == n0 + 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        table.read(version=99)


def test_manifest_level_pruning(table, spark):
    """Bounded reads must not even plan partitions outside the range —
    the manifest is the timestamp index."""
    # table fixture spans two dates (T0 and T0+DAY)
    narrow = table.read(lo_ms=T0, hi_ms=T0 + 1)
    assert narrow.count() == 3  # all rows on day one survive the prune
    # the excluded date's files are absent from the physical plan
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    import datetime as dt

    day2 = dt.datetime.fromtimestamp((T0 + DAY) / 1000, tz=dt.timezone.utc).date()
    assert f"dt={day2}" not in plan
    # unbounded read still sees everything
    assert table.read().count() == 5


def test_engine_query_prunes_partitions(spark, tmp_path):
    from timeseries_db_spark.engine import TsdbEngine

    e = TsdbEngine(spark, str(tmp_path / "prune"))
    e.insert(
        [
            {"timestamp": T0, "tag": "a", "value": 1.0},
            {"timestamp": T0 + DAY, "tag": "a", "value": 2.0},
            {"timestamp": T0 + 2 * DAY, "tag": "a", "value": 3.0},
        ]
    )
    out = e.query({"ge": T0 + DAY, "le": T0 + DAY + 10})
    assert [r["value"] for r in out.collect()] == [2.0]
    plan = out._jdf.queryExecution().executedPlan().toString()
    import datetime as dt

    d0 = dt.datetime.fromtimestamp(T0 / 1000, tz=dt.timezone.utc).date()
    d2 = dt.datetime.fromtimestamp((T0 + 2 * DAY) / 1000, tz=dt.timezone.utc).date()
    assert f"dt={d0}" not in plan and f"dt={d2}" not in plan


def test_partitioning_is_timezone_independent(spark, tmp_path):
    """Writes and manifest pruning must agree on partition dates even when
    the caller's session timezone is not UTC (integer day arithmetic on
    both paths — the review finding this pins)."""
    from timeseries_db_spark.engine import TsdbEngine

    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")  # +14
    try:
        e = TsdbEngine(spark, str(tmp_path / "tz"))
        # the engine's own session carries the caller's zone over
        assert e.spark.conf.get("spark.sql.session.timeZone") == "Pacific/Kiritimati"
        noon = T0 + DAY // 2  # 2024-01-01T12:00Z → local date 2024-01-02
        e.insert([{"timestamp": noon, "tag": "a", "value": 1.0}])
        # point query must find the row despite the +14h local-date skew
        assert e.query_json({"tsEq": noon}) == [
            {"timestamp": noon, "tag": "a", "value": 1.0}
        ]
        # and a bounded range read prunes without losing it
        assert e.table.read(lo_ms=noon, hi_ms=noon).count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def test_auto_compaction_bounds_commit_count(spark, tmp_path):
    """50 write batches: the live commit dirs (the files a snapshot
    reads per day) must stay bounded by the auto-compaction threshold, and
    no data may be lost across compaction cycles."""
    t = TsTable.create(spark, str(tmp_path / "auto"), auto_compact_commits=6)
    for i in range(50):
        t.insert(mk(spark, [(T0 + i, "a", float(i))]))
        assert t.live_commit_count() <= 6
    assert t.read().count() == 50
    assert rows_of(t) == {(T0 + i, "a", float(i)) for i in range(50)}
    # a version published right before the last compaction is still
    # time-travel readable (compaction adds manifests, never mutates)
    assert t.read(version=t.version() - 1).count() in range(45, 51)


def test_auto_compaction_disabled(spark, tmp_path):
    t = TsTable.create(spark, str(tmp_path / "noauto"), auto_compact_commits=0)
    for i in range(8):
        t.insert(mk(spark, [(T0 + i, "a", float(i))]))
    assert t.live_commit_count() == 8


def test_concurrent_writers_loser_gets_clean_error(spark, tmp_path):
    """Two handles racing from the same base version: exactly one commit
    wins the create-exclusive manifest CAS; the loser raises
    ConcurrentWriteError instead of silently orphaning the winner's
    manifest (last-write-wins lineage loss). After a re-read, the loser's
    batch applies cleanly."""
    from timeseries_db_spark.operators.dml import ConcurrentWriteError

    path = str(tmp_path / "cas")
    a = TsTable.create(spark, path, df=mk(spark, [(T0, "seed", 0.0)]))
    b = TsTable(spark, path)
    base = a.version()
    # both writers stage their commits from the SAME observed version —
    # the deterministic interleaving of the racy read-merge-publish
    _, parts_a, _ = a._write_commit(mk(spark, [(T0 + 1, "a", 1.0)]))
    _, parts_b, _ = b._write_commit(mk(spark, [(T0 + 2, "b", 2.0)]))
    manifest = a._manifest()["partitions"]

    def merged(parts):
        m = {dt: list(dirs) for dt, dirs in manifest.items()}
        for dt, dirs in parts.items():
            m[dt] = m.get(dt, []) + dirs
        return m

    a._publish(merged(parts_a), base)
    with pytest.raises(ConcurrentWriteError):
        b._publish(merged(parts_b), base)
    # winner's row is visible; loser's staged rows never became visible
    assert (T0 + 1, "a", 1.0) in rows_of(a)
    assert (T0 + 2, "b", 2.0) not in rows_of(a)
    # loser retries through the normal path against the new snapshot
    b.insert(mk(spark, [(T0 + 2, "b", 2.0)]))
    assert (T0 + 2, "b", 2.0) in rows_of(a)


def test_two_thread_contention_no_silent_loss(spark, tmp_path):
    """End-to-end contention: two threads insert disjoint batches through
    separate handles with no external lock. Every batch either commits
    (its rows are all present) or raises ConcurrentWriteError (none of
    its rows are present) — never a torn or silently dropped commit."""
    import threading

    from timeseries_db_spark.operators.dml import ConcurrentWriteError

    path = str(tmp_path / "race")
    TsTable.create(spark, path)
    outcomes = {}

    def writer(name, offset):
        t = TsTable(spark, path)
        try:
            t.insert(mk(spark, [(T0 + offset + i, name, 1.0) for i in range(3)]))
            outcomes[name] = "ok"
        except ConcurrentWriteError:
            outcomes[name] = "conflict"

    threads = [
        threading.Thread(target=writer, args=("w1", 0)),
        threading.Thread(target=writer, args=("w2", 100)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    got = rows_of(TsTable(spark, path))
    for name, offset in (("w1", 0), ("w2", 100)):
        batch = {(T0 + offset + i, name, 1.0) for i in range(3)}
        present = batch & got
        if outcomes[name] == "ok":
            assert present == batch, (name, outcomes, got)
        else:
            assert not present, (name, outcomes, got)
    assert "ok" in outcomes.values()


def test_crash_between_stage_and_publish_leaves_invisible_orphan(
    spark, tmp_path, monkeypatch
):
    """Crash-inject after _write_commit but before _publish: the staged
    commit dir must be invisible to readers (manifest never referenced
    it) and reclaimed by vacuum()."""
    import os

    path = str(tmp_path / "crash")
    t = TsTable.create(spark, path, df=mk(spark, [(T0, "seed", 0.0)]))
    before = rows_of(t)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(t, "_publish", boom)
    with pytest.raises(RuntimeError):
        t.insert(mk(spark, [(T0 + 1, "ghost", 1.0)]))
    monkeypatch.undo()
    # orphan staged on disk, but no reader can see it
    commits = os.listdir(os.path.join(path, "commits"))
    assert len(commits) == 2  # seed + orphan
    assert rows_of(t) == before
    t.vacuum()
    assert len(os.listdir(os.path.join(path, "commits"))) == 1
    assert rows_of(t) == before


def test_crash_between_manifest_and_pointer_swap_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash-inject between manifest creation and the pointer swap: the
    committed manifest is complete but invisible; recover() rolls the
    pointer forward, making the commit visible and unblocking the
    version slot for the next writer."""
    import os as _os

    path = str(tmp_path / "swapcrash")
    t = TsTable.create(spark, path, df=mk(spark, [(T0, "seed", 0.0)]))
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("_VERSION"):
            raise RuntimeError("simulated crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(
        "timeseries_db_spark.operators.dml.os.replace", crashing_replace
    )
    with pytest.raises(RuntimeError):
        t.insert(mk(spark, [(T0 + 1, "late", 1.0)]))
    monkeypatch.undo()
    # pointer is stale: the new row is not yet visible
    assert (T0 + 1, "late", 1.0) not in rows_of(t)
    assert t.recover() == 2  # create()'s insert was v1; the stalled one v2
    assert (T0 + 1, "late", 1.0) in rows_of(t)
    # version slot unblocked: the next write proceeds normally
    t.insert(mk(spark, [(T0 + 2, "after", 2.0)]))
    assert (T0 + 2, "after", 2.0) in rows_of(t)


def test_engine_open_recovers_interrupted_commit(spark, tmp_path, monkeypatch):
    """A crash between manifest link and pointer swap leaves the next
    version slot taken; a freshly opened TsdbEngine must roll it forward
    instead of raising ConcurrentWriteError on its first write."""
    from timeseries_db_spark.engine import TsdbEngine

    path = str(tmp_path / "reopen")
    TsdbEngine(spark, path).insert([(T0, "a", 1.0)])

    def crash(self, new_version):
        raise RuntimeError("simulated crash before pointer swap")

    monkeypatch.setattr(TsTable, "_advance_pointer", crash)
    with pytest.raises(RuntimeError):
        TsdbEngine(spark, path).insert([(T0 + 1, "a", 2.0)])
    monkeypatch.undo()
    reopened = TsdbEngine(spark, path)
    reopened.insert([(T0 + 2, "b", 3.0)])
    assert rows_of(reopened.table) == {
        (T0, "a", 1.0), (T0 + 1, "a", 2.0), (T0 + 2, "b", 3.0),
    }


def test_manifest_interns_tag_sets(spark, tmp_path):
    """Each distinct leaf tag set is stored once per manifest; loading
    decodes it back to {leaf: tags | None}, and manifests written with
    inline tag lists still load."""
    import json as _json

    t = TsTable.create(spark, str(tmp_path / "intern"))
    for k in range(3):  # same two tags, three commits, two days each
        t.insert(mk(spark, [(T0 + k, "a", 1.0), (T0 + DAY + k, "b", 2.0),
                            (T0 + k + 10, "b", 3.0), (T0 + DAY + k + 10, "a", 4.0)]))
    with open(t._manifest_path(t.version())) as f:
        raw = _json.load(f)
    assert raw["tag_sets"] == [["a", "b"]]
    assert sorted(raw["tag_stats"].values()) == [0] * 6
    decoded = t._manifest()["tag_stats"]
    assert decoded == {leaf: ["a", "b"] for leaf in raw["tag_stats"]}
    # the earlier inline form reads the same
    inline = {k: v for k, v in raw.items() if k != "tag_sets"}
    inline["tag_stats"] = decoded
    with open(t._manifest_path(t.version()), "w") as f:
        _json.dump(inline, f)
    assert t._manifest()["tag_stats"] == decoded
    assert t.exists(tag="a") and not t.exists(tag="c")


def test_vacuum_retention_window(spark, tmp_path):
    """vacuum(retain_versions=N) keeps the last N+1 versions time-travel
    readable and reclaims everything older; a vacuumed version fails
    fast with a clean error at manifest resolution."""
    import os

    path = str(tmp_path / "ret")
    t = TsTable.create(spark, path, auto_compact_commits=0)
    for i in range(4):  # versions 1..4
        t.insert(mk(spark, [(T0 + i, f"v{i}", float(i))]))
    assert t.version() == 4
    before = rows_of(t)

    t.vacuum(retain_versions=1)
    # current and previous stay readable (and correct)
    assert rows_of(t) == before
    assert t.read(3).count() == 3
    # older versions are gone: clean ValueError, not a scan-time crash
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(1)
    # old manifests physically reclaimed
    manifests = sorted(os.listdir(os.path.join(path, "_manifests")))
    assert manifests == ["m0000000003.json", "m0000000004.json"]
    # all four commit dirs still referenced by v3/v4 (append-only inserts)
    assert len(os.listdir(os.path.join(path, "commits"))) == 4

    # after compaction, default vacuum reclaims the folded history
    t.compact()
    t.vacuum()
    assert len(os.listdir(os.path.join(path, "commits"))) == 1
    assert rows_of(t) == before


def test_changes_feed_between_versions(table, spark):
    """Delta-CDF-style changes(): inserts/updates/deletes between any two
    retained versions, with rewritten-but-equal rows filtered out, and
    the manifest diff pruning untouched partitions from the plan."""
    v0 = table.version()
    table.insert(mk(spark, [(T0 + 2, "new", 7.0)]))
    table.update(mk(spark, [(T0, "munich", 50.0)]))
    table.delete(
        spark.createDataFrame([(T0, "skopje")], "timestamp long, tag string")
    )
    v3 = table.version()

    got = {
        (r["timestamp"], r["tag"]): (
            r["value_before"], r["value_after"], r["change"]
        )
        for r in table.changes(v0, v3).collect()
    }
    assert got == {
        (T0 + 2, "new"): (None, 7.0, "insert"),
        (T0, "munich"): (1.0, 50.0, "update"),
        (T0, "skopje"): (2.0, None, "delete"),
    }
    # sub-ranges see only their own slice
    assert {r["change"] for r in table.changes(v0, v0 + 1).collect()} == {
        "insert"
    }
    # identical versions → empty feed (and an empty changed-partition set:
    # the plan reads nothing)
    empty = table.changes(v3, v3)
    assert empty.count() == 0
    assert "Scan parquet" not in empty._jdf.queryExecution().executedPlan().toString()
    # update/delete only touched the T0 date partition; the T0+DAY
    # partition's files are identical in both manifests and must be
    # pruned from the scan entirely
    files = table.changes(v0 + 1, v3).inputFiles()
    import re

    dts = {m for f in files for m in re.findall(r"dt=([0-9-]+)", f)}
    from datetime import datetime, timezone

    day0 = datetime.fromtimestamp(T0 / 1000, tz=timezone.utc).date().isoformat()
    assert files and dts == {day0}, (files, dts)


def test_incremental_rollup_matches_rescan(table, spark):
    """Materialized-view maintenance: applying the version change feed to
    a rollup_state must equal re-aggregating the new snapshot from
    scratch — across insert, update, and delete batches, including a
    group fully deleted, a group newly created, sub-4th-decimal values
    whose rounding would compound if increments differenced the ROUNDED
    total (code-review r8), and (r9) maintained MIN/MAX: the update
    below removes a group's extremum, forcing the targeted group
    rescan, while inserts fold monotonically."""
    from timeseries_db_spark.operators.rollup import (
        rollup_increment,
        rollup_state,
    )

    W = 3_600_000

    def as_map(df):
        return {
            (r["window_start"], r["tag"]): (
                r["cnt"], r["total"], r["vmin"], r["vmax"],
            )
            for r in df.collect()
        }

    # seed a sub-rounding value: 0.00004 rounds to 0.0; two of them
    # round to 0.0001 — only exact decimal state gets this right
    table.insert(mk(spark, [(T0 + 3 * DAY, "tiny", 0.00004)]))
    v0 = table.version()
    mat = rollup_state(table.read(v0), window_ms=W)
    # a batch of each kind: new group, update in place, full group
    # delete, plus the second sub-rounding row into the tiny group
    table.insert(
        mk(
            spark,
            [(T0 + 2 * DAY, "fresh", 3.25), (T0 + 3 * DAY + 1, "tiny", 0.00004)],
        )
    )
    table.update(mk(spark, [(T0 + 1, "munich", -2.5)]))
    table.delete(
        spark.createDataFrame(
            [(T0 + DAY, "athens")], "timestamp long, tag string"
        )
    )
    v3 = table.version()

    incr = rollup_increment(
        mat, table.changes(v0, v3), window_ms=W, snapshot=table.read(v3)
    )
    expected = rollup_state(table.read(v3), window_ms=W)
    assert as_map(incr) == as_map(expected)
    # the tiny group proves exactness: 0.00004 + 0.00004 rounds to 0.0001
    tiny = [v[:2] for (ws, tag), v in as_map(incr).items() if tag == "tiny"]
    assert tiny == [(2.0, 0.0001)]
    # the day-1 munich group's extremum moved: the update replaced value
    # 3.0 (the max) with -2.5 (the new min) — one leg folds
    # monotonically, the other takes the targeted rescan path
    w0 = (T0 // W) * W
    assert as_map(incr)[(w0, "munich")][2:] == (-2.5, 1.0)
    # and incrementally step-by-step too (feed composition)
    step = mat
    for v in range(v0, v3):
        step = rollup_increment(
            step, table.changes(v, v + 1), window_ms=W,
            snapshot=table.read(v + 1),
        )
    assert as_map(step) == as_map(expected)
    # the existing-groups leg is a broadcast join over the view, never a
    # shuffle of it (the full-outer broadcast hint Spark drops — r8)
    plan = incr._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_vacuum_skips_already_vacuumed_and_pending_manifests(spark, tmp_path):
    """Code-review r8: (a) a later vacuum with a WIDER retention window
    must skip manifests a previous tighter run already deleted, not
    crash; (b) a committed-but-unpublished manifest (writer crashed
    before the pointer swap) counts as LIVE — vacuum must not delete the
    commit dirs recover() is about to publish."""
    import os as _os

    path = str(tmp_path / "vr")
    t = TsTable.create(spark, path, auto_compact_commits=0)
    for i in range(4):
        t.insert(mk(spark, [(T0 + i, f"v{i}", float(i))]))
    t.vacuum(retain_versions=1)  # drops m0..m2
    t.insert(mk(spark, [(T0 + 9, "v9", 9.0)]))  # version 5
    # wider retention than what survives: must not raise
    t.vacuum(retain_versions=4)
    assert t.read(3).count() == 3

    # stage a commit + manifest but crash before the pointer swap
    real_advance = TsTable._advance_pointer
    try:
        TsTable._advance_pointer = lambda self, v: (_ for _ in ()).throw(
            RuntimeError("crash before pointer swap")
        )
        with pytest.raises(RuntimeError):
            t.insert(mk(spark, [(T0 + 10, "pending", 10.0)]))
    finally:
        TsTable._advance_pointer = real_advance
    # vacuum while the commit is pending: must keep its data alive
    t.vacuum()
    assert t.recover() == 6
    assert (T0 + 10, "pending", 10.0) in rows_of(t)


def test_stalled_writer_cannot_regress_pointer(spark, tmp_path):
    """Code-review r8: writer A stalls between manifest link and pointer
    swap; recover() publishes A; writer B commits the next version. A's
    resumed swap must NOT move the pointer backwards — the advance is
    monotonic under the pointer lock."""
    path = str(tmp_path / "mono")
    t = TsTable.create(spark, path, df=mk(spark, [(T0, "seed", 0.0)]))

    # simulate A: manifest for v2 linked, pointer swap stalled
    real_advance = TsTable._advance_pointer
    try:
        TsTable._advance_pointer = lambda self, v: None  # stall: no swap
        t.insert(mk(spark, [(T0 + 1, "a", 1.0)]))
    finally:
        TsTable._advance_pointer = real_advance
    assert t.version() == 1  # A's commit invisible (pointer not swapped)
    assert t.recover() == 2  # someone rolls it forward
    t.insert(mk(spark, [(T0 + 2, "b", 2.0)]))  # B commits v3
    assert t.version() == 3
    # A resumes its stalled swap to v2 — must be a no-op
    t._advance_pointer(2)
    assert t.version() == 3
    assert (T0 + 2, "b", 2.0) in rows_of(t)


def test_auto_compact_occ_loss_does_not_fail_the_write(spark, tmp_path, monkeypatch):
    """Code-review r8: if auto-compaction loses the OCC race AFTER the
    user's write committed, the write call must still succeed."""
    from timeseries_db_spark.operators.dml import ConcurrentWriteError

    path = str(tmp_path / "acocc")
    t = TsTable.create(spark, path, auto_compact_commits=1)
    t.insert(mk(spark, [(T0, "a", 1.0)]))

    def racing_compact(self):
        raise ConcurrentWriteError("lost the race")

    monkeypatch.setattr(TsTable, "compact", racing_compact)
    # crosses the threshold -> compaction triggers, loses, is swallowed
    t.insert(mk(spark, [(T0 + 1, "b", 2.0)]))
    monkeypatch.undo()
    assert (T0 + 1, "b", 2.0) in rows_of(t)


def test_changes_rejects_inverted_range(table):
    with pytest.raises(ValueError, match="from_version"):
        table.changes(table.version(), 0)


def test_changes_of_vacuumed_version_fails_fast(spark, tmp_path):
    t = TsTable.create(spark, str(tmp_path / "cv"), auto_compact_commits=0)
    for i in range(3):
        t.insert(mk(spark, [(T0 + i, f"v{i}", float(i))]))
    t.vacuum(retain_versions=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.changes(1, t.version())


def test_restore_and_history(table, spark):
    """RESTORE publishes the old content as a NEW version (the mistake
    and the recovery both stay in history); history() lists retained
    versions newest-first; restoring a vacuumed version fails fast."""
    v1 = table.version()
    before = rows_of(table)
    table.insert(mk(spark, [(T0 + 5, "oops", 99.0)]))
    assert (T0 + 5, "oops", 99.0) in rows_of(table)

    table.restore(v1)
    assert rows_of(table) == before
    assert table.version() == v1 + 2  # the rollback is itself a commit
    # the mistake remains time-travel visible
    assert (T0 + 5, "oops", 99.0) in {
        (r["timestamp"], r["tag"], r["value"])
        for r in table.read(v1 + 1).collect()
    }
    # restored state accepts further writes (CAS base is fresh)
    table.insert(mk(spark, [(T0 + 6, "next", 1.0)]))

    hist = table.history()
    assert [h["version"] for h in hist] == list(range(table.version(), -1, -1))
    assert hist[0]["current"] and not any(h["current"] for h in hist[1:])
    assert all(h["n_commits"] >= 0 for h in hist)

    table.vacuum()  # retain only current
    with pytest.raises(ValueError, match="vacuumed"):
        table.restore(v1)


def test_history_excludes_pending_manifest(spark, tmp_path):
    """A manifest above the pointer (commit mid-swap / awaiting
    recover()) must not appear in history(): every listed version is one
    read()/restore() will accept."""
    path = str(tmp_path / "hp")
    t = TsTable.create(spark, path, df=mk(spark, [(T0, "seed", 0.0)]))
    real = TsTable._advance_pointer
    try:
        TsTable._advance_pointer = lambda self, v: None
        t.insert(mk(spark, [(T0 + 1, "pending", 1.0)]))
    finally:
        TsTable._advance_pointer = real
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["current"]
    t.recover()
    assert t.history()[0]["version"] == 2


def test_expire_drops_whole_days_without_rewrite(spark, tmp_path):
    """Retention expiry: days entirely before the cutoff disappear as
    pure manifest edits (no new commit dirs), the boundary day is
    rewritten to its surviving suffix, later days are untouched, and
    the pre-expiry version remains fully time-travelable."""
    import os

    DAY = 86_400_000
    t = TsTable.create(spark, str(tmp_path / "t"))
    rows = [
        (d * DAY + off, tag, float(d * 10 + off % 7))
        for d in range(4)
        for off in (0, 3_600_000, 82_800_000)
        for tag in ("a", "b")
    ]
    t.insert(spark.createDataFrame(rows, "timestamp long, tag string, value double"))
    v_before = t.version()
    commits_before = set(os.listdir(str(tmp_path / "t" / "commits")))

    cutoff = 2 * DAY + 3_600_000  # mid-day-2: days 0,1 drop whole
    t.expire(cutoff)

    got = sorted(
        (r["timestamp"], r["tag"]) for r in t.read().collect()
    )
    expected = sorted((ts, tag) for ts, tag, _ in rows if ts >= cutoff)
    assert got == expected
    # exactly ONE new commit (the boundary rewrite) — whole-day drops
    # are manifest-only
    commits_after = set(os.listdir(str(tmp_path / "t" / "commits")))
    assert len(commits_after - commits_before) == 1
    # old version still sees everything (files retained for time travel)
    assert t.read(version=v_before).count() == len(rows)

    # day-boundary cutoff: NO rewrite at all (manifest-only edit)
    commits_now = set(os.listdir(str(tmp_path / "t" / "commits")))
    t.expire(3 * DAY)
    assert set(os.listdir(str(tmp_path / "t" / "commits"))) == commits_now
    assert t.read().count() == sum(1 for ts, _, _ in rows if ts >= 3 * DAY)


def test_tag_stats_prune_reads_and_stay_correct(spark, tmp_path):
    """r9 manifest tag index (the reference TagIndex analog): a tagEq
    read must never plan leaf dirs whose recorded tag set excludes the
    tag — proven on inputFiles, which for TsTable reads lists exactly
    the manifest-selected dirs — while returning the same rows as the
    unpruned read + filter. Stats survive update/delete/compact/restore
    and degrade safely: a high-cardinality commit stores None (kept),
    and a manifest stripped of tag_stats (pre-r9) keeps everything."""
    import json as _json
    import os as _os

    from timeseries_db_spark.operators.dml import TsTable

    T0 = 1_704_067_200_000
    DAY = 86_400_000

    def mk(rows):
        return spark.createDataFrame(
            rows, "timestamp long, tag string, value double"
        )

    table = TsTable.create(
        spark,
        str(tmp_path / "t"),
        mk([(T0 + i, "alpha" if i % 2 else "beta", 1.0 * i) for i in range(10)]),
    )
    # second commit, different day, disjoint tag
    table.insert(mk([(T0 + DAY + i, "gamma", 2.0 * i) for i in range(5)]))

    def files(df):
        return set(df.inputFiles())

    pruned = table.read(tag_eq="gamma")
    assert files(pruned) < files(table.read())
    for f in files(pruned):
        assert "dt=2024-01-02" in f, f
    # values identical to unpruned + exact filter
    expect = sorted(
        map(tuple, table.read().filter("tag = 'gamma'").collect())
    )
    assert sorted(map(tuple, pruned.filter("tag = 'gamma'").collect())) == expect

    # absent tag → empty plan, zero files
    assert files(table.read(tag_eq="nope")) == set()

    # stats follow a partition REWRITE: delete every beta row of day 1 —
    # the rewritten leaf's stats drop beta
    table.delete(
        mk([(T0 + i, "beta", 0.0) for i in range(0, 10, 2)]).select(
            "timestamp", "tag"
        )
    )
    assert files(table.read(tag_eq="beta")) == set()
    assert files(table.read(tag_eq="alpha"))

    # compact folds commits; stats rebuilt for the folded leaves
    table.compact()
    assert {f for f in files(table.read(tag_eq="gamma"))}
    for f in files(table.read(tag_eq="gamma")):
        assert "dt=2024-01-02" in f, f

    # restore carries the RESTORED version's stats (beta exists again
    # at the pre-delete version)
    pre_delete = table.version() - 2
    table.restore(pre_delete)
    assert files(table.read(tag_eq="beta"))

    # pre-r9 manifest (no tag_stats key): everything conservatively kept
    m_path = table._manifest_path(table.version())
    with open(m_path) as f:
        m = _json.load(f)
    m.pop("tag_stats")
    _os.chmod(m_path, 0o644)
    tmp = m_path + ".rewrite"
    with open(tmp, "w") as f:
        _json.dump(m, f)
    _os.replace(tmp, m_path)
    assert files(table.read(tag_eq="nope")) == files(table.read())

    # high-cardinality commit: stats None → kept for any tag
    t2 = TsTable.create(
        spark,
        str(tmp_path / "hc"),
        mk([(T0 + i, f"tag{i}", 1.0) for i in range(TsTable.TAG_STATS_MAX + 5)]),
    )
    assert files(t2.read(tag_eq="tag0")) == files(t2.read())


def _live_files(t: TsTable) -> list[str]:
    """The parquet data files the current manifest references."""
    leaves = [
        os.path.join(t.path, "commits", rel)
        for rels in t._manifest()["partitions"].values()
        for rel in rels
    ]
    return [
        os.path.join(leaf, f)
        for leaf in leaves
        for f in os.listdir(leaf)
        if f.endswith(".parquet")
    ]


def _codecs(files: list[str]) -> set[str]:
    """Every column chunk's compression codec across ``files``."""
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    return codecs


def test_every_write_stores_zstd_parquet_v2(spark, tmp_path):
    """Every commit, whichever operation wrote it, is zstd-compressed
    Parquet with v2 data pages: the dense demo timestamps are stored
    DELTA_BINARY_PACKED, and the 20,001-row demo leaf takes under 0.5
    B/row (about 4 B/row as snappy-compressed v1 pages)."""
    n = 20_001
    t = TsTable.create(spark, str(tmp_path / "t"), timeseries_fixture(spark, n))
    (leaf,) = _live_files(t)
    assert os.path.getsize(leaf) / n < 0.5
    md = pq.ParquetFile(leaf).metadata
    assert md.num_rows == n
    ts_chunk = md.row_group(0).column(0)
    assert ts_chunk.path_in_schema == "timestamp"
    assert "DELTA_BINARY_PACKED" in ts_chunk.encodings
    assert _codecs([leaf]) == {"ZSTD"}

    t.insert(mk(spark, [(BASE_TS + DAY + i, "Oslo", float(i)) for i in range(50)]))
    assert _codecs(_live_files(t)) == {"ZSTD"}
    t.update(mk(spark, [(BASE_TS + 1, "Skopje", 7.0), (BASE_TS + DAY, "Oslo", 7.0)]))
    assert _codecs(_live_files(t)) == {"ZSTD"}
    t.delete(mk(spark, [(BASE_TS + 2, "Munich", 0.0)]).select("timestamp", "tag"))
    assert _codecs(_live_files(t)) == {"ZSTD"}
    t.compact()
    assert _codecs(_live_files(t)) == {"ZSTD"}
    t.expire(BASE_TS + 10_000)  # mid-day: the boundary day is rewritten
    assert _codecs(_live_files(t)) == {"ZSTD"}
    assert t.read().count() == n - 10_000 + 50


def test_tables_written_before_zstd_v2_keep_working(spark, tmp_path, monkeypatch):
    """A table whose first commit was written as snappy-compressed v1
    pages, with later zstd/v2 commits in the same days, answers point,
    rows, group and scalar queries exactly as a recomputation over its
    rows does, before and after compact(); compact() converts every live
    file to zstd."""
    minute = 60_000
    rows = {
        (T0 + d * DAY + m * minute, tag): float(d * 100 + m + i)
        for d in range(2)
        for m in range(40)
        for i, tag in enumerate(("a", "b", "c"))
    }

    def batch(keys):
        return [{"timestamp": ts, "tag": tag, "value": rows[ts, tag]}
                for ts, tag in sorted(keys)]

    old, new = (
        [k for k in rows if (k[0] - T0) % DAY < 20 * minute],
        [k for k in rows if (k[0] - T0) % DAY >= 20 * minute],
    )
    path = str(tmp_path / "t")
    TsTable.create(spark, path)
    eng = TsdbEngine(spark, path)
    monkeypatch.setattr(
        dml, "WRITE_OPTIONS",
        {"compression": "snappy", "parquet.writer.version": "v1"},
    )
    eng.insert(batch(old))
    monkeypatch.undo()
    eng.insert(batch(new[: len(new) // 2]))
    eng.insert(batch(new[len(new) // 2:]))
    # an update rewrites day 2 whole; day 1 keeps its snappy/v1 file
    changed = [k for k in rows if k[0] >= T0 + DAY and k[1] == "b"]
    for k in changed:
        rows[k] += 0.5
    eng.update(batch(changed))
    assert _codecs(_live_files(eng.table)) == {"SNAPPY", "ZSTD"}

    def expected(q: dict):
        keys = sorted(rows)
        if "tsEq" in q:
            keys = [k for k in keys if k[0] == q["tsEq"]]
        keys = [k for k in keys
                if q.get("ge", -math.inf) <= k[0] <= q.get("le", math.inf)
                and q.get("tagEq", k[1]) == k[1]]
        if "aggFunc" not in q:
            return batch(keys)[: q.get("limit")]
        if "groupBy" not in q:
            return {"result": sum(rows[k] for k in keys)}
        groups: dict[str, list[float]] = {}
        for k in keys:
            groups.setdefault(k[1], []).append(rows[k])
        return [{"group": g, "result": sum(v) / len(v)}
                for g, v in sorted(groups.items())]

    queries = [
        {"tsEq": T0 + 5 * minute, "tagEq": "b"},
        {"tsEq": T0 + DAY + 30 * minute, "tagEq": "b"},
        {"tagEq": "c", "ge": T0 + 10 * minute, "le": T0 + DAY + 25 * minute,
         "limit": 45},
        {"aggFunc": "avg", "groupBy": "tag"},
        {"aggFunc": "sum"},
    ]

    def check():
        for q in queries:
            got, want = eng.query_json(q), expected(q)
            if q.get("groupBy"):
                assert [g["group"] for g in got] == [g["group"] for g in want], q
                got = [g["result"] for g in got]
                want = [pytest.approx(g["result"]) for g in want]
            assert got == want, q

    check()
    eng.table.compact()
    assert _codecs(_live_files(eng.table)) == {"ZSTD"}
    check()
