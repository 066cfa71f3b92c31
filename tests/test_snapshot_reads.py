"""The query read path: one snapshot relation per query, and presence
probes only when the answer is empty.

* every hit is exactly 1 Spark job, at 1 and at 8 live commits (the
  snapshot is one parquet relation over the manifest's leaf dirs) and
  past the leaf count at which Spark would list files in a job;
* a limit at or past Spark's top-k threshold is still 1 job;
* a leaf-dir set's relation is reused across reads, never serves a
  write's stale state, and the reuse cache stays bounded;
* a tag travels as a SQL parameter, never as statement text;
* ``TsdbEngine.query_json`` — answer first, manifest-pruned probes —
  keeps exactly the error contract of the eager ``run_query`` over the
  whole table, including a leaf whose tag set is too large for stats.
"""

from __future__ import annotations

import concurrent.futures
import datetime
import math
import sys
import uuid

import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from pyspark.sql import functions as F

from tests.test_property import qm_strategy
from timeseries_db_spark import wire
from timeseries_db_spark.engine import TsdbEngine
from timeseries_db_spark.operators.dml import RELATION_CACHE_MAX, TsTable
from timeseries_db_spark.plans.compiler import GROUP_COL, RESULT_COL, run_query
from timeseries_db_spark.schema import (
    TS_SCHEMA,
    Agg,
    GroupBy,
    IllegalQueryError,
    QueryError,
    QueryModel,
    Sort,
)
from timeseries_db_spark.sources.fixture import BASE_TS, timeseries_fixture

T0 = 1704067200000  # 2024-01-01T00:00:00Z
DAY = 86_400_000
MINUTE = 60_000


def _batch(k: int) -> list[dict]:
    """Batch ``k``: 16 fresh minutes × 4 tags on each of two days."""
    return [
        {"timestamp": T0 + d * DAY + (16 * k + m) * MINUTE, "tag": tag,
         "value": float(k + m)}
        for d in range(2)
        for m in range(16)
        for tag in ("a", "b", "c", "d")
    ]


def _jobs(spark, fn):
    """(result or QueryError text, Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    group = f"jobpin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        try:
            out = fn()
        except QueryError as exc:
            out = str(exc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hit_jobs_do_not_grow_with_live_commits(spark, tmp_path):
    """Every hit shape is 1 job at 1 and 8 live commits, and again once a
    45-day commit takes the snapshot past 40 leaf dirs (Spark's default
    would list more than 32 in a job of its own); misses keep their
    texts. The engine serves from its own session, so the caller's
    keeps AQE and whole-stage codegen."""
    path = str(tmp_path / "pin")
    TsTable.create(spark, path)
    eng = TsdbEngine(spark, path)
    eng.table = table = TsTable(eng.spark, path, auto_compact_commits=0)
    hits = {
        "point": {"tsEq": T0 + DAY + 5 * MINUTE, "tagEq": "b"},
        "rows": {"tagEq": "a", "ge": T0, "le": T0 + DAY, "limit": 20},
        "scalar": {"aggFunc": "avg"},
        "group_tag": {"aggFunc": "count", "groupBy": "tag"},
        "group_ts": {"aggFunc": "sum", "groupBy": "timestamp", "sort": "desc",
                     "limit": 20},
    }
    misses = {
        "tag": ({"tagEq": "Oslo"}, wire.no_data_tag("Oslo")),
        "ts": ({"tsEq": T0 + 7, "tagEq": "a"}, wire.no_data_ts(T0 + 7)),
        "avg": ({"aggFunc": "avg", "gt": T0 + 90 * DAY}, wire.avg_failed()),
    }
    wide = [  # 3-6 h past midnight: clear of every _batch minute
        {"timestamp": T0 + d * DAY + (3 + h) * 60 * MINUTE, "tag": "e",
         "value": float(h)}
        for d in range(45) for h in range(4)
    ]
    jobs: dict[int | str, dict[str, int]] = {}
    for stage in (1, 8, "wide"):
        if stage == "wide":
            eng.insert(wide)
            leaves = table._manifest()["partitions"].values()
            assert sum(len(dirs) for dirs in leaves) > 40
        else:
            while table.live_commit_count() < stage:
                eng.insert(_batch(table.live_commit_count()))
            assert table.live_commit_count() == stage
        jobs[stage] = {}
        for name, q in hits.items():
            out, jobs[stage][name] = _jobs(spark, lambda: eng.query_json(q))
            shape = dict if name == "scalar" else list
            assert isinstance(out, shape) and out, (stage, name, out)
        assert _jobs(spark, lambda: eng.query_json(hits["point"]))[0] == [
            {"timestamp": T0 + DAY + 5 * MINUTE, "tag": "b", "value": 5.0}
        ]
        for name, (q, text) in misses.items():
            with pytest.raises(QueryError) as exc:
                eng.query_json(q)
            assert str(exc.value) == text, (stage, name)
    assert all(n == 1 for by_shape in jobs.values() for n in by_shape.values()), jobs
    assert eng.query_json(hits["group_tag"]) == [
        {"group": t, "result": 8 * 32.0} for t in "abcd"
    ] + [{"group": "e", "result": 180.0}]
    for key in ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage"):
        assert spark.conf.get(key) == "true", key
        assert eng.spark.conf.get(key) == "false", key


def test_limits_past_the_top_k_threshold_stay_one_job(spark, tmp_path):
    """Spark plans ``TakeOrderedAndProject`` only for a limit below
    ``spark.sql.execution.topKSortFallbackThreshold`` (2^31 - 16); at or
    above it a sorted read falls back to a global sort and costs 3 or 4
    jobs.
    The compiler clamps every limit below that threshold, so a rows and a
    group-by-timestamp read with a limit of 2^31 - 1 or 2^40 stay 1 job
    and still return every row."""
    path = str(tmp_path / "limits")
    TsTable.create(spark, path)
    eng = TsdbEngine(spark, path)
    rows = _batch(0) + _batch(1)
    eng.insert(rows)
    expected_rows = sorted(rows, key=lambda r: (r["timestamp"], r["tag"]))
    sums: dict[int, float] = {}
    for r in rows:
        sums[r["timestamp"]] = sums.get(r["timestamp"], 0.0) + r["value"]
    expected_groups = [
        {"group": ts, "result": sums[ts]} for ts in sorted(sums, reverse=True)
    ]
    for limit in (2**31 - 1, 2**40):
        out, jobs = _jobs(spark, lambda: eng.query_json({"limit": limit}))
        assert (jobs, out) == (1, expected_rows), limit
        q = {"aggFunc": "sum", "groupBy": "timestamp", "sort": "desc",
             "limit": limit}
        out, jobs = _jobs(spark, lambda: eng.query_json(q))
        assert (jobs, out) == (1, expected_groups), limit


def test_reused_relations_never_serve_stale_snapshots(spark, tmp_path):
    """Reads of one snapshot share its relation; after every kind of
    write the next answer shows that write; the reuse cache never holds
    more than RELATION_CACHE_MAX relations."""
    path = str(tmp_path / "reuse")
    TsTable.create(spark, path)
    eng = TsdbEngine(spark, path)
    eng.table = table = TsTable(eng.spark, path, auto_compact_commits=0)
    mirror: dict[tuple[int, str], float] = {}
    everything = {}
    by_tag = {"aggFunc": "sum", "groupBy": "tag"}

    def check():
        assert len(table._relations) <= RELATION_CACHE_MAX
        assert eng.query_json(everything) == [
            {"timestamp": ts, "tag": tag, "value": mirror[ts, tag]}
            for ts, tag in sorted(mirror)
        ]
        sums: dict[str, float] = {}
        for (_, tag), value in mirror.items():
            sums[tag] = sums.get(tag, 0.0) + value
        assert eng.query_json(by_tag) == [
            {"group": tag, "result": sums[tag]} for tag in sorted(sums)
        ]

    def insert(rows):
        eng.insert(rows)
        mirror.update({(r["timestamp"], r["tag"]): r["value"] for r in rows})

    insert(_batch(0))
    check()
    assert table.read() is table.read()  # one relation per snapshot
    v1 = eng.version()
    insert(_batch(1))
    check()
    eng.update([{"timestamp": T0 + MINUTE, "tag": "b", "value": -1.0}])
    mirror[T0 + MINUTE, "b"] = -1.0
    check()
    eng.delete([{"timestamp": T0 + DAY, "tag": "c"}])
    del mirror[T0 + DAY, "c"]
    check()
    table.compact()
    check()
    eng.truncate()
    mirror.clear()
    check()
    eng.restore(v1)
    mirror.update({(r["timestamp"], r["tag"]): r["value"] for r in _batch(0)})
    check()

    # one leaf per day: each one-day range is a leaf set of its own. Read
    # every day twice from more threads than cores, switching often
    days = RELATION_CACHE_MAX + 8
    insert([{"timestamp": T0 + (10 + d) * DAY, "tag": "e", "value": float(d)}
            for d in range(days)])

    def read_day(d: int) -> list[str]:
        lo = T0 + (10 + d) * DAY
        files = table.read(lo_ms=lo, hi_ms=lo + DAY - 1).inputFiles()
        assert len(table._relations) <= RELATION_CACHE_MAX
        return files

    order = list(range(days)) * 2
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
            files = list(pool.map(read_day, order, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    for d, day_files in zip(order, files):
        dt = datetime.date(2024, 1, 11) + datetime.timedelta(days=d)
        assert day_files and all(f"/dt={dt}/" in f for f in day_files), (d, day_files)
    assert len(table._relations) == RELATION_CACHE_MAX
    check()


#: tags that would change a statement spliced from text: quote,
#: backslash, comment, a parameter marker, a format field, a newline
AWKWARD_TAGS = ["o'brien", "back\\slash", "a--b", ":tag_eq", "{snap}", "two\nlines"]


def test_tags_are_parameters_not_statement_text(spark, tmp_path):
    eng = TsdbEngine(spark, str(tmp_path / "awkward"))
    eng.insert([{"timestamp": T0 + i, "tag": tag, "value": float(i)}
                for i, tag in enumerate(AWKWARD_TAGS)])
    for i, tag in enumerate(AWKWARD_TAGS):
        assert eng.query_json({"tagEq": tag}) == [
            {"timestamp": T0 + i, "tag": tag, "value": float(i)}
        ]
        assert eng.query_json({"tagEq": tag, "aggFunc": "count"}) == {"result": 1.0}
    assert eng.query_json({"aggFunc": "max", "groupBy": "tag"}) == [
        {"group": tag, "result": float(AWKWARD_TAGS.index(tag))}
        for tag in sorted(AWKWARD_TAGS)
    ]
    for tag in ("x' OR '1'='1", "a' --", ":ts_eq", "{snap}}", "\n", "o'brien\\"):
        with pytest.raises(QueryError) as exc:
            eng.query_json({"tagEq": tag})
        assert str(exc.value) == wire.no_data_tag(tag), tag


# ---------- contract equivalence: query_json vs eager run_query ----------


@pytest.fixture(scope="module")
def three_commit_table(spark, tmp_path_factory):
    """The property fixture's rows in three commits on one UTC day; the
    third also holds more than TAG_STATS_MAX tags, so its leaf has no
    tag stats and tag probes fall back to a scan."""
    path = str(tmp_path_factory.mktemp("equiv") / "t")
    rows = timeseries_fixture(spark, 5_000)
    ts = F.col("timestamp") - BASE_TS
    table = TsTable.create(spark, path, rows.filter(ts < 2_000))
    table.insert(rows.filter((ts >= 2_000) & (ts < 4_000)))
    wide = spark.createDataFrame(
        [(BASE_TS + 4_000 + k, f"x{k:02d}", float(k))
         for k in range(TsTable.TAG_STATS_MAX + 6)],
        TS_SCHEMA,
    )
    table.insert(rows.filter(ts >= 4_000).unionByName(wide))
    stats = table._manifest()["tag_stats"]
    assert len(stats) == 3 and sum(v is None for v in stats.values()) == 1
    return table


def _wire(qm: QueryModel, rows):
    """Spark rows of ``compile_query`` in ``query_json``'s wire shape."""
    if qm.agg_func is None:
        return [{"timestamp": r["timestamp"], "tag": r["tag"], "value": r["value"]}
                for r in rows]
    if qm.group_by is None:
        return {"result": rows[0][RESULT_COL] if rows else None}
    return [{"group": r[GROUP_COL], "result": r[RESULT_COL]} for r in rows]


def _close(a, b) -> bool:
    """Equal up to float summation order (pruned and whole-table scans
    may add in different orders)."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    return a == b


def _fields(**given_fields) -> dict:
    base = dict.fromkeys(("gt", "ge", "lt", "le", "ts_eq", "tag_eq", "agg_func",
                          "group_by", "limit"))
    return {**base, "sort": Sort.ASC, **given_fields}


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
    ],
)
@given(fields=qm_strategy)
# the misses always run: the Oslo tag probe must take the scan fallback
# (the wide leaf has no stats), plus a key miss and an empty average
@example(fields=_fields(tag_eq="Oslo", limit=0))
@example(fields=_fields(tag_eq="Oslo", agg_func=Agg.COUNT, group_by=GroupBy.TAG))
@example(fields=_fields(tag_eq="Munich", ts_eq=BASE_TS + 1))
@example(fields=_fields(agg_func=Agg.AVG, gt=BASE_TS + 10_000))
def test_query_json_keeps_the_eager_error_contract(spark, three_commit_table, fields):
    try:
        qm = QueryModel(**fields)
    except IllegalQueryError:
        assume(False)
    table = three_commit_table

    def outcome(fn):
        try:
            return "ok", fn()
        except QueryError as exc:
            return "error", str(exc)

    eager = outcome(lambda: _wire(qm, run_query(table.read(), qm).collect()))
    got = outcome(lambda: TsdbEngine(spark, table.path).query_json(qm))
    assert got[0] == eager[0] and _close(got[1], eager[1]), (fields, got, eager)
