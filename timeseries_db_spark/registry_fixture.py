"""Registry entries over the reference-shaped ``timeseries`` fixture
(sources/fixture.py) — the generateTS.hs demo shape — plus the keyed-DML
roundtrip that puts the write path (SURVEY.md §2.4 W1-W3) under the
driver's oracle gate.

These target what the driver tables can't stress:

* dense consecutive-ms timestamps → ``gt``/``ge`` and ``lt``/``le``
  off-by-one boundaries select visibly different rows;
* extreme tag skew (``Munich`` = every even timestamp, half the table) →
  the group-by relies on partial aggregation to combine the skew away
  map-side before the shuffle;
* group-by-timestamp over dense keys → high-cardinality shuffle + top-k.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseries_db_spark.operators.analytics import (
    running_totals_scalable,
    running_totals_sql,
)
from timeseries_db_spark.operators.dml import TsTable
from timeseries_db_spark.plans.compiler import compile_query
from timeseries_db_spark.schema import Agg, GroupBy, QueryModel, Sort
from timeseries_db_spark.sources.fixture import (
    BASE_TS,
    timeseries_fixture,
    timeseries_fixture_sql,
)

_ROUNDED = {Agg.SUM, Agg.AVG}

# boundary literals: interior timestamps so every bound has rows on both sides
EDGE_LO = BASE_TS + 999
EDGE_HI = BASE_TS + 100_000

#: r10 tsx leg: the lone next-day Oslo row (see dml_roundtrip docstring)
OSLO_TS = BASE_TS + 86_400_000


def _fx_query(qm: QueryModel):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = compile_query(timeseries_fixture(spark), qm)
        if qm.agg_func in _ROUNDED:
            from timeseries_db_spark.registry import _round_result

            out = _round_result(out)
        return out

    return run


def dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 insert + W2 update + W3 delete + W4 truncate + W5 retention
    expiry on a fresh TsTable, then read the final snapshot. Seeded from
    the first 5,000
    fixture rows; inserts the next 1,000; updates all early-``Munich``
    values to 999; deletes all early-``Athens`` keys; then truncates and
    re-inserts the pre-truncate snapshot (r8 — VERDICT r7 item 3: W4 was
    the one §2 row without a driver-observable path; a truncate that
    fails to empty the table now breaks the re-insert with key-exists
    errors, and one that loses data breaks the value hash). The oracle
    (below) states the same final table closed-form.

    r10 ``tsx`` leg (VERDICT r9 item 7): the manifest TAG INDEX gets a
    driver-observable path. A next-day single-``Oslo`` insert creates a
    leaf dir whose tag stats are disjoint from every day-one leaf; the
    leg then reads ``tag_eq='Oslo'`` against the committed table and
    asserts over the EXECUTED plan (``input_file_name`` on the
    materialized rows — ``inputFiles()`` does not reflect pruning) that
    every file visited lives under a leaf whose manifest tag stats
    contain Oslo. A pruning regression in ``dml.py`` now errs this
    driver row instead of only a pytest. The leg's rows (the one Oslo
    row, exact-filtered) union onto the snapshot, so the oracle adds
    the Oslo row twice."""
    fx = timeseries_fixture(spark, 6_000)
    ts = F.col("timestamp")
    seed = fx.filter(ts < BASE_TS + 5_000)
    ins = fx.filter(ts >= BASE_TS + 5_000)

    # one fixed scratch path per process, wiped each call — repeated gate
    # runs must not accumulate tables in /tmp
    path = os.path.join(tempfile.gettempdir(), f"tsdb_dml_rt_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    table = TsTable.create(spark, path, seed)
    table.insert(ins)
    table.update(
        seed.filter((F.col("tag") == "Munich") & (ts < BASE_TS + 100))
        .select("timestamp", "tag")
        .withColumn("value", F.lit(999.0))
    )
    table.delete(
        seed.filter((F.col("tag") == "Athens") & (ts < BASE_TS + 200)).select(
            "timestamp", "tag"
        )
    )
    # W4: truncate, then re-insert the pre-truncate snapshot. read()
    # resolves the manifest eagerly and truncate never deletes files, so
    # the snapshot plan stays valid across the truncate; the re-insert
    # only succeeds against a genuinely emptied table (insert rejects
    # existing keys), so the oracle needs no extra leg.
    snapshot = table.read()
    table.truncate()
    table.insert(snapshot)
    # r10 tsx leg seed: one Oslo row a day later — its commit's leaf is
    # the only one whose tag stats contain Oslo
    table.insert(
        spark.createDataFrame(
            [(OSLO_TS, "Oslo", 7.0)],
            "timestamp long, tag string, value double",
        )
    )
    # r9: retention expiry joins the roundtrip — a MID-DAY cutoff, so
    # the boundary-day partition rewrite runs (not just manifest edits);
    # the oracle drops the same rows closed-form. Pytest keeps the
    # whole-day manifest-only path pinned.
    table.expire(BASE_TS + 500)
    # r10 tsx leg: tagEq read; prove manifest-level pruning on the plan
    tsx = table.read(tag_eq="Oslo").filter(F.col("tag") == "Oslo")
    touched = {
        r["f"]
        for r in tsx.select(F.input_file_name().alias("f")).distinct().collect()
    }
    allowed = {
        leaf
        for leaf, tags in table._manifest().get("tag_stats", {}).items()
        if tags is not None and "Oslo" in tags
    }
    for f in touched:
        rel = f.split("/commits/", 1)[1]
        leaf = "/".join(rel.split("/")[:2])
        if leaf not in allowed:
            raise AssertionError(
                f"tagEq read visited {leaf}, outside Oslo's indexed "
                f"leaves {sorted(allowed)} — manifest tag pruning regressed"
            )
    if not touched:
        raise AssertionError("tagEq read visited no files — Oslo row lost")
    return table.read().unionByName(tsx)


DML_ROUNDTRIP_SQL = f"""
    WITH t AS ({timeseries_fixture_sql(6_000)})
    SELECT "timestamp", tag,
           CASE WHEN tag = 'Munich' AND "timestamp" < {BASE_TS + 100}
                THEN 999.0 ELSE value END AS value
    FROM t
    WHERE NOT (tag = 'Athens' AND "timestamp" < {BASE_TS + 200})
      AND "timestamp" >= {BASE_TS + 500}
    UNION ALL
    SELECT {OSLO_TS} AS "timestamp", 'Oslo' AS tag, 7.0 AS value
    UNION ALL
    SELECT {OSLO_TS} AS "timestamp", 'Oslo' AS tag, 7.0 AS value
"""


def register_fixture(q: dict, o: dict) -> None:
    """Folded per the 50-entry gate budget (registry.GATE_BUDGET): the
    boundary off-by-one shapes AND the two grouped fixture shapes union
    into the single ``fx_surface`` entry with a ``kind`` discriminator
    (r7 fold — freed a slot for ``wire_error_contract``); the plain
    count/sum/point shapes — duplicates of already-gated
    reference-surface shapes on a different generator — are covered by
    ``tests/test_registry.py``'s hypothesis sweep instead of gate
    slots."""
    # --- fx_surface: r7 fold of fx_edge_bounds + fx_grouped into ONE
    # union entry (freed a gate slot for wire_error_contract, VERDICT r6
    # item 1). Branches coerce to a shared (grp:string, tag:string,
    # result:double, kind:string) schema: edge rows carry the raw
    # timestamp stringified in `grp` and the real tag; grouped rows
    # carry the group key in `grp` and '' in `tag`. int64→string renders
    # identically in Spark and DuckDB. Kinds stay disjoint across the
    # five branches, so the driver's value hash covers each shape. ---

    # range-boundary off-by-ones on dense keys: gt/le vs ge/lt, plus a
    # tsEq point probe
    edge_qms = {
        "gt_le": QueryModel(gt=EDGE_LO, le=EDGE_LO + 10),
        "ge_lt": QueryModel(ge=EDGE_LO, lt=EDGE_LO + 10),
        "ts_eq": QueryModel(ts_eq=BASE_TS + 12_345),
    }
    # the two grouped fixture shapes: skewed group-by-tag (Munich = half
    # the table, partial-agg reliant) and dense group-by-timestamp +
    # desc top-k
    avg_qm = QueryModel(agg_func=Agg.AVG, group_by=GroupBy.TAG)
    topk_qm = QueryModel(
        agg_func=Agg.MAX, group_by=GroupBy.TIMESTAMP,
        ge=EDGE_LO, lt=EDGE_HI, sort=Sort.DESC, limit=100,
    )

    def fx_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for name, qm in edge_qms.items():
            branch = compile_query(timeseries_fixture(spark), qm).select(
                F.col("timestamp").cast("string").alias("grp"),
                "tag",
                F.col("value").alias("result"),
                F.lit(name).alias("kind"),
            )
            out = branch if out is None else out.unionByName(branch)
        for name, qm in (("avg_by_tag", avg_qm), ("ts_desc_limit", topk_qm)):
            branch = _fx_query(qm)(spark, sf_dir).select(
                F.col("grp").cast("string").alias("grp"),
                F.lit("").alias("tag"),
                "result",
                F.lit(name).alias("kind"),
            )
            out = out.unionByName(branch)
        return out

    q["fx_surface"] = fx_surface
    o["fx_surface"] = (
        f"WITH t AS ({timeseries_fixture_sql()}) "
        + " UNION ALL ".join(
            f'SELECT CAST("timestamp" AS VARCHAR) AS grp, tag, '
            f"value AS result, '{name}' AS kind FROM t {where}"
            for name, where in (
                (
                    "gt_le",
                    f'WHERE "timestamp" > {EDGE_LO} '
                    f'AND "timestamp" <= {EDGE_LO + 10}',
                ),
                (
                    "ge_lt",
                    f'WHERE "timestamp" >= {EDGE_LO} '
                    f'AND "timestamp" < {EDGE_LO + 10}',
                ),
                ("ts_eq", f'WHERE "timestamp" = {BASE_TS + 12_345}'),
            )
        )
        + " UNION ALL "
        "SELECT tag AS grp, '' AS tag, round(avg(value), 4) AS result, "
        "'avg_by_tag' AS kind FROM t GROUP BY tag "
        "UNION ALL "
        "SELECT * FROM ("
        'SELECT CAST("timestamp" AS VARCHAR) AS grp, \'\' AS tag, '
        "max(value) AS result, 'ts_desc_limit' AS kind FROM t "
        f'WHERE "timestamp" >= {EDGE_LO} AND "timestamp" < {EDGE_HI} '
        'GROUP BY "timestamp" ORDER BY "timestamp" DESC LIMIT 100)'
    )

    # --- keyed DML roundtrip (W1+W2+W3 under the oracle gate) ---
    q["dml_roundtrip"] = dml_roundtrip
    o["dml_roundtrip"] = DML_ROUNDTRIP_SQL

    # --- per-tag running totals: the skew-safe two-pass plan, checked
    # against the plain window-function oracle (operators/analytics.py);
    # 1-second buckets over dense-ms data → ~20 inner partitions/tag ---
    q["running_totals_by_tag"] = lambda spark, sf_dir: running_totals_scalable(
        timeseries_fixture(spark, 20_000), bucket_ms=1_000
    )
    o["running_totals_by_tag"] = running_totals_sql(timeseries_fixture_sql(20_000))
