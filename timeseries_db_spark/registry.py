"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 (and the §7 extension operators) registered as a
``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB oracle-SQL twin.

Conventions keeping the driver's order-insensitive value-hash stable:

* every computed column is aliased identically on both sides;
* float-accumulating aggregates (sum/avg) are rounded to 4 decimals on
  BOTH sides — double addition is non-associative, so Spark's
  partition-order partial sums and DuckDB's sequential sum differ in the
  last ulp; rounding removes that noise without hiding real errors;
* timestamps surface as Int64 epoch milliseconds everywhere (engine
  timestamp rendering / timezone never enters the comparison);
* any query with ``limit`` orders by a total order (timestamp, tag) so
  both engines pick the same top-k rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseries_db_spark.plans.compiler import compile_query
from timeseries_db_spark.schema import Agg, GroupBy, QueryModel, Sort
from timeseries_db_spark.sources.tables import events_as_tsdb, lineitem_as_tsdb

QueryFn = Callable[[SparkSession, str], DataFrame]

# DuckDB flavor of the tsdb-shaped views (see sources/tables.py for the
# Spark side of the same mapping).
EVENTS_T = 'SELECT epoch_ms(ts) AS "timestamp", event_type AS tag, value FROM events'
LINEITEM_T = (
    'SELECT epoch_ms(l_shipdate) AS "timestamp", l_returnflag AS tag, '
    "l_extendedprice AS value FROM lineitem"
)

# fixed mid-January bounds — strict subset of `events` at every sf
LO = 1704500000000  # ~2024-01-06
HI = 1706000000000  # ~2024-01-23
# lineitem shipdate bounds (1995-2001 domain)
LI_LO = 820454400000  # 1996-01-01
LI_HI = 946684800000  # 2000-01-01

_AGG_SQL = {
    Agg.COUNT: "CAST(count(*) AS DOUBLE)",
    Agg.SUM: "round(sum(value), 4)",
    Agg.AVG: "round(avg(value), 4)",
    Agg.MIN: "min(value)",
    Agg.MAX: "max(value)",
}


def _round_result(df: DataFrame) -> DataFrame:
    # duck_round, not F.round: Spark rounds the shortest decimal string,
    # DuckDB the binary value — they disagree at exact ties
    # (functions/numeric.py). The remaining (rare, inherent) hazard is
    # partition-order ulp wobble inside the double sum itself.
    from timeseries_db_spark.functions.numeric import duck_round

    return df.withColumn("result", duck_round(F.col("result"), 4))


def _range_where(qm: QueryModel) -> str:
    preds = []
    if qm.ts_eq is not None:
        preds.append(f'"timestamp" = {qm.ts_eq}')
    if qm.gt is not None:
        preds.append(f'"timestamp" > {qm.gt}')
    if qm.ge is not None:
        preds.append(f'"timestamp" >= {qm.ge}')
    if qm.lt is not None:
        preds.append(f'"timestamp" < {qm.lt}')
    if qm.le is not None:
        preds.append(f'"timestamp" <= {qm.le}')
    if qm.tag_eq is not None:
        preds.append(f"tag = '{qm.tag_eq}'")
    return ("WHERE " + " AND ".join(preds)) if preds else ""


def _register_reference_surface(q: dict[str, QueryFn], o: dict[str, str]) -> None:
    """SURVEY.md §2.1-2.3: the complete reference read surface.

    Folded shapes: the driver checks at most ~50 registry entries per
    round (CORRECTNESS_r01 stopped at exactly the first 50), so families
    that differ only in a parameter — the 9 range-bound combos, the 5
    scalar aggs, the 5 grouped aggs, … — register as ONE union query
    with a literal discriminator column. The agg/sort/point families run
    every branch through ``compile_query`` with its own QueryModel; the
    9-combo range family instead evaluates all nine predicates in one
    scan (a branch-per-scan union re-reads the full table nine times —
    see ``range_scan_9combos``), with the predicate semantics still
    value-hashed per combo and per-branch scan pushdown covered by the
    other families + tests/test_plans.py. Either way the driver's value
    hash covers every branch's rows, so per-combo coverage is preserved
    at a fraction of the gate slots."""
    rows = '"timestamp", tag, value'

    # --- R2: all 9 range-bound combinations (Queries/Utils.hs:21-30),
    # one union query with a `combo` discriminator ---
    range_qms = {
        "all": QueryModel(),
        "gt": QueryModel(gt=LO),
        "ge": QueryModel(ge=LO),
        "lt": QueryModel(lt=HI),
        "le": QueryModel(le=HI),
        "gt_lt": QueryModel(gt=LO, lt=HI),
        "gt_le": QueryModel(gt=LO, le=HI),
        "ge_lt": QueryModel(ge=LO, lt=HI),
        "ge_le": QueryModel(ge=LO, le=HI),
    }

    def range_scan_9combos(spark: SparkSession, sf_dir: str) -> DataFrame:
        # ONE scan, not nine: the "all" combo is unbounded, so a
        # 9-branch union re-reads the identical full table nine times
        # (Catalyst does not dedupe scans across union branches). At
        # 100 TB the scan IS the cost, so evaluate every combo's range
        # predicate per row in a single pass and explode the membership
        # array — map-only, no shuffle, 1/9th the I/O. Per-combo scan
        # pushdown (sources.push_ts_bounds) stays covered by
        # point_lookups / fx_surface and tests/test_plans.py.
        t = compile_query(events_as_tsdb(spark, sf_dir), QueryModel())

        def pred(qm: QueryModel):
            c = F.lit(True)
            ts = F.col("timestamp")
            if qm.gt is not None:
                c = c & (ts > qm.gt)
            if qm.ge is not None:
                c = c & (ts >= qm.ge)
            if qm.lt is not None:
                c = c & (ts < qm.lt)
            if qm.le is not None:
                c = c & (ts <= qm.le)
            return c

        membership = F.array(
            *[F.when(pred(qm), F.lit(name)) for name, qm in range_qms.items()]
        )
        return t.select(
            "timestamp",
            "tag",
            "value",
            F.explode(F.filter(membership, lambda x: x.isNotNull())).alias("combo"),
        )

    q["range_scan_9combos"] = range_scan_9combos
    o["range_scan_9combos"] = (
        f"WITH t AS ({EVENTS_T}) "
        + "\nUNION ALL\n".join(
            f"SELECT {rows}, '{name}' AS combo FROM t {_range_where(qm)}"
            for name, qm in range_qms.items()
        )
    )

    # --- R3/R4/R5: the three point-lookup shapes (tsEq / tagEq /
    # tag+tsEq composite), one union entry with a `kind` discriminator;
    # literals derived from the data so the same registered query works
    # at every sf. Each branch still builds its own QueryModel and
    # rebuilds the source WITH the qm so the point probe reaches the
    # scan as a PushedFilter. ---
    def point_lookups(spark: SparkSession, sf_dir: str) -> DataFrame:
        # r17: the probe literals came from a full TakeOrdered over the
        # table per invocation; min-ts now reads footer statistics and
        # the tag probe is a pushed-down point lookup (ts_eq reaches the
        # scan, so only the min row group is read). Same literals:
        # orderBy(ts, tag).first() == (min ts, min tag at that ts).
        from timeseries_db_spark.sources.tables import events_min_ts_millis

        ts0 = events_min_ts_millis(spark, sf_dir)
        probe_qm = QueryModel(ts_eq=ts0)
        tag0 = (
            compile_query(events_as_tsdb(spark, sf_dir, probe_qm), probe_qm)
            .agg(F.min("tag"))
            .first()[0]
        )
        branch_qms = {
            "ts_eq": QueryModel(ts_eq=ts0),
            "tag_eq": QueryModel(tag_eq="click"),
            "tag_ts_eq": QueryModel(ts_eq=ts0, tag_eq=tag0),
        }
        out = None
        for kind, qm in branch_qms.items():
            branch = compile_query(events_as_tsdb(spark, sf_dir, qm), qm).withColumn(
                "kind", F.lit(kind)
            )
            out = branch if out is None else out.unionByName(branch)
        return out

    q["point_lookups"] = point_lookups
    o["point_lookups"] = (
        f"WITH t AS ({EVENTS_T}), "
        't0 AS (SELECT min("timestamp") AS ts FROM t), '
        "g0 AS (SELECT min(tag) AS tag FROM t "
        'WHERE "timestamp" = (SELECT ts FROM t0)) '
        f"SELECT {rows}, 'ts_eq' AS kind FROM t "
        'WHERE "timestamp" = (SELECT ts FROM t0) '
        "UNION ALL "
        f"SELECT {rows}, 'tag_eq' AS kind FROM t WHERE tag = 'click' "
        "UNION ALL "
        f"SELECT {rows}, 'tag_ts_eq' AS kind FROM t "
        'WHERE "timestamp" = (SELECT ts FROM t0) '
        "AND tag = (SELECT tag FROM g0)"
    )

    # --- A1-A5 / A6 / A7 multi-agg families. r6 shipped these as one
    # compile_query scan PER aggregate leg (5-6 re-reads of the same
    # table — the shape range_scan_9combos was rebuilt to avoid); r7
    # computes every leg's aggregate in ONE scan (one `agg` with all the
    # exprs, partial+final hash agg) and unpivots via `stack` to the
    # same (grp, result, func) rows. At 100 TB the scan is the cost —
    # this is the form you'd ship. Oracles are unchanged; per-QueryModel
    # compile_query coverage of the agg paths stays gated via agg_by_ts'
    # max leg, fx_surface, li_by_tag's legs and the flagship query. ---
    def _multi_agg_cols(aggs=tuple(Agg)) -> list:
        from timeseries_db_spark.functions.numeric import duck_round

        exprs = {
            Agg.COUNT: F.count(F.lit(1)).cast("double"),
            Agg.SUM: duck_round(F.sum("value"), 4),
            Agg.AVG: duck_round(F.avg("value"), 4),
            Agg.MIN: F.min("value"),
            Agg.MAX: F.max("value"),
        }
        return [exprs[a].alias(a.value) for a in aggs]

    def _stack(aggs) -> str:
        pairs = ", ".join(f"'{a.value}', `{a.value}`" for a in aggs)
        return f"stack({len(aggs)}, {pairs}) AS (func, result)"

    def agg_scalar_all(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = events_as_tsdb(spark, sf_dir)
        return t.agg(*_multi_agg_cols()).select(
            F.expr(_stack(tuple(Agg)))
        ).select("result", "func")

    q["agg_scalar_all"] = agg_scalar_all
    o["agg_scalar_all"] = (
        f"WITH t AS ({EVENTS_T}) "
        + "\nUNION ALL\n".join(
            f"SELECT {_AGG_SQL[a]} AS result, '{a.value}' AS func FROM t"
            for a in Agg
        )
    )

    # --- A6: all five aggs grouped by tag under one range filter (ONE
    # filtered scan + ONE grouped agg, unpivoted); plus the A8 shape
    # (groupBy=tag + tsEq point filter) as a sixth union leg — its ts_eq
    # key is resolved at run time (min timestamp) and it runs through
    # compile_query so the grouped-agg compile path stays gate-covered ---
    from timeseries_db_spark.plans.compiler import filter_expr

    bytag_qm = QueryModel(gt=LO, le=HI)

    def agg_by_tag_all(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = events_as_tsdb(spark, sf_dir, bytag_qm).filter(filter_expr(bytag_qm))
        base = (
            t.groupBy(F.col("tag").alias("grp"))
            .agg(*_multi_agg_cols())
            .select("grp", F.expr(_stack(tuple(Agg))))
            .select("grp", "result", "func")
        )
        # r17: footer-statistics probe (sources.events_min_ts_millis) —
        # the previous per-invocation full min scan is now metadata-only
        from timeseries_db_spark.sources.tables import events_min_ts_millis

        ts0 = events_min_ts_millis(spark, sf_dir)
        qm = QueryModel(ts_eq=int(ts0), agg_func=Agg.MAX, group_by=GroupBy.TAG)
        leg = compile_query(events_as_tsdb(spark, sf_dir, qm), qm).withColumn(
            "func", F.lit("max_ts_eq")
        )
        return base.unionByName(leg)

    q["agg_by_tag_all"] = agg_by_tag_all
    o["agg_by_tag_all"] = (
        f"WITH t AS ({EVENTS_T}) "
        + "\nUNION ALL\n".join(
            f"SELECT tag AS grp, {_AGG_SQL[a]} AS result, '{a.value}' AS func "
            f"FROM t {_range_where(bytag_qm)} GROUP BY tag"
            for a in Agg
        )
        + "\nUNION ALL\n"
        + "SELECT tag AS grp, max(value) AS result, 'max_ts_eq' AS func "
        'FROM t WHERE "timestamp" = (SELECT min("timestamp") FROM t) '
        "GROUP BY tag"
    )

    # --- A7: group by timestamp (sorted group keys, O1) — sum+count
    # share one filtered scan + one grouped agg; the grouped desc-sort +
    # group-limit shape (O1/O2 on groups) stays a compile_query leg ---
    byts_qm = QueryModel(ge=LO, lt=HI)
    byts_topk_qm = QueryModel(
        agg_func=Agg.MAX, group_by=GroupBy.TIMESTAMP, sort=Sort.DESC, limit=50
    )

    def agg_by_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = events_as_tsdb(spark, sf_dir, byts_qm).filter(filter_expr(byts_qm))
        pair = (Agg.SUM, Agg.COUNT)
        base = (
            t.groupBy(F.col("timestamp").alias("grp"))
            .agg(*_multi_agg_cols(pair))
            .select("grp", F.expr(_stack(pair)))
            .select("grp", "result", "func")
        )
        leg = compile_query(
            events_as_tsdb(spark, sf_dir, byts_topk_qm), byts_topk_qm
        ).withColumn("func", F.lit("max_desc_limit"))
        return base.unionByName(leg)

    q["agg_by_ts"] = agg_by_ts
    o["agg_by_ts"] = (
        f"WITH t AS ({EVENTS_T}) "
        + "\nUNION ALL\n".join(
            f'SELECT "timestamp" AS grp, {_AGG_SQL[a]} AS result, '
            f"'{a.value}' AS func FROM t {_range_where(byts_qm)} "
            'GROUP BY "timestamp"'
            for a in (Agg.SUM, Agg.COUNT)
        )
        + "\nUNION ALL\n"
        + 'SELECT * FROM (SELECT "timestamp" AS grp, max(value) AS result, '
        "'max_desc_limit' AS func FROM t "
        'GROUP BY "timestamp" ORDER BY grp DESC LIMIT 50)'
    )

    # --- O1/O2/O3: sort asc + desc with limit (lazy top-k), one union
    # entry; each direction runs through compile_query with its own
    # QueryModel so both TakeOrderedAndProject orientations stay covered ---
    sort_qms = {
        "asc": QueryModel(sort=Sort.ASC, limit=100),
        "desc": QueryModel(sort=Sort.DESC, limit=100),
    }

    def collect_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for name, qm in sort_qms.items():
            branch = compile_query(events_as_tsdb(spark, sf_dir, qm), qm).withColumn(
                "dir", F.lit(name)
            )
            out = branch if out is None else out.unionByName(branch)
        return out

    q["collect_sort_limit"] = collect_sort_limit
    o["collect_sort_limit"] = (
        f"WITH t AS ({EVENTS_T}) "
        f"SELECT * FROM (SELECT {rows}, 'asc' AS dir FROM t "
        'ORDER BY "timestamp" ASC, tag ASC, value ASC LIMIT 100) '
        "UNION ALL "
        f"SELECT * FROM (SELECT {rows}, 'desc' AS dir FROM t "
        'ORDER BY "timestamp" DESC, tag DESC, value DESC LIMIT 100)'
    )
    # --- same surface exercised on the 10×-bigger lineitem tsdb view
    # (avg under a range + unbounded sum, one union entry). The two legs
    # carry DIFFERENT filters, but the sum leg needs the full table
    # anyway, so r7 computes both in ONE unbounded scan: the avg becomes
    # a conditional aggregate (avg ignores the NULLs the CASE injects
    # outside the range — exactly the filtered avg). A tag whose rows
    # all fall outside the range would surface as a NULL avg row that
    # the oracle's GROUP BY omits, so those rows are filtered out. ---
    li_qms = {
        "avg": QueryModel(agg_func=Agg.AVG, group_by=GroupBy.TAG, ge=LI_LO, lt=LI_HI),
        "sum": QueryModel(agg_func=Agg.SUM, group_by=GroupBy.TAG),
    }

    def li_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
        from timeseries_db_spark.functions.numeric import duck_round

        t = lineitem_as_tsdb(spark, sf_dir)
        in_range = (F.col("timestamp") >= LI_LO) & (F.col("timestamp") < LI_HI)
        pair = (Agg.AVG, Agg.SUM)
        return (
            t.groupBy(F.col("tag").alias("grp"))
            .agg(
                duck_round(F.avg(F.when(in_range, F.col("value"))), 4).alias("avg"),
                duck_round(F.sum("value"), 4).alias("sum"),
            )
            .select("grp", F.expr(_stack(pair)))
            .select("grp", "result", "func")
            .filter((F.col("func") != "avg") | F.col("result").isNotNull())
        )

    q["li_by_tag"] = li_by_tag
    o["li_by_tag"] = (
        f"WITH t AS ({LINEITEM_T}) "
        + "\nUNION ALL\n".join(
            f"SELECT tag AS grp, {_AGG_SQL[Agg(fname)]} AS result, "
            f"'{fname}' AS func FROM t {_range_where(qm)} GROUP BY tag"
            for fname, qm in li_qms.items()
        )
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry(): the SURVEY.md §7.2 minimum slice — range filter + group-by
    tag + avg + sort + limit over the events tsdb view."""
    qm = QueryModel(
        agg_func=Agg.AVG, group_by=GroupBy.TAG, gt=LO, le=HI,
        sort=Sort.ASC, limit=10,
    )
    return _round_result(compile_query(events_as_tsdb(spark, sf_dir, qm), qm))


#: The driver verifies registry entries in REGISTRATION ORDER and
#: CORRECTNESS_r01 recorded exactly the first 50 — so (a) the total is
#: held at 50 via the union-folded families, and (b) the block that got
#: no driver row in round 1 (write path, LSH dedup, similarity/ANN,
#: multimodal, fixture boundaries, running totals, streaming twins)
#: registers FIRST. The asserts keep both properties from silently
#: regressing as entries are added.
GATE_BUDGET = 50

_PRIORITY = [
    # round-1 ungated block (VERDICT.md "Next round" item 1)
    "dml_roundtrip",
    "running_totals_by_tag",
    "dedup_minhash_lsh",
    # r7 fold of dedup_simhash_sig + dedup_simhash_pairs (kind-discriminated
    # union) — freed the slot text_lm_score now occupies
    "dedup_simhash",
    # folded entry: exact + stop-shingle-capped variants (the capped
    # variant is the one that had no r1 row)
    "dedup_ngram_jaccard",
    # r6 addition: LSH pairs → components → canonical survivor
    "dedup_clusters",
    "sim_cosine_topk",
    # late-r7 fold: exact near-dup pairs + SemDeDup semantic dedup legs
    "sim_embedding_dedup",
    "ann_topk_srp",
    "ann_topk_ivf",
    "multimodal_image_features",
    # r7: frame plan folded into multimodal_resize_plan (whose resize leg
    # now runs the REAL PNG pixel decode); freed slot → stream_ingest_dedup
    "multimodal_resize_plan",
    "multimodal_audio_chunks",
    # r7 fold of fx_edge_bounds + fx_grouped (themselves folds of r1's
    # fx_* family) — freed the slot wire_error_contract now occupies
    "fx_surface",
    # SURVEY §2.5 error contract + O5 QueryR wire union (VERDICT r6 #1)
    "wire_error_contract",
    # streaming operators newly under the gate (r6 VERDICT item 4)
    "stream_running_totals",
    "stream_sessions",
    # r7: the streaming INGEST path (watermark dedup + anti-join MERGE
    # into TsTable) — occupies the slot freed by the frame-plan fold
    "stream_ingest_dedup",
]


def build_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    _register_reference_surface(queries, oracles)
    # a broken extension import must FAIL the build, not silently shrink
    # the gate/bench surface to the reference queries only
    from timeseries_db_spark.registry_ext import register_extensions

    register_extensions(queries, oracles)
    from timeseries_db_spark.registry_fixture import register_fixture

    register_fixture(queries, oracles)
    from timeseries_db_spark.registry_stream import register_streaming

    register_streaming(queries, oracles)
    from timeseries_db_spark.registry_wire import register_wire

    register_wire(queries, oracles)

    # RuntimeError, not assert: these invariants must hold under -O too
    missing = [n for n in _PRIORITY if n not in queries]
    if missing:
        raise RuntimeError(f"priority entries not registered: {missing}")
    if len(queries) > GATE_BUDGET:
        raise RuntimeError(
            f"registry has {len(queries)} entries — fold or drop shapes to "
            f"fit the {GATE_BUDGET}-entry driver gate budget"
        )
    ordered = {n: queries[n] for n in _PRIORITY}
    ordered.update((n, f) for n, f in queries.items() if n not in ordered)
    ordered_oracles = {n: oracles[n] for n in ordered if n in oracles}
    return ordered, ordered_oracles
