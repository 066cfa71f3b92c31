"""QueryModel → one parameterized Spark SQL statement.

The reference compiles its ten-field query record straight to a single
monoid fold over one of two in-memory indexes (``Queries.hs:171-180``,
``Queries/Utils.hs:90-96``), with no planning step. Here the same record
compiles to ONE ``spark.sql`` statement over the snapshot relation, and
Catalyst supplies, for free, everything the reference hand-rolled
(SURVEY.md §4):

* timestamp-index PATRICIA-trie range pruning (``DataS/IntMap.hs:36-62``)
  → parquet predicate pushdown + row-group min/max skipping (the
  manifest has already pruned date partitions, ``TsTable.read``);
* access-path selection (``Queries.hs:171-180``) → Catalyst scan
  planning — no custom rule;
* column pruning (value column in its own unboxed vector, ``Model.hs:94``)
  → parquet column projection;
* monoid partial aggregation (``Aggregates.hs:10-27``) →
  ``HashAggregateExec`` partial/final — the distributed generalization of
  the reference's ``Average {count,sum}`` monoid;
* lazy top-k (``Queries/TS.hs:21-24``) → ``TakeOrderedAndProject``.

Why one statement: a read hit is one Spark job, so the cost of building
its plan is a large share of its latency. Building the plan column by
column costs a py4j round trip per column, literal and operator, and
every intermediate Dataset is analysed eagerly: a point ``query_json``
made 184 round trips that way, and makes about 20 with one statement,
which is parsed and analysed once. Every bound, ``tagEq`` and limit is
bound through ``args`` as a named parameter, never spliced into the
text, so no tag can change the statement; the text depends only on
which fields are set.

Result shapes (``QueryR`` union, reference ``Model.hs:63-74``):

* rows    — ``(timestamp, tag, value)``  (no aggFunc)
* groups  — ``(grp, result)``            (aggFunc + groupBy)
* scalar  — ``(result,)``                (aggFunc alone)

``count`` is cast to double to match the reference's ``AggR.result :: Val``
(``Model.hs:66-67``, ``fromIntegral`` at ``Queries.hs:166``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseries_db_spark.schema import Agg, GroupBy, QueryError, QueryModel, Sort

#: Group-key output column. The reference calls it ``group`` (Model.hs:70);
#: we use ``grp`` to stay clear of the SQL keyword in oracle queries.
GROUP_COL = "grp"
RESULT_COL = "result"

#: Spark's LIMIT is an Int; the wire's is an Int64, and the reference's
#: ``take n`` with n past the data returns everything, so larger limits
#: clamp here
MAX_LIMIT = 2**31 - 1

_AGG_SQL = {
    # count is a Double in the reference (Model.hs:66, Queries.hs:166)
    Agg.COUNT: "CAST(count(1) AS DOUBLE)",
    Agg.SUM: "sum(value)",
    Agg.AVG: "avg(value)",
    Agg.MIN: "min(value)",
    Agg.MAX: "max(value)",
}

#: range bounds as (QueryModel field, SQL operator); the field name is
#: also the parameter name
_BOUNDS = (("gt", ">"), ("ge", ">="), ("lt", "<"), ("le", "<="))


def filter_expr(qm: QueryModel) -> Column | None:
    """Range/point predicate — the nine bound combinations compiled by the
    reference's ``qmToF`` (``Queries/Utils.hs:21-30``) plus tag equality —
    as a DataFrame Column, for callers that filter a DataFrame themselves.
    :func:`compile_query` states the same predicate in SQL."""
    preds: list[Column] = []
    ts = F.col("timestamp")
    if qm.ts_eq is not None:
        preds.append(ts == F.lit(qm.ts_eq))
    else:
        if qm.gt is not None:
            preds.append(ts > F.lit(qm.gt))
        if qm.ge is not None:
            preds.append(ts >= F.lit(qm.ge))
        if qm.lt is not None:
            preds.append(ts < F.lit(qm.lt))
        if qm.le is not None:
            preds.append(ts <= F.lit(qm.le))
    if qm.tag_eq is not None:
        preds.append(F.col("tag") == F.lit(qm.tag_eq))
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def compile_query(df: DataFrame, qm: QueryModel) -> DataFrame:
    """Compile ``qm`` against a tsdb-shaped DataFrame
    ``(timestamp:long, tag:string, value:double)`` as one SQL statement.

    Purely declarative — no action is triggered; callers that need the
    reference's data-dependent errors (``"No data for tag …"``,
    ``"Average failed."``) use :func:`run_query` which layers those checks.
    """
    args: dict[str, int | str] = {}
    where: list[str] = []
    if qm.ts_eq is not None:
        args["ts_eq"] = qm.ts_eq
        where.append("`timestamp` = :ts_eq")
    else:
        for name, op in _BOUNDS:
            if (bound := getattr(qm, name)) is not None:
                args[name] = bound
                where.append(f"`timestamp` {op} :{name}")
    if qm.tag_eq is not None:
        args["tag_eq"] = qm.tag_eq
        where.append("tag = :tag_eq")
    direction = "ASC" if qm.sort is Sort.ASC else "DESC"
    # a sort in one partition plans no range exchange (a sampling job and
    # a map stage); with a limit, TakeOrderedAndProject already needs none
    one_partition = "/*+ COALESCE(1) */ "
    group = order = ""

    if qm.agg_func is None:
        # CollectR: raw rows, ordered by timestamp (reference O1). The
        # (timestamp, tag, value) total order: (timestamp, tag) alone is a
        # key only under the tsdb uniqueness invariant — raw views built on
        # ms-truncated sources can carry ties, and a limit cutting through
        # a tie group must pick the same rows as the oracle. Only a point
        # query sorts in one partition: one timestamp holds at most one
        # row per tag.
        hint = one_partition if qm.ts_eq is not None and qm.limit is None else ""
        select = f"{hint}`timestamp`, tag, value"
        order = ", ".join(
            f"{col} {direction}" for col in ("`timestamp`", "tag", "value")
        )
    elif qm.group_by is None:
        # AggR: single scalar. Catalyst prunes the scan to the value column
        # (+ pushed filter columns) — the reference's unboxed-vector fast
        # path (queryVec, Queries.hs:160-169) falls out of column pruning.
        select = f"{_AGG_SQL[qm.agg_func]} AS {RESULT_COL}"
    else:
        # [GroupAggR]: (grp, result) per group. Hash aggregate,
        # partial+final; empty groups never materialize (the reference's
        # per-tag sub-index folds, Queries/Tag.hs:35-53). Without a limit
        # every group is sorted in one partition: only the final aggregate
        # runs as one task, and it never holds more than the driver
        # collects. The reference leaves tag-keyed groups in hash order;
        # we always order by group key for determinism (SURVEY.md §7.3).
        key = "tag" if qm.group_by is GroupBy.TAG else "`timestamp`"
        hint = one_partition if qm.limit is None else ""
        select = (
            f"{hint}{key} AS {GROUP_COL}, "
            f"{_AGG_SQL[qm.agg_func]} AS {RESULT_COL}"
        )
        group = f" GROUP BY {key}"
        order = f"{GROUP_COL} {direction}"

    text = f"SELECT {select} FROM {{snap}}"
    if where:
        text += " WHERE " + " AND ".join(where)
    text += group
    if order:
        text += f" ORDER BY {order}"
        if qm.limit is not None:
            # sort+limit → TakeOrderedAndProject (distributed top-k, no
            # global sort) — the scalable analog of the reference's
            # lazy-fold short-circuit (Queries/TS.hs:21-24); take(-1) = []
            args["limit"] = min(max(0, qm.limit), MAX_LIMIT)
            text += " LIMIT :limit"
    return df.sparkSession.sql(text, args=args, snap=df)


def needs_presence_probe(qm: QueryModel) -> bool:
    """True when the reference's dispatch would consult an index lookup
    that can throw a presence error.

    Reference routing (``Utils.hs:93-96`` ``qmToQT`` →
    ``Tag.hs:58-67`` / ``TS.hs:57-65``):

    * ``tagEq`` set → TagQuery → ``sIx[tag]`` lookup throws on a miss,
      for grouped and non-grouped queries alike;
    * ``tagEq`` absent but ``groupBy=tag`` → TagQuery's ``groupTag``,
      which never throws (a ``tsEq`` there is a ``mapMaybe`` filter —
      ``Tag.hs:49-53``);
    * otherwise (TSQuery) → ``tsEq`` set probes ``tIx[ts]``.
    """
    if qm.tag_eq is not None:
        return True
    return qm.ts_eq is not None and qm.group_by is not GroupBy.TAG


def _is_scalar_avg(qm: QueryModel) -> bool:
    return qm.agg_func is Agg.AVG and qm.group_by is None


def _answer_is_empty(qm: QueryModel, rows: list) -> bool:
    """Whether the collected answer of ``compile_query(df, qm)`` (all of
    it, or just its first row) shows an empty selection: no rows or
    groups, a scalar ``count`` of 0, or a NULL from any other scalar
    aggregate. A tsdb table's values are never NULL, so a NULL ``sum``/
    ``avg``/``min``/``max`` can only come from an empty selection."""
    if qm.agg_func is None or qm.group_by is not None:
        return not rows
    result = rows[0][RESULT_COL] if rows else None
    return result is None or (qm.agg_func is Agg.COUNT and result == 0)


def run_query(
    df: DataFrame,
    qm: QueryModel,
    *,
    strict: bool = True,
    exists: Callable[..., bool] | None = None,
    answer: list | None = None,
) -> DataFrame | None:
    """Compile and, when ``strict``, enforce the reference's data-dependent
    error contract (SURVEY.md §2.5) before returning the plan (``None``
    when ``answer`` is given — no plan is built then):

    * ``tsEq``/``tagEq`` miss → ``"No data for timestamp/tag …"``
      (``Queries/TS.hs:64``, ``Queries/Tag.hs:64,67``);
    * ``avg`` over an empty selection → ``"Average failed."``
      (``Queries/Utils.hs:66-69``).

    A non-empty answer already proves every presence the query names
    (its rows passed the ``tagEq``/``tsEq`` filter), so the checks run
    only on an empty answer (:func:`_answer_is_empty`). ``answer`` is the
    caller's collected result of ``compile_query(df, qm)``, so only the
    checks run; without it, the plan is compiled here and its first row
    fetched — one job, and only for queries that have a check to make.
    ``exists(tag=…, ts=…) -> bool`` is the presence probe; it must see
    the table the index lookups would see, not the range-pruned ``df``.
    It defaults to a scan of ``df``, which is right when ``df`` is the
    whole table. On a hit no probe runs; an empty scalar ``avg`` raises
    without one.
    """
    out = compile_query(df, qm) if answer is None else None
    if not strict or not (needs_presence_probe(qm) or _is_scalar_avg(qm)):
        return out
    if answer is None:
        answer = out.limit(1).collect()
    if not _answer_is_empty(qm, answer):
        return out
    if exists is None:

        def exists(tag=None, ts=None) -> bool:
            pred = F.lit(True)
            if tag is not None:
                pred = pred & (F.col("tag") == F.lit(tag))
            if ts is not None:
                pred = pred & (F.col("timestamp") == F.lit(ts))
            return not df.filter(pred).isEmpty()

    from timeseries_db_spark import wire

    # Presence errors are INDEX-MEMBERSHIP probes following the
    # reference's dispatch (see needs_presence_probe — tagEq probes
    # fire for GROUPED queries too, Tag.hs:61-67), in its order:
    # * tagEq probes sIx[tag] ignoring time bounds (Tag.hs:61-64);
    # * tagEq+tsEq then probes sIx[tag][ts] → the *timestamp* error
    #   (Tag.hs:65-67);
    # * tsEq without tagEq probes tIx[ts] only on the TS path, i.e.
    #   not when groupBy=tag (groupTag filters misses silently).
    if qm.tag_eq is not None:
        if not exists(tag=qm.tag_eq):
            raise QueryError(wire.no_data_tag(qm.tag_eq))
        if qm.ts_eq is not None and not exists(tag=qm.tag_eq, ts=qm.ts_eq):
            raise QueryError(wire.no_data_ts(qm.ts_eq))
    elif needs_presence_probe(qm):  # tag_eq is None here → the ts path
        if not exists(ts=qm.ts_eq):
            raise QueryError(wire.no_data_ts(qm.ts_eq))
    # avg over an empty selection → the monoid fold has no identity →
    # "Average failed." (Utils.hs:66-69). Grouped avg never errors:
    # empty groups simply don't materialize (`fromMaybe 0 . getAverage`
    # on the toQRG path, Queries.hs:150).
    if _is_scalar_avg(qm):
        raise QueryError(wire.avg_failed())
    return out
