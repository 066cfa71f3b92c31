"""Property-based oracle check: random QueryModels over the generated
fixture must match a mechanically-derived DuckDB query. This sweeps the
10-field parameter space (bound combinations × aggs × grouping × sort ×
limit) far beyond the hand-picked registry entries."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from timeseries_db_spark.plans.compiler import compile_query, filter_expr
from timeseries_db_spark.schema import Agg, GroupBy, IllegalQueryError, QueryModel, Sort
from timeseries_db_spark.sources.fixture import (
    BASE_TS,
    timeseries_fixture,
    timeseries_fixture_sql,
)

N = 5_000
TS_LO, TS_HI = BASE_TS - 10, BASE_TS + N + 10  # straddle the data edges

_AGG_SQL = {
    Agg.COUNT: "CAST(count(*) AS DOUBLE)",
    Agg.SUM: "round(sum(value), 4)",
    Agg.AVG: "round(avg(value), 4)",
    Agg.MIN: "min(value)",
    Agg.MAX: "max(value)",
}


def oracle_for(qm: QueryModel) -> str:
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
    where = ("WHERE " + " AND ".join(preds)) if preds else ""
    desc = "DESC" if qm.sort is Sort.DESC else "ASC"
    lim = f"LIMIT {max(0, qm.limit)}" if qm.limit is not None else ""

    if qm.agg_func is None:
        sel = '"timestamp", tag, value'
        order = f'ORDER BY "timestamp" {desc}, tag {desc}, value {desc}'
        return f"WITH t AS ({timeseries_fixture_sql(N)}) SELECT {sel} FROM t {where} {order} {lim}"
    if qm.group_by is None:
        return f"WITH t AS ({timeseries_fixture_sql(N)}) SELECT {_AGG_SQL[qm.agg_func]} AS result FROM t {where}"
    key = "tag" if qm.group_by is GroupBy.TAG else '"timestamp"'
    return (
        f"WITH t AS ({timeseries_fixture_sql(N)}) "
        f"SELECT {key} AS grp, {_AGG_SQL[qm.agg_func]} AS result FROM t {where} "
        f"GROUP BY {key} ORDER BY grp {desc} {lim}"
    )


maybe_bound = st.one_of(st.none(), st.integers(TS_LO, TS_HI))

qm_strategy = st.fixed_dictionaries(
    {
        "gt": maybe_bound,
        "ge": maybe_bound,
        "lt": maybe_bound,
        "le": maybe_bound,
        "ts_eq": st.one_of(st.none(), st.integers(TS_LO, TS_HI)),
        "tag_eq": st.one_of(
            st.none(), st.sampled_from(["Munich", "Skopje", "London", "Athens", "Oslo"])
        ),
        "agg_func": st.one_of(st.none(), st.sampled_from(list(Agg))),
        "group_by": st.one_of(st.none(), st.sampled_from(list(GroupBy))),
        "sort": st.sampled_from(list(Sort)),
        "limit": st.one_of(st.none(), st.integers(-2, 50)),
    }
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(fields=qm_strategy)
def test_random_query_matches_oracle(spark, fields):
    try:
        qm = QueryModel(**fields)
    except IllegalQueryError:
        return  # invalid combination — rejection is itself the contract

    got = compile_query(timeseries_fixture(spark, N), qm).toPandas()
    if qm.agg_func in (Agg.SUM, Agg.AVG) and "result" in got.columns:
        got["result"] = got["result"].round(4)
    exp = duckdb.sql(oracle_for(qm)).df()

    # raw-row queries with a limit are only deterministic in the selected
    # set thanks to the (timestamp, tag) total order, which the oracle
    # mirrors; compare order-insensitively like the driver does
    cols = sorted(got.columns)
    assert cols == sorted(exp.columns), (cols, sorted(exp.columns))
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(e), (len(g), len(e), fields)
    if len(g):
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False, rtol=1e-9)


# ---------- compile_query (SQL text) against filter_expr (Columns) ----------


def _fold(agg: Agg, values: list[float]):
    """The aggregate over ``values`` as Spark defines it: NULL over no
    rows except ``count``, which is a double."""
    if agg is Agg.COUNT:
        return float(len(values))
    if not values:
        return None
    return {
        Agg.SUM: sum,
        Agg.AVG: lambda v: sum(v) / len(v),
        Agg.MIN: min,
        Agg.MAX: max,
    }[agg](values)


def expected_from_filter_expr(df, qm: QueryModel) -> list[tuple]:
    """``qm``'s answer: the rows ``filter_expr`` selects, then sort,
    aggregate and limit done in Python."""
    pred = filter_expr(qm)
    rows = [tuple(r) for r in (df if pred is None else df.filter(pred)).collect()]
    desc = qm.sort is Sort.DESC
    limit = None if qm.limit is None else max(0, qm.limit)
    if qm.agg_func is None:
        return sorted(rows, reverse=desc)[:limit]
    if qm.group_by is None:
        return [(_fold(qm.agg_func, [v for _, _, v in rows]),)]
    key = 1 if qm.group_by is GroupBy.TAG else 0
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r[2])
    return [
        (k, _fold(qm.agg_func, groups[k]))
        for k in sorted(groups, reverse=desc)
    ][:limit]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9)
    return a == b


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    fields=qm_strategy,
    limit=st.one_of(
        st.none(), st.integers(-3, 50), st.integers(2**31 - 2, 2**63 - 1)
    ),
)
@example(fields={"tag_eq": "Munich"}, limit=0)
@example(fields={"tag_eq": "Munich", "sort": Sort.DESC}, limit=-1)
@example(fields={"agg_func": Agg.COUNT, "group_by": GroupBy.TAG}, limit=2**31)
@example(fields={"gt": BASE_TS + 4_990, "sort": Sort.DESC}, limit=2**63 - 1)
def test_compile_query_matches_filter_expr(spark, fields, limit):
    try:
        qm = QueryModel(**{**fields, "limit": limit})
    except IllegalQueryError:
        return
    df = timeseries_fixture(spark, N)
    got = [tuple(r) for r in compile_query(df, qm).collect()]
    exp = expected_from_filter_expr(df, qm)
    assert len(got) == len(exp), (fields, limit, len(got), len(exp))
    assert all(
        len(g) == len(e) and all(_same(x, y) for x, y in zip(g, e))
        for g, e in zip(got, exp)
    ), (fields, limit, got[:5], exp[:5])
