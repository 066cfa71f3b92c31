"""TsdbEngine facade: the reference's four routes, wire formats, and the
full error contract (SURVEY.md §2.5) end-to-end on one table."""

from __future__ import annotations

import pytest

from timeseries_db_spark.engine import TsdbEngine
from timeseries_db_spark.operators.dml import DmlError
from timeseries_db_spark.schema import IllegalQueryError, QueryError

T0 = 1704067200000  # 2024-01-01T00:00:00Z


@pytest.fixture()
def eng(spark, tmp_path):
    e = TsdbEngine(spark, str(tmp_path / "tsdb"))
    e.insert(
        [
            {"timestamp": T0, "tag": "munich", "value": 1.0},
            {"timestamp": T0 + 1, "tag": "munich", "value": 3.0},
            {"timestamp": T0 + 1, "tag": "skopje", "value": 5.0},
            {"timestamp": T0 + 2, "tag": "athens", "value": 7.0},
        ]
    )
    return e


def test_collect_rows_wire_shape(eng):
    out = eng.query_json({"ge": T0, "le": T0 + 1, "sort": "desc"})
    # desc applies to the (timestamp, tag) total order (compiler O1 note)
    assert out == [
        {"timestamp": T0 + 1, "tag": "skopje", "value": 5.0},
        {"timestamp": T0 + 1, "tag": "munich", "value": 3.0},
        {"timestamp": T0, "tag": "munich", "value": 1.0},
    ]
    # Int64 bounds past the calendar (years 1-9999) prune nothing
    everything = eng.query_json({})
    assert len(everything) == 4
    for bound in ({"lt": 2**63 - 1}, {"ge": -(2**62)}, {"le": 253402300800000}):
        assert eng.query_json(bound) == everything, bound


def test_scalar_and_grouped_wire_shapes(eng):
    assert eng.query_json({"aggFunc": "sum"}) == {"result": 16.0}
    assert eng.query_json({"aggFunc": "count", "groupBy": "tag"}) == [
        {"group": "athens", "result": 1.0},
        {"group": "munich", "result": 2.0},
        {"group": "skopje", "result": 1.0},
    ]


def test_update_then_query(eng):
    eng.update([{"timestamp": T0, "tag": "munich", "value": 100.0}])
    assert eng.query_json({"tsEq": T0}) == [
        {"timestamp": T0, "tag": "munich", "value": 100.0}
    ]


def test_delete_and_truncate(eng):
    eng.delete([{"timestamp": T0 + 2, "tag": "athens"}])
    assert eng.query_json({"aggFunc": "count"}) == {"result": 3.0}
    eng.delete(None)  # empty body → truncate (Handlers.hs:72-73)
    assert eng.query(
        {"aggFunc": "count"}, strict=False
    ).first()["result"] == 0.0


def test_insert_duplicate_rejected(eng):
    with pytest.raises(DmlError, match="already exists"):
        eng.insert([{"timestamp": T0, "tag": "munich", "value": 9.0}])


def test_update_missing_key_rejected(eng):
    with pytest.raises(DmlError, match="no entry"):
        eng.update([{"timestamp": T0 + 99, "tag": "nowhere", "value": 1.0}])


def test_illegal_query_combinations(eng):
    with pytest.raises(IllegalQueryError):
        eng.query({"groupBy": "tag"})  # groupBy without aggFunc
    with pytest.raises(IllegalQueryError):
        eng.query({"gt": 1, "ge": 2})
    with pytest.raises(IllegalQueryError):
        eng.query({"tsEq": 1, "lt": 5})
    with pytest.raises(IllegalQueryError, match="Unknown query fields"):
        eng.query({"aggFunc": "sum", "bogus": 1})
    with pytest.raises(IllegalQueryError, match="'gt' expects an integer"):
        eng.query({"gt": 2**70})  # wider than Int64


def test_data_dependent_errors(eng):
    with pytest.raises(QueryError, match="No data for tag"):
        eng.query({"tagEq": "nowhere"})
    with pytest.raises(QueryError, match="No data for timestamp"):
        eng.query({"tsEq": 42})
    with pytest.raises(QueryError, match="Average failed"):
        eng.query({"aggFunc": "avg", "gt": T0 + 10**9})


def test_reopen_existing_table(spark, tmp_path, eng):
    # a second engine on the same path sees the committed snapshot
    again = TsdbEngine(spark, eng.table.path)
    assert again.query_json({"aggFunc": "count"}) == {"result": 4.0}


def test_sql_view_surface(eng):
    eng.create_view("timeseries")
    rows = eng.sql(
        "SELECT tag, round(sum(value), 4) AS s FROM timeseries "
        "GROUP BY tag ORDER BY tag"
    ).collect()
    assert [(r["tag"], r["s"]) for r in rows] == [
        ("athens", 7.0), ("munich", 4.0), ("skopje", 5.0),
    ]


def test_export_roundtrip(eng, spark, tmp_path):
    out = str(tmp_path / "export_csv")
    eng.export({"ge": T0, "sort": "asc"}, out, fmt="csv")
    back = (
        spark.read.option("header", "true")
        .schema("timestamp long, tag string, value double")
        .csv(out)
    )
    assert back.count() == 4
    assert {r["tag"] for r in back.collect()} == {"munich", "skopje", "athens"}


def test_presence_errors_are_index_membership(eng):
    # tag exists but the range filters out all its rows → NOT an error
    # (the reference probes the tag index, not the filtered result)
    assert eng.query_json({"tagEq": "munich", "gt": T0 + 10**9}) == []
    # tag exists, tsEq missing within that tag → the TIMESTAMP error
    with pytest.raises(QueryError, match="No data for timestamp"):
        eng.query({"tagEq": "munich", "tsEq": T0 + 999})
    # tsEq miss under a grouped query → empty group list, no error
    assert (
        eng.query_json({"tsEq": T0 + 999, "aggFunc": "max", "groupBy": "tag"}) == []
    )


def test_engine_versioning_surface(spark, tmp_path):
    """The maintenance/versioning surface is reachable through the
    user-facing engine class, not just the storage layer."""
    from timeseries_db_spark.engine import TsdbEngine

    e = TsdbEngine(spark, str(tmp_path / "ver"))
    e.insert([(1000, "a", 1.0)])
    v1 = e.version()
    e.insert([(2000, "b", 2.0)])
    feed = {(r["timestamp"], r["tag"], r["change"]) for r in e.changes(v1).collect()}
    assert feed == {(2000, "b", "insert")}
    e.restore(v1)
    assert e.query_json({"aggFunc": "count"}) == {"result": 1.0}
    assert e.history()[0]["current"]
    e.vacuum()
