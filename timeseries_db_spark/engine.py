"""TsdbEngine — the reference's full API surface as one Python class.

The reference exposes four servant routes (``Api.hs:31-38``):

* ``POST /timeseries``        → :meth:`TsdbEngine.insert`
* ``PUT /timeseries``         → :meth:`TsdbEngine.update`
* ``DELETE /timeseries``      → :meth:`TsdbEngine.delete` (empty body →
  :meth:`TsdbEngine.truncate`, ``Handlers.hs:72-73``)
* ``POST /timeseries/query``  → :meth:`TsdbEngine.query` /
  :meth:`TsdbEngine.query_json`

A user of the reference switches by pointing this class at a storage path:
the wire formats are preserved — inserts take ``[{"timestamp": …, "tag": …,
"value": …}]`` rows, queries take the camelCase ten-field ``QueryModel``
JSON (``Model.hs:104-116``), and :meth:`query_json` returns the untagged
``QueryR`` union (``Model.hs:150-152``): raw rows, ``{group, result}``
pairs, or a ``{result}`` scalar. Errors raise :class:`QueryError` /
:class:`DmlError` where the reference returns HTTP 400 — same error
conditions and ≤10-entry truncation (``Handlers.hs:55``); message texts
are modernized by default, and ``wire.set_reference_wire(True)``
switches them to the reference's byte-exact strings (typo included).

Spark-first internals: storage is the date-partitioned parquet
:class:`~timeseries_db_spark.operators.dml.TsTable` (manifest-versioned
commits, snapshot-isolated readers), queries compile through
:func:`~timeseries_db_spark.plans.compiler.compile_query`.

The engine serves from its own session (``_serving_session``): a
``newSession()`` of the caller's, with the caller's runtime SQL confs
and the serving settings on top. The caller's session is never
modified; temp views registered through :meth:`TsdbEngine.create_view`
live in the engine's session and are visible through
:meth:`TsdbEngine.sql`, not through the caller's.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from timeseries_db_spark.operators.dml import TsTable
from timeseries_db_spark.plans.compiler import (
    GROUP_COL,
    RESULT_COL,
    compile_query,
    run_query,
)
from timeseries_db_spark.schema import (
    TS_KEY_SCHEMA,
    TS_SCHEMA,
    QueryModel,
    RowDecodeError,
)


#: SQL confs the serving session sets over the caller's. A read answers
#: a few thousand rows at most, so per-job fixed cost dominates it.
#: Measured on a 45-day table (45 leaf dirs), 4 vCPU, local[3]:
_SERVING_CONF = {
    # AQE runs each query stage as its own job: a scalar avg or a
    # group-by takes 2 jobs and 135-158 ms with it on, 1 job and
    # 116-121 ms with it off
    "spark.sql.adaptive.enabled": "false",
    # generating and compiling Java per plan never pays back on answers
    # this small: range(1).collect() takes 35 ms with it on, 27 ms off
    "spark.sql.codegen.wholeStage": "false",
    # above this many leaf dirs (default 32, so any table longer than 32
    # days) Spark lists files in a distributed job: the scalar avg took
    # 2 jobs and 336 ms with the listing job, 1 job and 129 ms with the
    # listing on the driver. The manifest already bounds the list.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}


def _serving_session(spark: SparkSession) -> SparkSession:
    """A new session over ``spark``'s SparkContext for the engine to
    serve from: every modifiable runtime SQL conf of ``spark`` (the
    session timezone, say) carried over, then ``_SERVING_CONF``.
    ``spark`` itself is left as it was."""
    serving = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            serving.conf.set(key, value)
    for key, value in _SERVING_CONF.items():
        serving.conf.set(key, value)
    return serving


class TsdbEngine:
    """One tsdb table + the four reference routes over it."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = _serving_session(spark)
        if os.path.exists(os.path.join(path, "_VERSION")):
            self.table = TsTable(self.spark, path)
            # a writer that crashed between manifest link and pointer
            # swap leaves the next version slot taken; roll it forward
            # or every write here would raise ConcurrentWriteError
            self.table.recover()
        else:
            self.table = TsTable.create(self.spark, path)

    # ---------- coercion helpers ----------

    def _rows_df(self, rows, schema) -> DataFrame:
        if isinstance(rows, DataFrame):
            return rows.select(*[f.name for f in schema.fields])
        try:
            # createDataFrame verifies Python values against the schema
            # eagerly — a wrong-typed field raises here, at the decode
            # seam, not later inside a Spark job
            return self.spark.createDataFrame(list(rows), schema)
        except (TypeError, ValueError) as exc:
            raise RowDecodeError(str(exc)) from exc

    # ---------- write routes (SURVEY.md §2.4) ----------

    def insert(self, rows) -> None:
        """``POST /timeseries`` — append-only keyed insert (W1)."""
        self.table.insert(self._rows_df(rows, TS_SCHEMA))

    def update(self, rows) -> None:
        """``PUT /timeseries`` — value-only in-place update (W2)."""
        self.table.update(self._rows_df(rows, TS_SCHEMA))

    def delete(self, keys=None) -> None:
        """``DELETE /timeseries`` — delete by key (W3); ``None``/empty →
        truncate (W4), matching the reference's empty-body route."""
        if keys is None:
            self.truncate()
            return
        if isinstance(keys, DataFrame):
            if keys.limit(1).count() == 0:  # empty body → truncate (W4)
                self.truncate()
                return
            self.table.delete(keys.select("timestamp", "tag"))
            return
        keys = list(keys)
        if len(keys) == 0:
            self.truncate()
            return
        self.table.delete(self._rows_df(keys, TS_KEY_SCHEMA))

    def truncate(self) -> None:
        self.table.truncate()

    # ---------- maintenance / versioning (north-star surface) ----------

    def version(self) -> int:
        return self.table.version()

    def history(self) -> list[dict]:
        """Retained version history, newest first (TsTable.history)."""
        return self.table.history()

    def restore(self, version: int) -> None:
        """Roll back to a retained version as a NEW commit (TsTable.restore)."""
        self.table.restore(version)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Keyed change feed between versions (TsTable.changes)."""
        return self.table.changes(from_version, to_version)

    def vacuum(self, retain_versions: int = 0) -> None:
        """Reclaim history outside the retention window (TsTable.vacuum)."""
        self.table.vacuum(retain_versions)

    # ---------- read route ----------

    def _snapshot(self, qm):
        """Parse ``qm`` and pin the current version: returns the query
        model, the snapshot relation pruned to the query's bounds, and a
        presence probe over the same version — so a probe can never see
        a write the answer did not.

        The query's timestamp bounds prune date partitions at the
        manifest level before the plan is even built (TsTable.read) —
        the storage-side replacement for the reference's in-memory
        timestamp index probe; a tagEq query additionally prunes leaf
        dirs on the manifest's per-leaf tag stats (r9 — the TagIndex
        analog). The probe (TsTable.exists) is pruned on its own terms:
        the error contract distinguishes "tag absent from the table"
        from "tag absent from the range", so it answers for the whole
        snapshot, not the range."""
        if isinstance(qm, Mapping):
            qm = QueryModel.from_json(dict(qm))
        version = self.table.version()
        lo_ms, hi_ms = qm.bounds_ms()
        df = self.table.read(version, lo_ms=lo_ms, hi_ms=hi_ms, tag_eq=qm.tag_eq)
        return qm, df, functools.partial(self.table.exists, version)

    def query(self, qm, *, strict: bool = True) -> DataFrame:
        """``POST /timeseries/query`` — accepts a :class:`QueryModel` or the
        reference's camelCase JSON dict; returns the result DataFrame in
        one of the three ``QueryR`` shapes. ``strict`` enforces the
        data-dependent error contract (SURVEY.md §2.5) eagerly, before
        the DataFrame is returned: a query that has a check to make
        fetches its first row, and presence probes run only when that
        shows an empty answer (:func:`run_query`)."""
        qm, df, exists = self._snapshot(qm)
        if not strict:
            return compile_query(df, qm)
        return run_query(df, qm, exists=exists)

    def export(self, qm, path: str, *, fmt: str = "csv") -> None:
        """Uncapped result export — the reference client's CSV download
        path (``client/src/Main.elm:241``: the UI caps previews at 20
        rows but exports everything). Writes the query result as
        csv/json/parquet; distributed write, no driver collect."""
        if fmt not in ("csv", "json", "parquet"):
            raise ValueError(f"unsupported export format: {fmt!r}")
        df = self.query(qm, strict=False)
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(path)
        elif fmt == "json":
            writer.json(path)
        else:
            writer.parquet(path)

    def create_view(self, name: str = "timeseries") -> None:
        """Register the current snapshot as a Spark SQL temp view — the
        full ANSI SQL surface over the tsdb table (the reference has no
        SQL at all; on Spark it is free). The view lives in the engine's
        serving session: query it through :meth:`sql`, not through the
        session the engine was built with."""
        self.table.read().createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL in the engine's session (after :meth:`create_view`)."""
        return self.spark.sql(query)

    def query_json(self, qm):
        """Reference wire format: the untagged ``QueryR`` union
        (``Model.hs:150-152``) as plain Python values."""
        qm, df, exists = self._snapshot(qm)
        # answer first: the error contract needs probes only when the
        # answer is empty, so a hit costs the one collect; given the
        # answer, run_query builds no second plan
        out = compile_query(df, qm).collect()
        run_query(df, qm, exists=exists, answer=out)
        if qm.agg_func is None:
            return [
                {"timestamp": r["timestamp"], "tag": r["tag"], "value": r["value"]}
                for r in out
            ]
        if qm.group_by is None:
            return {"result": out[0][RESULT_COL] if out else None}
        return [{"group": r[GROUP_COL], "result": r[RESULT_COL]} for r in out]
