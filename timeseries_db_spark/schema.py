"""Data model + query model of the tsdb surface.

Reference parity (see /root/repo/SURVEY.md §1):

* Row schema ``TS {timestamp:Int64-millis, tag:Text, value:Double}`` —
  reference ``server/src/Repository/Model.hs:77-82``.
* Unique key ``(timestamp, tag)`` — reference ``README.md:63``.
* Query model: ten optional composable parameters —
  ``Model.hs:104-116``; validation (``illegalQM``) ``Model.hs:126-134``.

Differences by design (documented deviations, SURVEY.md §7.3):

* empty-range ``min``/``max`` return NULL (SQL semantics) instead of the
  reference's ±Infinity monoid identities (``Model.hs:146-148``);
* ``groupBy=tag`` output is always ordered by group key (the reference's
  HashMap iteration order is nondeterministic — ``Queries/Tag.hs:44``);
* ``sum`` over an empty selection is NULL (SQL) where the reference's
  Sum-monoid identity yields 0.0 (``Queries.hs:151,168``) — same class of
  deviation as min/max above, invisible to the DuckDB oracle (NULL too);
* a negative ``limit`` returns an empty result (the reference's
  ``take (-1)`` semantics) rather than erroring.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import types as T


class QueryError(Exception):
    """Data-dependent query failure (reference returns HTTP 400)."""


class IllegalQueryError(QueryError):
    """Illegal parameter combination — reference ``illegalQM`` Model.hs:126-134."""


class RowDecodeError(ValueError):
    """A request's row batch failed schema decoding (wrong field type /
    shape) — the failures aeson rejects at decode time with a 400.
    Raised ONLY at the wire/decode seam (engine row coercion), so the
    server can map it to 400 while a ValueError escaping from engine
    internals stays a genuine 500 (ADVICE r7)."""


class Agg(str, Enum):
    """Aggregate functions — reference ``Model.hs:60,172-178``."""

    COUNT = "count"
    SUM = "sum"
    AVG = "avg"
    MIN = "min"
    MAX = "max"


class GroupBy(str, Enum):
    """Grouping key — reference ``Model.hs:54,154-157``."""

    TAG = "tag"
    TIMESTAMP = "timestamp"


class Sort(str, Enum):
    """Order by timestamp — reference ``Model.hs:57,163-166`` (default asc)."""

    ASC = "asc"
    DESC = "desc"


#: The one table of the reference surface. All three fields non-nullable
#: (aeson strict decoding rejects missing fields — Model.hs:197-199).
TS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),  # UNIX epoch millis
        T.StructField("tag", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

#: Key-only projection TS' (deletes / existence checks) — Model.hs:84-88.
TS_KEY_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("tag", T.StringType(), False),
    ]
)


@dataclass(frozen=True)
class QueryModel:
    """The ten-parameter query record — reference ``Model.hs:104-116``.

    The entire "logical plan" of the reference is this record; the engine
    compiles it directly to a DataFrame expression chain
    (:func:`timeseries_db_spark.plans.compiler.compile_query`) and Catalyst
    is the physical planner the reference never had (SURVEY.md §3).
    """

    gt: int | None = None  # timestamp >  gt   (exclusive lower bound)
    ge: int | None = None  # timestamp >= ge   (inclusive lower bound)
    lt: int | None = None  # timestamp <  lt   (exclusive upper bound)
    le: int | None = None  # timestamp <= le   (inclusive upper bound)
    ts_eq: int | None = None  # timestamp point lookup
    tag_eq: str | None = None  # tag equality
    agg_func: Agg | None = None
    group_by: GroupBy | None = None
    sort: Sort = Sort.ASC
    limit: int | None = None

    def __post_init__(self) -> None:
        self.validate()

    def validate(self) -> None:
        """``illegalQM`` semantics — reference ``Model.hs:126-134``.
        Message texts come from :mod:`timeseries_db_spark.wire` (modern
        by default; byte-exact reference strings under
        ``wire.set_reference_wire(True)``)."""
        from timeseries_db_spark import wire

        if self.group_by is not None and self.agg_func is None:
            raise IllegalQueryError(wire.illegal_group_by())
        if self.gt is not None and self.ge is not None:
            raise IllegalQueryError(wire.illegal_gt_ge())
        if self.lt is not None and self.le is not None:
            raise IllegalQueryError(wire.illegal_lt_le())
        if self.ts_eq is not None and any(
            b is not None for b in (self.gt, self.ge, self.lt, self.le)
        ):
            raise IllegalQueryError(wire.illegal_ts_eq())

    def bounds_ms(self) -> tuple[int | None, int | None]:
        """Inclusive ``(lo, hi)`` epoch-millis bounds implied by the
        query's timestamp parameters — the single source of truth for
        partition/manifest pruning (engine + partitioned sources)."""
        lows = [
            b
            for b in (self.ge, None if self.gt is None else self.gt + 1, self.ts_eq)
            if b is not None
        ]
        highs = [
            b
            for b in (self.le, None if self.lt is None else self.lt - 1, self.ts_eq)
            if b is not None
        ]
        return (max(lows) if lows else None, min(highs) if highs else None)

    @property
    def only_agg(self) -> bool:
        """Fast-path predicate ``onlyAgg`` — reference ``Model.hs:121-123``:
        an aggregate with no filters and no grouping folds the raw value
        column (maps to a bare ``df.agg`` whole-column scan)."""
        return self.agg_func is not None and all(
            v is None
            for v in (self.gt, self.ge, self.lt, self.le, self.ts_eq, self.tag_eq, self.group_by)
        )

    @classmethod
    def from_json(cls, obj: dict) -> "QueryModel":
        """Parse the reference's wire format (camelCase keys, strict —
        unknown fields rejected like aeson's ``rejectUnknownFields``)."""
        key_map = {
            "gt": "gt", "ge": "ge", "lt": "lt", "le": "le",
            "tsEq": "ts_eq", "tagEq": "tag_eq", "aggFunc": "agg_func",
            "groupBy": "group_by", "sort": "sort", "limit": "limit",
        }
        unknown = set(obj) - set(key_map)
        if unknown:
            raise IllegalQueryError(f"Unknown query fields: {sorted(unknown)}")
        kwargs: dict = {key_map[k]: v for k, v in obj.items() if v is not None}
        # aeson rejects wrongly-typed fields at decode time (a 400, not
        # an internal error deep inside the engine); mirror that here —
        # bounds/limit are integers (bool is an int subclass in Python,
        # but not on the wire), tagEq is a string
        for field in ("gt", "ge", "lt", "le", "ts_eq", "limit"):
            v = kwargs.get(field)
            if v is None:
                continue
            if isinstance(v, float):
                # aeson's parseBoundedIntegral decodes over Scientific:
                # integral floats like 1.0 (or 1e3) are accepted and
                # coerced, fractional or out-of-Int64-range ones
                # rejected. Finiteness FIRST: json.loads accepts
                # Infinity/NaN, and int(inf)/int(nan) raise
                # OverflowError/ValueError — a 500, not the 400 this
                # path exists to produce (code-review r8)
                import math

                if (
                    not math.isfinite(v)
                    or v != int(v)
                    or not -(2**63) <= v < 2**63
                ):
                    raise IllegalQueryError(
                        f"Field '{field}' expects an integer, got {v!r}."
                    )
                kwargs[field] = int(v)
            elif (
                isinstance(v, bool)
                or not isinstance(v, int)
                or not -(2**63) <= v < 2**63
            ):
                # Int64 like the reference's Int; a wider JSON integer
                # would otherwise reach Spark literals and date pruning
                raise IllegalQueryError(
                    f"Field '{field}' expects an integer, got {v!r}."
                )
        tag = kwargs.get("tag_eq")
        if tag is not None and not isinstance(tag, str):
            raise IllegalQueryError(
                f"Field 'tag_eq' expects a string, got {tag!r}."
            )
        try:
            if "agg_func" in kwargs:
                kwargs["agg_func"] = Agg(kwargs["agg_func"])
            if "group_by" in kwargs:
                kwargs["group_by"] = GroupBy(kwargs["group_by"])
            if "sort" in kwargs:
                kwargs["sort"] = Sort(kwargs["sort"])
        except ValueError as exc:
            # wire parity: a bad enum literal is a 400 like any other
            # illegal query, not an internal error (aeson decode failure)
            raise IllegalQueryError(str(exc)) from exc
        return cls(**kwargs)
