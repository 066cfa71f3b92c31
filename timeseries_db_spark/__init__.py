"""timeseries_db_spark — the adrianotm/timeseries-db time-series database
rebuilt on PySpark.

The reference is a ~900-line in-RAM Haskell database: one fixed-schema
table ``(timestamp, tag, value)``, two in-memory indexes and four REST
routes, one of them a query endpoint with ten composable parameters
(see SURVEY.md). Here the same routes (:mod:`.server`) drive
:class:`TsdbEngine`, which parses the query (:mod:`.schema`, with error
texts from :mod:`.wire`), compiles it to a DataFrame plan
(:mod:`.plans.compiler`) and runs it over :class:`~.operators.dml.TsTable`,
a manifest-versioned, date-partitioned parquet table. Catalyst supplies
the physical optimizations the reference hand-rolled: index range
pruning becomes manifest and parquet pruning, monoid partial
aggregation becomes partial/final hash aggregation.

The serving path imports only those modules. The rest of the package is
an operator library (analytics, dedup, similarity, text and multimodal
operators, streaming ingest, codecs and file sources) that no route
reaches; the driver-contract registry (:mod:`.registry`) and the tests
exercise it.
"""

from timeseries_db_spark.schema import (  # noqa: F401
    TS_SCHEMA,
    Agg,
    GroupBy,
    IllegalQueryError,
    QueryError,
    QueryModel,
    Sort,
)
from timeseries_db_spark.engine import TsdbEngine  # noqa: F401
from timeseries_db_spark.plans.compiler import compile_query  # noqa: F401
from timeseries_db_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
