"""SparkSession factory tuned for the engine.

Local test posture is ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
conf here is chosen to also be correct on a multi-executor cluster at
100 TB: AQE for runtime re-planning (partition coalescing, skew-join
splitting), Arrow for the Pandas-UDF slow path, UTC session timezone so
results are oracle-comparable and cluster-timezone-independent.

These confs suit the operator library's large plans. ``TsdbEngine`` does
not serve from this session as built: it serves from its own
``newSession()`` with the caller's runtime SQL confs, AQE off and
whole-stage codegen off (``engine._SERVING_CONF``). A read answers a few
thousand rows at most, so its latency is per-job fixed cost: AQE runs
each query stage as a job of its own (2 jobs for a scalar aggregate or a
group-by instead of 1), and generating Java for each plan costs more than
it saves on answers that small. The session returned here keeps AQE, so
the library's plan tests see the plans they pin.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "timeseries-db-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    on a real cluster this would be ~2-3× total executor cores (or left
    to AQE's coalescing with a high initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory size rather than the cluster parallelism
        # floor — fewer, right-sized post-shuffle partitions (the setting
        # Spark's own tuning guide recommends for production)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep AQE active for stages downstream of persisted plans (the
        # MinHash/SimHash signature caches) — otherwise caching pins the
        # pre-AQE partitioning and small shuffles stop coalescing
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r14→r17: payload-kernel Arrow sizing. r14 capped batches at
        # 1,024 ROWS so ingest kernels carrying multi-MB BINARY
        # payloads (WARC segments, archives, media) could not
        # accumulate tens of GB per Python transfer — but the row cap
        # also throttled DRIVER collects (toPandas slices result
        # batches by the same knob: measured ~15% on the 600k-row
        # range_scan_9combos materialization at sf0.1). Spark 4's
        # maxBytesPerBatch is the direct knob: batches are bounded by
        # BYTES (64 MB here), so payload rows still flow in small
        # batches while scalar results batch at the default 10k rows.
        # useLargeVarTypes switches Arrow to 64-bit offsets so a
        # single batch of binaries may exceed 2 GB without overflow.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata writes events.ts as parquet TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read it as long (ns since epoch)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
