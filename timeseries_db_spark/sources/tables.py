"""Sources: the driver's parquet tables + tsdb-shaped views of them.

The reference ingests only JSON HTTP bodies (``Api.hs:33-38``); this
engine reads columnar parquet (and JSON/CSV via the same helpers), which
is the scale-correct substrate: predicate pushdown, row-group min/max
skipping, column projection.

tsdb mapping (FIXTURES.md):
* ``events``:   ``ts``→timestamp (epoch millis), ``event_type``→tag, ``value``→value
* ``lineitem``: ``l_shipdate``→timestamp, ``l_returnflag``→tag, ``l_extendedprice``→value

Timestamps become Int64 epoch milliseconds — lossless vs the reference's
``type Timestamp = Int`` millis (``Model.hs:44-52``, UI millis formatting
``client/src/Main.elm:589-590``).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseries_db_spark.operators.dml import utc_day_expr, utc_day_of_ms

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: base-relation cache: (applicationId, sf_dir, table) → DataFrame. A
#: DataFrame is an immutable logical plan, so handing the same instance to
#: every query is pure plan reuse — it skips per-query file listing and
#: footer schema resolution (~100-150ms each here; on an object store at
#: 100 TB, listing is the expensive part and a shared relation/catalog
#: table is standard practice). Transformations never mutate the cached
#: plan.
_table_cache: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; plain ``spark.read.parquet`` so pushdown and
    pruning stay available to Catalyst.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark only reads with
    the nanosAsLong legacy conf (as Int64 nanoseconds). Set it here too so
    the engine works under a caller-provided session.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _table_cache.get(key)
    if df is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _table_cache[key] = df
    return df


def read_tsdb_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Read a tsdb-shaped table ``(timestamp long, tag string, value
    double)`` from parquet, JSON-lines, CSV, ORC, or (r15) Avro (the
    reference's only ingest format is JSON bodies — ``Api.hs:33-38`` —
    so JSON files are first-class here; Avro is how a Kafka-archived
    measurement stream lands, its ``timestamp-millis`` logical type
    passing straight through as the engine's epoch-millis long).
    Format inferred from the extension unless given.

    The explicit schema matters twice over: it skips the inference scan
    (which reads the whole file at 100 TB) and pins the exact types the
    engine promises (schema-on-read drift is rejected at the scan, not
    discovered mid-query)."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {
            "json": "json", "jsonl": "json", "csv": "csv",
            "orc": "orc", "avro": "avro",
        }.get(ext, "parquet")
    schema = "timestamp long, tag string, value double"
    if fmt == "json":
        return spark.read.schema(schema).json(path)
    if fmt == "csv":
        return spark.read.schema(schema).option("header", "true").csv(path)
    if fmt == "orc":  # r10: Spark-native columnar alternative, pushdown-capable
        return spark.read.schema(schema).orc(path)
    if fmt == "avro":  # r15: from-spec container read, no spark-avro jar
        from timeseries_db_spark.sources.avro import read_tsdb_avro

        return read_tsdb_avro(spark, path)
    return spark.read.schema(schema).parquet(path)


def ts_to_millis(df: DataFrame, col_name: str):
    """Epoch-millis Int64 column from either a TimestampType column or a raw
    Int64-nanoseconds column (the nanosAsLong read of TIMESTAMP(NANOS)).
    Integer ``div`` keeps full precision — float division would corrupt
    ~1.7e18 ns values (doubles carry only 53 bits)."""
    dtype = dict(df.dtypes)[col_name]
    if dtype == "bigint":
        return F.expr(f"{col_name} div 1000000")
    if dtype == "timestamp_ntz":
        # session tz is pinned to UTC, so NTZ→TZ cast is the same instant
        # DuckDB assumes for naive timestamps
        return F.unix_millis(F.col(col_name).cast("timestamp"))
    return F.unix_millis(F.col(col_name))


def push_ts_bounds(
    df: DataFrame,
    col_name: str,
    *,
    gt: int | None = None,
    ge: int | None = None,
    lt: int | None = None,
    le: int | None = None,
    ts_eq: int | None = None,
) -> DataFrame:
    """Apply epoch-millis bounds to the RAW source timestamp column, in its
    native domain, BEFORE any projection.

    Why: the tsdb view derives ``timestamp = ts div 1_000_000`` (or
    ``unix_millis(...)``); a filter on that derived expression cannot be
    pushed into the parquet scan (Catalyst won't invert the arithmetic),
    so the scan reads every row group. Translating the bounds into the
    source domain (ns / timestamp) makes them plain column comparisons →
    ``PushedFilters`` → row-group min/max skipping and partition pruning.
    With ``timestamp = floor(ts_ns / 1e6)``:

    * ``timestamp >  G``  ⟺  ``ts_ns >= (G+1) * 1e6``
    * ``timestamp >= G``  ⟺  ``ts_ns >= G * 1e6``
    * ``timestamp <  L``  ⟺  ``ts_ns <  L * 1e6``
    * ``timestamp <= L``  ⟺  ``ts_ns <  (L+1) * 1e6``
    * ``timestamp == E``  ⟺  ``E*1e6 <= ts_ns < (E+1)*1e6``

    The (redundant, cheap) millis-domain filter stays in the compiled
    plan — this helper only adds the scan-prunable twin.
    """
    dtype = dict(df.dtypes)[col_name]
    c = F.col(col_name)

    if dtype == "bigint":  # nanoseconds since epoch
        def lo(ms: int):  # inclusive lower bound from millis
            return c >= F.lit(ms * 1_000_000)

        def hi(ms: int):  # exclusive upper bound from millis
            return c < F.lit(ms * 1_000_000)
    else:  # timestamp / timestamp_ntz
        cast = "timestamp_ntz" if dtype == "timestamp_ntz" else "timestamp"

        def lo(ms: int):
            return c >= F.timestamp_millis(F.lit(ms)).cast(cast)

        def hi(ms: int):
            return c < F.timestamp_millis(F.lit(ms)).cast(cast)

    if ts_eq is not None:
        df = df.filter(lo(ts_eq) & hi(ts_eq + 1))
    if gt is not None:
        df = df.filter(lo(gt + 1))
    if ge is not None:
        df = df.filter(lo(ge))
    if lt is not None:
        df = df.filter(hi(lt))
    if le is not None:
        df = df.filter(hi(le + 1))
    return df


def events_as_tsdb(spark: SparkSession, sf_dir: str, qm=None) -> DataFrame:
    """The tsdb-shaped view of ``events``.

    ``unix_millis`` keeps the reference's Int64-milliseconds timestamp
    domain exactly (and sidesteps engine-specific timestamp/timezone
    rendering in oracle comparison). The projection is declared up front
    so the parquet scan reads only three columns. Pass the
    :class:`QueryModel` to translate its bounds into scan-prunable
    source-domain filters (see :func:`push_ts_bounds`).
    """
    ev = load_table(spark, sf_dir, "events")
    if qm is not None:
        ev = push_ts_bounds(
            ev, "ts", gt=qm.gt, ge=qm.ge, lt=qm.lt, le=qm.le, ts_eq=qm.ts_eq
        )
        if qm.tag_eq is not None:
            ev = ev.filter(F.col("event_type") == F.lit(qm.tag_eq))
    return ev.select(
        ts_to_millis(ev, "ts").alias("timestamp"),
        F.col("event_type").alias("tag"),
        F.col("value").alias("value"),
    )


#: (applicationId, sf_dir) → min events timestamp in epoch millis. The
#: minimum of a fixed input never changes within a session (the same
#: overwrite-in-place caveat as _table_cache applies), so the literal is
#: resolved once per (session, input) instead of once per query build.
_min_ts_cache: dict[tuple[str, str], int] = {}


def _events_min_ts_from_footers(path: str) -> int | None:
    """Min events.ts in epoch millis straight from the parquet FOOTER
    row-group statistics (guide §6: min/max stats exist precisely so
    readers can answer bound probes without scanning data; at 100 TB
    this is O(#row groups) of metadata vs a full-column scan). Returns
    None — caller falls back to the Spark scan — whenever the stats are
    absent/untrustworthy or the value would need the trunc-vs-floor
    distinction the engine's per-layout conversion makes (negative
    pre-epoch minima; int64 parquet stats themselves are exact by
    spec)."""
    import pyarrow.parquet as pq

    import datetime as _dt

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    )
    if not files:
        return None
    best: int | None = None  # nanoseconds since epoch
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index("ts")
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn = st.min
            if isinstance(mn, int):
                # TIMESTAMP(NANOS) read via nanosAsLong: int64 stat is
                # the raw nanosecond value, exact by spec
                ns = mn
            elif isinstance(mn, _dt.datetime):
                # MICROS/MILLIS logical type: pyarrow decodes the int64
                # stat to a datetime (aware when isAdjustedToUTC, naive
                # otherwise — the engine reads naive as NTZ-at-UTC, the
                # identical instant). timedelta arithmetic is exact
                # integer micros; refuse nanos-unit datetimes (their
                # sub-micro truncation semantics aren't pinned here).
                import json as _json

                lt = _json.loads(md.schema.column(idx).logical_type.to_json())
                if lt.get("Type") != "Timestamp" or lt.get("timeUnit") not in (
                    "microseconds",
                    "milliseconds",
                ):
                    return None
                epoch = _dt.datetime(1970, 1, 1, tzinfo=mn.tzinfo)
                delta = mn - epoch
                micros = (
                    delta.days * 86_400_000_000
                    + delta.seconds * 1_000_000
                    + delta.microseconds
                )
                ns = micros * 1_000
            else:
                return None
            best = ns if best is None else min(best, ns)
    if best is None or best < 0:
        # trunc (bigint div) vs floor (unix_millis) diverge below epoch;
        # let the engine's own conversion decide
        return None
    return best // 1_000_000


def events_min_ts_millis(spark: SparkSession, sf_dir: str) -> int:
    """The events table's minimum timestamp (epoch millis) — the literal
    the point-probe query shapes embed. Footer-statistics fast path with
    a full Spark aggregation fallback, memoized per (session, input)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _min_ts_cache.get(key)
    if hit is None:
        hit = _events_min_ts_from_footers(os.path.join(sf_dir, "events.parquet"))
        if hit is None:
            agg = load_table(spark, sf_dir, "events").agg(F.min("ts").alias("ts"))
            hit = int(agg.select(ts_to_millis(agg, "ts").alias("ms")).first()[0])
        _min_ts_cache[key] = hit
    return hit


def lineitem_as_tsdb(spark: SparkSession, sf_dir: str, qm=None) -> DataFrame:
    """tsdb-shaped view of ``lineitem`` (bigger table for range+group+agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    if qm is not None:
        li = push_ts_bounds(
            li, "l_shipdate", gt=qm.gt, ge=qm.ge, lt=qm.lt, le=qm.le, ts_eq=qm.ts_eq
        )
        if qm.tag_eq is not None:
            li = li.filter(F.col("l_returnflag") == F.lit(qm.tag_eq))
    return li.select(
        ts_to_millis(li, "l_shipdate").alias("timestamp"),
        F.col("l_returnflag").alias("tag"),
        F.col("l_extendedprice").alias("value"),
    )


def read_tsdb_partitioned(spark: SparkSession, path: str, qm=None) -> DataFrame:
    """Read a table written by :func:`write_tsdb_partitioned`, deriving
    ``dt`` partition predicates from the QueryModel's millis bounds so
    Spark prunes whole date directories before listing their files — the
    scale analog of the reference's timestamp-index subtree pruning. The
    date bounds are conservative (day granularity); the exact millis
    filter still applies row-level on the survivors."""
    df = spark.read.parquet(path)
    if qm is not None:
        lo_ms, hi_ms = qm.bounds_ms()
        if lo_ms is not None:
            df = df.filter(F.col("dt") >= F.lit(utc_day_of_ms(lo_ms)))
        if hi_ms is not None:
            df = df.filter(F.col("dt") <= F.lit(utc_day_of_ms(hi_ms)))
        if qm.tag_eq is not None:
            df = df.filter(F.col("tag") == F.lit(qm.tag_eq))
    return df.select("timestamp", "tag", "value")


def write_tsdb_partitioned(df: DataFrame, path: str, *, buckets: int | None = None) -> None:
    """Persist a tsdb table laid out for scale: partitioned by UTC date of
    the timestamp so time-range queries prune whole partitions (the Spark
    analog of the reference's TimestampIndex subtree pruning,
    ``DataS/IntMap.hs:36-62``). At 100 TB, date partitions keep each
    partition in the 100s-of-MB range and make retention drops O(1) file
    ops. Tag lookups ride on parquet row-group stats; for heavy tag-probe
    workloads add a sort-within-partitions by tag (done here) so row
    groups are tag-clustered — the poor man's Z-ORDER without Delta.
    """
    out = df.withColumn("dt", utc_day_expr("timestamp"))
    (
        out.repartition("dt")
        .sortWithinPartitions("dt", "tag", "timestamp")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


#: documents-corpus schema — the LLM-data table the dedup/text/corpus
#: operators run over (TESTDATA.md documents.parquet)
CORPUS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def xz_lines(spark: SparkSession, path: str, glob: str = "*.xz") -> DataFrame:
    """(value string) — the lines of ``.xz``-wrapped text shards
    (r15): Hadoop ships no XZ codec, so ``spark.read.text`` cannot
    serve the ``.jsonl.xz`` / ``.csv.xz`` layout public corpora
    actually publish in (xz is whole-file anyway — not splittable —
    so per-FILE parallelism via ``binaryFile`` + stdlib ``lzma`` in
    the Arrow kernel loses nothing; size shards accordingly, the same
    rule as gzip). Composes under the same line projections as the
    uncompressed readers.

    Memory shape: INCREMENTAL decompression — output is drained in
    bounded pieces and emitted per line batch, so peak memory is the
    compressed file (binaryFile's unit) plus a few MB of window, never
    the 5-10× decompressed text. Concatenated .xz streams (the pigz
    shape) continue across stream boundaries; a CORRUPT shard keeps
    the lines already decoded and appends one deliberately-unparseable
    sentinel line (NUL prefix + the error), which the downstream
    from_json/from_csv projection lands in ``_corrupt`` — the
    dirty-arrival doctrine with no extra channel."""
    import lzma

    def file_lines(data: bytes) -> Iterator[pd.DataFrame]:
        dec = lzma.LZMADecompressor()
        tail = b""
        pos = 0
        out_cap = 4 << 20
        in_chunk = 1 << 20
        try:
            while True:
                if dec.eof:
                    # r16 ADVICE: xz STREAM PADDING (NUL bytes, 4-byte
                    # multiples) may sit between concatenated streams —
                    # a fresh decompressor rejects leading NULs, so
                    # strip them before restarting (feeding the padding
                    # verbatim quarantined every stream after it)
                    rest = dec.unused_data.lstrip(b"\x00")
                    if not rest:
                        break
                    dec = lzma.LZMADecompressor()  # next stream
                    data, pos = rest, 0
                    continue
                if dec.needs_input:
                    if pos >= len(data):
                        # input exhausted before the stream footer:
                        # truncation (a clean end sets dec.eof first)
                        raise lzma.LZMAError("xz stream truncated")
                    piece = data[pos : pos + in_chunk]
                    pos += in_chunk
                else:
                    piece = b""
                tail += dec.decompress(piece, out_cap)
                *lines, tail = tail.split(b"\n")
                if lines:
                    yield pd.DataFrame(
                        {
                            "value": [
                                ln.decode("utf-8", "replace")
                                for ln in lines
                            ]
                        }
                    )
        except lzma.LZMAError as e:
            yield pd.DataFrame({"value": [f"\x00xz corrupt: {e}"]})
            tail = b""
        if tail:
            yield pd.DataFrame(
                {"value": [tail.decode("utf-8", "replace")]}
            )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                yield from file_lines(bytes(content))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
        .mapInPandas(gen, schema="value string")
    )


def br_lines(spark: SparkSession, path: str, glob: str = "*.br") -> DataFrame:
    """(value string) — the lines of brotli-wrapped text shards (r16:
    the remaining pyarrow-bundled codec as a shard wrapper; some web
    corpora publish .jsonl.br). Same incremental read and
    corrupt-shard pricing as the zst kernel. Caveat (same class as
    checksum-less zstd, SCALE.md): the brotli stream has no internal
    checksum at all, so integrity rests on the next layer's framing —
    truncation and malformed streams error here, bit flips are caught
    by the line projection's parse."""

    def file_lines(data: bytes) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        tail = b""
        try:
            stream = pa.input_stream(
                pa.py_buffer(data), compression="brotli"
            )
            while True:
                chunk = stream.read(1 << 20)
                if not chunk:
                    break
                tail += chunk
                *lines, tail = tail.split(b"\n")
                if lines:
                    yield pd.DataFrame(
                        {
                            "value": [
                                ln.decode("utf-8", "replace")
                                for ln in lines
                            ]
                        }
                    )
        except OSError as e:
            yield pd.DataFrame({"value": [f"\x00br corrupt: {e}"]})
            tail = b""
        if tail:
            yield pd.DataFrame(
                {"value": [tail.decode("utf-8", "replace")]}
            )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                yield from file_lines(bytes(content))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
        .mapInPandas(gen, schema="value string")
    )


def sz_lines(spark: SparkSession, path: str, glob: str = "*.sz") -> DataFrame:
    """(value string) — the lines of snappy-FRAMED text shards (r16:
    the ``.sz`` framing format, ``functions/snappy.py``). Decoded
    chunk-by-chunk (the format's own 64 KiB granularity — peak memory
    is the compressed file plus one chunk), every chunk's masked
    CRC-32C verified BEFORE its bytes are trusted, with the same
    corrupt-shard pricing as the xz/zst kernels: the verified prefix
    survives and one unparseable sentinel line lands in ``_corrupt``
    downstream. r17: a clean decode is additionally held against the
    shard's sidecar manifest when one exists
    (``sources/manifest.py``) — the framing carries no trailer, so a
    truncation landing EXACTLY between chunks is silent by format;
    the manifest's byte/row counts convert it into one priced
    sentinel."""
    from timeseries_db_spark.functions.snappy import snappy_framed_chunks
    from timeseries_db_spark.sources.manifest import manifest_error

    def file_lines(
        fpath: str, data: bytes
    ) -> Iterator[pd.DataFrame]:
        tail = b""
        nrows = 0
        try:
            for piece in snappy_framed_chunks(data):
                tail += piece
                *lines, tail = tail.split(b"\n")
                if lines:
                    nrows += sum(1 for ln in lines if ln)
                    yield pd.DataFrame(
                        {
                            "value": [
                                ln.decode("utf-8", "replace")
                                for ln in lines
                            ]
                        }
                    )
        except ValueError as e:
            yield pd.DataFrame({"value": [f"\x00sz corrupt: {e}"]})
            return  # already priced — the manifest check would
            #         double-bill the same damage
        if tail:
            nrows += 1
            yield pd.DataFrame(
                {"value": [tail.decode("utf-8", "replace")]}
            )
        err = manifest_error(fpath, len(data), nrows)
        if err is not None:
            yield pd.DataFrame({"value": [f"\x00sz {err}"]})

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                yield from file_lines(fpath, bytes(content))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
        .mapInPandas(gen, schema="value string")
    )


def zst_lines(spark: SparkSession, path: str, glob: str = "*.zst") -> DataFrame:
    """(value string) — the lines of ``.zst``-wrapped text shards
    (r15): the layout RedPajama-era corpora publish in. Decoded
    through pyarrow's BUNDLED zstd (a baked dependency — the former
    "no zstd on this interpreter" seam was a false constraint), read
    INCREMENTALLY in ~1 MB pieces so peak memory is the compressed
    file plus a window, with the same corrupt-shard pricing as the xz
    kernel: the decoded prefix survives and one unparseable sentinel
    line lands in ``_corrupt`` downstream. Concatenated frames (the
    pigz shape) continue seamlessly."""

    def file_lines(data: bytes) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        tail = b""
        try:
            stream = pa.input_stream(
                pa.py_buffer(data), compression="zstd"
            )
            while True:
                chunk = stream.read(1 << 20)
                if not chunk:
                    break
                tail += chunk
                *lines, tail = tail.split(b"\n")
                if lines:
                    yield pd.DataFrame(
                        {
                            "value": [
                                ln.decode("utf-8", "replace")
                                for ln in lines
                            ]
                        }
                    )
        except OSError as e:
            yield pd.DataFrame({"value": [f"\x00zst corrupt: {e}"]})
            tail = b""
        if tail:
            yield pd.DataFrame(
                {"value": [tail.decode("utf-8", "replace")]}
            )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                yield from file_lines(bytes(content))

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
        .mapInPandas(gen, schema="value string")
    )


def jsonl_lines_to_corpus(lines: DataFrame) -> DataFrame:
    """The JSONL quarantine projection (r15 — factored out of
    :func:`read_corpus_any` so the STREAMING jsonl arrival path reuses
    it verbatim): blank/whitespace lines are record separators, not
    records — ``from_json('')`` yields an all-NULL struct with
    ``_corrupt`` unset, which would pass the clean filter as a phantom
    document (the json reader's drop/fail modes skip blank lines too —
    match them). ``rlike(\\S)``, not ``trim()``: trim strips only
    spaces, so a tab-only line would still slip through
    (code-review r8)."""
    return (
        lines.filter(F.col("value").rlike(r"\S"))
        .select(
            F.from_json(
                F.col("value"),
                CORPUS_SCHEMA + ", _corrupt string",
                {"columnNameOfCorruptRecord": "_corrupt"},
            ).alias("r")
        )
        .select("r.*")
    )


def csv_lines_to_corpus(lines: DataFrame, sep: str = ",") -> DataFrame:
    """The line-record CSV quarantine projection (r15 — factored out of
    :func:`read_corpus_any` so the STREAMING csv arrival path reuses it
    verbatim): a ``value``-column line scan → ``from_csv`` under the
    corpus schema + ``_corrupt``, header lines dropped per shard.
    JVM-side, one pass, batch/stream agnostic."""
    return (
        lines.filter(F.col("value").rlike(r"\S"))
        # header lines (every shard repeats one) carry the
        # doc_id column name where a record carries its long
        .filter(~F.col("value").rlike(r"^doc_id([,\t]|$)"))
        .select(
            F.from_csv(
                F.col("value"),
                CORPUS_SCHEMA + ", _corrupt string",
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": "_corrupt",
                    "sep": sep,
                    "escape": '"',
                },
            ).alias("r")
        )
        .select("r.*")
    )


def read_corpus_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    *,
    on_malformed: str = "quarantine",
) -> DataFrame:
    """Read a documents corpus from parquet or JSON-lines (the exchange
    format of LLM training data). Format inferred from the extension
    unless given. The explicit schema skips the inference scan and pins
    the promised types — same rationale as :func:`read_tsdb_any`.

    ``on_malformed`` (JSONL, CSV/TSV and Avro — web-scraped corpora
    contain broken lines as a matter of course; r14 extends the JSONL
    contract to the other dirty arrival formats):

    * ``"quarantine"`` (default) — malformed lines survive the scan
      with every schema field NULL and the raw line in ``_corrupt``;
      filter ``_corrupt IS NULL`` for the clean stream, and the
      quarantined remainder is auditable instead of silently gone.
      Implemented as a text scan + ``from_json``/``from_csv``
      (JVM-side, one pass) rather than the readers' internal
      corrupt-record column, whose QUERY_ONLY_CORRUPT_RECORD_COLUMN
      restriction breaks plain ``df.filter(...).count()`` — the first
      thing a user does. For CSV this is LINE-RECORD mode (quoted
      embedded newlines can't be line-scanned — exports that quote
      newlines use ``"permissive"``); header lines are dropped by
      their ``doc_id`` first field. For Avro a corrupt data block
      quarantines and the scan resyncs on the next sync marker
      (``sources/avro.py``).
    * ``"drop"`` — broken records vanish at the scan (Spark
      DROPMALFORMED for JSONL/CSV; silent block skip for Avro).
    * ``"fail"`` — FAILFAST: any broken record aborts the read (the
      right mode when upstream claims to have validated).
    * ``"permissive"`` (CSV only, r14) — the r13 multiLine reader:
      quoted embedded newlines supported, but broken fields silently
      become NULLs under the pinned schema."""
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if fmt is None:
        fmt = {
            "json": "json", "jsonl": "json", "orc": "orc",
            "avro": "avro", "csv": "csv", "tsv": "tsv", "xz": "xz",
            "zst": "zst", "sz": "sz", "br": "br",
        }.get(ext, "parquet")
    if fmt in ("xz", "zst", "sz", "br") or (
        "." in fmt and fmt.split(".")[-1] in ("xz", "zst", "sz", "br")
    ):
        # r15: .jsonl.{xz,zst} / .csv.{xz,zst} shards (the layouts
        # public corpora publish in; Hadoop codecs cover neither —
        # .gz/.bz2 go through the native text path below untouched).
        # r16: .sz (snappy framing format) joins with per-chunk
        # CRC-32C verification. Whole-file decompression in the Arrow
        # kernel, then the SAME line projections — so the quarantine
        # semantics are identical to the uncompressed read.
        wrapper = fmt.split(".")[-1]
        inner = (
            fmt.split(".")[0]
            if "." in fmt
            else os.path.splitext(os.path.splitext(path)[0])[1]
            .lstrip(".")
            .lower()
            or "jsonl"
        )
        if on_malformed not in ("quarantine", "drop"):
            raise ValueError(
                f"{wrapper}-wrapped reads support on_malformed="
                "quarantine/drop (line-record modes)"
            )
        lines = {
            "xz": xz_lines, "zst": zst_lines, "sz": sz_lines,
            "br": br_lines,
        }[wrapper](spark, path)
        out = (
            csv_lines_to_corpus(
                lines, sep="\t" if inner == "tsv" else ","
            )
            if inner in ("csv", "tsv")
            else jsonl_lines_to_corpus(lines)
        )
        if on_malformed == "drop":
            out = out.filter(F.col("_corrupt").isNull()).drop("_corrupt")
        return out
    sep = "\t" if "tsv" in (fmt, ext) else ","
    if fmt == "tsv":
        fmt = "csv"
    if fmt == "orc":  # r10
        return spark.read.schema(CORPUS_SCHEMA).orc(path)
    if fmt == "csv":  # r13: headered CSV/TSV exports; r14: dirty modes
        if on_malformed == "quarantine":
            return csv_lines_to_corpus(spark.read.text(path), sep=sep)
        reader = (
            spark.read.schema(CORPUS_SCHEMA)
            .option("header", "true")
            .option("multiLine", "true")  # quoted embedded newlines
            .option("escape", '"')
            .option("sep", sep)
        )
        if on_malformed != "permissive":
            mode = {"drop": "DROPMALFORMED", "fail": "FAILFAST"}[on_malformed]
            reader = reader.option("mode", mode)
        return reader.csv(path)
    if fmt == "avro":  # r13: from-spec container read, no spark-avro jar
        from timeseries_db_spark.sources.avro import read_corpus_avro

        return read_corpus_avro(spark, path, on_malformed=on_malformed)
    if fmt == "json":
        if on_malformed == "quarantine":
            return jsonl_lines_to_corpus(spark.read.text(path))
        mode = {"drop": "DROPMALFORMED", "fail": "FAILFAST"}[on_malformed]
        return spark.read.schema(CORPUS_SCHEMA).option("mode", mode).json(path)
    return spark.read.schema(CORPUS_SCHEMA).parquet(path)


def write_corpus_jsonl(docs: DataFrame, path: str, *, shards: int | None = None) -> None:
    """Write a documents corpus as JSON-lines, the hand-off format for
    tokenizer/training pipelines. ``shards`` controls output file count
    (repartition before write — at scale pick shards so files land in
    the 100s-of-MB range; default keeps the upstream partitioning).
    Columns beyond the corpus schema pass through (JSONL is
    schema-on-read on the consumer side)."""
    out = docs.repartition(shards) if shards else docs
    out.write.mode("overwrite").json(path)
