"""Keyed DML on a parquet-backed table — the Spark re-expression of the
reference's acid-state transactions (SURVEY.md §2.4).

Reference semantics preserved (``Handlers.hs:40-89``):

* unique key ``(timestamp, tag)`` (``README.md:63``);
* batch-all-or-nothing — any invalid entry aborts the whole batch;
* at most 10 per-entry error messages are reported
  (``take 10 errors``, ``Handlers.hs:55,65,89``);
* insert rejects existing keys (``validInsert``, ``Queries.hs:76-77``);
  update/delete reject missing keys (``validModify``, ``Queries.hs:70-71``);
* truncate resets the table (``Handlers.hs:72-73``).

Reference anomalies deliberately fixed (SURVEY.md §2.4):

* intra-batch duplicate keys are rejected too (the reference's
  ``validInsert`` only checks the existing index, silently storing a
  dangling duplicate row);
* deletes cannot leave dangling positions — Spark is value-addressed.

Storage design (scale rationale)
--------------------------------
Delta/Iceberg jars are not available in this environment, so the table
implements the same idea in miniature: an append-only set of parquet
*commits* plus a versioned JSON manifest mapping each date partition to
its current file set, with an atomically-swapped version pointer.

* **Insert is O(batch)** — new files only; no table rewrite.
* **Update/delete are O(touched partitions)** — the key's timestamp
  determines its ``dt`` partition, so only those partitions' files are
  read, merged, and rewritten (the manifest swap publishes them
  atomically). At 100 TB with daily partitions, a typical keyed update
  touches a handful of dates, not the table.
* **Validation is a join, not a lock** — existence checks are
  left-semi/anti joins against only the touched partitions; Catalyst
  broadcasts the (small) batch side, so validation is a single scan of
  the affected partitions with no shuffle of table data.
* **Readers are snapshot-isolated** — they resolve the version pointer
  once; commits never mutate published files (writers stage a new
  commit dir, then swap the pointer with ``os.replace``).
* **Writers are serialized optimistically** — the reference serializes
  writes behind acid-state's lock (``Handlers.hs:98``); here each write
  CASes on the version it read: manifest N+1 is created atomically
  (create-exclusive), so of two writers racing from the same base
  version exactly one commits and the other raises
  :class:`ConcurrentWriteError` instead of silently orphaning the
  winner's manifest. On shared POSIX storage this is the whole
  multi-writer story; object stores without atomic create would swap
  the CAS into a coordination service (the Delta/Iceberg commit-service
  pattern) without touching the rest of the protocol.
* ``compact()`` folds accumulated commits back to one per partition —
  the manifest is the unit of truth, so compaction is also just a
  commit + pointer swap.
* **Every data file is zstd-compressed with Parquet v2 data pages**
  (:data:`WRITE_OPTIONS`). v2 pages store the timestamp column
  DELTA_BINARY_PACKED and tag and value RLE_DICTIONARY, and zstd
  shrinks the low-entropy doubles that snappy leaves almost as they
  are. The 200,001-row demo leaf falls from 806,534 B (4.0 B/row; its
  dense millisecond timestamps alone were 802,402 B stored PLAIN) to
  4,309 B, with 922 B of timestamps; perfbench's ``mixed_http`` table,
  write history included, falls from 6.6 to 2.9 B/row. Readers need no
  option: one relation mixes snappy/v1 files written before this
  layout with zstd/v2 ones, and rewrites and compactions convert a
  table's older files as they go.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseries_db_spark.schema import TS_SCHEMA

KEY = ["timestamp", "tag"]
MAX_ERRORS = 10  # reference: `take 10 errors`, Handlers.hs:55,65,89

#: Auto-compaction threshold: a snapshot is one parquet relation over
#: the manifest's leaf dirs, but every live commit adds one more small
#: file (and one more listed dir) to each day it touched, so an
#: uncompacted table's per-query file count grows linearly with write
#: count. Once more than this many commit dirs are referenced by the
#: current manifest, the write that crossed the line folds them back to
#: one — amortized O(1) files per day partition, the same small-file
#: reasoning as Delta/Iceberg auto-OPTIMIZE.
AUTO_COMPACT_COMMITS = 16

#: Snapshot relations a table keeps for reuse, one per distinct set of
#: leaf dirs (see :meth:`TsTable._read_partitions`). Readers of one
#: version ask for a few sets — the whole table, a range of days, a tag's
#: leaves — and a write retires only the sets that held the leaves it
#: replaced or grew, so a few dozen cover the live working set.
RELATION_CACHE_MAX = 32

#: Parquet writer options for every data file the table writes (see
#: "Storage design" above); :meth:`TsTable._write_commit` is the only
#: writer of table parquet, for insert, update, delete, compact and
#: expire alike.
WRITE_OPTIONS = {"compression": "zstd", "parquet.writer.version": "v2"}


class DmlError(Exception):
    """Batch rejected; ``.errors`` lists ≤10 per-entry messages."""

    def __init__(self, errors: list[str]):
        self.errors = errors[:MAX_ERRORS]
        super().__init__("; ".join(self.errors))


class ConcurrentWriteError(Exception):
    """Another writer committed since this operation read the manifest.

    The table's optimistic concurrency control (r8 — VERDICT r7 item 5):
    each write computes its new manifest from the version it READ, and
    the manifest file for version N+1 is created atomically
    (``os.link`` of a fully-fsync'd temp file — create-exclusive). Two
    writers racing from the same base version both try to create the
    same manifest file; the loser gets this error instead of silently
    orphaning the winner's commit via a last-write-wins pointer swap.
    The caller's remedy is re-read + retry (the batch data itself is
    unaffected — validation joins re-run against the new snapshot)."""


DAY_MS = 86_400_000


def utc_day_expr(ts_col: str):
    """UTC date from epoch-millis via pure integer day arithmetic — the
    ONE definition of the partition-date invariant (session-timezone
    independent; ``to_date(timestamp_millis(...))`` renders in session tz
    and desynchronizes writer and reader)."""
    days = F.floor(F.col(ts_col) / DAY_MS).cast("int")
    return F.date_add(F.lit("1970-01-01").cast("date"), days)


def utc_day_of_ms(ms: int) -> datetime.date:
    """Python twin of :func:`utc_day_expr` for manifest-side pruning.
    Raises ``OverflowError`` outside the years 1-9999."""
    return datetime.date(1970, 1, 1) + datetime.timedelta(days=ms // DAY_MS)


def _prune_day(ms: int | None) -> datetime.date | None:
    """The UTC day of a pruning bound, or None — prune nothing on that
    side — when there is no bound or it lies outside the calendar. Any
    Int64 is a legal bound; the exact row-level filter still applies."""
    if ms is None:
        return None
    try:
        return utc_day_of_ms(ms)
    except OverflowError:
        return None


def _with_dt(df: DataFrame) -> DataFrame:
    """UTC date partition column (see :func:`utc_day_expr`)."""
    return df.withColumn("dt", utc_day_expr("timestamp"))


class TsTable:
    """A tsdb table ``(timestamp:long, tag:string, value:double)`` stored
    as date-partitioned parquet commits under ``path`` with a versioned
    manifest (see module docstring for the commit protocol)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        auto_compact_commits: int = AUTO_COMPACT_COMMITS,
    ):
        self.spark = spark
        self.path = path
        #: commit-count ceiling before a write triggers compact();
        #: None/0 disables auto-compaction
        self.auto_compact_commits = auto_compact_commits
        #: sorted leaf dirs → their parquet relation, least recently used
        #: first
        self._relations: OrderedDict[tuple[str, ...], DataFrame] = OrderedDict()
        self._relations_lock = threading.Lock()

    # ---------- commit protocol ----------

    @property
    def _version_file(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "_manifests", f"m{version:010d}.json")

    def version(self) -> int:
        with open(self._version_file) as f:
            return int(f.read().strip())

    @staticmethod
    def _load_manifest(path: str) -> dict:
        """Read one manifest file — the single place manifests are
        decoded. On disk each distinct leaf tag set is stored once in
        ``tag_sets`` and ``tag_stats`` maps a leaf to its index (see
        :meth:`_publish`); in memory ``tag_stats`` is always ``{leaf:
        sorted tags | None}``. Manifests written before interning carry
        the lists inline, and pre-r9 ones have no ``tag_stats`` at all;
        both load unchanged."""
        with open(path) as f:
            m = json.load(f)
        sets = m.pop("tag_sets", None)
        if sets is not None and "tag_stats" in m:
            m["tag_stats"] = {
                leaf: None if i is None else sets[i]
                for leaf, i in m["tag_stats"].items()
            }
        return m

    def _manifest(self) -> dict:
        return self._load_manifest(self._manifest_path(self.version()))

    def _resolve_manifest(self, version: int) -> dict:
        """Range-checked, retention-aware manifest load — the single
        implementation behind read()/changes()/restore() time travel
        (review r8: three hand-copies had already appeared)."""
        current = self.version()
        if not 0 <= version <= current:
            raise ValueError(f"version {version} out of range [0, {current}]")
        try:
            return self._load_manifest(self._manifest_path(version))
        except FileNotFoundError:
            raise ValueError(
                f"version {version} has been vacuumed (retention window "
                "passed it)"
            ) from None

    def _publish(
        self,
        partitions: dict[str, list[str]],
        base_version: int | None = None,
        tag_stats: dict[str, list[str] | None] | None = None,
    ) -> None:
        """Commit ``partitions`` as version ``base_version + 1``.

        ``base_version`` is the version the calling operation READ its
        manifest at — the CAS token. The new manifest is staged to a
        temp file (fully written + fsync'd) and then ``os.link``-ed into
        place: link is atomic create-exclusive, so exactly one writer
        per target version wins, and a manifest file can never be
        observed half-written. The loser raises
        :class:`ConcurrentWriteError` — its merged partition map was
        computed from a snapshot that is no longer current.

        The version-pointer swap afterwards is idempotent (any process
        re-writing the same value is harmless); a crash between link
        and swap leaves a complete, durable manifest that
        :meth:`recover` rolls forward."""
        if base_version is None:
            base_version = self.version()
        new_version = base_version + 1
        # tag index upkeep: store stats only for leaf dirs the new
        # manifest actually references (dropped partitions shed their
        # entries); None carries the current manifest's stats forward
        # (truncate publishes {} → stats empty; replaced leaves vanish)
        if tag_stats is None:
            tag_stats = self._manifest().get("tag_stats", {})
        live = {leaf for dirs in partitions.values() for leaf in dirs}
        # intern tag sets: most leaves share one (every day of a table
        # holds the same tags), so each distinct set is written once and
        # leaves refer to it by index — manifests are never vacuumed by
        # default, so their size is paid on every version
        sets: dict[tuple[str, ...], int] = {}
        live_stats = {
            leaf: None if tags is None else sets.setdefault(tuple(tags), len(sets))
            for leaf, tags in tag_stats.items()
            if leaf in live
        }
        manifest = {
            "version": new_version,
            "partitions": partitions,
            "tag_sets": [list(tags) for tags in sets],
            "tag_stats": live_stats,
        }
        mpath = self._manifest_path(new_version)
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {new_version} was committed by another writer "
                f"since this operation read version {base_version}; "
                "re-read and retry"
            ) from None
        finally:
            os.unlink(tmp)
        self._advance_pointer(new_version)

    def _advance_pointer(self, new_version: int) -> None:
        """Monotonic version-pointer advance: read-compare-replace under
        an exclusive flock so a STALLED writer resuming its swap can
        never regress the pointer below a later commit (which would
        serve readers a stale snapshot and CAS-wedge every writer until
        a recover()). The manifest-link CAS serializes who may commit a
        version; this lock only serializes the few-microsecond pointer
        update."""
        import fcntl

        lock_path = self._version_file + ".lock"
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                if self.version() >= new_version:
                    return
                tmp = self._version_file + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    f.write(str(new_version))
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, self._version_file)
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)

    def recover(self) -> int:
        """Finish interrupted commits: a writer that crashed between
        manifest creation and pointer swap leaves a complete manifest
        for version ``current + 1`` with a stale pointer — roll the
        pointer forward so the committed data becomes visible and the
        version slot unblocks. Returns the (possibly advanced) current
        version. Safe to run concurrently with writers: the pointer
        write is idempotent per version and strictly monotonic here."""
        while os.path.exists(self._manifest_path(self.version() + 1)):
            self._advance_pointer(self.version() + 1)
        return self.version()

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        *,
        auto_compact_commits: int = AUTO_COMPACT_COMMITS,
    ) -> "TsTable":
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "commits"), exist_ok=True)
        table = cls(spark, path, auto_compact_commits=auto_compact_commits)
        with open(table._manifest_path(0), "w") as f:
            json.dump({"version": 0, "partitions": {}}, f)
        with open(table._version_file, "w") as f:
            f.write("0")
        if df is not None:
            table.insert(df)
        return table

    # ---------- read path ----------

    def _read_partitions(self, partitions: dict[str, list[str]], only: set[str] | None = None) -> DataFrame:
        """The snapshot ``(timestamp, tag, value)`` of the manifest's leaf
        dirs (optionally restricted to a set of ``dt`` partitions) as ONE
        parquet relation. The schema is given, so Spark infers nothing
        and launches no job to build the plan; no ``dt`` column is
        carried (writes recompute it from the timestamp). No leaf dirs →
        an empty relation; ``limit(0)`` plans it as an empty local
        relation, which Catalyst folds away without a job.

        A relation is reused for the same sorted leaf dirs, since
        resolving one lists every dir on the driver. Reuse cannot serve
        stale data: a published leaf dir is never written again, and
        every write that adds or replaces leaves changes the set. The
        ``RELATION_CACHE_MAX`` most recently used sets are kept."""
        key = tuple(sorted(
            os.path.join(self.path, "commits", rel)
            for dt, rels in partitions.items()
            if only is None or dt in only
            for rel in rels
        ))
        if not key:
            return self.spark.createDataFrame([], TS_SCHEMA).limit(0)
        with self._relations_lock:
            rel = self._relations.get(key)
            if rel is not None:
                self._relations.move_to_end(key)
                return rel
        rel = self.spark.read.schema(TS_SCHEMA).parquet(*key)
        with self._relations_lock:
            self._relations[key] = rel
            if len(self._relations) > RELATION_CACHE_MAX:
                self._relations.popitem(last=False)
        return rel

    def read(
        self,
        version: int | None = None,
        *,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
        tag_eq: str | None = None,
    ) -> DataFrame:
        """Snapshot as ``(timestamp, tag, value)`` — the current version,
        or any retained historical version (time travel). Every commit
        writes a new manifest and never mutates published files, so old
        versions stay readable until :meth:`vacuum` drops their files.

        ``lo_ms``/``hi_ms`` (inclusive epoch-millis bounds) prune at the
        MANIFEST level: partitions whose date lies wholly outside the
        range are never added to the plan — no file listing, no scan.
        The manifest is the engine's timestamp index (the
        scale analog of the reference's IntMap subtree pruning); callers
        still apply the exact row-level filter to the survivors.

        ``tag_eq`` (r9) prunes on the manifest's per-leaf TAG STATS the
        same way — the storage analog of the reference's TagIndex
        (Model.hs:92): leaf dirs whose recorded tag set excludes the tag
        never enter the plan. Leaves without stats (pre-r9 manifests, or
        > TAG_STATS_MAX distinct tags) are conservatively kept; callers
        still apply the exact row-level tag filter."""
        manifest = (
            self._manifest() if version is None else self._resolve_manifest(version)
        )
        partitions = manifest["partitions"]
        if tag_eq is not None:
            stats = manifest.get("tag_stats", {})
            partitions = {}
            for dt, dirs in manifest["partitions"].items():
                keep = [
                    r for r in dirs
                    if stats.get(r) is None or tag_eq in stats[r]
                ]
                if keep:
                    partitions[dt] = keep
        only: set[str] | None = None
        lo_d, hi_d = _prune_day(lo_ms), _prune_day(hi_ms)
        if lo_d is not None or hi_d is not None:
            only = {
                dt
                for dt in partitions
                if (lo_d is None or datetime.date.fromisoformat(dt) >= lo_d)
                and (hi_d is None or datetime.date.fromisoformat(dt) <= hi_d)
            }
        return self._read_partitions(partitions, only=only)

    def exists(
        self,
        version: int | None = None,
        *,
        tag: str | None = None,
        ts: int | None = None,
    ) -> bool:
        """Presence probe: does the snapshot at ``version`` hold a row
        with ``tag`` and/or timestamp ``ts``? The storage side of the
        reference's index-membership lookups (``Tag.hs:58-67``,
        ``TS.hs:57-65``), which ignore a query's range bounds.

        A tag-only probe is answered from the manifest's tag stats, with
        no Spark job, when some live leaf lists the tag or every live
        leaf has stats. Otherwise the probe scans, pruned the way
        :meth:`read` prunes: a ``ts`` probe reads only that timestamp's
        day partition, and a ``tag`` probe only the leaves whose stats
        do not exclude the tag."""
        if ts is None:
            m = self._manifest() if version is None else self._resolve_manifest(version)
            stats = m.get("tag_stats", {})
            known = [stats.get(leaf) for dirs in m["partitions"].values() for leaf in dirs]
            if any(tags is not None and tag in tags for tags in known):
                return True
            if all(tags is not None for tags in known):
                return False
        pred = None
        if tag is not None:
            pred = F.col("tag") == F.lit(tag)
        if ts is not None:
            p = F.col("timestamp") == F.lit(ts)
            pred = p if pred is None else pred & p
        df = self.read(version, lo_ms=ts, hi_ms=ts, tag_eq=tag)
        return not df.filter(pred).isEmpty()

    # ---------- write path ----------

    #: Per-leaf tag-set stats cap: a leaf with more distinct tags than
    #: this stores None (unknown — never pruned). Keeps manifests small
    #: under high-cardinality tags while indexing the common case.
    TAG_STATS_MAX = 64

    def _write_commit(
        self, df: DataFrame
    ) -> tuple[str, dict[str, list[str]], dict[str, list[str] | None]]:
        """Stage ``df`` as a new commit dir; returns (commit_name,
        {dt: [relative leaf dir]}, {relative leaf dir: sorted tag list
        or None}). Data is hash-distributed by dt and sorted by
        (tag, timestamp) within files so parquet row-group stats cluster
        tags; the per-leaf tag sets go into the manifest as the
        MANIFEST-level tag index (r9) — the storage-side analog of the
        reference's composite TagIndex (Model.hs:92): a tagEq read
        prunes whole leaf dirs before any file is listed. Stats are
        aggregated from the files just written (two columns, freshly
        cached by the OS), never by re-evaluating ``df`` — arbitrary
        input plans must stay single-evaluation (the expire() lesson,
        ADVICE r8)."""
        name = f"c{self.version() + 1:010d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, "commits", name)
        (
            _with_dt(df.select("timestamp", "tag", "value"))
            .repartition("dt")
            .sortWithinPartitions("dt", "tag", "timestamp")
            .write.options(**WRITE_OPTIONS)
            .partitionBy("dt")
            .parquet(out_dir)
        )
        parts: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if entry.startswith("dt="):
                parts[entry[3:]] = [f"{name}/{entry}"]
        stats: dict[str, list[str] | None] = {}
        if parts:
            rows = (
                self.spark.read.option("basePath", out_dir)
                .parquet(out_dir)
                .groupBy(F.col("dt").cast("string").alias("dt"))
                .agg(F.collect_set("tag").alias("tags"))
                .collect()
            )
            for r in rows:
                leaf = parts[r["dt"]][0]
                tags = r["tags"]
                stats[leaf] = (
                    sorted(tags) if len(tags) <= self.TAG_STATS_MAX else None
                )
        return name, parts, stats

    def _batch_dts(self, batch: DataFrame) -> set[str]:
        rows = _with_dt(batch).select("dt").distinct().collect()
        return {str(r["dt"]) for r in rows}

    def _check_no_nulls(self, batch: DataFrame, cols: list[str]) -> None:
        """NULL in a key or value corrupts the table invariants: null keys
        never match the existence joins (duplicates slip through, rows
        become un-updatable), and a null timestamp writes the hive default
        partition, which the manifest date pruning cannot parse. The
        reference's schema is total (aeson rejects missing fields), so
        reject nulls outright.

        Skipped entirely (no Spark job) when every checked column is
        non-nullable in the batch schema — the engine's own TS_SCHEMA
        batches and parquet round-trips carry that guarantee, so the
        count job would be pure fixed overhead (r6 VERDICT item 5)."""
        fields = {f.name: f for f in batch.schema.fields}
        if all(not fields[c].nullable for c in cols if c in fields):
            return
        pred = None
        for c in cols:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        bad = batch.filter(pred).limit(MAX_ERRORS).collect()
        if bad:
            raise DmlError(
                [f"NULL field in entry: {r.asDict()}." for r in bad]
            )

    def _live_dts(self, manifest: dict[str, list[str]], batch: DataFrame) -> set[str]:
        """Touched partitions that actually exist in the manifest — the
        scan set for validation joins. Empty ⇒ the table holds none of
        the batch's dates, so table-side checks short-circuit without a
        join job."""
        return {dt for dt in self._batch_dts(batch) if dt in manifest}

    def insert(self, batch: DataFrame) -> None:
        """Append-only insert; rejects existing keys, intra-batch
        duplicates, and NULL fields, all-or-nothing, ≤10 error messages.

        Validation is ONE Spark job: the intra-batch duplicate probe and
        the existing-key conflict probe (each pre-limited to 10 rows)
        union into a single collect, discriminated by ``why`` — halving
        the fixed per-op job overhead vs separate collects."""
        batch = batch.select("timestamp", "tag", "value")
        self._check_no_nulls(batch, ["timestamp", "tag", "value"])
        # intra-batch duplicates (reference anomaly fix — SURVEY.md §2.4)
        dups_q = (
            batch.groupBy(*KEY)
            .count()
            .filter(F.col("count") > 1)
            .select(*KEY, F.lit("dup").alias("why"))
            .limit(MAX_ERRORS)
        )
        m = self._manifest()
        manifest, base = m["partitions"], m["version"]
        live = self._live_dts(manifest, batch)
        bad_q = dups_q
        if live:
            # existing-key conflicts — only the batch's LIVE partitions are
            # scanned, and the batch side broadcasts (validInsert
            # semantics, Queries.hs:76-77); expressed table-side (current
            # SEMI JOIN broadcast(batch)) so the small batch is the
            # broadcast build side and the table partitions stream
            # through — one scan, no table shuffle
            current = self._read_partitions(manifest, only=live)
            conflicts_q = (
                current.join(
                    F.broadcast(batch.select(*KEY)), on=KEY, how="left_semi"
                )
                .select(*KEY, F.lit("exists").alias("why"))
                .limit(MAX_ERRORS)
            )
            bad_q = bad_q.unionByName(conflicts_q)
        bad = bad_q.collect()
        from timeseries_db_spark import wire

        # deterministic report order regardless of union partition order:
        # duplicates first (as the sequential checks raised them), then
        # conflicts, each sorted by key
        errors = [
            f"Duplicate key in batch: timestamp={r['timestamp']}, tag={r['tag']}."
            for r in sorted(
                (r for r in bad if r["why"] == "dup"),
                key=lambda r: (r["timestamp"], r["tag"]),
            )
        ] + [
            wire.key_exists(r["timestamp"], r["tag"])
            for r in sorted(
                (r for r in bad if r["why"] == "exists"),
                key=lambda r: (r["timestamp"], r["tag"]),
            )
        ]
        if errors:
            raise DmlError(errors)
        _, new_parts, new_stats = self._write_commit(batch)
        merged = {dt: list(dirs) for dt, dirs in manifest.items()}
        for dt, dirs in new_parts.items():
            merged.setdefault(dt, [])
            merged[dt] = merged[dt] + dirs
        self._publish(merged, base, {**m.get("tag_stats", {}), **new_stats})
        self._maybe_auto_compact()

    def _rewrite_partitions(self, touched: set[str], new_data: DataFrame) -> None:
        """Publish a new version where the ``touched`` partitions' contents
        are replaced by ``new_data`` (other partitions untouched)."""
        m = self._manifest()
        manifest, base = m["partitions"], m["version"]
        _, new_parts, new_stats = self._write_commit(new_data)
        merged = {dt: list(dirs) for dt, dirs in manifest.items() if dt not in touched}
        for dt, dirs in new_parts.items():
            merged[dt] = dirs
        self._publish(merged, base, {**m.get("tag_stats", {}), **new_stats})
        self._maybe_auto_compact()

    def _check_dups_and_missing(
        self, batch: DataFrame, current: DataFrame, op: str, *,
        check_dups: bool,
    ) -> None:
        """Fused validation collect for update/delete: intra-batch
        duplicate keys and missing keys in ONE job. ``current`` is the
        live-partition snapshot (possibly the empty base when no live
        partition overlaps the batch — then every key is missing and the
        anti join is a no-scan local plan). Duplicate errors take
        precedence, mirroring the sequential checks they replace."""
        keys = batch.select(*KEY)
        probes = []
        if check_dups:
            probes.append(
                batch.groupBy(*KEY)
                .count()
                .filter(F.col("count") > 1)
                .select(*KEY, F.lit("dup").alias("why"))
                .limit(MAX_ERRORS)
            )
        # anti join builds on the right side; the touched-partition key
        # set is the natural build side (AQE picks broadcast vs shuffle)
        probes.append(
            keys.join(current.select(*KEY), on=KEY, how="left_anti")
            .select(*KEY, F.lit("missing").alias("why"))
            .limit(MAX_ERRORS)
        )
        bad_q = probes[0]
        for p in probes[1:]:
            bad_q = bad_q.unionByName(p)
        bad = bad_q.collect()
        if not bad:
            return
        from timeseries_db_spark import wire

        for why in ("dup", "missing"):
            rows = sorted(
                (r for r in bad if r["why"] == why),
                key=lambda r: (r["timestamp"], r["tag"]),
            )
            if not rows:
                continue
            if why == "dup":
                raise DmlError(
                    [
                        f"Duplicate key in batch: timestamp={r['timestamp']}, "
                        f"tag={r['tag']}."
                        for r in rows
                    ]
                )
            raise DmlError(
                [wire.key_not_found(r["timestamp"], r["tag"], op) for r in rows]
            )

    def update(self, batch: DataFrame) -> None:
        """Value-only in-place update by key (``vUpdateTS`` semantics,
        ``Queries.hs:126-129``); rewrites only the touched partitions.

        Intra-batch duplicate keys are rejected: a DataFrame batch has no
        row order, so "last write wins" is undefined — and the merge join
        below would otherwise fan out one table row per duplicate."""
        batch = batch.select("timestamp", "tag", F.col("value").alias("_new_value"))
        self._check_no_nulls(batch, ["timestamp", "tag", "_new_value"])
        manifest = self._manifest()["partitions"]
        touched = self._batch_dts(batch.select("timestamp", "tag"))
        live = {dt for dt in touched if dt in manifest}
        current = self._read_partitions(manifest, only=live)
        self._check_dups_and_missing(batch, current, "update", check_dups=True)
        updated = (
            current.join(F.broadcast(batch), on=KEY, how="left")
            .withColumn("value", F.coalesce(F.col("_new_value"), F.col("value")))
            .select("timestamp", "tag", "value")
        )
        self._rewrite_partitions(touched, updated)

    def delete(self, keys: DataFrame) -> None:
        """Delete by key (``clearTS`` semantics, ``Handlers.hs:71-89``);
        rewrites only the touched partitions."""
        keys = keys.select(*KEY)
        self._check_no_nulls(keys, list(KEY))
        manifest = self._manifest()["partitions"]
        touched = self._batch_dts(keys)
        live = {dt for dt in touched if dt in manifest}
        current = self._read_partitions(manifest, only=live)
        self._check_dups_and_missing(keys, current, "delete", check_dups=False)
        remaining = current.join(F.broadcast(keys), on=KEY, how="left_anti").select(
            "timestamp", "tag", "value"
        )
        self._rewrite_partitions(touched, remaining)

    def truncate(self) -> None:
        """Reset to empty (DELETE with empty body — ``Handlers.hs:72-73``)."""
        self._publish({})

    def expire(self, before_ms: int) -> None:
        """Retention drop: delete every row with ``timestamp <
        before_ms``. Date partitions that end before the cutoff are
        removed as PURE MANIFEST EDITS — no data read, no rewrite,
        O(partitions) dict operations — which is the payoff of the
        date-partitioned layout at 100 TB (a day's retention expiry on
        a petabyte table is one manifest line per partition). Only the
        single boundary day is actually rewritten, and not even that
        when the cutoff falls exactly on a day boundary. Dropped files
        stay on disk for time travel (``read(version=...)`` of an older
        version still sees them); :meth:`vacuum` reclaims them."""
        m = self._manifest()
        manifest, base = m["partitions"], m["version"]
        cutoff_day = str(utc_day_of_ms(before_ms))
        # keep days strictly after the cutoff day untouched
        merged = {
            dt: list(dirs) for dt, dirs in manifest.items() if dt > cutoff_day
        }
        if before_ms % DAY_MS == 0:
            # cutoff at a day boundary: the cutoff day itself survives whole
            if cutoff_day in manifest:
                merged[cutoff_day] = list(manifest[cutoff_day])
        elif cutoff_day in manifest:
            keep = self._read_partitions(manifest, only={cutoff_day}).filter(
                F.col("timestamp") >= before_ms
            )
            # ONE evaluation of the boundary partition (ADVICE r8: a
            # limit(1).count() emptiness probe before the write read the
            # same day twice): write first, and let the returned
            # partition map decide — a fully-expired boundary day yields
            # an empty map (plus one unreferenced commit dir, which
            # vacuum() reclaims with the other dropped files)
            _, new_parts, new_stats = self._write_commit(keep)
            for dt, dirs in new_parts.items():
                merged[dt] = dirs
            self._publish(
                merged, base, {**m.get("tag_stats", {}), **new_stats}
            )
            self._maybe_auto_compact()
            return
        self._publish(merged, base)
        self._maybe_auto_compact()

    def history(self) -> list[dict]:
        """Version history of RETAINED manifests, newest first — the
        DESCRIBE HISTORY analog: one dict per version with its partition
        and commit-dir counts. Reads only manifest JSON (no data files),
        so it is O(retained versions)."""
        mdir = os.path.join(self.path, "_manifests")
        # ONE pointer read for the whole listing (review r8): per-entry
        # re-reads raced a concurrent commit into a listing with zero
        # rows flagged current; and manifests ABOVE the pointer (a
        # commit mid-swap / awaiting recover()) are excluded — every
        # listed version is one read()/restore() will accept
        current = self.version()
        out = []
        for entry in sorted(os.listdir(mdir), reverse=True):
            if not (entry.startswith("m") and entry.endswith(".json")):
                continue
            m = self._load_manifest(os.path.join(mdir, entry))
            if m["version"] > current:
                continue
            parts = m["partitions"]
            out.append(
                {
                    "version": m["version"],
                    "n_partitions": len(parts),
                    "n_commits": len(
                        {
                            rel.split("/", 1)[0]
                            for dirs in parts.values()
                            for rel in dirs
                        }
                    ),
                    "current": m["version"] == current,
                }
            )
        return out

    def restore(self, version: int) -> None:
        """Roll the table BACK to a retained historical version — the
        Delta RESTORE analog: publishes a NEW version whose partition map
        is the old manifest's, so the rollback is itself a commit
        (time-travel can see both the mistake and the recovery, and the
        CAS applies like any write). O(manifest) — no data files move;
        the restored version must still be within the vacuum retention
        window."""
        current = self.version()
        manifest = self._resolve_manifest(version)
        # carry the RESTORED manifest's tag stats, not the current one's
        self._publish(
            manifest["partitions"], current, manifest.get("tag_stats", {})
        )
        # a pre-compaction manifest can reference many commit dirs;
        # maintain the live-commit ceiling like every other write path
        self._maybe_auto_compact()

    # ---------- change feed ----------

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Keyed change feed between two retained versions (the
        Delta-CDF shape): ``(timestamp, tag, value_before, value_after,
        change)`` with ``change`` ∈ {insert, update, delete} — what a
        downstream incremental consumer replays instead of re-reading
        the table.

        Scale: the MANIFEST DIFF is the change index. A date partition
        whose file list is identical in both manifests cannot contain a
        change (commits never mutate published files), so only
        differing partitions are read — an incremental consumer of a
        100 TB table scans O(changed partitions), not two full
        snapshots. Within those, the two snapshots full-outer-join on
        the key; rows merely rewritten with equal values (update/delete
        rewrites copy untouched neighbors) are filtered out."""
        if to_version is None:
            to_version = self.version()
        if from_version > to_version:
            raise ValueError(
                f"changes(): from_version {from_version} > to_version "
                f"{to_version} — a swapped range would silently invert "
                "insert/delete labels"
            )
        m_from, m_to = (
            self._resolve_manifest(from_version)["partitions"],
            self._resolve_manifest(to_version)["partitions"],
        )
        changed = {
            dt
            for dt in set(m_from) | set(m_to)
            if sorted(m_from.get(dt, [])) != sorted(m_to.get(dt, []))
        }
        before = self._read_partitions(m_from, only=changed).select(
            "timestamp", "tag", F.col("value").alias("value_before")
        )
        after = self._read_partitions(m_to, only=changed).select(
            "timestamp", "tag", F.col("value").alias("value_after")
        )
        vb, va = F.col("value_before"), F.col("value_after")
        return (
            before.join(after, on=KEY, how="full_outer")
            .withColumn(
                "change",
                F.when(vb.isNull(), "insert")
                .when(va.isNull(), "delete")
                .otherwise("update"),
            )
            # rewritten-but-equal rows are not changes
            .filter(~vb.eqNullSafe(va))
        )

    # ---------- maintenance ----------

    def live_commit_count(self) -> int:
        """Distinct commit dirs referenced by the current manifest — the
        most files an unpruned snapshot reads per day partition."""
        return len(
            {
                rel.split("/", 1)[0]
                for dirs in self._manifest()["partitions"].values()
                for rel in dirs
            }
        )

    def _maybe_auto_compact(self) -> None:
        if not self.auto_compact_commits:
            return
        if self.live_commit_count() > self.auto_compact_commits:
            try:
                self.compact()
            except ConcurrentWriteError:
                # the triggering write ALREADY committed; opportunistic
                # compaction losing an OCC race to another writer must
                # not surface as failure of that write — the next write
                # past the threshold will compact
                pass

    def compact(self) -> None:
        """Fold all commits into one (one file set per partition)."""
        base = self.version()
        snapshot = self.read(base)
        manifest = self._manifest()["partitions"]
        if not manifest:
            return
        _, new_parts, new_stats = self._write_commit(snapshot)
        self._publish(new_parts, base, new_stats)

    def vacuum(self, retain_versions: int = 0) -> None:
        """Remove commit dirs (and manifests) not referenced by the
        current manifest or by the last ``retain_versions`` historical
        versions — the Delta/Iceberg VACUUM-with-retention shape (r8:
        the old form dropped everything unreferenced, silently breaking
        time travel for every retained manifest).

        ``retain_versions=0`` keeps only the current snapshot readable;
        ``retain_versions=N`` guarantees ``read(version=v)`` for the
        last N+1 versions. Manifests older than the retention window
        are deleted too, so a time-travel read of a vacuumed version
        fails fast at manifest resolution instead of at scan time with
        missing files.

        Two safety rules (code-review r8): manifests already vacuumed by
        a previous, tighter run are skipped rather than crashing a later
        wider-retention call; and manifests ABOVE the current pointer —
        a commit whose writer is mid-pointer-swap or crashed before it
        (exactly what :meth:`recover` rolls forward) — are treated as
        live, so vacuum racing an in-flight commit can never delete the
        data a recover() is about to publish. Commit dirs staged but
        referenced by NO manifest (a crash before the manifest link)
        remain reclaimable."""
        current = self.version()
        keep_start = max(0, current - retain_versions)
        mdir = os.path.join(self.path, "_manifests")
        # v >= keep_start covers both the retention window AND any
        # pending manifest above the current pointer
        keep_versions = sorted(
            v
            for entry in os.listdir(mdir)
            if entry.startswith("m")
            and entry[1:11].isdigit()
            and entry.endswith(".json")
            and (v := int(entry[1:11])) >= keep_start
        )
        live: set[str] = set()
        for v in keep_versions:
            try:
                manifest = self._load_manifest(self._manifest_path(v))
            except FileNotFoundError:
                continue
            live |= {
                rel.split("/", 1)[0]
                for dirs in manifest["partitions"].values()
                for rel in dirs
            }
        commits_dir = os.path.join(self.path, "commits")
        for entry in os.listdir(commits_dir):
            if entry not in live:
                shutil.rmtree(os.path.join(commits_dir, entry))
        for entry in os.listdir(mdir):
            v = int(entry[1:11]) if entry[1:11].isdigit() else None
            if v is not None and v < keep_start:
                os.unlink(os.path.join(mdir, entry))
