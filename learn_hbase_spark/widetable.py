"""WideTable — the engine's wide-column table abstraction.

Covers the reference's HBase client capability surface (``HBaseClient.java``:
create table :80-93, exists :75-78, point get :149-158, single/batched put
:95-147, range scan with projection+filter ``RdlETL2.java:42-63``) as a thin,
typed layer over partitioned Parquet — Spark-first, not a KV-store port.

Design (SURVEY §1.6, §7.1):

- Canonical layout is **long/normalized**: one row per cell,
  ``(rowkey, family, qualifier, value, version)``; dynamic data-dependent
  qualifiers (the reference's per-day ``yyyyMMdd`` columns,
  ``RdlETL.java:121``) are plain data here, so schema never churns.
- Files are hash-partitioned by ``prefix = substring(rowkey, 1, 4)`` — the
  same 4-char grid-branch prefix every reference stage range-scans on
  (``RdlETL.java:63-64``). Prefix predicates become Parquet **partition
  pruning** instead of start/stop row handles.
- Writes are LSM-ish: every ``put`` appends a new batch stamped with a
  monotonically increasing ``version``; reads resolve latest-wins per cell
  (the HBase upsert semantic, SURVEY §1.4) with a window; ``compact()``
  rewrites to one version. At 100 TB the same design holds: appends are
  cheap blind writes, compaction is an idempotent per-partition rewrite,
  and scans prune partitions before touching data.
- Point operations skip the window. A point ``get``, the read side of
  ``update_index`` on a rowkey list and a small index probe's fetch read
  cells bounded by a few rows' qualifiers × versions, so they collect the
  raw cells in one job and resolve them on the driver
  (``_latest_cells``). The result is a local relation: an eager snapshot,
  as an HBase Get result is. Single-row writes build their rows as a
  ``pyarrow.Table`` (``_local``), a JVM local relation, instead of a
  Python RDD.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# The index segment stack and the ANN artifact share ONE crash-safety
# implementation (storage/artifact.py): committed-file-less directories
# read as ABSENT (interrupted delete, crashed write's _temporary remnant);
# any other read failure re-raises loud; all moves/deletes go through the
# Hadoop FS API so they work on cluster URIs.
from . import driver_path
from .storage.artifact import hadoop_fs, hadoop_path, sweep_trash
from .storage.artifact import try_parquet as _try_parquet
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CELL_SCHEMA = StructType(
    [
        StructField("rowkey", StringType(), False),
        StructField("family", StringType(), False),
        StructField("qualifier", StringType(), False),
        StructField("value", StringType(), True),
        StructField("version", LongType(), False),
    ]
)

# on-disk layout = cell schema + the derived partition column(s)
STORED_SCHEMA = StructType(
    list(CELL_SCHEMA.fields) + [StructField("prefix", StringType(), True)]
)

# sub-partitioned layout (n_subpartitions > 0): prefix/bucket two-level dirs
STORED_SCHEMA_BUCKETED = StructType(
    list(STORED_SCHEMA.fields) + [StructField("bucket", IntegerType(), True)]
)

PREFIX_LEN = 4  # the reference's grid-branch prefix width (YhCldETL.java:30)

_CELL_COLS = ["rowkey", "family", "qualifier", "value"]


def _latest_cells(cells) -> list[tuple]:
    """Driver-side twin of ``WideTable._latest`` for a bounded cell set.

    ``cells`` holds ``(rowkey, family, qualifier, value, version)`` tuples.
    Per cell key the highest ``version`` wins; a version tie breaks on
    ``value`` descending with nulls last, the window's exact order (Python
    compares ``str`` by code point, which is the UTF-8 byte order Spark
    compares strings in). A winning ``None`` is a tombstone and drops the
    cell. Returns ``(rowkey, family, qualifier, value)`` sorted by key."""
    best: dict[tuple, tuple] = {}
    for rowkey, family, qualifier, value, version in cells:
        rank = (version, value is not None, value or "")
        key = (rowkey, family, qualifier)
        if key not in best or rank > best[key]:
            best[key] = rank
    return [(*key, rank[2]) for key, rank in sorted(best.items()) if rank[1]]

# Spark's partition-directory escaping (Hive FileUtils.escapePathName via
# ExternalCatalogUtils): control chars 0x01-0x1F, DEL, and this literal set
# become %XX (uppercase hex). Verified empirically against Spark 4.1's
# partitioned-parquet writer (space is NOT escaped; '}' is not either).
_PARTITION_ESCAPE = set(map(chr, range(0x01, 0x20))) | set('"#%\'*/:=?\\\x7f{[]^')
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_partition_value(v: str | None) -> str:
    """Directory-name form of a partition value, exactly as Spark's writer
    produces it — so path-math on ``prefix=<value>`` dirs agrees with what
    is on disk even for prefixes containing ':', '=', '%', etc."""
    if v is None or v == "":
        return _DEFAULT_PARTITION
    return "".join(
        f"%{ord(c):02X}" if c in _PARTITION_ESCAPE else c for c in v
    )


# Table-descriptor file persisted inside the table directory. The leading
# underscore makes parquet readers ignore it (Spark's FileIndex skips files
# starting with '_' or '.'), so it can live next to the data — the HBase
# analogue is the HTableDescriptor the master stores per table.
_DESCRIPTOR_NAME = "_table_descriptor.json"

# Monotonic max-write stamp sidecar (same one-tiny-file idiom as the index
# '_built' stamp): every write path bumps it BEFORE its data lands, so an
# index freshness probe is ONE file read instead of a recursive listStatus
# over the whole table — on a 100 TB table (1e5-1e6 files between
# compactions) the per-lookup full-tree walk was a multi-second driver
# stall on exactly the operation whose purpose is to avoid touching the
# table. Write-before-data keeps the stamp conservative: a crash between
# stamp and data can only make a fresh index look stale, never a stale one
# look fresh. The listing walk survives as the recovery/audit path for
# tables written before the sidecar existed.
_LASTWRITE_NAME = "_lastwrite"


class WideTable:
    """A wide-column table persisted as prefix-partitioned Parquet.

    ``ttl`` maps family → seconds (HBase ``HColumnDescriptor.setTimeToLive``):
    cells whose write stamp (``version``, epoch ns) is older than the family's
    TTL are invisible to every read and physically purged by ``compact()``.
    Families absent from the map never expire (HBase default FOREVER).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        families: list[str],
        ttl: dict[str, int] | None = None,
        counters: list[str] | None = None,
        n_subpartitions: int = 0,
    ):
        self.spark = spark
        self.path = path
        self.families = list(families)
        self.ttl = dict(ttl) if ttl else {}
        self.counters = list(counters) if counters else []
        self.n_subpartitions = int(n_subpartitions)
        if self.n_subpartitions < 0:
            raise ValueError("n_subpartitions must be >= 0")
        unknown = set(self.counters) - set(self.families)
        if unknown:
            raise ValueError(f"counter families not in families: {unknown}")

    # -- partition layout ---------------------------------------------------
    #
    # Default: one level, prefix=<first 4 rowkey chars> — the reference's
    # grid-branch region model. With ``n_subpartitions`` = N > 0 the layout
    # is two-level, prefix=<p>/bucket=<hash(rowkey) % N> — SCALE.md's
    # "Storage & layout" prescription for 100 TB, where a single hot prefix
    # outgrows one directory's practical file count and compaction unit.
    # The bucket hash is the repo's PORTABLE md5-hex family (not xxhash64)
    # so the driver can compute a point-get's bucket in pure Python and the
    # read prunes to ONE sub-directory without an extra Spark job.

    @property
    def _part_cols(self) -> list[str]:
        return ["prefix", "bucket"] if self.n_subpartitions else ["prefix"]

    def _bucket_expr(self, rowkey: Column) -> Column:
        return F.pmod(
            F.conv(F.substring(F.md5(rowkey), 1, 8), 16, 10).cast("long"),
            F.lit(self.n_subpartitions),
        ).cast("int")

    def _py_bucket(self, rowkey: str) -> int:
        import hashlib

        h = int(hashlib.md5(rowkey.encode("utf-8")).hexdigest()[:8], 16)
        return h % self.n_subpartitions

    def _stamp_partitions(self, df: DataFrame) -> DataFrame:
        out = df.withColumn(
            "prefix", F.substring("rowkey", 1, PREFIX_LEN)
        )
        if self.n_subpartitions:
            out = out.withColumn("bucket", self._bucket_expr(F.col("rowkey")))
        return out

    def _local(self, rows, names: list[str]) -> DataFrame:
        """Driver rows as a JVM local relation of nullable string columns
        (:func:`driver_path.local_frame`)."""
        cols = list(zip(*rows)) if rows else [()] * len(names)
        schema = StructType([StructField(n, StringType()) for n in names])
        return driver_path.local_frame(self.spark, cols, schema)

    # -- filesystem plumbing (portable across file:/hdfs:/s3a: schemes) -----

    def _hpath(self, p: str):
        return hadoop_path(self.spark, p)

    def _fs(self):
        """The Hadoop FileSystem owning ``self.path`` — resolved through the
        session's hadoopConfiguration so the same code works on local files,
        HDFS and object stores (os.path would silently answer for the driver's
        local disk only)."""
        return hadoop_fs(self.spark, self.path)[0]

    _ASIDE_MANIFEST = "_manifest.json"

    def _aside_manifest_path(self):
        return self._hpath(self.path + "__aside/" + self._ASIDE_MANIFEST)

    def _write_aside_manifest(
        self, fs, written: dict[str, list[str]], tombstoned: list[str]
    ) -> None:
        """Record what a targeted compaction is about to install BEFORE any
        partition swap: ``written`` maps each part it produced output for to
        the bucket children of that output (empty list when the part IS a
        bucket or the layout is flat); ``tombstoned`` lists parts the
        compaction legitimately resolved to zero rows. Without this record,
        ``_recover`` cannot tell a bucket lost mid-swap (must restore) from
        one compaction tombstoned away (must NOT resurrect)."""
        import json

        out = fs.create(self._aside_manifest_path(), True)
        try:
            payload = json.dumps(
                {"written": written, "tombstoned": tombstoned},
                sort_keys=True,
            )
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()

    def _read_aside_manifest(self, fs) -> dict | None:
        import json

        mpath = self._aside_manifest_path()
        if not fs.exists(mpath):
            return None
        stream = fs.open(mpath)
        try:
            text = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    def _recover(self, fs=None) -> None:
        """Heal a crash between ``compact()``'s two renames: if the main path
        is gone but the aside copy survives, rename it back. Also heals
        per-prefix compaction (``compact_prefixes``): any partition dir
        parked under ``<path>__aside`` whose main copy vanished is renamed
        back — unless the aside manifest says the compaction tombstoned that
        unit away, in which case the parked copy is physically deleted
        rather than resurrected (compaction is the table's physical purge
        mechanism; restoring a tombstoned-away partition would silently
        undo it). Idempotent."""
        fs = fs or self._fs()
        main = self._hpath(self.path)
        aside = self._hpath(self.path + "__old")
        if not fs.exists(main) and fs.exists(aside):
            fs.rename(aside, main)
        prefix_aside = self._hpath(self.path + "__aside")
        if fs.exists(prefix_aside):
            manifest = self._read_aside_manifest(fs)
            written = (manifest or {}).get("written", {})
            tombstoned = set((manifest or {}).get("tombstoned", []))
            for st in fs.listStatus(prefix_aside):
                name = st.getPath().getName()
                if name == self._ASIDE_MANIFEST:
                    continue
                dst = self._hpath(self.path + "/" + name)
                bucket_parks = (
                    [
                        b
                        for b in fs.listStatus(st.getPath())
                        if b.getPath().getName().startswith("bucket=")
                    ]
                    if st.isDirectory()
                    else []
                )
                if manifest is not None and (
                    name in written or name in tombstoned
                ):
                    # whole-prefix unit with a manifest record
                    if name in tombstoned:
                        fs.delete(st.getPath(), True)
                        continue
                    if not fs.exists(dst):
                        fs.rename(st.getPath(), dst)
                        continue
                    # install happened; heal bucket-by-bucket against the
                    # written-children record — a parked bucket ABSENT from
                    # the record was tombstoned away by the compaction, so
                    # delete it instead of renaming the stale copy back
                    wrote = set(written.get(name, []))
                    if not bucket_parks:
                        # flat layout (no bucket children): the installed
                        # main copy is the compacted partition and the park
                        # is its stale pre-compaction copy — delete it
                        fs.delete(st.getPath(), True)
                        continue
                    for b in bucket_parks:
                        bname = b.getPath().getName()
                        bdst = self._hpath(
                            self.path + "/" + name + "/" + bname
                        )
                        if bname in wrote and not fs.exists(bdst):
                            fs.rename(b.getPath(), bdst)
                        else:
                            fs.delete(b.getPath(), True)
                    if len(fs.listStatus(st.getPath())) == 0:
                        fs.delete(st.getPath(), True)
                    continue
                if manifest is not None and bucket_parks:
                    # bucket-level units: manifest keys are "prefix/bucket"
                    for b in bucket_parks:
                        unit = name + "/" + b.getPath().getName()
                        bdst = self._hpath(self.path + "/" + unit)
                        if unit in tombstoned:
                            fs.delete(b.getPath(), True)
                        elif unit in written:
                            if not fs.exists(bdst):
                                fs.rename(b.getPath(), bdst)
                            else:
                                fs.delete(b.getPath(), True)
                        elif not fs.exists(bdst):
                            # park in NEITHER manifest set: unreachable
                            # under the single-writer protocol (recover
                            # runs before each compaction), but if a stale
                            # pre-manifest park ever coexists with a fresh
                            # manifest, deleting it would be irreversible —
                            # fall back to the legacy conservative heal
                            # (restore when the main copy is missing)
                            fs.rename(b.getPath(), bdst)
                        else:
                            fs.delete(b.getPath(), True)
                    if len(fs.listStatus(st.getPath())) == 0:
                        fs.delete(st.getPath(), True)
                    continue
                # no manifest (pre-manifest park, or an unrelated leftover):
                # conservative legacy heal — restore anything whose main
                # copy is missing
                if not fs.exists(dst):
                    fs.rename(st.getPath(), dst)
                    continue
                if bucket_parks:
                    for b in bucket_parks:
                        bdst = self._hpath(
                            self.path + "/" + name + "/" + b.getPath().getName()
                        )
                        if not fs.exists(bdst):
                            fs.rename(b.getPath(), bdst)
                        else:
                            fs.delete(b.getPath(), True)
                    if len(fs.listStatus(st.getPath())) == 0:
                        fs.delete(st.getPath(), True)
                else:
                    # crash AFTER install but before aside cleanup: the main
                    # copy is the freshly-compacted partition and the parked
                    # dir is its stale pre-compaction copy — drop it, or it
                    # lingers until the prefix is recompacted
                    fs.delete(st.getPath(), True)
            # every parked unit above is healed, so the record is consumed
            if manifest is not None:
                fs.delete(self._aside_manifest_path(), False)
            self._sweep_empty_aside(fs, prefix_aside)

    def _sweep_empty_aside(self, fs, aside_root) -> None:
        if fs.exists(aside_root) and len(fs.listStatus(aside_root)) == 0:
            fs.delete(aside_root, True)

    # -- table descriptor (HTableDescriptor analogue) -----------------------

    def _write_descriptor(self, fs=None) -> None:
        import json

        fs = fs or self._fs()
        out = fs.create(self._hpath(self.path + "/" + _DESCRIPTOR_NAME), True)
        try:
            payload = json.dumps(
                {
                    "families": self.families,
                    "ttl": self.ttl,
                    "counters": self.counters,
                    "n_subpartitions": self.n_subpartitions,
                },
                sort_keys=True,
            )
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()

    def _read_ns_sidecar(self, hpath) -> int | None:
        """Read a one-integer sidecar file; None if it doesn't exist."""
        fs = self._fs()
        if not fs.exists(hpath):
            return None
        stream = fs.open(hpath)
        try:
            return int(
                self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            )
        finally:
            stream.close()

    def _lastwrite_ns(self) -> int | None:
        return self._read_ns_sidecar(
            self._hpath(self.path + "/" + _LASTWRITE_NAME)
        )

    def _bump_lastwrite(self, fs=None) -> int:
        """Advance the table's max-write stamp to now (monotonic: never
        moves backwards even under clock skew) and persist it. Called by
        every write path BEFORE its data lands — see _LASTWRITE_NAME."""
        fs = fs or self._fs()
        prev = self._lastwrite_ns() or 0
        stamp = max(prev + 1, time.time_ns())
        out = fs.create(self._hpath(self.path + "/" + _LASTWRITE_NAME), True)
        try:
            out.write(bytearray(str(stamp).encode("utf-8")))
        finally:
            out.close()
        return stamp

    @classmethod
    def _read_descriptor(cls, spark: SparkSession, path: str) -> dict:
        import json

        probe = cls(spark, path, [])
        fs = probe._fs()
        dpath = probe._hpath(path + "/" + _DESCRIPTOR_NAME)
        if not fs.exists(dpath):
            raise FileNotFoundError(
                f"no table descriptor at {path}/{_DESCRIPTOR_NAME}; pass "
                "families to the constructor for pre-descriptor tables"
            )
        stream = fs.open(dpath)
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    # -- DDL (S8/S9: HBaseClient.createTable/tableExists) -------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        families: list[str],
        ttl: dict[str, int] | None = None,
        counters: list[str] | None = None,
        overwrite: bool = False,
        n_subpartitions: int = 0,
    ) -> "WideTable":
        """Create-if-not-exists (HBaseClient.java:80-93 semantics). The
        family list, per-family TTL, counter-family set, and partition
        layout persist in the table descriptor, so ``open()`` recovers
        them without the caller re-stating schema — HBase's
        create(HTableDescriptor) + admin.getDescriptor parity.
        ``overwrite=True`` is the disable-and-drop-then-create admin flow:
        the table dir AND its secondary indexes are removed first.
        ``n_subpartitions`` > 0 selects the two-level
        ``prefix=<p>/bucket=<hash(rowkey) % N>`` layout (100 TB hot-prefix
        posture; see the partition-layout note above) — a per-table DDL
        choice fixed at create time, like HBase's split policy."""
        table = cls(
            spark, path, families, ttl=ttl, counters=counters,
            n_subpartitions=n_subpartitions,
        )
        if overwrite:
            fs = table._fs()
            fs.delete(table._hpath(path), True)
            fs.delete(table._hpath(path + "__idx"), True)
        if not table.exists():
            empty = table._local([], CELL_SCHEMA.names).withColumn(
                "version", F.col("version").cast("long")
            )
            (
                table._stamp_partitions(empty)
                .write.partitionBy(*table._part_cols)
                .mode("overwrite")
                .parquet(path)
            )
            table._write_descriptor()
            table._bump_lastwrite()
        return table

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "WideTable":
        """Open an existing table from its persisted descriptor."""
        desc = cls._read_descriptor(spark, path)
        return cls(
            spark,
            path,
            desc["families"],
            ttl=desc.get("ttl") or None,
            counters=desc.get("counters") or None,
            n_subpartitions=desc.get("n_subpartitions") or 0,
        )

    def exists(self) -> bool:
        fs = self._fs()
        self._recover(fs)
        return fs.exists(self._hpath(self.path))

    # -- writes (S5/S6: batched + single put, latest-wins upsert) -----------

    def put(self, cells: DataFrame) -> None:
        """Append a batch of cells; latest-wins resolution happens at read.

        ``cells`` must have (rowkey, family, qualifier, value). Batching,
        buffering and backpressure (the reference's hand-rolled
        ``List<Put>`` + sleeps, YhCldETL.java:94-102) are Spark's job.

        Family validation (HBaseClient.java:95-111 checks puts against the
        table's families) rides inside the write projection via
        ``raise_error`` — the put issues exactly ONE Spark action, never a
        separate validation job, and validated rows are by construction the
        written rows (no double evaluation of a non-deterministic input).
        A failed write is aborted by the output committer, leaving the
        table unchanged.
        """
        family_checked = F.when(
            F.col("family").isin(self.families), F.col("family")
        ).otherwise(
            # coalesce: concat(lit, NULL) would null the whole message and
            # the substring match below would miss, leaking a raw Py4J error
            F.raise_error(
                F.concat(
                    F.lit("unknown column family: "),
                    F.coalesce(F.col("family"), F.lit("<null>")),
                )
            )
        )
        stamped = self._stamp_partitions(
            cells.select(
                "rowkey",
                family_checked.alias("family"),
                "qualifier",
                "value",
                F.lit(self._next_version()).alias("version"),
            )
        )
        # stamp-before-data: a failed/aborted write leaves the stamp ahead
        # of the data (index probes read false-stale, never false-fresh)
        self._bump_lastwrite()
        try:
            stamped.write.partitionBy(*self._part_cols).mode("append").parquet(
                self.path
            )
        except Exception as exc:  # surface the guard as the typed API error
            if "unknown column family" in str(exc):
                raise ValueError(str(exc)) from exc
            raise

    def put_row(self, rowkey: str, family: str, pairs: dict[str, str]) -> None:
        """Single-row put (HBaseClient.java:113-147 overloads)."""
        rows = [(rowkey, family, q, v) for q, v in pairs.items()]
        self.put(self._local(rows, _CELL_COLS))

    def increment(
        self, rowkey: str, family: str, qualifier: str, delta: int = 1
    ) -> None:
        """HBase ``Increment`` / ``incrementColumnValue``: append a delta
        cell to a counter family; the live value is resolved as the
        tombstone-bounded sum at read (``_counter_totals``). Blind append —
        no read-modify-write, so concurrent incrementors compose exactly
        like HBase region-side counters."""
        if family not in self.counters:
            raise ValueError(
                f"{family!r} is not a counter family (counters: "
                f"{self.counters})"
            )
        self.put(
            self._local([(rowkey, family, qualifier, str(int(delta)))], _CELL_COLS)
        )

    def delete(self, rowkey: str, family: str, qualifier: str) -> None:
        """Delete a cell — LSM-style: append a TOMBSTONE (null value) that
        wins the latest-wins window, exactly HBase's Delete marker model.
        The cell disappears from reads immediately; the bytes disappear at
        the next ``compact()``. Deletes are therefore as cheap as writes
        (no read-modify-write, no table scan)."""
        self.put(self._local([(rowkey, family, qualifier, None)], _CELL_COLS))

    def merge(
        self,
        source: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        skip_unchanged: bool = True,
        now_ns: int | None = None,
    ) -> None:
        """MERGE INTO semantics on the LSM table (the Delta/Iceberg MERGE
        the SURVEY §1.6 mapping calls for, expressed natively — no extra
        jars): ``source`` rows ``(rowkey, family, qualifier, value)`` are
        matched against the CURRENT resolved view per cell key.

        ``when_matched``: 'update' | 'delete' | 'skip';
        ``when_not_matched``: 'insert' | 'skip'.
        ``skip_unchanged`` suppresses writes whose value already equals the
        live cell's — MERGE's no-op-row elision, which at 100 TB is the
        difference between rewriting a full snapshot's worth of versions
        every sync and appending only the true delta (write amplification
        ~ change rate, not snapshot size).

        Plain latest-wins upsert does not need this method (``put`` is
        cheaper — no read); merge() exists for the conditional shapes:
        insert-only ingest (``when_matched='skip'``), sync-with-deletes
        (``when_matched='delete'``), changed-cells-only replication.

        Implementation is one join of source against the resolved view on
        the cell key (both sides shuffle on it; the table side prunes
        columns to key+value) followed by ONE ``put`` of the surviving
        rows — matched updates, unmatched inserts, and matched deletes as
        tombstones. Like ``put``, the write is a blind append; a failed
        job aborts via the committer leaving the table unchanged.
        SINGLE-WRITER like compact().
        """
        if when_matched not in ("update", "delete", "skip"):
            raise ValueError(f"when_matched: {when_matched!r}")
        if when_not_matched not in ("insert", "skip"):
            raise ValueError(f"when_not_matched: {when_not_matched!r}")
        key = ["rowkey", "family", "qualifier"]
        current = self._resolve(self._ttl_live(self._cells(), now_ns)).select(
            *key, F.col("value").alias("_live_value")
        )
        joined = source.select(
            "rowkey", "family", "qualifier", "value"
        ).join(current, on=key, how="left")
        matched = F.col("_live_value").isNotNull()
        parts = []
        if when_matched == "update":
            upd = joined.filter(matched)
            if skip_unchanged:
                upd = upd.filter(
                    ~F.col("value").eqNullSafe(F.col("_live_value"))
                )
            parts.append(upd.select(*key, "value"))
        elif when_matched == "delete":
            parts.append(
                joined.filter(matched).select(
                    *key, F.lit(None).cast("string").alias("value")
                )
            )
        if when_not_matched == "insert":
            parts.append(joined.filter(~matched).select(*key, "value"))
        if not parts:
            return
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra)
        if out.take(1):
            self.put(out)

    def _next_version(self) -> int:
        """Monotonic write version from the wall clock (epoch nanoseconds) —
        the HBase cell-timestamp model. Constant-time: versioning must not
        cost a table scan per put (a max(version) aggregate would be
        O(table) at every write). Ties are impossible in practice at ns
        resolution from a single writer; concurrent writers get
        distinct-but-ordered stamps exactly like HBase region time. Cells
        that collide on key AND version (duplicates inside one batch) are
        resolved deterministically by ``_latest``'s secondary sort."""
        return time.time_ns()

    # -- reads (S3 range scan, S4 point get) --------------------------------

    def _cells(self) -> DataFrame:
        self._recover()
        # explicit schema: a freshly created table has zero data files (schema
        # inference would fail), and at scale it skips footer-sampling I/O.
        # The bucket partition column must be IN the schema to be readable
        # (and prunable) under an explicit schema.
        schema = (
            STORED_SCHEMA_BUCKETED if self.n_subpartitions else STORED_SCHEMA
        )
        return self.spark.read.schema(schema).parquet(self.path)

    def _latest(
        self, cells: DataFrame, keep_version: bool = False
    ) -> DataFrame:
        """Latest-wins per (rowkey, family, qualifier) — HBase cell upsert.
        Version ties (same-batch duplicates share one stamp) break on
        ``value`` so resolution is deterministic, not partition-order luck.
        A winning NULL value is a tombstone (``delete``): the cell is
        dropped from the resolved view — HBase's Delete-marker semantics
        (absent cell, not null cell). ``keep_version`` retains the winning
        cell's stamp (TTL-aware compaction needs real timestamps)."""
        w = Window.partitionBy("rowkey", "family", "qualifier").orderBy(
            F.col("version").desc(), F.col("value").desc_nulls_last()
        )
        resolved = (
            cells.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .filter(F.col("value").isNotNull())
        )
        return resolved.drop(
            *(["_rn"] if keep_version else ["_rn", "version"])
        )

    def _ttl_live(self, cells: DataFrame, now_ns: int | None) -> DataFrame:
        """Drop cells past their family's TTL (HBase
        ``HColumnDescriptor.setTimeToLive``). Applied BEFORE latest-wins:
        an expired cell cannot resurrect an older sibling, because any
        older version of the same cell is strictly older and therefore
        also expired — matching HBase, where TTL removal happens at the
        cell level. Expired delete tombstones age out the same way. Pure
        column predicate → survives pushdown and codegen; cost is O(rows),
        no shuffle."""
        if not self.ttl:
            return cells
        now = time.time_ns() if now_ns is None else now_ns
        expired = F.lit(False)
        for fam in sorted(self.ttl):
            cutoff = now - self.ttl[fam] * 1_000_000_000
            expired = expired | (
                (F.col("family") == fam) & (F.col("version") < F.lit(cutoff))
            )
        return cells.filter(~expired)

    def _counter_totals(
        self, counter_cells: DataFrame, keep_version: bool = False
    ) -> DataFrame:
        """Resolve counter cells (HBase Increment model): the live value of
        a counter is the SUM of its delta cells since the newest tombstone
        (delete = reset, matching HBase where a Delete removes the counter
        and the next increment starts from zero). Deltas must be 64-bit
        integer strings — a non-numeric value fails the cast loudly, the
        analogue of HBase's "not 64 bits wide" DoNotRetryIOException.
        One window (tombstone horizon) + one aggregate, both on the cell
        key, so the shuffle partitioning is reused between them."""
        w = Window.partitionBy("rowkey", "family", "qualifier")
        tomb = F.max(
            F.when(F.col("value").isNull(), F.col("version"))
        ).over(w)
        agg = [F.sum(F.col("value").cast("long")).cast("string").alias("value")]
        if keep_version:
            agg.append(F.max("version").alias("version"))
        return (
            counter_cells.withColumn("_tomb", tomb)
            .filter(F.col("value").isNotNull())
            .filter(
                F.col("_tomb").isNull() | (F.col("version") > F.col("_tomb"))
            )
            .groupBy("prefix", "rowkey", "family", "qualifier")
            .agg(*agg)
        )

    def _resolve(self, cells: DataFrame) -> DataFrame:
        """Live view of a cell batch: latest-wins for normal families,
        tombstone-bounded delta sums for counter families."""
        if not self.counters:
            return self._latest(cells)
        is_counter = F.col("family").isin(self.counters)
        normal = self._latest(cells.filter(~is_counter))
        summed = self._counter_totals(cells.filter(is_counter))
        return normal.select(
            "prefix", "rowkey", "family", "qualifier", "value"
        ).unionByName(summed)

    def scan(
        self,
        start: str | None = None,
        stop: str | None = None,
        families: list[str] | None = None,
        qualifiers: list[str] | None = None,
        predicate: Column | None = None,
        as_of: int | None = None,
        now_ns: int | None = None,
    ) -> DataFrame:
        """Range scan with projection + filter pushdown.

        Mirrors ``Scan.withStartRow/withStopRow/addFamily/addColumn/setFilter``
        (RdlETL2.java:42-63). When start/stop share the 4-char prefix, the
        filter lands on the ``prefix`` partition column → partition pruning,
        exactly like HBase region pruning but optimizer-driven.

        ``as_of`` time-travels: resolve latest-wins using only versions
        ``<= as_of`` (epoch ns) — HBase's timestamp-bounded Scan
        (``setTimeRange``), free here because every version survives until
        compaction. A delete after ``as_of`` is invisible to the read.

        ``now_ns`` pins the TTL clock for deterministic replay/tests; the
        default is the wall clock (no-op on tables without TTL).
        """
        df = self._ttl_live(self._cells(), now_ns)
        if as_of is not None:
            df = df.filter(F.col("version") <= as_of)
        if start is not None:
            df = df.filter(F.col("prefix") >= start[:PREFIX_LEN]).filter(
                F.col("rowkey") >= start
            )
        if stop is not None:
            df = df.filter(F.col("prefix") <= stop[:PREFIX_LEN]).filter(
                F.col("rowkey") < stop
            )
        if families:
            df = df.filter(F.col("family").isin(families))
        if qualifiers:
            df = df.filter(F.col("qualifier").isin(qualifiers))
        df = self._resolve(df)
        if predicate is not None:
            df = df.filter(predicate)
        return df.select("rowkey", "family", "qualifier", "value")

    def _point_read(
        self,
        rowkey: str,
        family: str | None = None,
        qualifier: str | None = None,
        now_ns: int | None = None,
    ) -> DataFrame:
        """The raw, unresolved cells a point get reads: TTL-live and pruned
        to the row's prefix partition. On sub-partitioned tables the bucket
        literal (computed driver-side from the portable md5 hash — no extra
        Spark job) prunes the read to ONE ``prefix=<p>/bucket=<b>``
        directory."""
        df = (
            self._ttl_live(self._cells(), now_ns)
            .filter(F.col("prefix") == rowkey[:PREFIX_LEN])
            .filter(F.col("rowkey") == rowkey)
        )
        if self.n_subpartitions:
            df = df.filter(F.col("bucket") == self._py_bucket(rowkey))
        if family:
            df = df.filter(F.col("family") == family)
        if qualifier:
            df = df.filter(F.col("qualifier") == qualifier)
        return df

    def get(
        self,
        rowkey: str,
        family: str | None = None,
        qualifier: str | None = None,
        now_ns: int | None = None,
    ) -> DataFrame:
        """Point get (HBaseClient.getData, HBaseClient.java:149-158) over
        the cells of ``_point_read``.

        One row's cells are bounded by its qualifiers × versions, so on a
        table without counter families they are collected in ONE Spark job
        and resolved on the driver (``_latest_cells``, the window's exact
        order). The result is a local relation sorted by (rowkey, family,
        qualifier): an EAGER SNAPSHOT taken at the call, as an HBase Get
        result is — writes after the call do not show in it. Tables with
        counter families keep the lazy Spark resolution (``_resolve``), so
        the counter sum's long cast and overflow stay Spark's."""
        cells = self._point_read(rowkey, family, qualifier, now_ns)
        if self.counters:
            return self._resolve(cells).select(*_CELL_COLS)
        rows = cells.select(*_CELL_COLS, "version").collect()
        return self._local(_latest_cells(rows), _CELL_COLS)

    def versions(
        self,
        rowkey: str | None = None,
        family: str | None = None,
        qualifier: str | None = None,
        max_versions: int | None = None,
        now_ns: int | None = None,
    ) -> DataFrame:
        """Per-cell version history, newest first — HBase's multi-version
        read (``Get.readVersions(n)`` / ``Scan.readAllVersions``). The
        reference keeps its tables at VERSIONS=1 (default), so this is
        beyond-parity wide-column surface; here history is free until
        ``compact()`` because every ``put`` batch survives as its own
        version stamp.

        Returns ``(rowkey, family, qualifier, value, version, version_rank)``
        with rank 1 = newest; rows with NULL ``value`` are delete
        tombstones — surfaced as data (the caller is reading raw history,
        not the resolved view). ``max_versions`` caps history per cell;
        a ``rowkey`` argument prunes to its prefix partition. TTL-expired
        versions are hidden (HBase returns no expired cells even on raw
        multi-version reads); ``now_ns`` pins the expiry clock.
        """
        df = self._ttl_live(self._cells(), now_ns)
        if rowkey is not None:
            df = df.filter(F.col("prefix") == rowkey[:PREFIX_LEN]).filter(
                F.col("rowkey") == rowkey
            )
        if family:
            df = df.filter(F.col("family") == family)
        if qualifier:
            df = df.filter(F.col("qualifier") == qualifier)
        w = Window.partitionBy("rowkey", "family", "qualifier").orderBy(
            F.col("version").desc(), F.col("value").desc_nulls_last()
        )
        df = df.withColumn("version_rank", F.row_number().over(w))
        if max_versions is not None:
            df = df.filter(F.col("version_rank") <= max_versions)
        return df.select(
            "rowkey", "family", "qualifier", "value", "version", "version_rank"
        )

    def changes(self, since_version: int = 0) -> DataFrame:
        """Change feed: every cell write with ``version > since_version``,
        as ``(rowkey, family, qualifier, value, version, op)`` with op
        'put' | 'delete' — the HBase WAL / replication-stream analogue,
        free here because the LSM layout already persists each write batch
        under its stamp. Consumers checkpoint ``max(version)`` and poll
        with it, getting exactly the delta (the incremental-ingest shape:
        O(new writes), no table rescan — the version predicate prunes
        whole parquet files via row-group min/max stats).

        Retention = compaction cadence: ``compact()`` collapses history,
        so like a WAL the feed is readable until the next compaction —
        consumers must drain at least that often. Deletes surface as
        'delete' ops (tombstones), matching HBase replication semantics.
        """
        cells = self._cells().filter(F.col("version") > since_version)
        return cells.select(
            "rowkey",
            "family",
            "qualifier",
            "value",
            "version",
            F.when(F.col("value").isNull(), F.lit("delete"))
            .otherwise(F.lit("put"))
            .alias("op"),
        )

    def to_wide(self, family: str, qualifiers: list[str]) -> DataFrame:
        """Pivot one family long→wide with an explicit qualifier list
        (one-pass pivot, SURVEY §2.5 W3)."""
        cells = self._latest(self._cells().filter(F.col("family") == family))
        return (
            cells.groupBy("rowkey")
            .pivot("qualifier", qualifiers)
            .agg(F.first("value"))
        )

    # -- maintenance ---------------------------------------------------------

    def _compaction_resolve(self, cells: DataFrame) -> DataFrame:
        """What survives a compaction rewrite. Non-TTL tables collapse to a
        single synthetic version stamp (1) — ``partition_stats``'s
        n_versions then reads as append-batches-since-compaction, the
        compaction-debt signal. TTL tables must keep the winning cell's
        REAL stamp (HBase compaction preserves cell timestamps): resetting
        to 1 would make every cell instantly expired, and age must keep
        accruing across compactions. Expired cells are physically purged
        here — compaction is where TTL reclaims bytes."""
        cells = self._ttl_live(cells, None)
        is_counter = (
            F.col("family").isin(self.counters)
            if self.counters
            else F.lit(False)
        )
        normal_cells = cells.filter(~is_counter)
        if self.ttl:
            normal = self._latest(normal_cells, keep_version=True)
        else:
            normal = self._latest(normal_cells).withColumn(
                "version", F.lit(1).cast("long")
            )
        if not self.counters:
            return normal
        # counter families fold to ONE cell: value = tombstone-bounded
        # delta total, version = newest delta's stamp. The folded cell is
        # itself a valid delta base, so increments after compaction keep
        # summing correctly, and a later tombstone (newer stamp) still
        # resets it.
        summed = self._counter_totals(
            cells.filter(is_counter), keep_version=True
        )
        cols = ["prefix", "rowkey", "family", "qualifier", "value", "version"]
        return normal.select(*cols).unionByName(summed.select(*cols))

    def partition_stats(self) -> DataFrame:
        """Per-prefix health report: row count, distinct write versions
        (append batches still unmerged — the compaction-debt signal), and
        live-cell fraction after latest-wins resolution.

        This is the scheduling input for per-prefix compaction at scale
        (compact prefixes whose version count or dead-cell fraction crosses
        a threshold instead of rewriting the whole table). Output bounded by
        the prefix count. ``n_live`` counts keys whose LATEST-WINS value is
        non-null — a key whose newest version is a tombstone is dead, which
        is precisely what matters on the delete-heavy prefixes this signal
        targets (counting all distinct keys would overstate liveness there).
        """
        cells = self._cells()
        batch_stats = cells.groupBy("prefix").agg(
            F.count("*").alias("n_cells"),
            F.count_distinct("version").alias("n_versions"),
        )
        live = (
            self._resolve(cells)
            .groupBy("prefix")
            .agg(F.count("*").alias("n_live"))
        )
        return (
            batch_stats.join(live, on="prefix", how="left")
            .withColumn("n_live", F.coalesce(F.col("n_live"), F.lit(0)))
            .withColumn(
                "live_fraction",
                F.round(F.col("n_live") / F.col("n_cells"), 4),
            )
        )

    def compact_prefixes(
        self, prefixes: list[str], buckets: list[int] | None = None
    ) -> None:
        """Targeted compaction: rewrite ONLY the given prefix partitions to
        latest-wins, leaving the rest of the table untouched. This is the
        100 TB operating mode — feed it the prefixes ``partition_stats``
        flags (high version count / low live fraction) instead of rewriting
        the whole table (SCALE.md: per-prefix compaction schedule).

        On a sub-partitioned table ``buckets`` narrows the unit further to
        the listed ``prefix=<p>/bucket=<b>`` cells — the compaction unit a
        hot prefix needs at 100 TB, where one prefix holds N sub-dirs and
        rewriting all of them for one hot bucket is N× write amplification.
        ``buckets=None`` compacts whole prefixes on either layout.

        Per-partition swap protocol (same crash-safety as ``compact``):
        write the compacted copy under ``<path>__compact/<part>``, park the
        live partition dir under ``<path>__aside/``, rename the copy in,
        delete the parked dir. A crash mid-swap leaves the partition parked;
        ``_recover`` renames it back on the next read (bucket-level parks
        heal bucket-by-bucket). SINGLE-WRITER, like ``compact``.
        """
        if not prefixes:
            return
        if buckets is not None and not self.n_subpartitions:
            raise ValueError(
                "buckets= requires a table created with n_subpartitions"
            )
        fs = self._fs()
        self._recover(fs)
        tmp_root = self.path + "__compact"
        aside_root = self._hpath(self.path + "__aside")
        fs.delete(self._hpath(tmp_root), True)
        cells = self._cells().filter(F.col("prefix").isin(prefixes))
        if buckets is not None:
            cells = cells.filter(F.col("bucket").isin([int(b) for b in buckets]))
        resolved = self._stamp_partitions(
            self._compaction_resolve(cells).drop(*self._part_cols)
        )
        resolved.write.partitionBy(*self._part_cols).mode("overwrite").parquet(
            tmp_root
        )
        if buckets is None:
            parts = [f"prefix={_escape_partition_value(p)}" for p in prefixes]
        else:
            parts = [
                f"prefix={_escape_partition_value(p)}/bucket={int(b)}"
                for p in prefixes
                for b in buckets
            ]
        fs.mkdirs(aside_root)
        # manifest BEFORE any swap: which parts have compacted output (and
        # which bucket children that output contains, for whole-prefix units
        # on a sub-partitioned layout) vs which resolved to zero rows —
        # _recover's only way to tell mid-swap loss from legitimate
        # tombstoning after a crash
        written: dict[str, list[str]] = {}
        tombstoned: list[str] = []
        for part in parts:
            tmp_probe = self._hpath(f"{tmp_root}/{part}")
            if fs.exists(tmp_probe):
                children = (
                    [
                        c.getPath().getName()
                        for c in fs.listStatus(tmp_probe)
                        if c.getPath().getName().startswith("bucket=")
                    ]
                    if (buckets is None and self.n_subpartitions)
                    else []
                )
                written[part] = children
            else:
                tombstoned.append(part)
        self._write_aside_manifest(fs, written, tombstoned)
        for part in parts:
            main_p = self._hpath(f"{self.path}/{part}")
            tmp_p = self._hpath(f"{tmp_root}/{part}")
            aside_p = self._hpath(f"{self.path}__aside/{part}")
            fs.delete(aside_p, True)
            if "/" in part:  # bucket-level park needs its prefix parent dir
                fs.mkdirs(self._hpath(f"{self.path}__aside/{part.rsplit('/', 1)[0]}"))
            has_tmp = fs.exists(tmp_p)  # a fully-tombstoned part writes 0 rows
            if fs.exists(main_p):
                if not fs.rename(main_p, aside_p):
                    raise IOError(
                        f"compact_prefixes: failed to park {part}; "
                        "table unchanged"
                    )
            if has_tmp and not fs.rename(tmp_p, main_p):
                if not fs.rename(aside_p, main_p):
                    raise IOError(
                        f"compact_prefixes: install AND rollback failed for "
                        f"{part}; data parked at {self.path}__aside/{part}"
                    )
                raise IOError(
                    f"compact_prefixes: failed to install {part}; rolled back"
                )
            fs.delete(aside_p, True)
        fs.delete(self._hpath(tmp_root), True)
        fs.delete(self._aside_manifest_path(), False)
        self._sweep_empty_aside(fs, aside_root)

    def compact(self) -> None:
        """Rewrite to latest-wins only. Idempotent; per-partition rewrite.

        Swap protocol (crash-safe, no window where the table is destroyed):
        write the compacted copy to ``<path>__compact``, rename the live
        table aside to ``<path>__old``, rename the copy in, then delete the
        aside. Every step goes through Hadoop ``FileSystem`` (works on
        file:/hdfs:; on S3A the renames are copies but the aside still
        guarantees no data loss). A crash between the two renames is healed
        by ``_recover`` on the next read/exists/compact.

        SINGLE-WRITER: at most one compact() (and no concurrent put()) may
        run at a time. A concurrent reader racing ``_recover`` between the
        two renames could re-install the aside copy first; the install
        rename then fails and the rollback path below reports exactly what
        state the table was left in instead of passing silently.
        """
        fs = self._fs()
        self._recover(fs)
        main = self._hpath(self.path)
        aside = self._hpath(self.path + "__old")
        tmp_path = self.path + "__compact"
        tmp = self._hpath(tmp_path)

        # the dir swap below destroys the max-write stamp sidecar; carry
        # the value across UNCHANGED — compaction preserves the resolved
        # view (latest-wins + TTL purge both read-invisible), so secondary
        # indexes legitimately stay fresh across it, exactly like Phoenix
        # global indexes surviving an HBase major compaction. At 100 TB
        # this matters: compaction cadence must not force index rebuilds.
        lastwrite = self._lastwrite_ns()
        resolved = self._compaction_resolve(self._cells())
        (
            self._stamp_partitions(resolved.drop(*self._part_cols))
            .write.partitionBy(*self._part_cols)
            .mode("overwrite")
            .parquet(tmp_path)
        )
        fs.delete(aside, True)  # clear leftovers from an earlier crash
        if not fs.rename(main, aside):
            raise IOError(f"compact: failed to move {self.path} aside")
        if not fs.rename(tmp, main):
            if fs.rename(aside, main):  # roll back — table is intact
                raise IOError(
                    f"compact: failed to install {tmp_path}; "
                    f"rolled back, table unchanged at {self.path}"
                )
            # rollback also failed: either a racing _recover already moved
            # the aside back (table intact) or the aside is gone — say which.
            if fs.exists(main):
                raise IOError(
                    f"compact: install of {tmp_path} failed but {self.path} "
                    "is present (likely re-installed by a concurrent "
                    f"reader's _recover); leftover copy at {tmp_path}"
                )
            raise IOError(
                f"compact: install AND rollback failed — table missing at "
                f"{self.path}; data preserved at {self.path}__old and "
                f"{tmp_path}, manual rename required"
            )
        fs.delete(aside, True)
        # the swap replaced the whole table dir; restore the descriptor
        # and the max-write stamp (value carried, not bumped — see above)
        self._write_descriptor(fs)
        if lastwrite is not None:
            out = fs.create(
                self._hpath(self.path + "/" + _LASTWRITE_NAME), True
            )
            try:
                out.write(bytearray(str(lastwrite).encode("utf-8")))
            finally:
                out.close()

    # -- secondary index (Phoenix-style global index, value -> rowkey) ------

    class IndexStale(RuntimeError):
        """The table received writes after the index was built."""

    def _index_path(self, family: str, qualifier: str) -> str:
        return f"{self.path}__idx/{family}.{qualifier}"

    def build_index(self, family: str, qualifier: str) -> None:
        """Materialize a global secondary index over one ``(family,
        qualifier)``: the resolved latest-wins ``(value, rowkey)`` map,
        written VALUE-SORTED (range partition + in-partition sort) so an
        equality or range probe prunes row groups on parquet min/max
        stats — the read path HBase users bolt on via Phoenix global
        indexes or a manually-maintained index table.

        The index is stamped with the build wall-clock (same epoch-ns
        domain as cell versions) and ``lookup_by_value`` refuses service
        — or serves read-repaired results under ``allow_stale=True`` —
        once the table has data files newer than the stamp. Layout is
        the table's own LSM idiom: this full build writes the ``base/``
        segment and clears any ``delta_*`` segments;
        :meth:`update_index` appends delta segments between builds
        (Phoenix's incremental maintenance), so full-rebuild cadence
        pairs naturally with ``compact()``, exactly like the HBase world
        where index maintenance rides major compactions.
        """
        if family not in self.families:
            raise ValueError(f"unknown family {family!r}")
        built_ns = time.time_ns()  # BEFORE the read: conservative stamp
        rows = (
            self._latest(
                self._cells()
                .filter(F.col("family") == family)
                .filter(F.col("qualifier") == qualifier)
            )
            .select("value", "rowkey")
            .repartitionByRange(
                self.spark.sparkContext.defaultParallelism, "value"
            )
            .sortWithinPartitions("value")
        )
        path = self._index_path(family, qualifier)
        fs = self._fs()
        # full rebuild collapses the segment stack: drop old base AND any
        # deltas in one shot, then write the fresh snapshot
        fs.delete(self._hpath(path), True)
        rows.write.parquet(path + "/base")
        self._write_index_stamp(path, built_ns)

    def _write_index_stamp(self, path: str, built_ns: int) -> None:
        # sidecar stamp (not a data column): survives an EMPTY index, and
        # the freshness probe reads one tiny file instead of parquet rows
        out = self._fs().create(self._hpath(path + "/_built"), True)
        try:
            out.write(bytearray(str(built_ns).encode("utf-8")))
        finally:
            out.close()

    # update_index folds the delta stack down to one merged segment once it
    # grows past this many segments — a long-running maintained stream
    # (one delta per micro-batch drain) would otherwise grow the probe
    # plan and its file listing linearly with drains until someone ran
    # build_index. The fold is minor-compaction-shaped: it reads ONLY the
    # deltas (O(sum of upserts since the last build), never the base), and
    # a crash between writing the merged segment and deleting the olds
    # only duplicates candidates, which the probe's distinct collapses.
    INDEX_DELTA_MERGE_THRESHOLD = 16

    def _live_rows(self, cells: DataFrame, rowkeys: list[str]) -> list[tuple]:
        """The live ``(rowkey, family, qualifier, value)`` cells of a few
        rows: one job collects their raw cells from ``cells``, pruned to
        the rowkeys' prefix partitions, and ``_latest_cells`` resolves them
        on the driver."""
        if not rowkeys:
            return []
        prefixes = sorted({k[:PREFIX_LEN] for k in rowkeys})
        raw = (
            cells.filter(F.col("prefix").isin(prefixes))
            .filter(F.col("rowkey").isin(rowkeys))
            .select(*_CELL_COLS, "version")
            .collect()
        )
        return _latest_cells(raw)

    def update_index(
        self,
        family: str,
        qualifier: str,
        rowkeys,
        verify_coverage: bool = True,
    ) -> None:
        """Incremental (Phoenix-style) index maintenance: after an upsert
        touched ``rowkeys``, append ONE delta segment holding just those
        rows' freshly-resolved ``(value, rowkey)`` entries and re-stamp —
        write volume is O(touched rows), never the index. Tombstoned rows
        are anti-joined out by construction (``_latest`` drops delete
        markers, so they simply have no delta entry).

        Why appending suffices: ``lookup_by_value`` read-repairs every
        candidate against the live resolved cell, so superseded base
        entries (a rowkey whose value CHANGED away from the probe value)
        are filtered there; the only staleness hazard is a MISS — a
        rowkey whose live value now matches the probe but which no
        segment lists under it. The delta closes exactly that hole.
        Contract (single-writer, the table's own protocol): call with
        every rowkey the upsert touched since the last build/update —
        the natural call site is immediately after ``put``/``merge``
        with the same key set, Phoenix's write-path coupling. The
        re-stamp VOUCHES for everything written before it, so by
        default the call VERIFIES that claim before stamping: any
        ``(family, qualifier)`` cell with a write version newer than
        the index's current stamp whose rowkey is NOT in ``rowkeys``
        fails the call with :class:`IndexStale` — an uncovered bare
        put degrades to a loud error at maintenance time instead of a
        silent lookup miss. The scan is version-stat file-pruned
        (cells carry their put's epoch-ns version, one value per
        file), so it reads O(writes since the stamp), not the table.
        ``verify_coverage=False`` skips it for latency-critical
        write paths that guarantee coverage by construction AND
        forbid bare puts on the table (the check is precisely what
        catches a violated guarantee, so leave it on unless the drain
        cadence can't afford one extra metadata-pruned job).
        Deltas accumulate until either the stack passes
        ``INDEX_DELTA_MERGE_THRESHOLD`` (auto-folded into one merged
        delta, O(deltas) cost) or the next :meth:`build_index`
        collapses the whole stack (ride it on ``compact()``).

        ``rowkeys``: an iterable of rowkey strings (the touched PREFIXES
        are derived driver-side and pushed as partition-pruning filters —
        the upsert-sized read this exists for) or a single-column
        ``rowkey`` DataFrame (semi-join; no pruning — for callers whose
        touched set is itself distributed).
        """
        path = self._index_path(family, qualifier)
        fs = self._fs()
        prev_built = self._read_ns_sidecar(self._hpath(path + "/_built"))
        if prev_built is None:
            raise ValueError(
                f"no index for {family}:{qualifier} — build_index first"
            )
        if not isinstance(rowkeys, DataFrame):
            rowkeys = sorted({str(k) for k in rowkeys})
        built_ns = time.time_ns()  # BEFORE the read: conservative stamp
        cells = (
            self._cells()
            .filter(F.col("family") == family)
            .filter(F.col("qualifier") == qualifier)
        )
        if verify_coverage:
            # writes since the stamp this call is about to supersede that
            # the caller is NOT maintaining — stamping over them would
            # vouch for rows no segment lists (silent lookup misses)
            uncovered = cells.filter(F.col("version") > prev_built)
            if isinstance(rowkeys, DataFrame):
                uncovered = uncovered.join(
                    rowkeys.select("rowkey"), "rowkey", "left_anti"
                )
            else:
                uncovered = uncovered.filter(~F.col("rowkey").isin(rowkeys))
            sample = [
                r["rowkey"]
                for r in uncovered.select("rowkey").distinct().limit(5).collect()
            ]
            if sample:
                raise WideTable.IndexStale(
                    f"update_index({family}:{qualifier}) cannot vouch for "
                    f"writes since the index stamp that are missing from "
                    f"rowkeys (e.g. {sample}); include every touched "
                    "rowkey, write through put_maintained, or rebuild"
                )
        if isinstance(rowkeys, DataFrame):
            keys = rowkeys.select("rowkey")
            # touched PREFIXES are a partition-key set — bounded by the
            # table's partition count, the accepted bounded-driver class —
            # so collecting them buys partition pruning for the semi-join
            prefixes = sorted(
                r["p"]
                for r in keys.select(
                    F.substring("rowkey", 1, PREFIX_LEN).alias("p")
                )
                .distinct()
                .collect()
            )
            touched = cells.filter(F.col("prefix").isin(prefixes)).join(
                keys, "rowkey", "left_semi"
            )
            fresh = (
                self._latest(touched)
                .select("value", "rowkey")
                # global sort = range partition + sort; AQE sizes the post-
                # shuffle partition count to the DELTA's bytes, so a point
                # upsert writes one small file and a bulk load fans out
                .sort("value")
                .localCheckpoint()
            )
            has_rows = bool(fresh.take(1))
        else:
            # a driver-held key list bounds the touched cells to those
            # rows' versions: resolve them on the driver and write the
            # value-sorted delta as ONE file
            live = sorted(
                (value, rowkey)
                for rowkey, _, _, value in self._live_rows(cells, rowkeys)
            )
            fresh = self._local(live, ["value", "rowkey"]).coalesce(1)
            has_rows = bool(live)
        if has_rows:
            fresh.write.parquet(f"{path}/delta_{built_ns}")
        # bound the segment stack (see INDEX_DELTA_MERGE_THRESHOLD): fold
        # the deltas — never the base — into one merged, value-sorted
        # segment once the stack grows past the threshold
        deltas = [
            st.getPath()
            for st in fs.listStatus(self._hpath(path))
            if st.isDirectory()
            and st.getPath().getName().startswith("delta_")
        ]
        if len(deltas) > self.INDEX_DELTA_MERGE_THRESHOLD:
            # committed-file-less deltas (a previous fold's interrupted
            # delete) contribute nothing — skip them, same posture as the
            # probe; they still get swept into the trash below
            readable = [
                str(p)
                for p in deltas
                if _try_parquet(self.spark, str(p)) is not None
            ]
            if readable:
                merged = (
                    self.spark.read.parquet(*readable)
                    .distinct()
                    .sort("value")
                )
                merged.write.parquet(f"{path}/delta_{time.time_ns()}")
            # rename-to-trash, not delete: fs.delete on a directory is
            # not atomic, and a crash mid-delete used to leave an empty
            # delta_* shell that broke every later probe with
            # UNABLE_TO_INFER_SCHEMA. Each rename is atomic, the trash
            # prefix is invisible to the probe's delta_* listing, and a
            # crash between renames only leaves duplicate candidates
            # (collapsed by the probe's distinct). The final recursive
            # delete of the trash dir is safe at any interruption point —
            # its contents are already superseded by the merged segment.
            trash = self._hpath(f"{path}/_trash_fold_{time.time_ns()}")
            fs.mkdirs(trash)
            for p in deltas:
                # return deliberately unchecked (unlike the ANN base
                # swap, where a missed rename breaks the swap invariant):
                # a delta that fails to move simply stays live alongside
                # the merged segment — duplicate candidates the probe's
                # distinct collapses — and the next fold retries it
                fs.rename(
                    p,
                    self._hpath(f"{str(trash)}/{p.getName()}"),
                )
            # one sweep deletes the trash just filled AND trash left by
            # EARLIER interrupted folds, best-effort (shared protocol)
            sweep_trash(self.spark, path, "_trash_fold_")
        # an all-tombstone (or no-op) upsert still re-stamps — the index
        # is complete for it — but writes NO segment, so a long-running
        # maintained stream doesn't accrete an empty delta dir per drain
        self._write_index_stamp(path, built_ns)

    def put_maintained(
        self, cells: DataFrame, index_pairs: tuple
    ) -> None:
        """``put`` + :meth:`update_index` for every ``(family,
        qualifier)`` in ``index_pairs``, with the touched keys derived
        from the SAME cells frame the put landed — index coverage is
        guaranteed by construction instead of by caller discipline,
        which is what Phoenix gets by hanging index maintenance off the
        write RPC. Use this (or the streaming
        ``upsert_stream_to_widetable(maintain_indexes=...)`` wrapper,
        which follows the same recipe) for any table with live indexes:
        a bare ``put`` between maintenance calls is unmaintained, and
        the NEXT maintenance call's coverage verification fails loudly
        on it (see ``update_index``) rather than silently vouching.
        The cells lineage is localCheckpointed once
        so the put and each index's key scan don't re-execute it."""
        cells = cells.localCheckpoint()
        self.put(cells)
        for family, qualifier in index_pairs:
            touched = (
                cells.filter(
                    (F.col("family") == family)
                    & (F.col("qualifier") == qualifier)
                )
                .select("rowkey")
                .distinct()
            )
            self.update_index(family, qualifier, touched)

    def _newest_data_mtime_ms(self) -> int:
        """RECOVERY/AUDIT freshness probe: newest data-file modification
        time under the table dir (LSM appends always create new files, so
        'any file newer than the index build' == 'the index is stale').
        O(file count) listing, no data read — which is why it is no longer
        the lookup path: on a 100 TB table that walk is a multi-second
        driver stall per probe. ``_index_probe`` reads the O(1)
        ``_lastwrite`` sidecar instead and falls back here only for
        tables written before the sidecar existed."""
        fs = self._fs()
        newest = 0
        stack = [self._hpath(self.path)]
        while stack:
            for st in fs.listStatus(stack.pop()):
                if st.isDirectory():
                    stack.append(st.getPath())
                elif st.getPath().getName().endswith(".parquet"):
                    newest = max(newest, st.getModificationTime())
        return newest

    def lookup_by_value(
        self,
        family: str,
        qualifier: str,
        value: str,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Index-accelerated equality lookup: probe the secondary index
        for matching rowkeys (row-group-pruned on the sorted value
        column), then fetch ONLY those rows from the main table — never a
        full resolved scan. Up to ``driver_path.INDEX_PROBE_DRIVER_CAP``
        candidates are fetched in one job and resolved on the driver (the
        result is then an eager snapshot, like ``get``'s); more go through
        a broadcast semi-join.

        Correctness under staleness is one-sided by construction: fetched
        rows are RE-VERIFIED against the live resolved cell (read-repair),
        so a stale index can never return a wrong row — it can only MISS
        rows written after the build. That miss is what the freshness
        check guards: by default a stale index raises ``IndexStale``;
        ``allow_stale=True`` opts into the Phoenix-like eventually-
        consistent read.
        """
        return self._index_probe(
            family, qualifier, F.col("value") == value, allow_stale
        )

    def lookup_by_value_range(
        self,
        family: str,
        qualifier: str,
        lo: str,
        hi: str,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Index-accelerated RANGE lookup over ``lo <= value < hi`` — the
        other probe shape a Phoenix global index serves. Every index
        segment is value-sorted, so the range predicate prunes row groups
        on parquet min/max stats exactly like the point probe; candidates
        fetch and read-repair as they do there, so
        staleness remains one-sided (miss-only). Half-open bounds compose
        with the stop-key successor convention the rowkey scans use
        (SURVEY X3)."""
        cond = (F.col("value") >= lo) & (F.col("value") < hi)
        return self._index_probe(family, qualifier, cond, allow_stale)

    def _index_probe(
        self,
        family: str,
        qualifier: str,
        value_cond,
        allow_stale: bool,
    ) -> DataFrame:
        path = self._index_path(family, qualifier)
        # _try_parquet, not a catch-all: an ABSENT/empty base means the
        # index was never built (or a torn rebuild deleted it) — say so;
        # a CORRUPT base re-raises loudly instead of masquerading as
        # "no index" and sending the operator on a pointless rebuild
        idx = _try_parquet(self.spark, path + "/base")
        if idx is None:
            raise ValueError(
                f"no index for {family}:{qualifier} — build_index first"
            )
        # segment stack: base snapshot + any update_index deltas. Each
        # segment is value-sorted (row-group min/max pruning applies per
        # segment); dup candidates across segments collapse below.
        # A committed-file-less delta dir (a crashed fold's interrupted
        # delete, or a crashed merged-write's _temporary remnant) reads
        # as absent and is provably safe to SKIP: it holds no committed
        # data, and the fold removes old segments only after the merged
        # segment is fully written — so nothing a probe must see can live
        # only there. Any other read failure re-raises (loud, not
        # silently base-only).
        fs = self._fs()
        for st in fs.listStatus(self._hpath(path)):
            if st.isDirectory() and st.getPath().getName().startswith(
                "delta_"
            ):
                seg = _try_parquet(self.spark, str(st.getPath()))
                if seg is not None:
                    idx = idx.unionByName(seg)
        if not allow_stale:
            built_ns = self._read_ns_sidecar(self._hpath(path + "/_built"))
            if built_ns is None:
                # base present but no build stamp: a build_index that
                # crashed between writing base and stamping. The base
                # content is complete as of the build (stamp is written
                # last), but freshness is unknowable — refuse with the
                # rebuild message, not a TypeError from comparing None
                raise ValueError(
                    f"index {family}:{qualifier} has no build stamp "
                    "(build_index crashed before stamping?) — run "
                    "build_index again or pass allow_stale=True"
                )
            # O(1) freshness: one sidecar read against one stamp read —
            # never a table listing on the probe path. The mtime walk is
            # the fallback for pre-sidecar tables only (recovery/audit).
            lastwrite = self._lastwrite_ns()
            stale = (
                lastwrite > built_ns
                if lastwrite is not None
                else self._newest_data_mtime_ms() > built_ns // 1_000_000
            )
            if stale:
                raise WideTable.IndexStale(
                    f"index {family}:{qualifier} predates newer table "
                    "writes; run build_index again or pass allow_stale=True"
                )
        # distinct: a rowkey re-upserted with the same value appears in
        # several segments; candidates stay unique for the semi-join
        keys = idx.filter(value_cond).select("rowkey").distinct()
        cells = (
            self._cells()
            .filter(F.col("family") == family)
            .filter(F.col("qualifier") == qualifier)
        )
        cap = driver_path.INDEX_PROBE_DRIVER_CAP
        candidates = [r["rowkey"] for r in keys.limit(cap + 1).collect()]
        if len(candidates) <= cap:
            # read-repair on the driver: an eager snapshot, like get
            return self._local(
                self._live_rows(cells, candidates), _CELL_COLS
            ).filter(value_cond)
        fetched = cells.join(F.broadcast(keys), "rowkey")
        # read-repair: the index narrowed the candidate set; the LIVE
        # resolved value decides membership
        return (
            self._latest(fetched)
            .filter(value_cond)
            .select(*_CELL_COLS)
        )
