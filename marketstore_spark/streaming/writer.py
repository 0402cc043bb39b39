"""Streaming ingest/append — the Write API + feeder path.

Reference: frontend/write.go Write appends ColumnSeries to buckets
through a WAL (executor/wal.go); contrib/*feeder pull external sources
on a schedule.  In Spark, ingestion is a streaming source → parquet
sink with checkpointing: exactly-once file commits replace the WAL, and
`Trigger.AvailableNow` gives the feeder's batch-pull semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from marketstore_spark import txn
from marketstore_spark.catalog import TimeBucketKey


def read_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    recursive: bool = False,
) -> DataFrame:
    """File-based streaming source (new files under source_dir are the
    incoming writes).  ``recursive`` follows subdirectories — needed
    for txn-layout buckets whose files live under ``data/`` (the
    listing skips ``_manifests``/``.stage-*``: `_`/`.` prefixes are
    hidden to Spark's file index)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(source_dir)


def backfill(catalog, key: str, source: DataFrame, ts_col: str = "ts") -> int:
    """Feeder catch-up: append only the source rows strictly newer
    than the bucket's current max timestamp, as ONE atomic commit.

    Reference: contrib/xignitefeeder and contrib/alpacabkfeeder run a
    backfill on startup — fetch history since the last stored bar,
    never rewrite what's already on disk.  Idempotence comes from the
    high-water mark, so a crashed backfill re-run appends nothing
    twice; the only driver-side value is the one-row MAX(ts) probe.
    A bucket with no data file takes the whole source; a bucket that
    cannot be read raises.  Returns the number of rows appended."""
    from pyspark.sql import functions as F

    new = source
    hi = None
    if txn.data_files(TimeBucketKey(key).path(catalog.root)):
        hi = catalog.read(key).agg(F.max(ts_col).alias("hi")).first()["hi"]
    if hi is not None:
        new = source.filter(F.col(ts_col) > F.lit(hi))
    n = new.count()
    if n:
        catalog.write(key, new)
    return n


def append_sink(
    df: DataFrame,
    dest_dir: str,
    checkpoint_dir: str | None = None,
    partition_by: list[str] | None = None,
    available_now: bool = True,
    output_mode: str = "append",
) -> StreamingQuery:
    """Append the stream to a parquet bucket with exactly-once file
    commits (the WAL equivalent).  ``partition_by`` (e.g. symbol, date)
    is the on-disk layout that makes later range queries prune."""
    checkpoint_dir = checkpoint_dir or os.path.join(dest_dir, "_checkpoint")
    writer = (
        df.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
