"""Streaming ingest/append — the Write API + feeder path.

Reference: frontend/write.go Write appends ColumnSeries to buckets
through a WAL (executor/wal.go); contrib/*feeder pull external sources
on a schedule.  In Spark, ingestion is a streaming source whose
micro-batches each land as one manifest commit (txn.py, the WAL
analogue), and `Trigger.AvailableNow` gives the feeder's batch-pull
semantics.  A bucket directory is not a file-stream source: a replace
commit (compact, delete_range) leaves its superseded files in place
until vacuum, so a file stream over a bucket would re-read rows that
are no longer in it.
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
    incoming writes).  ``recursive`` follows subdirectories.  Point it
    at a landing directory, never at a bucket: a bucket keeps files a
    replace commit superseded until vacuum, and a file stream would
    read them as new rows."""
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
) -> StreamingQuery:
    """Append the stream to a bucket, one manifest commit per
    micro-batch.  The commit records the batch id under the sink id
    (the absolute checkpoint path), so a batch Spark replays after a
    crash between the commit and its own offset log is skipped: exactly
    once.  ``partition_by`` (e.g. symbol, date) is the on-disk layout
    that makes later range queries prune."""
    checkpoint_dir = os.path.abspath(
        checkpoint_dir or os.path.join(dest_dir, "_checkpoint")
    )

    def commit(batch: DataFrame, batch_id: int) -> None:
        txn.commit_write(
            batch, dest_dir, partition_by=partition_by, stream=(checkpoint_dir, batch_id)
        )

    writer = df.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
