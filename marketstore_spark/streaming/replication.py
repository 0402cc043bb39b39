"""Bucket replication — master→replica mirroring.

Reference: replication/ streams WAL records from a master to replicas,
which replay them into their own catalogs (replication/sender.go,
replayer.go).  The Spark-native unit of durability is the committed
Parquet file, not a WAL record, so replication becomes: treat the
source bucket directory as a streaming file source and append new
files to the replica bucket with a checkpoint.  The checkpoint IS the
replication cursor — restart-safe, exactly-once, no replay protocol.

Scale: each sync moves only files committed since the cursor;
per-bucket streams are independent, so a 100 TB catalog replicates as
many small incremental copies with no coordination.  (In production
object storage this is usually the storage layer's job — this operator
is for live mirroring into a second queryable catalog, e.g. a
read-replica cluster or a staging environment.)
"""

from __future__ import annotations

import os

from pyspark.sql.streaming import StreamingQuery

from marketstore_spark.catalog import Catalog, TimeBucketKey
from marketstore_spark.streaming.writer import append_sink, read_stream


def replicate_bucket(
    master: Catalog,
    replica: Catalog,
    key: str,
    checkpoint_root: str | None = None,
    continuous: bool = False,
) -> StreamingQuery:
    """Mirror one bucket from ``master`` to ``replica``.

    ``continuous=False`` syncs everything new and stops
    (Trigger.AvailableNow) — cron-style catch-up replication;
    ``continuous=True`` keeps following new writes.  Re-running with
    the same checkpoint never duplicates rows.
    """
    src = TimeBucketKey(key).path(master.root)
    dst = TimeBucketKey(key).path(replica.root)
    ckpt = os.path.join(
        checkpoint_root or os.path.join(replica.root, "_replication"),
        key.replace("/", "_"),
    )
    schema = master.read(key).schema
    # Recursive: txn-layout buckets keep committed files under data/.
    # File-level mirroring replicates APPEND commits; a replace-commit
    # (compact / delete_range) rewrites rows into new files, which a
    # file cursor would re-ship — re-seed the replica after those, as
    # with the reference's snapshot-then-stream bootstrap
    # (replication/sender.go).
    stream = read_stream(master.spark, src, schema, recursive=True)
    return append_sink(
        stream, dst, checkpoint_dir=ckpt, available_now=not continuous
    )
