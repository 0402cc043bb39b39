"""Partitioned-parquet bucket storage — the scale layout.

Reference: marketstore shards each TimeBucketKey into per-year files
(catalog/catalog.go, executor/instance.go) so time-range queries open
only the touched years.  The Spark-native equivalent is Hive-style
partitioning by (symbol, date): Catalyst prunes partitions from the
range predicate and pushes the residual ts filter into the row-group
scan — the same two-level pruning, but handled by the optimizer.

write_bucket_store / read_bucket_store are the 100 TB layout;
the flat per-table files under /root/testdata are the test fixture.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucket_store(
    df: DataFrame,
    root: str,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    mode: str = "overwrite",
) -> int:
    """Lay out a tick table as symbol/date-partitioned parquet through
    the ATOMIC manifest commit (txn.py).

    Partition columns are derived, not duplicated: `symbol` and `date`
    become directory keys; row data keeps the original columns.  The
    manifest records partition-relative file paths (Iceberg-style), so
    a writer dying mid-overwrite leaves the previous snapshot fully
    readable — the WAL guarantee (reference executor/wal.go) now covers
    the partitioned 100 TB layout, not just unpartitioned buckets.  Returns the
    committed version.
    """
    from marketstore_spark import txn

    staged = df.withColumn("symbol", F.col(symbol_col)).withColumn(
        "date", F.to_date(F.col(ts_col))
    )
    txn_mode = "replace" if mode == "overwrite" else "append"
    return txn.commit_write(
        staged, root, mode=txn_mode, partition_by=("symbol", "date")
    )


def read_bucket_store(spark: SparkSession, root: str) -> DataFrame:
    """Read the partitioned store's committed snapshot; `symbol`/`date`
    come back as partition columns, so filters on them prune the
    manifest's file list before any file is opened."""
    from marketstore_spark import txn

    return txn.read_bucket(spark, root)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str] = ("user_id",),
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a fact table bucketed (and optionally sorted) on its
    join/aggregation key.

    Two facts bucketed the same way join with ZERO Exchange — the
    shuffle happened once at write time and is amortized over every
    subsequent join/groupBy on the key.  This is the 100 TB co-located
    join strategy for recurring joins (ticks↔quotes, events↔orders);
    `n_buckets` should divide evenly into cluster parallelism.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture .explain() output as a string (for plan assertions)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )
