"""Time-range slicing and directional row limits.

Reference: frontend/query.go:143 (executeQuery) applies EpochStart/End
(inclusive bounds), column projection, and LimitRecordCount with
LimitFromStart direction; planner/planner.go RowLimit/DateRange.

Scale notes: the range filter is a plain comparison on the timestamp
column so Catalyst pushes it into the Parquet scan (and prunes
partitions when the ts-derived date is a partition column).  The
directional limit is per key via row_number over (key) — one shuffle by
key, no global sort; with N symbols and last-k per symbol the state per
partition is O(rows/partitions).  A keyless limit (one bucket, one
series) is a bounded top-K instead, not a row_number window:
``orderBy(...).limit(n)`` plans TakeOrderedAndProject (k rows per
partition, merged on the driver).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_range(
    df: DataFrame,
    ts_col: str = "ts",
    start=None,
    end=None,
) -> DataFrame:
    """Inclusive [start, end] slice on the time index (Epoch in reference)."""
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(ts_col) <= F.lit(end))
    return df


def limit_records(
    df: DataFrame,
    n: int,
    key_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    from_start: bool = False,
) -> DataFrame:
    """First-N / last-N rows per key in time order.

    Reference: QueryRequest.LimitRecordCount + LimitFromStart
    (frontend/query.go:39-42); ties broken deterministically by the
    trailing order columns.  With no ``key_cols`` the frame is one
    series: the rows come back ascending in the order columns, a tail
    re-sorted after its top-K.
    """
    ordering = [F.col(c).asc() if from_start else F.col(c).desc() for c in order_cols]
    if not key_cols:
        df = df.orderBy(*ordering).limit(n)
        return df if from_start else df.orderBy(*[F.col(c).asc() for c in order_cols])
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def project_columns(df: DataFrame, columns: Sequence[str] | None) -> DataFrame:
    """Column selection (QueryRequest.Columns, frontend/query.go:44)."""
    if not columns:
        return df
    return df.select(*columns)
