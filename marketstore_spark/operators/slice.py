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
``ORDER BY ... LIMIT n`` plans TakeOrderedAndProject (k rows per
partition, merged on the driver).  Both are built from SQL text
(functions/sqltext), a few py4j sends each.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from marketstore_spark.functions.sqltext import ident, literal


def time_range(
    df: DataFrame,
    ts_col: str = "ts",
    start=None,
    end=None,
) -> DataFrame:
    """Inclusive [start, end] slice on the time index (Epoch in
    reference) as one predicate; datetime bounds floor to µs."""
    ops = ((">=", start), ("<=", end))
    bounds = [f"{ident(ts_col)} {op} {literal(v)}" for op, v in ops if v is not None]
    return df.filter(" AND ".join(bounds)) if bounds else df


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
    re-sorted after its top-K (a sort of the k rows, no extra job).
    """
    way = "" if from_start else " DESC"
    order = ", ".join(ident(c) + way for c in order_cols)
    if not key_cols:
        text = f"SELECT * FROM {{df}} ORDER BY {order} LIMIT {int(n)}"
        if not from_start:
            asc = ", ".join(map(ident, order_cols))
            text = f"SELECT * FROM ({text}) ORDER BY {asc}"
        return df.sparkSession.sql(text, df=df)
    keys = ", ".join(map(ident, key_cols))
    return df.sparkSession.sql(
        f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {order}) AS __rn FROM {{df}}) WHERE __rn <= {int(n)}",
        df=df,
    ).drop("__rn")


def project_columns(df: DataFrame, columns: Sequence[str] | None) -> DataFrame:
    """Column selection (QueryRequest.Columns, frontend/query.go:44)."""
    if not columns:
        return df
    return df.select(*columns)
