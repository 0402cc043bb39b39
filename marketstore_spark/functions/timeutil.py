"""Timestamp-type-tolerant time helpers.

Parquet timestamps arrive as TIMESTAMP (instant / LTZ) or
TIMESTAMP_NTZ depending on how the file was written
(``isAdjustedToUTC``) and on ``spark.sql.parquet.inferTimestampNTZ``
— Spark 4 infers NTZ for naive-written files where Spark 3.3 read
them as instants.  Functions like ``unix_micros`` accept only the
instant type, so every epoch computation in the engine routes through
:func:`epoch_us`, which normalizes first.  Sessions created by this
package pin ``spark.sql.session.timeZone=UTC`` (session.py), making
the NTZ→instant cast a pure reinterpretation: the resulting epoch
equals DuckDB's ``epoch_us`` on the same naive value, which is what
the oracle parity harness compares against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(c: Column) -> Column:
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column (cast to
    the instant type first; a no-op cast when already instant)."""
    return F.unix_micros(c.cast("timestamp"))


def with_instant_ts(df, ts_col: str):
    """Normalize ``ts_col`` to the instant type in place — required
    before ``withWatermark`` (event time must be TIMESTAMP, not NTZ).
    No-op re-cast when already instant."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


# ---------------------------------------------------------------------
# Single-primitive argmin/argmax ordering key
# ---------------------------------------------------------------------
#
# min_by/max_by with a STRUCT ordering key puts a struct in the
# aggregation buffer, and HashAggregateExec only supports mutable
# primitive buffer types — the whole aggregate silently demotes to
# SortAggregate, which SORTS every input row on the map side before
# the partial aggregate (measured: the entire candler family planned
# SortAggregate through r12).  Packing the (epoch_us, tiebreak) pair
# into ONE DECIMAL(38,0) keeps the buffer primitive (a fixed-width
# Int128), so the argmin/argmax pick stays a map-side-combinable
# HashAggregate.  Optimization-guide §1.2 "per-task work" / the q21
# primitive-only-buffer lesson, applied to min_by/max_by.
#
# Encoding: (us + 2^61) * 2^64 + (tb + 2^63), exact integer decimal
# arithmetic — strictly order-isomorphic to the lexicographic pair
# (us, tb) for |us| < 2^61 (Spark timestamps reach ±~2.9e5 years,
# |epoch_us| < 2^58, so every representable timestamp fits) and ANY
# long tiebreak.  Max value 2^126 + 2^64 ≈ 8.5e37 < 10^38-1, so the
# DECIMAL(38,0) arithmetic can never overflow.  Components must be
# non-null (the same determinism contract the struct key already
# required: a null inside the struct made the pick engine-dependent).

_PACK_STRIDE = "18446744073709551616"  # 2^64
_PACK_US_OFF = "2305843009213693952"  # 2^61
_PACK_TB_OFF = "9223372036854775808"  # 2^63


def _dec38(sql: str) -> str:
    return f"CAST({sql} AS DECIMAL(38,0))"


def ord_key_us(us: str, tb: str) -> str:
    """SQL text of the DECIMAL(38,0) ordering key equivalent to
    lexicographic (us, tb) for the long epoch-µs expression ``us`` and
    the long tiebreak expression ``tb``."""
    off_us, stride, off_tb = (
        _dec38(f"'{x}'") for x in (_PACK_US_OFF, _PACK_STRIDE, _PACK_TB_OFF)
    )
    return _dec38(f"({_dec38(us)} + {off_us}) * {stride} + ({_dec38(tb)} + {off_tb})")


def ord_key_ts(ts: str, tb: str) -> str:
    """:func:`ord_key_us` over a TIMESTAMP/TIMESTAMP_NTZ expression —
    ``epoch_us`` is exact and monotone, so ordering by the packed key
    equals ordering by (ts, tb).  Column callers wrap it in ``F.expr``."""
    return ord_key_us(f"unix_micros(CAST({ts} AS TIMESTAMP))", tb)
