"""Streaming multi-timeframe rollups — the ondiskagg trigger
(contrib/ondiskagg/aggtrigger) as Structured Streaming.

The reference updates downsampled buckets (5Min/15Min/1H/1D) on every
write to the base timeframe.  Here the same candle aggregation plan as
the batch candler runs over a stream with a watermark: late ticks
within the watermark update their bucket (the reference's re-write of a
bucket on out-of-order writes), later ones are dropped with a metric
instead of corrupting closed buckets.

Scale: state is one OHLCV row per (key, open window) — bounded by
watermark horizon × key cardinality; the sink receives only changed
buckets (update/append mode), which is exactly the reference's
incremental materialized-view behavior.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstore_spark.functions.timeutil import with_instant_ts
from marketstore_spark.operators.candler import _CALENDAR, _bucket, tick_candles


def _fixed_only(timeframe: str) -> None:
    """Streams bucket with the batch candler's ``_bucket`` — so a 1W
    stream is Monday-aligned like its batch backfill (plain F.window
    weeks start Thursday).  Calendar-variable timeframes (1Mo/1Y) are
    rejected: they are not fixed windows, so streaming state could not
    be watermark-evicted — roll those up from the 1D stream in batch."""
    if timeframe in _CALENDAR:
        raise ValueError(
            f"{timeframe!r} is calendar-variable; streaming rollups support "
            "fixed windows only — derive it in batch from the 1D bucket"
        )


def stream_candles(
    stream: DataFrame,
    timeframe: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    price_col: str = "value",
    watermark: str = "10 minutes",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Streaming OHLCV candles per key per bucket: the batch
    operators.candler.tick_candles statement over the watermarked
    stream, so batch backfill and streaming maintenance produce
    identical rows — and the streaming state row stays primitive-typed
    (candler._ordkey's HashAggregate rationale).
    """
    _fixed_only(timeframe)
    stream = with_instant_ts(stream, ts_col).withWatermark(ts_col, watermark)
    return tick_candles(
        stream, timeframe, key_cols, ts_col, price_col, sum_cols=[price_col],
        tiebreak=tiebreak, include_count=True,
    ).withColumnRenamed(f"{price_col}_sum", "value_sum")


def stream_vwap(
    stream: DataFrame,
    timeframe: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    price_col: str = "value",
    volume_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming per-bucket VWAP (functions/finance.py vwap, live).

    Without a volume column it degrades to TWAP over ticks (each tick
    weight 1) — marketstore's tick stream has no volume either.  Same
    windowed-agg state shape as stream_candles: O(keys × open windows),
    watermark-expired."""
    _fixed_only(timeframe)
    stream = with_instant_ts(stream, ts_col)  # watermark needs instant ts
    w = F.lit(1.0) if volume_col is None else F.col(volume_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.expr(_bucket(ts_col, timeframe)).alias("__w"))
        .agg(
            (F.sum(F.col(price_col) * w) / F.sum(w)).alias("vwap"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return agg.select(*key_cols, F.col("__w.start").alias("epoch"), "vwap", "n")


def stream_range_vol(
    stream: DataFrame,
    timeframe: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    price_col: str = "value",
    watermark: str = "10 minutes",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Live Parkinson / Garman–Klass / Rogers–Satchell variance
    estimators per (key, bucket): the batch candle aggregate
    (tick_candles) on INTEGER CENTS (the batch ``_cent_ticks`` cast)
    followed by the batch operator's shared per-row estimator chain
    (operators/quant.range_vol_estimators) — so a closed bucket's row
    is bitwise the batch ``range_vol`` row over the same ticks
    (pinned in tests).

    State is one partial OHLC row per (key, open window), watermark-
    evicted — the stream_candles bound; the estimator itself is a
    stateless projection on top, so it adds NO state.
    """
    from marketstore_spark.operators.quant import (
        range_vol_estimators,
        range_vol_log_cols,
    )

    _fixed_only(timeframe)
    cents = (F.col(price_col).cast("decimal(8,2)") * 100).cast("long")
    staged = with_instant_ts(stream, ts_col).withColumn("__px_c", cents)
    ohlc = tick_candles(
        staged.withWatermark(ts_col, watermark), timeframe, key_cols, ts_col,
        "__px_c", tiebreak=tiebreak,
    ).toDF(*key_cols, "epoch", "o", "h", "l", "c")
    return ohlc.select("*", *range_vol_log_cols()).select(
        *key_cols, "epoch", "o", "h", "l", "c", *range_vol_estimators()
    )
