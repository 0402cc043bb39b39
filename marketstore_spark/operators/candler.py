"""Candlers: aggregate raw series into OHLC candles per time bucket.

Reference:
- contrib/candler/tickcandler/tickcandler.go — ticks -> candles
  (Open=first, High=max, Low=min, Close=last of the price in bucket,
  plus Sum::/Avg:: tagged extra columns).
- contrib/candler/candlecandler/candlecandler.go — fine OHLCV -> coarser
  candles (Open=first Open, High=max High, Low=min Low, Close=last
  Close, Sum::/Avg:: for volume-like columns).
- Timeframes: utils/timeframe — 1Min/5Min/15Min/1H/1D etc.

Spark design: one `groupBy(keys, window(ts, tf))` aggregation; first/
last are `min_by`/`max_by` on a (ts, tiebreak) struct so results are
deterministic under parallel execution.  This is a single shuffle on
(key, bucket) with map-side partial aggregation — the same plan shape
Catalyst picks for any hash aggregate, so it scales linearly and AQE
coalesces small buckets.  No windows-over-sort, no per-key collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marketstore_spark.functions.timeutil import ord_key_ts

# marketstore-style timeframe -> Spark window duration
_TIMEFRAME = {
    "1Sec": "1 second",
    "10Sec": "10 seconds",
    "30Sec": "30 seconds",
    "1Min": "1 minute",
    "5Min": "5 minutes",
    "12Min": "12 minutes",
    "15Min": "15 minutes",
    "30Min": "30 minutes",
    "1H": "1 hour",
    "4H": "4 hours",
    "1D": "1 day",
    "1W": "7 days",
}

# Calendar-variable timeframes (utils/timeframe.go CandleDuration
# Truncate: "M" → first of month; years likewise).  These can't be a
# fixed F.window duration — bucket via date_trunc.
_CALENDAR = {"1Mo": "month", "1Y": "year"}


def timeframe_to_duration(tf: str) -> str:
    if tf in _TIMEFRAME:
        return _TIMEFRAME[tf]
    # Accept raw Spark durations too ("7 minutes").
    if " " in tf:
        return tf
    raise ValueError(
        f"unknown timeframe {tf!r}; known: {sorted(_TIMEFRAME) + sorted(_CALENDAR)}"
    )


def _bucket(ts_col: str | Column, tf: str, tz: str | None = None) -> Column:
    """Time bucket; with ``tz`` the bucket boundaries align to that
    timezone's midnight (utils/timeframe + contrib/calendar: the
    reference anchors 1D bars to the market's day, not UTC's).

    Weekly buckets are Monday-aligned like the reference (Go's
    ``time.Truncate`` counts from the zero time, a Monday; Spark's
    window origin 1970-01-01 is a Thursday, hence the 4-day
    ``startTime`` shift).  ``1Mo``/``1Y`` truncate on the calendar.
    Every timeframe yields a ``(start, end)`` struct, the bucket being
    ``[start, end)``; a calendar bucket ends one month or year after
    its start."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    base = ts if tz is None else F.from_utc_timestamp(ts.cast("timestamp"), tz)
    if tf in _CALENDAR:
        unit = _CALENDAR[tf]
        start = F.date_trunc(unit, base)
        return F.struct(
            start.alias("start"), (start + F.expr(f"INTERVAL 1 {unit}")).alias("end")
        )
    dur = timeframe_to_duration(tf)
    if dur == "7 days":
        return F.window(base, dur, startTime="4 days")
    return F.window(base, dur)


def bucket_epoch(w: Column, tz: str | None = None) -> Column:
    """Bucket start converted back to the storage timeline (UTC)."""
    start = w["start"]
    return F.to_utc_timestamp(start, tz) if tz else start


def _ordkey(ts_col: str, tiebreak: Sequence[str]) -> Column:
    """Argmin/argmax ordering key over (ts, *tiebreak).

    The single-tiebreak form (every engine call site: tiebreak is the
    long event-id column) packs into ONE DECIMAL(38,0) via
    :func:`~marketstore_spark.functions.timeutil.ord_key_ts` so the
    min_by/max_by buffer stays primitive and the candle aggregate
    plans as a map-side-combinable HashAggregate — the struct key
    demoted the whole candler family to SortAggregate (a full sort of
    every tick per map task).  Multi-tiebreak callers keep the struct
    (and its sort) — ordering semantics are identical either way.
    """
    if len(tiebreak) == 1:
        return ord_key_ts(F.col(ts_col), F.col(tiebreak[0]))
    return F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak])


def tick_candles(
    df: DataFrame,
    timeframe: str,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    price_col: str = "value",
    sum_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (),
    tiebreak: Sequence[str] = ("event_id",),
    include_count: bool = False,
    tz: str | None = None,
) -> DataFrame:
    """tickcandler('5Min', Price, Sum::Volume, Avg::Volume) equivalent.

    Returns: key_cols, epoch (bucket start), open/high/low/close,
    <c>_sum / <c>_avg extras, and ``n`` (tick count) when requested.
    ``tz`` anchors bucket boundaries to a market timezone (daily bars
    start at that market's midnight); epoch stays on the UTC timeline.
    """
    ok = _ordkey(ts_col, tiebreak)
    aggs = [
        F.min_by(price_col, ok).alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max_by(price_col, ok).alias("close"),
    ]
    aggs += [F.sum(c).alias(f"{c}_sum") for c in sum_cols]
    aggs += [F.avg(c).alias(f"{c}_avg") for c in avg_cols]
    if include_count:
        aggs.append(F.count(F.lit(1)).alias("n"))
    out = (
        df.groupBy(*key_cols, _bucket(ts_col, timeframe, tz).alias("__w"))
        .agg(*aggs)
        .withColumn("epoch", bucket_epoch(F.col("__w"), tz))
        .drop("__w")
    )
    cols = list(key_cols) + ["epoch", "open", "high", "low", "close"]
    cols += [f"{c}_sum" for c in sum_cols] + [f"{c}_avg" for c in avg_cols]
    if include_count:
        cols.append("n")
    return out.select(*cols)


def candle_candles(
    df: DataFrame,
    timeframe: str,
    key_cols: Sequence[str] = ("symbol",),
    ts_col: str = "epoch",
    ohlc: tuple[str, str, str, str] = ("open", "high", "low", "close"),
    sum_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (),
) -> DataFrame:
    """candlecandler('12Min', Open, High, Low, Close, Sum::Volume, ...):
    roll fine candles up to a coarser timeframe.

    The fine series has one row per (key, fine-bucket), so ``ts_col``
    itself is a unique order key within the coarse bucket — no tiebreak
    column needed.
    """
    o, h, l, c = ohlc
    ok = F.col(ts_col)
    aggs = [
        F.min_by(o, ok).alias("open"),
        F.max(h).alias("high"),
        F.min(l).alias("low"),
        F.max_by(c, ok).alias("close"),
    ]
    aggs += [F.sum(x).alias(f"{x}_sum") for x in sum_cols]
    aggs += [F.avg(x).alias(f"{x}_avg") for x in avg_cols]
    out = (
        df.groupBy(*key_cols, _bucket(ts_col, timeframe).alias("__w"))
        .agg(*aggs)
        .withColumn("epoch", F.col("__w.start"))
        .drop("__w")
    )
    cols = list(key_cols) + ["epoch", "open", "high", "low", "close"]
    cols += [f"{x}_sum" for x in sum_cols] + [f"{x}_avg" for x in avg_cols]
    return out.select(*cols)


def rollup_cascade(
    df: DataFrame,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    price_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Every ondiskagg destination timeframe (5Min/1H/1D/1W/1Mo) in ONE
    pass — the batch form of the reference's on-disk aggregate
    timeframe fan-out (contrib/ondiskagg/aggtrigger.go:70), which
    maintains all destinations from one write stream instead of
    re-reading ticks per timeframe.

    Plan: CANDLE-FIRST cascade in one linear chain.  The tick stream
    runs through the map-side partial aggregate ONCE, into 5Min
    candles (fixed-width buckets by integer-µs floor arithmetic —
    identical phase to ``F.window``'s 1970 origin and DuckDB
    time_bucket's 2000 origin, both midnight/Monday-aligned; calendar
    months via date_trunc), carrying ``min(ok)``/``max(ok)`` so the
    open/close picks COMPOSE exactly.  GROUPING SETS then expands the
    CANDLE rows — not the ticks — once per level (every coarser bucket
    boundary is 5-minute-aligned, so flooring the 5Min bucket equals
    flooring the tick) and re-aggregates: ``min_by(open, okmin)`` /
    ``max_by(close, okmax)`` / min/max/sum/sum-of-counts, all exact
    integer/decimal arithmetic, so cascade == direct bit-for-bit.
    The previous shape ran the GROUPING-SETS Expand over the raw
    ticks: one scan, but every tick crossed the partial aggregate
    five times — 5x the map-side hash/pack work of the whole tick
    stream, which is exactly the per-task cost §1.2 says to remove.
    A union of five per-level aggregates was rejected long ago
    (exchange reuse does not fire across union branches — measured;
    the fact would rescan five times).

    Output: key_cols, level, epoch, open/high/low/close, value_sum,
    value_avg, n.  The registered oracle computes every level DIRECTLY
    from ticks, so hash parity proves cascade == direct — the
    invariant ondiskagg relies on.
    """
    from marketstore_spark.functions.timeutil import epoch_us

    keys = list(key_cols)

    def fixed(us: Column, width_s: int, origin_shift_s: int = 0) -> Column:
        w = F.lit(width_s * 1_000_000).cast("long")
        off = F.lit(origin_shift_s * 1_000_000).cast("long")
        return F.timestamp_micros(F.floor((us - off) / w).cast("long") * w + off)

    ok = _ordkey(ts_col, tiebreak)
    c5 = (
        df.groupBy(*keys, fixed(epoch_us(F.col(ts_col)), 300).alias("__b5"))
        .agg(
            F.min_by(price_col, ok).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max_by(price_col, ok).alias("close"),
            F.sum(F.col(price_col).cast("decimal(18,2)")).alias("__pv5"),
            F.count(F.lit(1)).alias("__n5"),
            F.min(ok).alias("__okmin"),
            F.max(ok).alias("__okmax"),
        )
    )
    b5us = epoch_us(F.col("__b5"))
    levels = {
        "5Min": F.col("__b5"),
        "1H": fixed(b5us, 3600),
        "1D": fixed(b5us, 86400),
        # Monday alignment: 1970-01-01 is a Thursday; +4 days origin
        "1W": fixed(b5us, 7 * 86400, 4 * 86400),
        "1Mo": F.timestamp_micros(epoch_us(F.date_trunc("month", F.col("__b5")))),
    }
    bnames = [f"__b_{lv}" for lv in levels]
    ev = c5.select(
        *keys,
        "open",
        "high",
        "low",
        "close",
        "__pv5",
        "__n5",
        "__okmin",
        "__okmax",
        *[c.alias(f"__b_{lv}") for lv, c in levels.items()],
    )
    g = ev.groupingSets(
        [[*keys, b] for b in bnames], *keys, *bnames
    ).agg(
        F.min_by("open", F.col("__okmin")).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("__okmax")).alias("close"),
        F.sum("__pv5").alias("__pv_sum"),
        F.sum("__n5").alias("n"),
    )
    # Exactly one bucket column is non-null per grouping set (ts is
    # non-null under epoch_us); it identifies both level and epoch.
    level = F.coalesce(
        *[
            F.when(F.col(b).isNotNull(), F.lit(lv))
            for lv, b in zip(levels, bnames)
        ]
    )
    return g.select(
        *keys,
        level.alias("level"),
        F.coalesce(*[F.col(b) for b in bnames]).alias("epoch"),
        "open",
        "high",
        "low",
        "close",
        F.col("__pv_sum").cast("double").alias("value_sum"),
        (F.col("__pv_sum").cast("double") / F.col("n")).alias("value_avg"),
        F.col("n").cast("long").alias("n"),
    )
