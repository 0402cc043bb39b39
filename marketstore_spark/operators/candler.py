"""Candlers: aggregate raw series into OHLC candles per time bucket.

Reference:
- contrib/candler/tickcandler/tickcandler.go — ticks -> candles
  (Open=first, High=max, Low=min, Close=last of the price in bucket,
  plus Sum::/Avg:: tagged extra columns).
- contrib/candler/candlecandler/candlecandler.go — fine OHLCV -> coarser
  candles (Open=first Open, High=max High, Low=min Low, Close=last
  Close, Sum::/Avg:: for volume-like columns).
- Timeframes: utils/timeframe — 1Min/5Min/15Min/1H/1D etc.

Spark design: one `GROUP BY keys, window(ts, tf)` aggregation, built
as one SQL statement (a few py4j sends, not hundreds of Column calls);
first/last are `min_by`/`max_by` on a packed (ts, tiebreak) key so
results are deterministic under parallel execution.  This is a single
shuffle on (key, bucket) with map-side partial aggregation — the same
plan shape Catalyst picks for any hash aggregate, so it scales linearly
and AQE coalesces small buckets.  No windows-over-sort, no per-key collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marketstore_spark.functions.sqltext import ident, literal
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


def _bucket(ts_col: str, tf: str, tz: str | None = None) -> str:
    """SQL text of the time bucket of column ``ts_col``; with ``tz`` the
    bucket boundaries align to that timezone's midnight
    (utils/timeframe + contrib/calendar: the reference anchors 1D bars
    to the market's day, not UTC's).

    Weekly buckets are Monday-aligned like the reference (Go's
    ``time.Truncate`` counts from the zero time, a Monday; Spark's
    window origin 1970-01-01 is a Thursday, hence the 4-day start
    shift).  ``1Mo``/``1Y`` truncate on the calendar.  Every timeframe
    yields a ``(start, end)`` struct, the bucket being ``[start, end)``;
    a calendar bucket ends one month or year after its start."""
    ts = ident(ts_col)
    if tz is not None:
        ts = f"from_utc_timestamp(CAST({ts} AS TIMESTAMP), {literal(tz)})"
    if tf in _CALENDAR:
        start = f"date_trunc('{_CALENDAR[tf]}', {ts})"
        return (
            f"struct({start} AS `start`, "
            f"{start} + INTERVAL 1 {_CALENDAR[tf]} AS `end`)"
        )
    dur = timeframe_to_duration(tf)
    if dur == "7 days":
        return f"window({ts}, '7 days', '7 days', '4 days')"
    return f"window({ts}, '{dur}')"


def _ordkey(ts_col: str, tiebreak: Sequence[str]) -> str:
    """SQL text of the argmin/argmax ordering key over (ts, *tiebreak).

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
        return ord_key_ts(ident(ts_col), ident(tiebreak[0]))
    return f"struct({', '.join(map(ident, [ts_col, *tiebreak]))})"


def _candles(
    df: DataFrame, timeframe: str, key_cols: Sequence[str], ts_col: str,
    ohlc: Sequence[str], ok: str, sum_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (), tz: str | None = None, count: bool = False,
) -> DataFrame:
    """One statement grouping by (key_cols, bucket): open/close are the
    ``ohlc`` columns' values at the least/greatest ordering key ``ok``,
    then the tagged sums and means and the row count ``n``.  Output:
    key_cols, epoch (bucket start on the UTC timeline), aggregates."""
    o, h, l, c = map(ident, ohlc)
    aggs = {
        "open": f"min_by({o}, {ok})",
        "high": f"max({h})",
        "low": f"min({l})",
        "close": f"max_by({c}, {ok})",
        **{f"{x}_sum": f"sum({ident(x)})" for x in sum_cols},
        **{f"{x}_avg": f"avg({ident(x)})" for x in avg_cols},
        **({"n": "count(1)"} if count else {}),
    }
    keys = [ident(k) for k in key_cols]
    inner = [*keys, f"{_bucket(ts_col, timeframe, tz)} AS __w"]
    inner += [f"{e} AS {ident(n)}" for n, e in aggs.items()]
    epoch = "__w.start" if tz is None else f"to_utc_timestamp(__w.start, {literal(tz)})"
    outer = [*keys, f"{epoch} AS epoch", *map(ident, aggs)]
    return df.sparkSession.sql(
        f"SELECT {', '.join(outer)} FROM (SELECT {', '.join(inner)} "
        f"FROM {{df}} GROUP BY {', '.join([*keys, '__w'])})",
        df=df,
    )


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
    return _candles(
        df, timeframe, key_cols, ts_col, [price_col] * 4, ok, sum_cols, avg_cols,
        tz, include_count,
    )


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
    return _candles(df, timeframe, key_cols, ts_col, ohlc, ident(ts_col), sum_cols, avg_cols)


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

    ok = F.expr(_ordkey(ts_col, tiebreak))
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
