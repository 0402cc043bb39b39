"""Event-driven bar construction (volume / dollar bars) and
Heikin-Ashi candles.

marketstore's candler buckets ticks by WALL-CLOCK timeframe
(contrib/candler, utils/functions — the `5Min`/`1D` TimeBucketKey
axis).  Event-driven bars re-bucket the same tick stream by cumulative
ACTIVITY instead: a new bar opens every `threshold` units of traded
volume (volume bars) or of price×volume notional (dollar bars) — the
information-driven sampling scheme from the public market-
microstructure literature (López de Prado, *Advances in Financial
Machine Learning*, ch. 2).  The reference serves the raw ticks these
are built from; this moves the reduction into the engine.

Plan shape (the 100 TB contract):

- ONE shuffle: the per-symbol cumulative sum sorts each symbol's ticks
  once; the subsequent (symbol, bar_id) candle aggregate reuses that
  hash partitioning (HashPartitioning(symbol) satisfies the clustered
  distribution on (symbol, bar_id) — no second Exchange; pinned by a
  plan test).
- All bar picks are exact: integer-cent prices, LONG volume sums,
  min_by/max_by on the (ts, tiebreak) struct.  The only float op is
  the VWAP division, mirrored by the oracle (sum_pv_c/1e2 ÷ vol — the
  vwap query's association).

Heikin-Ashi is a per-symbol linear recurrence over candle buckets
(ha_open_t = (ha_open_{t-1} + ha_close_{t-1})/2) — no window frame
expresses it, so it rides the operators/ewm.py partition-streaming
fold (the sanctioned Pandas-UDF case), evaluating the LITERAL float64
expressions so a recursive-CTE oracle replays it bitwise.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marketstore_spark.functions.timeutil import ord_key_ts

from marketstore_spark.operators.ewm import _partition_sorted
from marketstore_spark.operators.quant import _cent_ticks


def event_bars(
    df: DataFrame,
    threshold: int,
    measure: str = "volume",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Volume bars (``measure='volume'``) or dollar bars
    (``measure='dollar'``): per symbol, bar ``i`` holds the ticks whose
    RUNNING pre-tick activity total lies in [i·T, (i+1)·T) — i.e. a new
    bar opens as soon as the previous bars have absorbed another
    ``threshold`` units.  Dollar activity is integer price-cents ×
    volume, so bar assignment is exact integer arithmetic on both
    engines.

    Output per (symbol, bar_id): open/high/low/close integer cents,
    volume, notional cents, tick count, bar open/close timestamps, and
    VWAP.
    """
    if measure not in ("volume", "dollar"):
        raise ValueError(f"measure must be 'volume' or 'dollar', got {measure!r}")
    if threshold <= 0:
        raise ValueError("threshold must be positive")
    # _cent_ticks always derives a wall-clock bucket; event bars have
    # no time bucket, so project the cent policy directly (same cast
    # chain as _cent_ticks).
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        (F.col(value_col).cast("decimal(8,2)") * 100).cast("long").alias("px_c"),
        F.col(volume_col).cast("long").alias("vol"),
    )
    act = (
        F.col("vol")
        if measure == "volume"
        else F.col("px_c") * F.col("vol")
    )
    ws = (
        Window.partitionBy("symbol")
        .orderBy("__ts", "__tb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(act).over(ws), F.lit(0))
    # integer DIV, not floor(double /): at 100 TB the running total
    # exceeds 2^53 and a double quotient mis-buckets ticks
    staged = ticks.withColumn("__cum", cum_before).withColumn(
        "bar_id", F.expr(f"__cum DIV {int(threshold)}")
    )
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    vol = F.sum("vol")
    pv_c = F.sum(F.col("px_c") * F.col("vol"))
    return (
        staged.groupBy("symbol", "bar_id")
        .agg(
            F.min_by("px_c", okey).alias("open_c"),
            F.max("px_c").alias("high_c"),
            F.min("px_c").alias("low_c"),
            F.max_by("px_c", okey).alias("close_c"),
            vol.alias("volume"),
            pv_c.alias("notional_c"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.min("__ts").alias("t_open"),
            F.max("__ts").alias("t_close"),
            (
                pv_c.cast("double")
                / F.lit(1e2)
                / F.when(vol == 0, F.lit(None)).otherwise(vol)
            ).alias("vwap"),
        )
    )


def heikin_ashi(
    df: DataFrame,
    timeframe: str = "1 day",
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Heikin-Ashi smoothed candles per (symbol, bucket):

        ha_close_t = (((o_t + h_t) + l_t) + c_t) / 4
        ha_open_0  = (o_0 + c_0) / 2
        ha_open_t  = (ha_open_{t-1} + ha_close_{t-1}) / 2
        ha_high_t  = max(h_t, ha_open_t, ha_close_t)
        ha_low_t   = min(l_t, ha_open_t, ha_close_t)

    Candle O/H/L/C are exact integer-cent picks (the atr/candler
    aggregate); the recurrence is folded per symbol in bucket order as
    the LITERAL float64 expressions above (left-to-right sums, one
    divide by a power of two) so a recursive-CTE oracle carrying
    (ha_open, ha_close) replays it bitwise.

    Shape: one candle shuffle, then the single-pass partition-
    streaming fold (one repartition on symbol + in-partition sort).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    ticks = _cent_ticks(df, timeframe, symbol_col, ts_col, value_col, tiebreak_col)
    okey = F.expr(ord_key_ts("__ts", "__tb"))
    candles = ticks.groupBy("symbol", "bucket").agg(
        F.min_by("px_c", okey).alias("o"),
        F.max("px_c").alias("h"),
        F.min("px_c").alias("l"),
        F.max_by("px_c", okey).alias("c"),
    )
    sym_type = candles.schema["symbol"].dataType
    bkt_type = candles.schema["bucket"].dataType
    schema = StructType(
        [
            StructField("symbol", sym_type),
            StructField("epoch", bkt_type),
            StructField("o", LongType()),
            StructField("h", LongType()),
            StructField("l", LongType()),
            StructField("c", LongType()),
            StructField("ha_open", DoubleType()),
            StructField("ha_high", DoubleType()),
            StructField("ha_low", DoubleType()),
            StructField("ha_close", DoubleType()),
        ]
    )
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_sym = None
        prev_o = prev_c = 0.0
        for pdf in batches:
            n = len(pdf)
            syms = pdf["symbol"].to_numpy()
            o = pdf["o"].to_numpy(dtype=np.float64)
            h = pdf["h"].to_numpy(dtype=np.float64)
            ll = pdf["l"].to_numpy(dtype=np.float64)
            c = pdf["c"].to_numpy(dtype=np.float64)
            ha_o = np.empty(n)
            ha_c = np.empty(n)
            for i in range(n):
                # literal fl expressions — keep the parenthesization
                hc = (((o[i] + h[i]) + ll[i]) + c[i]) / 4.0
                if syms[i] != cur_sym:
                    cur_sym = syms[i]
                    ho = (o[i] + c[i]) / 2.0
                else:
                    ho = (prev_o + prev_c) / 2.0
                ha_o[i] = ho
                ha_c[i] = hc
                prev_o, prev_c = ho, hc
            out = pd.DataFrame(
                {
                    "symbol": pdf["symbol"],
                    "epoch": pdf["bucket"],
                    "o": pdf["o"],
                    "h": pdf["h"],
                    "l": pdf["l"],
                    "c": pdf["c"],
                    "ha_open": ha_o,
                    "ha_high": np.maximum(
                        pdf["h"].to_numpy(dtype=np.float64),
                        np.maximum(ha_o, ha_c),
                    ),
                    "ha_low": np.minimum(
                        pdf["l"].to_numpy(dtype=np.float64),
                        np.minimum(ha_o, ha_c),
                    ),
                    "ha_close": ha_c,
                }
            )
            yield out

    return _partition_sorted(candles, ["symbol"], ["bucket"]).mapInPandas(
        fold, schema
    )


def vpin(
    df: DataFrame,
    bucket_volume: int = 2000,
    n: int = 10,
    symbol_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str = "volume",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """VPIN — Volume-synchronized Probability of INformed trading
    (Easley, López de Prado, O'Hara 2012; public) per (symbol, volume
    bucket): the order-flow toxicity measure over the same
    volume-clock bucketing as ``event_bars``.

    Deterministic engine-portable variant: ticks are signed by the
    TICK RULE (uptick +1 / downtick −1 / carry, zero before any move —
    operators/quant.tick_rule's exact rule, evaluated on integer-cent
    prices), not by the paper's probabilistic bulk classification
    (which needs a normal CDF — libm territory).  Per volume bucket
    ``|Σbuy_vol − Σsell_vol|`` is an exact LONG; VPIN over the
    trailing ``n`` buckets is the RATIO OF TWO INTEGER WINDOW SUMS
    ``Σ|imbalance| / Σtotal_vol`` — one double division, never a
    rolling mean of floats (summation-order trap).  Unsigned ticks
    (side 0) count toward total volume but neither side.  NULL during
    the first ``n−1`` buckets.

    Shape: ONE tick-level per-symbol sort shared by the direction lag,
    the carry, and the pre-tick cumulative volume; the (symbol,
    bucket_id) aggregate and the trailing bucket-level windows reuse
    the symbol hash partitioning — one Exchange total, bar-scale
    output.
    """
    if bucket_volume <= 0 or n <= 0:
        raise ValueError("bucket_volume and n must be positive")
    ticks = df.select(
        F.col(symbol_col).alias("symbol"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
        (F.col(value_col).cast("decimal(8,2)") * 100).cast("long").alias("px_c"),
        F.col(volume_col).cast("long").alias("vol"),
    )
    wt = Window.partitionBy("symbol").orderBy("__ts", "__tb")
    run = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = wt.rowsBetween(Window.unboundedPreceding, -1)
    prev = F.lag("px_c").over(wt)
    direction = (
        F.when(F.col("px_c") > prev, F.lit(1))
        .when(F.col("px_c") < prev, F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
    )
    staged = (
        ticks.withColumn(
            "__side",
            F.coalesce(F.last(direction, ignorenulls=True).over(run), F.lit(0)),
        )
        .withColumn("__cum", F.coalesce(F.sum("vol").over(before), F.lit(0)))
        .withColumn("bucket_id", F.expr(f"__cum DIV {int(bucket_volume)}"))
    )
    per = staged.groupBy("symbol", "bucket_id").agg(
        F.sum(F.when(F.col("__side") == 1, F.col("vol")).otherwise(F.lit(0))).alias(
            "buy_vol"
        ),
        F.sum(F.when(F.col("__side") == -1, F.col("vol")).otherwise(F.lit(0))).alias(
            "sell_vol"
        ),
        F.sum("vol").alias("total_vol"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    wb = Window.partitionBy("symbol").orderBy("bucket_id")
    fr = wb.rowsBetween(-(int(n) - 1), Window.currentRow)
    imb = F.abs(F.col("buy_vol") - F.col("sell_vol"))
    rn = F.row_number().over(wb)
    tot_w = F.sum("total_vol").over(fr)
    vpin_c = F.when(
        (rn >= int(n)) & (tot_w > 0),
        F.sum(imb).over(fr).cast("double") / tot_w.cast("double"),
    )
    return per.select(
        "symbol",
        "bucket_id",
        "buy_vol",
        "sell_vol",
        "total_vol",
        "n_ticks",
        imb.alias("imbalance"),
        vpin_c.alias("vpin"),
    )
